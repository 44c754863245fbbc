"""Snapshot-versioned layer store: atomic manifest commits, time
travel, rollback, vacuum, versioned merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.model import TILE_SCHEMA
from biggis_landuse_spark.versioning import VersionedLayerStore

pytestmark = pytest.mark.slow


def _tiles(spark, bump: float):
    rows = [
        (
            "v", 0, tc, tr, None,
            (2, 2, "float64", [[bump + tc, bump + tr, None, 4.0]]),
        )
        for tc in range(3)
        for tr in range(2)
    ]
    return spark.createDataFrame(rows, schema=TILE_SCHEMA)


@pytest.fixture()
def store(spark, tmp_path):
    return VersionedLayerStore(spark, str(tmp_path / "vcat"))


def _values(df):
    return sorted(
        (r["tile_col"], r["tile_row"], tuple(r["tile"]["bands"][0]))
        for r in df.collect()
    )


def test_write_read_roundtrip_and_time_travel(spark, store):
    v1 = store.write(_tiles(spark, 10.0), "L", 0)
    v2 = store.write(_tiles(spark, 20.0), "L", 0)
    assert (v1, v2) == (1, 2)
    assert store.versions("L", 0) == [1, 2]
    assert _values(store.read("L", 0)) == _values(_tiles(spark, 20.0))
    # time travel: v1 is intact after the v2 overwrite
    assert _values(store.read("L", 0, version=1)) == _values(
        _tiles(spark, 10.0)
    )


def test_rollback_is_append_only(spark, store):
    store.write(_tiles(spark, 10.0), "L", 0)
    store.write(_tiles(spark, 20.0), "L", 0)
    v3 = store.rollback("L", 0, 1)
    assert v3 == 3
    assert store.versions("L", 0) == [1, 2, 3]
    assert _values(store.read("L", 0)) == _values(_tiles(spark, 10.0))


def test_vacuum_keeps_referenced_data(spark, store):
    store.write(_tiles(spark, 10.0), "L", 0)
    store.write(_tiles(spark, 20.0), "L", 0)
    store.rollback("L", 0, 1)  # v3 shares v1's data dir
    deleted = store.vacuum("L", 0, keep=2)
    # v1's manifest is dropped but its data dir survives (v3 points
    # there); nothing else is deletable
    assert deleted == []
    assert store.versions("L", 0) == [2, 3]
    assert _values(store.read("L", 0)) == _values(_tiles(spark, 10.0))

    store.write(_tiles(spark, 30.0), "L", 0)  # v4
    deleted = store.vacuum("L", 0, keep=1)
    assert len(deleted) == 2  # v2's and v3/v1's data dirs now orphaned
    assert store.versions("L", 0) == [4]
    assert _values(store.read("L", 0)) == _values(_tiles(spark, 30.0))


def test_crashed_commit_is_invisible(spark, store, tmp_path):
    store.write(_tiles(spark, 10.0), "L", 0)
    # simulate a crash: orphan data dir + orphan .tmp manifest
    _tiles(spark, 99.0).write.parquet(str(tmp_path / "vcat/L/0/v2"))
    (tmp_path / "vcat/L/0/_manifests/v2.json.tmp").write_text("{}")
    assert store.versions("L", 0) == [1]
    assert _values(store.read("L", 0)) == _values(_tiles(spark, 10.0))
    # the next write skips the orphan version number? No — it reuses
    # max(committed)+1 = 2 and OVERWRITES the orphan dir, which no
    # reader can be scanning (it was never committed)
    v = store.write(_tiles(spark, 20.0), "L", 0)
    assert v == 2
    assert _values(store.read("L", 0)) == _values(_tiles(spark, 20.0))


def test_commit_conflict_raises(spark, store):
    store.write(_tiles(spark, 10.0), "L", 0)
    with pytest.raises(Exception, match="conflict|exists"):
        store._commit("L", 0, 1, {"version": 1, "data": "x", "kind": "write"})


def test_concurrent_writers_never_tear_winner_data(spark, store, tmp_path):
    # two writers race for the same version number: with uuid-suffixed
    # data dirs they write to DISJOINT paths, so the rename loser
    # cannot have clobbered any winner file. Simulate the interleaving
    # deterministically: writer B computes its version (same as A's),
    # A writes data + commits first, then B writes data and loses the
    # manifest rename.
    store.write(_tiles(spark, 10.0), "L", 0)  # v1

    vs = store.versions("L", 0)
    version_b = vs[-1] + 1  # B picks v2, same as A will

    store.write(_tiles(spark, 20.0), "L", 0)  # A commits v2
    winner_dir = store._read_manifest("L", 0, 2)["data"]
    fs, wp = store._fs(winner_dir)
    winner_files = {
        (st.getPath().getName(), st.getLen())
        for st in fs.listStatus(wp)
        if st.getPath().getName().startswith("part-")
    }

    # B now writes its data dir and tries to commit v2 — must lose,
    # and must not have touched any of A's bytes
    import uuid as _uuid

    b_dir = f"{store._layer_base('L', 0)}/v{version_b}-{_uuid.uuid4().hex[:8]}"
    _tiles(spark, 99.0).write.parquet(b_dir)
    with pytest.raises(RuntimeError, match="conflict"):
        store._commit(
            "L", 0, version_b,
            {"version": version_b, "data": b_dir, "kind": "write"},
        )

    after = {
        (st.getPath().getName(), st.getLen())
        for st in fs.listStatus(wp)
        if st.getPath().getName().startswith("part-")
    }
    assert after == winner_files  # winner's files byte-intact
    assert _values(store.read("L", 0)) == _values(_tiles(spark, 20.0))


def test_losing_writer_cleans_up_orphan_dir(spark, store, monkeypatch):
    # a full write() that loses the commit race must remove its own
    # (unreferenced) data dir instead of leaving an orphan
    store.write(_tiles(spark, 10.0), "L", 0)
    orig = store._commit

    def steal_then_commit(layer, zoom, version, manifest):
        # another writer sneaks in the same version first
        orig(layer, zoom, version, {"version": version, "data": "other", "kind": "write"})
        return orig(layer, zoom, version, manifest)

    monkeypatch.setattr(store, "_commit", steal_then_commit)
    with pytest.raises(RuntimeError, match="conflict"):
        store.write(_tiles(spark, 20.0), "L", 0)
    monkeypatch.undo()
    fs, p = store._fs(store._layer_base("L", 0))
    dirs = [st.getPath().getName() for st in fs.listStatus(p)]
    assert not any(d.startswith("v2-") for d in dirs)  # orphan removed


def test_versioned_merge_coalesces_cells(spark, store):
    base = _tiles(spark, 10.0)
    store.write(base, "L", 0)
    update = spark.createDataFrame(
        [
            ("v", 0, 0, 0, None, (2, 2, "float64", [[None, None, 7.0, 9.0]])),
            ("v", 0, 9, 9, None, (2, 2, "float64", [[1.0, 1.0, 1.0, 1.0]])),
        ],
        schema=TILE_SCHEMA,
    )
    v2 = store.merge(update, "L", 0)
    assert v2 == 2
    got = {
        (r["tile_col"], r["tile_row"]): r["tile"]["bands"][0]
        for r in store.read("L", 0).collect()
    }
    # existing cells win; NODATA filled from the update; new key added
    assert got[(0, 0)] == [10.0, 10.0, 7.0, 4.0]
    assert got[(9, 9)] == [1.0, 1.0, 1.0, 1.0]
    assert len(got) == 7
    # and the pre-merge snapshot is still readable
    assert _values(store.read("L", 0, version=1)) == _values(base)


def test_diff_reports_added_removed_changed(spark, store):
    store.write(_tiles(spark, 10.0), "L", 0)  # v1: keys (0..2, 0..1)
    # v2: drop tile (2, 1), change (0, 0), add (5, 5)
    base = _tiles(spark, 10.0).where(
        ~((F.col("tile_col") == 2) & (F.col("tile_row") == 1))
    )
    changed = base.withColumn(
        "tile",
        F.when(
            (F.col("tile_col") == 0) & (F.col("tile_row") == 0),
            F.named_struct(
                F.lit("cols"), F.col("tile.cols"),
                F.lit("rows"), F.col("tile.rows"),
                F.lit("cell_type"), F.col("tile.cell_type"),
                F.lit("bands"), F.array(F.array(
                    F.lit(99.0), F.lit(99.0), F.lit(None).cast("double"), F.lit(4.0)
                )),
            ),
        ).otherwise(F.col("tile")),
    )
    from biggis_landuse_spark.model import TILE_SCHEMA
    extra = spark.createDataFrame(
        [("v", 0, 5, 5, None, (2, 2, "float64", [[1.0, 2.0, 3.0, 4.0]]))],
        schema=TILE_SCHEMA,
    )
    store.write(changed.unionByName(extra), "L", 0)

    got = {
        (r["tile_col"], r["tile_row"]): r["change"]
        for r in store.diff("L", 0, 1, 2).collect()
    }
    assert got == {(2, 1): "removed", (0, 0): "changed", (5, 5): "added"}
    # reflexive diff is empty
    assert store.diff("L", 0, 1, 1).count() == 0
