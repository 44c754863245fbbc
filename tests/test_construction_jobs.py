"""Work without avoidable Spark jobs: the load_tables schema memo, the
one-job D8 block queries and the exact-size broadcasts in their
perimeter rounds, and the layer catalog's
JSON attribute store (metadata observed on the write job, reads that
run no job)."""

from __future__ import annotations

import json
import re
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from biggis_landuse_spark import fixtures as FX
from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.operators.flow import (
    block_flow_accumulation,
    block_watershed_roots,
)
from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded, load_tables
from biggis_landuse_spark.queries.raster_shapes import _FLOW_W, _flow_cells

_ensure_loaded()


def _jobs_run(spark, fn):
    """(fn(), the Spark jobs it ran), counted through a job group and
    the status tracker. A one-job sentinel runs last in the same group:
    the tracker takes job starts in submission order, so once the
    sentinel shows, every job ``fn`` ran shows too."""
    sc = spark.sparkContext
    group = f"construction-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "count construction jobs")
    try:
        result = fn()
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "sentinel job never showed"
        time.sleep(0.01)
    return result, len(tracker.getJobIdsForGroup(group)) - 1


def test_repeat_load_of_unchanged_file_runs_no_job(spark, sf_dir):
    names = ("lineitem", "orders", "events")
    first = load_tables(spark, sf_dir, *names)
    again, jobs = _jobs_run(spark, lambda: load_tables(spark, sf_dir, *names))
    assert jobs == 0
    assert [d.schema for d in again] == [d.schema for d in first]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), path)
    (df,), jobs = _jobs_run(spark, lambda: load_tables(spark, str(tmp_path), "t"))
    assert df.columns == ["a"]
    assert jobs >= 1  # the first read infers: the memo is what saves the job
    _, jobs = _jobs_run(spark, lambda: load_tables(spark, str(tmp_path), "t"))
    assert jobs == 0

    pq.write_table(
        pa.table({"a": pa.array([2], pa.int64()), "b": pa.array(["x"])}), path
    )
    (df,), jobs = _jobs_run(spark, lambda: load_tables(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(2, "x")]


# the pointer-doubling joins of the block kernels' perimeter solve:
# the weighted Euler tour joins on ptr, the basin labeling on v (every
# other join in either operator keys on other columns)
_DOUBLING = {
    "flow_accumulation_full": (block_flow_accumulation, "ptr"),
    "watershed_basins": (block_watershed_roots, "v"),
}


def _doubling_join_strategies(spark, query, sf_dir):
    """(result rows, the join operators the perimeter rounds planned)
    for the query's block operator over the fixture grid, at a block
    small enough that the grid has a perimeter to solve: read off every
    localCheckpointed plan after it ran — initial and final AQE plans
    both."""
    op, key = _DOUBLING[query]
    cells = _flow_cells(spark, sf_dir)
    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    plans = []

    def spy(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    cls.localCheckpoint = spy
    try:
        rows = sorted(tuple(r) for r in op(cells, _FLOW_W, block=8).collect())
    finally:
        cls.localCheckpoint = orig
    pat = re.compile(rf"(\w+Join) \[{key}#\d+L\]")
    return rows, {m for p in plans for m in pat.findall(p)}


@pytest.mark.parametrize("query", sorted(_DOUBLING))
def test_doubling_joins_broadcast_at_fixture_scale(spark, sf_dir, query):
    rows, joins = _doubling_join_strategies(spark, query, sf_dir)
    assert joins == {"BroadcastHashJoin"}

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        rows_off, joins_off = _doubling_join_strategies(spark, query, sf_dir)
    finally:
        spark.conf.set(key, prev)
    assert joins_off and "BroadcastHashJoin" not in joins_off
    assert rows_off == rows


@pytest.mark.parametrize("query", sorted(_DOUBLING))
def test_block_queries_build_with_at_most_two_jobs(spark, sf_dir, query):
    # the fixture grid is one block: the block pass's checkpoint is the
    # one eager action (its one exchange is a map-stage job of its own
    # under AQE), and no perimeter round runs
    load_tables(spark, sf_dir, "part")  # the schema memo's first read
    _, jobs = _jobs_run(spark, lambda: REGISTRY[query].spark(spark, sf_dir))
    assert jobs <= 2


# the fixture layer's metadata row, field for field
META_B4_RED = {
    "layer": "b4_red", "zoom": 3, "cell_type": "float64", "crs": "EPSG:3857",
    "n_bands": 1, "tile_cols": 8, "tile_rows": 8, "layout_cols": 4,
    "layout_rows": 4, "key_col_min": 0, "key_col_max": 3, "key_row_min": 0,
    "key_row_max": 3, "extent": None,
}


@pytest.fixture(scope="module")
def red(spark):
    return FX.fixture_layer(spark, "b4_red")


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory, red):
    """(catalog, the Spark jobs its one write_layer of b4_red ran)."""
    cat = LayerCatalog(spark, str(tmp_path_factory.mktemp("catalog")))
    _, jobs = _jobs_run(spark, lambda: cat.write_layer(red, "b4_red", 3))
    return cat, jobs


def test_write_layer_runs_at_most_six_jobs(written):
    assert written[1] <= 6


def test_catalog_reads_run_no_job(spark, written):
    cat = written[0]
    for read, want in [
        (lambda: cat.read_attribute("b4_red", 3, "histogramData"), str),
        (lambda: cat.layer_crs("b4_red"), "EPSG:3857"),
        (lambda: cat.finest_zoom("b4_red"), 3),
        (lambda: cat.layer_ids(), [("b4_red", 3)]),
    ]:
        got, jobs = _jobs_run(spark, read)
        assert jobs == 0
        assert isinstance(got, want) if want is str else got == want


def test_fixture_layer_histogram_and_metadata(written):
    cat = written[0]
    assert cat.read_attribute("b4_red", 3, "histogramData") == (
        '{"lo": 0.0, "hi": 3363.0, "counts": [[0, 139], [1, 117], [4, 51], '
        '[5, 139], [6, 66], [9, 66], [10, 139], [11, 51], [14, 117], '
        '[15, 139]]}'
    )
    [meta] = cat.layers().collect()
    assert meta.asDict() == META_B4_RED


def test_concurrent_writes_of_different_layers_are_all_visible(
    spark, tmp_path, red
):
    # two writers and a reader that lists and reads the catalog while
    # they run: each record is a whole file, so the reader never fails
    # and never sees a key that is not finally there
    cat = LayerCatalog(spark, str(tmp_path))
    nir = FX.fixture_layer(spark, "b5_nir")
    final = [("b4_red", 3), ("b5_nir", 3)]
    errors, seen = [], []
    writing = threading.Event()

    def write(tiles, layer):
        try:
            cat.write_layer(tiles, layer, 3)
        except Exception as e:  # surfaced below
            errors.append(e)

    def read():
        try:
            while writing.is_set():
                seen.extend(cat.layer_ids())
                for layer, zoom in final:
                    cat.read_attribute(layer, zoom, "histogramData")
        except Exception as e:  # surfaced below
            errors.append(e)

    writers = [
        threading.Thread(target=write, args=a)
        for a in [(red, "b4_red"), (nir, "b5_nir")]
    ]
    reader = threading.Thread(target=read)
    writing.set()
    reader.start()
    for t in writers:
        t.start()
    for t in writers:
        t.join(timeout=300)
    writing.clear()
    reader.join(timeout=60)
    assert not any(t.is_alive() for t in [*writers, reader])
    assert errors == []
    assert set(seen) <= set(final)
    assert sorted(cat.layer_ids()) == final
    assert sorted(r["layer"] for r in cat.layers().collect()) == [
        "b4_red", "b5_nir"
    ]
    for layer, zoom in final:
        assert cat.read_attribute(layer, zoom, "histogramData") is not None


def test_rewrite_of_a_key_replaces_its_metadata(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path))
    cat.write_layer(red, "b4_red", 3)
    corner = red.where("tile_col = 0 AND tile_row = 0")
    cat.write_layer(corner, "b4_red", 3, crs="EPSG:32632")
    [meta] = cat.layers().collect()
    assert (meta["crs"], meta["layout_cols"], meta["key_col_max"]) == (
        "EPSG:32632", 1, 0
    )
    crs, jobs = _jobs_run(spark, lambda: cat.layer_crs("b4_red", 3))
    assert (crs, jobs) == ("EPSG:32632", 0)
    # the rename replaced the key's one record and left no temp file
    records = tmp_path / "layers" / "b4_red"
    assert [p.name for p in records.iterdir() if p.suffix != ".crc"] == ["3.json"]
    hist = json.loads(cat.read_attribute("b4_red", 3, "histogramData"))
    assert sum(c for _, c in hist["counts"]) == FX.TS * FX.TS
    assert cat.read_layer("b4_red", 3).count() == 1


def test_layer_name_with_slash_and_space_round_trips(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path))
    odd = "scene 7/b4 red"
    cat.write_layer(red, odd, 3)
    cat.write_layer(red, "plain", 3)
    assert sorted(cat.layer_ids()) == [("plain", 3), (odd, 3)]
    assert cat.read_layer(odd).count() == FX.GRID * FX.GRID
    cat.delete_layer(odd)
    assert cat.layer_ids() == [("plain", 3)]
    assert cat.read_attribute(odd, 3, "histogramData") is None
    assert cat.read_layer("plain", 3).count() == FX.GRID * FX.GRID
    left = spark.read.parquet(cat.tiles_path).select("layer").distinct()
    assert [r["layer"] for r in left.collect()] == ["plain"]
