"""Work without avoidable Spark jobs: the load_tables schema memo, the
one-job D8 block queries and the exact-size broadcasts in their
perimeter rounds, and the layer catalog (snapshot reads and JSON
records that run no job, metadata taken from the committed
snapshot)."""

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


_NAN = float("nan")
_SPREAD = (
    '"counts": [[0, 1], [2, 1], [4, 1], [6, 1], [9, 1], [11, 1], [13, 1], '
    '[15, 1]]}'
)
_PARTIAL = '{"lo": 1.0, "hi": 9.0, "counts": [[0, 1], [2, 2], [15, 1]]}'


_FOOTER_CASES = [
    # the footers drop a chunk's min/max for a NaN: the range falls back
    # to an aggregation (Spark orders NaN above every number)
    ("nan", [[[1.0, _NAN, 3.0, 4.0]], [[5.0, 6.0, 7.0, 8.0]]],
     '{"lo": 1.0, "hi": NaN, "counts": [[0, 8]]}'),
    # the footers write a zero minimum as -0.0 whatever its sign
    ("zero", [[[0.0, 1.0, 2.0, 3.0]], [[4.0, 5.0, 6.0, 7.0]]],
     '{"lo": 0.0, "hi": 7.0, ' + _SPREAD),
    ("negzero", [[[-0.0, 1.0, 2.0, 3.0]], [[4.0, 5.0, 6.0, 7.0]]],
     '{"lo": -0.0, "hi": 7.0, ' + _SPREAD),
    # null cells are outside the range and count in bucket 0
    ("nullcell", [[[None, 1.0, 2.0, 9.0]], [[None, None, None, None]]],
     '{"lo": 1.0, "hi": 9.0, "counts": [[0, 6], [2, 1], [15, 1]]}'),
    # a null or empty band holds no cell at all
    ("nullband", [[[2.0, 1.0, 2.0, 9.0]], [None]], _PARTIAL),
    ("emptyband", [[[2.0, 1.0, 2.0, 9.0]], [[]]], _PARTIAL),
]


@pytest.mark.parametrize(
    "name, bands, histogram", _FOOTER_CASES, ids=[c[0] for c in _FOOTER_CASES]
)
def test_metadata_from_footers_matches_the_cells(
    spark, tmp_path_factory, name, bands, histogram
):
    """Records as the array_min/array_max aggregation over the written
    tiles gives them, for the cells the footer statistics handle
    apart."""
    from biggis_landuse_spark.pixeling import tile_col_expr
    from pyspark.sql import functions as F

    cat = LayerCatalog(spark, str(tmp_path_factory.mktemp("stats")))
    tiles = spark.createDataFrame(
        [(col, 0, b) for col, b in enumerate(bands)],
        "tile_col int, tile_row int, bands array<array<double>>",
    ).select(
        "tile_col", "tile_row", F.lit(None).cast("timestamp").alias("ts"),
        tile_col_expr(2, 2, "float64", F.col("bands")).alias("tile"),
    )
    cat.write_layer(tiles, name, 1)
    assert cat.read_attribute(name, 1, "histogramData") == histogram
    assert cat.layer_meta(name, 1) == {
        "layer": name, "zoom": 1, "cell_type": "float64",
        "crs": "EPSG:3857", "n_bands": 1, "tile_cols": 2, "tile_rows": 2,
        "layout_cols": 2, "layout_rows": 1, "key_col_min": 0,
        "key_col_max": 1, "key_row_min": 0, "key_row_max": 0,
        "extent": None,
    }


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
    assert [p.name for p in (tmp_path / "tiles").iterdir()] == ["plain"]


def test_read_layer_builds_with_no_job(spark, written):
    cat = written[0]
    df, jobs = _jobs_run(spark, lambda: cat.read_layer("b4_red", 3))
    assert jobs == 0
    assert df.columns[-2:] == ["layer", "zoom"]
    assert df.count() == FX.GRID * FX.GRID


def test_held_read_keeps_its_snapshot_across_a_rewrite(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path))
    cat.write_layer(red, "b4_red", 3)
    before = cat.read_layer("b4_red", 3)
    cat.write_layer(red.where("tile_col = 0"), "b4_red", 3)
    assert before.count() == FX.GRID * FX.GRID
    assert cat.read_layer("b4_red", 3).count() == FX.GRID


@pytest.mark.parametrize("name", ["2024", "2024-01-08"])
def test_layer_name_reads_back_as_a_string(spark, tmp_path, red, name):
    cat = LayerCatalog(spark, str(tmp_path))
    cat.write_layer(red, name, 3)
    df = cat.read_layer(name, 3)
    assert df.schema["layer"].dataType.simpleString() == "string"
    assert {r["layer"] for r in df.select("layer").collect()} == {name}


def test_merge_keeps_the_layer_crs_and_runs_at_most_eight_jobs(
    spark, tmp_path, red
):
    cat = LayerCatalog(spark, str(tmp_path))
    cat.write_layer(red, "b4_red", 3, crs="EPSG:32632")
    update = red.where("tile_col < 2")
    _, jobs = _jobs_run(spark, lambda: cat.merge_into_layer(update, "b4_red", 3))
    assert jobs <= 8
    assert cat.layer_crs("b4_red", 3) == "EPSG:32632"
    assert cat.read_layer("b4_red", 3).count() == FX.GRID * FX.GRID


def test_write_layer_leaves_the_session_serializable(spark, tmp_path):
    # an Observation registers the session's ObservationManager, which
    # Java serialization refuses; the metadata comes from the snapshot
    session = spark.newSession()
    cat = LayerCatalog(session, str(tmp_path))
    cat.write_layer(FX.fixture_layer(session, "b4_red"), "b4_red", 3)
    jvm = spark._jvm
    out = jvm.java.io.ObjectOutputStream(jvm.java.io.ByteArrayOutputStream())
    out.writeObject(session._jsparkSession)
    out.close()


def test_tile_server_meta_reads_the_metadata_record(spark, written):
    from biggis_landuse_spark.serving import TileServer

    server = TileServer(written[0], "b4_red", [1000.0])
    meta, jobs = _jobs_run(spark, server.meta)
    assert jobs == 0
    assert meta == {
        "layer": "b4_red",
        "zooms": [3],
        "bounds": {
            "zoom": 3, "col_min": 0, "col_max": 3, "row_min": 0, "row_max": 3,
        },
    }
