"""Structured Streaming tests (SURVEY.md §5.4): file sources +
memory sinks + processAllAvailable, batch ≡ stream parity, stateful
tile reassembly incl. late/duplicate pixels."""

from __future__ import annotations

import time
from datetime import datetime

import pytest

pytestmark = pytest.mark.slow


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.streaming.pixels import (
    reassemble_tiles_batch,
    reassemble_tiles_stream,
)
from biggis_landuse_spark.streaming.windows import (
    dedup_within_watermark,
    sliding_avg,
    session_counts,
    tumbling_counts,
)

EVENTS_DDL = "event_id long, ts timestamp, user_id long, event_type string, value double"

PIXEL_DDL = (
    "tile_col int, tile_row int, band int, px int, py int, "
    "value double, event_ts timestamp"
)


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    from biggis_landuse_spark.queries import load_tables

    (events,) = load_tables(spark, sf_dir, "events")
    path = str(tmp_path / "events_stream")
    events.select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).limit(2000).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _run_stream(df, name: str, mode: str):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


def test_tumbling_window_batch_stream_parity(spark, events_dir):
    stream = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    batch = spark.read.schema(EVENTS_DDL).parquet(events_dir)

    q = _run_stream(
        tumbling_counts(stream, watermark=None), "tumbling_out", "complete"
    )
    try:
        got = {
            (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
        want = {
            (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in tumbling_counts(batch).collect()
        }
        assert got == want and len(got) > 10
    finally:
        q.stop()


def test_sliding_and_session_streaming_run(spark, events_dir):
    stream = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    q1 = _run_stream(sliding_avg(stream, watermark=None), "sliding_out", "complete")
    try:
        n = spark.sql("SELECT count(*) n FROM sliding_out").first()["n"]
        assert n > 10
    finally:
        q1.stop()

    q2 = _run_stream(
        session_counts(stream, watermark="30 minutes"), "session_out", "append"
    )
    try:
        # append mode only emits sessions sealed by the watermark; the
        # tail sessions stay in state — presence of rows is the check
        n = spark.sql("SELECT count(*) n FROM session_out").first()["n"]
        assert n > 0
    finally:
        q2.stop()


def test_dedup_within_watermark_stream(spark, tmp_path):
    path = str(tmp_path / "dup_events")
    rows = [
        (1, _ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        (2, _ts("2024-01-01 00:00:00"), 1, "click", 1.0),  # exact dup key+ts
        (3, _ts("2024-01-01 00:01:00"), 1, "click", 1.0),  # same key, new ts
        (4, _ts("2024-01-01 00:00:30"), 2, "view", 2.0),
    ]
    spark.createDataFrame(
        [(i, ts, u, et, v) for (i, ts, u, et, v) in rows], EVENTS_DDL
    ).coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(EVENTS_DDL).parquet(path)
    q = _run_stream(
        dedup_within_watermark(stream), "dedup_out", "append"
    )
    try:
        got = spark.sql(
            "SELECT user_id, event_type, ts FROM dedup_out"
        ).collect()
        assert len(got) == 3  # duplicate (1, click, 00:00) collapsed
    finally:
        q.stop()


def _write_pixels(spark, path, rows, mode="append"):
    spark.createDataFrame(rows, PIXEL_DDL).coalesce(1).write.mode(mode).parquet(
        path
    )


def _pixel_rows(tc, tr, idxs, ts="2024-01-01 00:00:00", value_of=None):
    return [
        (
            tc,
            tr,
            0,
            i % 4,
            i // 4,
            float(value_of(i) if value_of else i),
            _ts(ts),
        )
        for i in idxs
    ]


def test_stateful_reassembly_complete_and_late(spark, tmp_path):
    """B6 scenarios: in-order completion; late pixels completing a tile
    in a later batch; duplicates last-wins; incomplete not emitted."""
    path = str(tmp_path / "pixel_stream")
    # batch 1: tile (0,0) complete (16 px, with a duplicate of idx 3),
    #          tile (1,0) missing idx 15
    _write_pixels(
        spark,
        path,
        _pixel_rows(0, 0, list(range(16)) + [3])
        + _pixel_rows(1, 0, list(range(15))),
        mode="overwrite",
    )
    stream = spark.readStream.schema(PIXEL_DDL).parquet(path)
    out = reassemble_tiles_stream(stream, cols=4, rows=4, n_bands=1)
    q = _run_stream(out, "tiles_out", "append")
    try:
        first = spark.sql(
            "SELECT * FROM tiles_out ORDER BY tile_col"
        ).collect()
        assert [(r["tile_col"], r["complete"]) for r in first] == [(0, True)]
        assert first[0]["bands"][0] == [float(i) for i in range(16)]

        # batch 2: the late pixel arrives → tile (1,0) completes
        _write_pixels(spark, path, _pixel_rows(1, 0, [15]))
        q.processAllAvailable()
        second = spark.sql(
            "SELECT * FROM tiles_out ORDER BY tile_col"
        ).collect()
        assert [(r["tile_col"], r["complete"]) for r in second] == [
            (0, True),
            (1, True),
        ]
    finally:
        q.stop()


def test_stateful_reassembly_nan_is_nodata(spark, tmp_path):
    """NaN input values are NODATA (r9 dense-state contract): the cell
    stays missing, so a tile whose only gap is a NaN pixel does not
    complete until a real value arrives."""
    path = str(tmp_path / "pixel_stream_nan")
    rows = _pixel_rows(0, 0, list(range(16)))
    # idx 7 arrives as NaN → 15 real cells, tile must NOT emit
    rows[7] = (0, 0, 0, 3, 1, float("nan"), rows[7][6])
    _write_pixels(spark, path, rows, mode="overwrite")
    stream = spark.readStream.schema(PIXEL_DDL).parquet(path)
    out = reassemble_tiles_stream(stream, cols=4, rows=4, n_bands=1)
    q = _run_stream(out, "tiles_nan_out", "append")
    try:
        assert spark.sql("SELECT * FROM tiles_nan_out").count() == 0
        _write_pixels(spark, path, _pixel_rows(0, 0, [7]))
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM tiles_nan_out").collect()
        assert [(r["complete"], r["n_pixels"]) for r in got] == [(True, 16)]
        assert got[0]["bands"][0][7] == 7.0
    finally:
        q.stop()


def test_stateful_reassembly_timeout_flush(spark, tmp_path):
    path = str(tmp_path / "pixel_stream_t")
    _write_pixels(
        spark, path, _pixel_rows(5, 5, list(range(10))), mode="overwrite"
    )
    stream = spark.readStream.schema(PIXEL_DDL).parquet(path)
    out = reassemble_tiles_stream(
        stream, cols=4, rows=4, n_bands=1, timeout_ms=500
    )
    # NOTE: no processAllAvailable here — with a pending
    # ProcessingTimeTimeout Spark schedules micro-batches continuously
    # and processAllAvailable never returns; poll the sink instead.
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tiles_timeout_out")
        .start()
    )
    try:
        # poll until the idle tile flushes partial on state timeout
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline and not rows:
            if q.exception() is not None:
                raise q.exception()
            rows = spark.sql(
                "SELECT * FROM tiles_timeout_out WHERE tile_col = 5"
            ).collect()
            time.sleep(0.5)
        assert len(rows) == 1
        assert rows[0]["complete"] is False
        assert rows[0]["n_pixels"] == 10
        band = rows[0]["bands"][0]
        assert band[0] == 0.0 and band[15] is None  # NODATA-filled partial
    finally:
        q.stop()


def test_batch_stream_reassembly_parity(spark, tmp_path):
    path = str(tmp_path / "pixel_parity")
    rows = _pixel_rows(0, 0, list(range(16))) + _pixel_rows(2, 1, list(range(16)))
    _write_pixels(spark, path, rows, mode="overwrite")

    stream = spark.readStream.schema(PIXEL_DDL).parquet(path)
    q = _run_stream(
        reassemble_tiles_stream(stream, cols=4, rows=4), "parity_out", "append"
    )
    try:
        got = {
            (r["tile_col"], r["tile_row"]): tuple(r["bands"][0])
            for r in spark.sql("SELECT * FROM parity_out").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(PIXEL_DDL).parquet(path)
    want = {
        (r["tile_col"], r["tile_row"]): tuple(r["bands"][0])
        for r in reassemble_tiles_batch(batch, cols=4, rows=4).collect()
    }
    assert got == want and len(got) == 2


def test_stream_to_catalog_ingest_and_merge(spark, tmp_path):
    """E2E streaming layer ingest (the workflow the reference left as
    commented plans): pixel stream → stateful reassembly → foreachBatch
    catalog write, with a later batch MERGEd into the live layer."""
    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.streaming.pixels import stream_to_catalog

    path = str(tmp_path / "pixel_ingest")
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    _write_pixels(spark, path, _pixel_rows(0, 0, list(range(16))), mode="overwrite")

    stream = spark.readStream.schema(PIXEL_DDL).parquet(path)
    tiles = reassemble_tiles_stream(stream, cols=4, rows=4, n_bands=1)
    q = stream_to_catalog(
        tiles,
        cat,
        layer="streamed",
        cols=4,
        rows=4,
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    try:
        q.processAllAvailable()
        first = cat.read_layer("streamed", 0).collect()
        assert len(first) == 1
        assert first[0]["tile"]["bands"][0] == [float(i) for i in range(16)]

        # a second micro-batch delivers another tile → MERGE path
        _write_pixels(
            spark, path, _pixel_rows(3, 2, list(range(16)), value_of=lambda i: i * 2)
        )
        q.processAllAvailable()
        rows = {
            (r["tile_col"], r["tile_row"]): r["tile"]["bands"][0]
            for r in cat.read_layer("streamed", 0).collect()
        }
        assert set(rows) == {(0, 0), (3, 2)}
        assert rows[(3, 2)] == [float(i * 2) for i in range(16)]
        # catalog metadata tracks the streamed layer like any other
        assert ("streamed", 0) in cat.layer_ids()
    finally:
        q.stop()


def test_watermark_drops_late_rows_append_mode(spark, tmp_path):
    """Late-data policy, streaming side: an event older than the
    watermark horizon arrives after its window was finalized — the
    engine must drop it (no recount, no duplicate window row)."""
    path = str(tmp_path / "late_events")
    _write = lambda rows, mode: spark.createDataFrame(  # noqa: E731
        rows, EVENTS_DDL
    ).coalesce(1).write.mode(mode).parquet(path)

    # batch 1: two on-time events; the 00:30 event pushes the watermark
    # (10 min) past the end of the [00:00, 00:05) window → it finalizes
    _write(
        [
            (1, _ts("2024-01-01 00:00:01"), 1, "click", 1.0),
            (2, _ts("2024-01-01 00:30:00"), 1, "click", 1.0),
        ],
        "overwrite",
    )
    stream = spark.readStream.schema(EVENTS_DDL).parquet(path)
    q = _run_stream(
        tumbling_counts(stream, width="5 minutes", watermark="10 minutes"),
        "late_out",
        "append",
    )
    try:
        first = spark.sql(
            "SELECT * FROM late_out WHERE window_start = '2024-01-01 00:00:00'"
        ).collect()
        assert len(first) == 1 and first[0]["n"] == 1

        # batch 2: a LATE event inside the finalized window + a fresh one
        _write(
            [
                (3, _ts("2024-01-01 00:00:02"), 1, "click", 1.0),  # late
                (4, _ts("2024-01-01 00:45:00"), 1, "click", 1.0),
            ],
            "append",
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM late_out WHERE window_start = '2024-01-01 00:00:00'"
        ).collect()
        # still exactly one emission with the on-time count only
        assert len(rows) == 1 and rows[0]["n"] == 1
    finally:
        q.stop()


def test_stream_static_enrich_parity(spark, sf_dir, events_dir):
    from biggis_landuse_spark.queries import load_tables
    from biggis_landuse_spark.streaming.windows import enrich_with_dim

    (customer,) = load_tables(spark, sf_dir, "customer")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    def pipeline(events):
        return (
            enrich_with_dim(events, dim, on=["user_id"])
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
        )

    stream = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    q = _run_stream(pipeline(stream), "enrich_parity", "complete")
    try:
        got = {
            tuple(r) for r in spark.sql("SELECT * FROM enrich_parity").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(EVENTS_DDL).parquet(events_dir)
    expected = {tuple(r) for r in pipeline(batch).collect()}
    assert got == expected
    # the stream side must join via broadcast: no shuffle of the
    # stream for the join itself
    plan = pipeline(batch)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_stream_stream_interval_join_parity(spark, events_dir, tmp_path):
    from biggis_landuse_spark.streaming.windows import join_streams_within

    batch = spark.read.schema(EVENTS_DDL).parquet(events_dir)
    lb = batch.where("event_type = 'click'").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    rb = batch.where("event_type = 'purchase'").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
    ).withColumnRenamed("r_user", "user_id")

    # stream twin: two file sources over the same rows
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    lb.coalesce(1).write.mode("overwrite").parquet(lp)
    rb.coalesce(1).write.mode("overwrite").parquet(rp)
    ls = spark.readStream.schema("user_id long, l_ts timestamp").parquet(lp)
    rs = spark.readStream.schema("user_id long, r_ts timestamp").parquet(rp)

    joined = join_streams_within(ls, rs, within="120 seconds")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["l_ts"], r["r_ts"])
            for r in spark.sql("SELECT * FROM ssjoin_out").collect()
        }
        want = {
            (r["user_id"], r["l_ts"], r["r_ts"])
            for r in join_streams_within(lb, rb, within="120 seconds").collect()
        }
        # append-mode emits only pairs closed by the final watermark;
        # with a bounded file source processAllAvailable advances the
        # watermark past max(ts), so all pairs must be out
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_stream_stream_left_outer_join_parity(spark, events_dir, tmp_path):
    """Left-outer interval join: unmatched left rows flush null-padded
    once the right watermark closes their interval. A far-future
    sentinel row on both sources advances the watermark so every
    pending outer row is emitted before the comparison."""
    from biggis_landuse_spark.streaming.windows import join_streams_within

    batch = spark.read.schema(EVENTS_DDL).parquet(events_dir)
    lb = batch.where("event_type = 'click'").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    rb = batch.where("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("r_ts")
    )

    lp, rp = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    lb.coalesce(1).write.mode("overwrite").parquet(lp)
    rb.coalesce(1).write.mode("overwrite").parquet(rp)
    ls = spark.readStream.schema("user_id long, l_ts timestamp").parquet(lp)
    rs = spark.readStream.schema("user_id long, r_ts timestamp").parquet(rp)

    joined = join_streams_within(
        ls, rs, within="120 seconds", how="left_outer"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin_lo_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark sits at max(ts) - delay: pending outer rows are
        # still buffered. Feed a sentinel a day ahead on both sides.
        far = lb.agg(F.max("l_ts").alias("m")).collect()[0]["m"]
        sentinel_ts = far + __import__("datetime").timedelta(days=1)
        spark.createDataFrame(
            [(999_999_999, sentinel_ts)], "user_id long, l_ts timestamp"
        ).write.mode("append").parquet(lp)
        spark.createDataFrame(
            [(999_999_999, sentinel_ts)], "user_id long, r_ts timestamp"
        ).write.mode("append").parquet(rp)
        q.processAllAvailable()

        got = {
            (r["user_id"], r["l_ts"], r["r_ts"])
            for r in spark.sql(
                "SELECT * FROM ssjoin_lo_out WHERE user_id < 999999999"
            ).collect()
        }
        want = {
            (r["user_id"], r["l_ts"], r["r_ts"])
            for r in join_streams_within(
                lb, rb, within="120 seconds", how="left_outer"
            ).collect()
        }
        n_outer = sum(1 for t in want if t[2] is None)
        assert got == want and n_outer > 0
    finally:
        q.stop()


def test_join_streams_within_rejects_unknown_how(spark, events_dir):
    import pytest as _pytest

    from biggis_landuse_spark.streaming.windows import join_streams_within

    batch = spark.read.schema(EVENTS_DDL).parquet(events_dir)
    lb = batch.select("user_id", F.col("ts").alias("l_ts"))
    rb = batch.select("user_id", F.col("ts").alias("r_ts"))
    with _pytest.raises(ValueError, match="not supported"):
        join_streams_within(lb, rb, how="cross")


def test_stream_to_versioned_exactly_once(spark, tmp_path):
    """Versioned streaming ingest: each micro-batch commits a snapshot
    whose manifest records the batch id; a re-delivered batch id is
    skipped (exactly-once), and every pre-batch state stays readable."""
    from biggis_landuse_spark.streaming.pixels import stream_to_versioned
    from biggis_landuse_spark.versioning import VersionedLayerStore

    path = str(tmp_path / "pixel_ingest_v")
    store = VersionedLayerStore(spark, str(tmp_path / "vstore"))
    _write_pixels(spark, path, _pixel_rows(0, 0, list(range(16))), mode="overwrite")

    stream = spark.readStream.schema(PIXEL_DDL).parquet(path)
    tiles = reassemble_tiles_stream(stream, cols=4, rows=4, n_bands=1)
    q = stream_to_versioned(
        tiles,
        store,
        layer="vstreamed",
        cols=4,
        rows=4,
        checkpoint=str(tmp_path / "vckpt"),
    ).start()
    try:
        q.processAllAvailable()
        assert store.versions("vstreamed", 0) == [1]
        _write_pixels(
            spark, path, _pixel_rows(3, 2, list(range(16)), value_of=lambda i: i * 2)
        )
        q.processAllAvailable()
        assert store.versions("vstreamed", 0) == [1, 2]
        rows = {
            (r["tile_col"], r["tile_row"])
            for r in store.read("vstreamed", 0).collect()
        }
        assert rows == {(0, 0), (3, 2)}
        # time travel to the pre-merge snapshot
        assert {
            (r["tile_col"], r["tile_row"])
            for r in store.read("vstreamed", 0, version=1).collect()
        } == {(0, 0)}
        # batch ids rode in the commit manifests
        ids = {
            store._read_manifest("vstreamed", 0, v).get("batch_id")
            for v in store.versions("vstreamed", 0)
        }
        assert ids == {0, 1}
    finally:
        q.stop()

    # crash/replay simulation: re-deliver batch_id=1 (already
    # committed) then a genuinely new batch_id=7 through the SAME
    # foreachBatch function the stream used
    from biggis_landuse_spark.streaming.pixels import versioned_batch_writer

    write_batch = versioned_batch_writer(store, "vstreamed", cols=4, rows=4)
    batch_df = spark.createDataFrame(
        [(9, 9, [[float(i) for i in range(16)]], True)],
        "tile_col int, tile_row int, bands array<array<double>>, complete boolean",
    )
    write_batch(batch_df, 1)  # replay → must be a no-op
    assert store.versions("vstreamed", 0) == [1, 2]
    write_batch(batch_df, 7)  # new batch → commits v3
    assert store.versions("vstreamed", 0) == [1, 2, 3]
    assert (9, 9) in {
        (r["tile_col"], r["tile_row"])
        for r in store.read("vstreamed", 0).collect()
    }


def test_streaming_trending_topk_parity(spark, events_dir):
    # trending_event_types streaming realization: the windowed counts
    # run as a streaming aggregate (complete mode); the top-3 rank is
    # applied on the sink table — parity with the one-shot batch rank
    from pyspark.sql import Window as W

    stream = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    batch = spark.read.schema(EVENTS_DDL).parquet(events_dir)

    def counts(df):
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.unix_timestamp("w.start").alias("window_start"),
                "event_type",
                "n",
            )
        )

    def top3(df):
        w = W.partitionBy("window_start").orderBy(
            F.desc("n"), F.asc("event_type")
        )
        return (
            df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
        )

    q = _run_stream(counts(stream), "trend_out", "complete")
    try:
        got = {
            (r["window_start"], r["rank"]): (r["event_type"], r["n"])
            for r in top3(spark.table("trend_out")).collect()
        }
        want = {
            (r["window_start"], r["rank"]): (r["event_type"], r["n"])
            for r in top3(counts(batch)).collect()
        }
        assert got == want and len(got) > 3
    finally:
        q.stop()


def test_stream_to_catalog_maintains_pyramid(spark, tmp_path):
    """maintain_pyramid_to: the first micro-batch builds the pyramid,
    later batches maintain it INCREMENTALLY — final levels must be
    bit-identical to a full rebuild of the final base layer."""
    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.operators.pyramid import build_pyramid
    from biggis_landuse_spark.streaming.pixels import stream_to_catalog

    path = str(tmp_path / "pyr_ingest")
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    _write_pixels(spark, path, _pixel_rows(0, 0, list(range(16))), mode="overwrite")

    stream = spark.readStream.schema(PIXEL_DDL).parquet(path)
    tiles = reassemble_tiles_stream(stream, cols=4, rows=4, n_bands=1)
    q = stream_to_catalog(
        tiles,
        cat,
        layer="pyr",
        cols=4,
        rows=4,
        zoom=2,
        checkpoint=str(tmp_path / "ckpt"),
        maintain_pyramid_to=0,
    ).start()
    try:
        q.processAllAvailable()
        assert {z for (l, z) in cat.layer_ids() if l == "pyr"} == {0, 1, 2}
        _write_pixels(
            spark, path, _pixel_rows(3, 2, list(range(16)), value_of=lambda i: i * 3)
        )
        q.processAllAvailable()
    finally:
        q.stop()

    def level_map(c, layer, z):
        return {
            (r["tile_col"], r["tile_row"]): r["tile"]["bands"]
            for r in c.read_layer(layer, z).collect()
        }

    # reference: full rebuild of the streamed base in a fresh catalog
    cat2 = LayerCatalog(spark, str(tmp_path / "cat2"))
    base = cat.read_layer("pyr", 2).select("tile_col", "tile_row", "ts", "tile")
    tmp = str(tmp_path / "staged")
    base.write.parquet(tmp)
    cat2.write_layer(spark.read.parquet(tmp), "pyr", 2)
    build_pyramid(cat2, "pyr", from_zoom=2, to_zoom=0)
    for z in (0, 1, 2):
        assert level_map(cat, "pyr", z) == level_map(cat2, "pyr", z), z


def test_stream_to_catalog_replays_failed_pyramid_step(
    spark, tmp_path, monkeypatch
):
    """A micro-batch whose pyramid upkeep fails after its commit is
    re-delivered when the query restarts from its checkpoint: it
    commits nothing twice and runs the upkeep again, so every level
    equals a full rebuild. A new query (fresh checkpoint, batch ids
    from 0 again) into the same layer commits its own batch 0."""
    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.operators import pyramid
    from biggis_landuse_spark.streaming.pixels import stream_to_catalog

    cat = LayerCatalog(spark, str(tmp_path / "cat"))

    def run(src, ckpt):
        stream = spark.readStream.schema(PIXEL_DDL).parquet(src)
        tiles = reassemble_tiles_stream(stream, cols=4, rows=4, n_bands=1)
        q = stream_to_catalog(
            tiles, cat, layer="pyr", cols=4, rows=4, zoom=2,
            checkpoint=str(tmp_path / ckpt), maintain_pyramid_to=0,
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    path = str(tmp_path / "pyr_ingest")
    _write_pixels(spark, path, _pixel_rows(0, 0, list(range(16))), mode="overwrite")
    run(path, "ckpt")
    real = pyramid.update_pyramid

    def fail_once(*args, **kwargs):
        monkeypatch.setattr(pyramid, "update_pyramid", real)
        raise RuntimeError("pyramid upkeep failed")

    monkeypatch.setattr(pyramid, "update_pyramid", fail_once)
    _write_pixels(
        spark, path, _pixel_rows(3, 2, list(range(16)), value_of=lambda i: i * 3)
    )
    with pytest.raises(Exception, match="pyramid upkeep failed"):
        run(path, "ckpt")
    run(path, "ckpt")  # restart: the failed batch is re-delivered
    assert len(cat.store.versions("pyr", 2)) == 2

    other = str(tmp_path / "other_ingest")
    _write_pixels(
        spark, other, _pixel_rows(1, 1, list(range(16)), value_of=lambda i: -i),
        mode="overwrite",
    )
    run(other, "ckpt_other")
    assert len(cat.store.versions("pyr", 2)) == 3

    def level_map(c, z):
        return {
            (r["tile_col"], r["tile_row"]): r["tile"]["bands"]
            for r in c.read_layer("pyr", z).collect()
        }

    assert set(level_map(cat, 2)) == {(0, 0), (3, 2), (1, 1)}
    ref = LayerCatalog(spark, str(tmp_path / "ref"))
    ref.write_layer(
        cat.read_layer("pyr", 2).select("tile_col", "tile_row", "ts", "tile"),
        "pyr", 2,
    )
    pyramid.build_pyramid(ref, "pyr", from_zoom=2, to_zoom=0)
    for z in (0, 1, 2):
        assert level_map(cat, z) == level_map(ref, z), z


def test_stream_change_matrix_parity(spark, tmp_path):
    # epoch-B pixels stream in; transition counts against the static
    # epoch-A baseline must equal the batch computation
    from biggis_landuse_spark.streaming.change import stream_change_matrix

    px_ddl = "gx long, gy long, cls int"
    base = spark.createDataFrame(
        [(x, y, 1 + (x + y) % 3) for x in range(16) for y in range(16)],
        px_ddl,
    )
    new_rows = [(x, y, 1 + (x * 3 + y) % 3) for x in range(16) for y in range(16)]
    path = str(tmp_path / "epoch_b")
    spark.createDataFrame(new_rows, px_ddl).coalesce(2).write.parquet(path)

    stream = spark.readStream.schema(px_ddl).parquet(path)
    q = _run_stream(
        stream_change_matrix(stream, base), "change_out", "complete"
    )
    try:
        got = {
            (r["class_from"], r["class_to"]): (r["n_pixels"], r["changed"])
            for r in spark.sql("SELECT * FROM change_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r["class_from"], r["class_to"]): (r["n_pixels"], r["changed"])
        for r in stream_change_matrix(
            spark.read.schema(px_ddl).parquet(path), base
        ).collect()
    }
    assert got == want and len(got) == 9
    assert sum(n for n, _ in got.values()) == 256


def test_pipeline_scene_leg_end_to_end(spark):
    # the whole-pipe bench leg (r10, VERDICT r9 #5): spool source →
    # decode → stateful reassembly → versioned sink, shrunk to a
    # test-sized scene; every tile spans every producer chunk, and the
    # sink must commit exactly one version holding all tiles complete
    from biggis_landuse_spark.streaming.bench import run_pipeline_scene

    r = run_pipeline_scene(spark, n_tiles=2, size=32, n_chunks=2)
    assert r["rows"] == 2 * 32 * 32
    assert r["versions_committed"] == 1
    assert r["rows_per_sec"] > 0
