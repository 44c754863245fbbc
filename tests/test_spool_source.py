"""Custom Python DataSource (spool): Kafka-contract batch + streaming
reads with exactly-once offset semantics over append-only logs."""

from __future__ import annotations

import pytest

from biggis_landuse_spark.sources.spool import (
    SpoolDataSource,
    append_messages,
)

pytestmark = pytest.mark.slow


@pytest.fixture()
def spool_dir(tmp_path):
    return str(tmp_path / "spool")


def _register(spark):
    spark.dataSource.register(SpoolDataSource)


def test_batch_read_kafka_contract(spark, spool_dir):
    _register(spark)
    append_messages(spool_dir, 0, ["a", "b"])
    append_messages(spool_dir, 1, ["c"])
    rows = sorted(
        (r["partition"], r["offset"], r["value"])
        for r in spark.read.format("spool").option("path", spool_dir).load().collect()
    )
    assert rows == [(0, 0, "a"), (0, 1, "b"), (1, 0, "c")]


def test_stream_reads_each_message_exactly_once(spark, spool_dir, tmp_path):
    _register(spark)
    append_messages(spool_dir, 0, ["m0", "m1"])
    q = (
        spark.readStream.format("spool")
        .option("path", spool_dir)
        .load()
        .writeStream.format("memory")
        .queryName("spool_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # grow p0 AND add a partition born mid-stream
        append_messages(spool_dir, 0, ["m2"])
        append_messages(spool_dir, 1, ["n0", "n1"])
        q.processAllAvailable()
        append_messages(spool_dir, 1, ["n2"])
        q.processAllAvailable()
        rows = sorted(
            (r["partition"], r["offset"], r["value"])
            for r in spark.sql("SELECT * FROM spool_out").collect()
        )
        assert rows == [
            (0, 0, "m0"), (0, 1, "m1"), (0, 2, "m2"),
            (1, 0, "n0"), (1, 1, "n1"), (1, 2, "n2"),
        ]
    finally:
        q.stop()


def test_spool_feeds_reference_sample_codec(spark, spool_dir, tmp_path):
    # end-to-end realization of the reference's commented Kafka plan:
    # spool messages in the UtilsSVM line format → decode_stream →
    # typed pixel samples (same graph a real Kafka source would feed)
    from biggis_landuse_spark.sources.kafka import decode_stream

    _register(spark)
    append_messages(
        spool_dir,
        0,
        [
            "1.0;0.5;0.25;SpatialKey(3,4);7;2",
            "0.0;1.5;2.5;SpatialKey(1,0);0;5",
            "garbage-line",  # poison pill must yield NULLs, not kill
        ],
    )
    stream = (
        spark.readStream.format("spool").option("path", spool_dir).load()
    )
    q = (
        decode_stream(stream.selectExpr("value"))
        .writeStream.format("memory")
        .queryName("spool_samples")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM spool_samples ORDER BY tile_col NULLS LAST"
        ).collect()
        assert len(rows) == 3
        assert (rows[0]["tile_col"], rows[0]["tile_row"]) == (1, 0)
        assert (rows[1]["tile_col"], rows[1]["px"], rows[1]["py"]) == (3, 7, 2)
        assert rows[1]["label"] == 1.0 and rows[1]["features"] == [0.5, 0.25]
        assert rows[2]["tile_col"] is None  # poison pill decoded to NULLs
    finally:
        q.stop()


def test_spool_windowed_aggregate_pipeline(spark, spool_dir, tmp_path):
    # full pipeline through the custom source: spool → event parse →
    # tumbling window aggregate — equal to the batch run on the same
    # messages (the S15 plan end-to-end, no Kafka jar)
    from pyspark.sql import functions as F

    msgs = [
        f"2024-01-01 00:{m:02d}:00;t{m % 2};{m * 1.5}" for m in range(20)
    ]
    append_messages(spool_dir, 0, msgs[:12])
    append_messages(spool_dir, 1, msgs[12:])
    _register(spark)

    def parse(df):
        p = F.split("value", ";")
        return df.select(
            p[0].cast("timestamp").alias("ts"),
            p[1].alias("etype"),
            p[2].cast("double").alias("v"),
        )

    def windowed(df):
        return (
            df.groupBy(F.window("ts", "5 minutes").alias("w"), "etype")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 2).alias("sv"))
            .select(F.unix_timestamp("w.start").alias("ws"), "etype", "n", "sv")
        )

    stream = spark.readStream.format("spool").option("path", spool_dir).load()
    q = (
        windowed(parse(stream))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("spool_win")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM spool_win").collect()
        )
        batch = spark.read.format("spool").option("path", spool_dir).load()
        want = sorted(tuple(r) for r in windowed(parse(batch)).collect())
        assert got == want and len(got) == 8
    finally:
        q.stop()


def test_batch_write_round_trip(spark, spool_dir):
    _register(spark)
    df = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c")], "partition int, value string"
    )
    df.write.format("spool").option("path", spool_dir).mode("append").save()
    rows = sorted(
        (r["partition"], r["offset"], r["value"])
        for r in spark.read.format("spool").option("path", spool_dir).load().collect()
    )
    assert rows == [(0, 0, "a"), (0, 1, "b"), (1, 0, "c")]


def test_batch_write_hash_routing_is_deterministic(spark, spool_dir):
    _register(spark)
    df = spark.createDataFrame(
        [(f"msg{i}",) for i in range(40)], "value string"
    )
    (
        df.write.format("spool")
        .option("path", spool_dir)
        .option("num_partitions", "4")
        .mode("append")
        .save()
    )
    out = spark.read.format("spool").option("path", spool_dir).load().collect()
    assert sorted(r["value"] for r in out) == sorted(f"msg{i}" for i in range(40))
    parts = {r["partition"] for r in out}
    assert parts <= {0, 1, 2, 3} and len(parts) > 1
    # re-writing the same values lands each on the same partition
    first = {r["value"]: r["partition"] for r in out}
    df.write.format("spool").option("path", spool_dir).mode("append").save()
    # (single-partition default now; just assert determinism of hash fn)
    from biggis_landuse_spark.sources.spool import _route
    from pyspark.sql import Row

    for v, p in first.items():
        assert _route(Row(value=v), 4) == p


def test_stream_write_round_trip_and_replay_idempotence(spark, spool_dir, tmp_path):
    _register(spark)
    src = str(tmp_path / "src")
    append_messages(src, 0, ["x0", "x1"])
    append_messages(src, 1, ["y0"])

    def run(ck):
        q = (
            spark.readStream.format("spool")
            .option("path", src)
            .load()
            .selectExpr("partition", "value")
            .writeStream.format("spool")
            .option("path", spool_dir)
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    ck = str(tmp_path / "ck")
    run(ck)
    # restart from the SAME checkpoint with new input: only the new
    # messages append — the committed epoch replays as a no-op
    append_messages(src, 0, ["x2"])
    run(ck)
    rows = sorted(
        (r["partition"], r["offset"], r["value"])
        for r in spark.read.format("spool").option("path", spool_dir).load().collect()
    )
    assert rows == [(0, 0, "x0"), (0, 1, "x1"), (0, 2, "x2"), (1, 0, "y0")]


def test_stream_commit_marker_makes_replay_noop(spool_dir):
    # direct replay simulation: the same epoch committed twice appends
    # once — the idempotent-producer half of exactly-once
    import os

    from biggis_landuse_spark.sources.spool import (
        _SpoolStreamWriter,
        _StagedFiles,
    )

    w = _SpoolStreamWriter({"path": spool_dir})

    def staged(content):
        os.makedirs(os.path.join(spool_dir, ".staging"), exist_ok=True)
        fp = os.path.join(spool_dir, ".staging", "t1-p0.part")
        with open(fp, "w") as f:
            f.write(content)
        return [_StagedFiles({0: fp}, 1)]

    w.commit(staged("m0\n"), batchId=7)
    # replay of epoch 7 (post-crash restart re-runs the batch)
    w.commit(staged("m0\n"), batchId=7)
    with open(os.path.join(spool_dir, "p0.log")) as f:
        assert f.read() == "m0\n"
    # and no staged garbage left behind
    assert os.listdir(os.path.join(spool_dir, ".staging")) == []


def test_spool_to_spool_windowed_round_trip(spark, spool_dir, tmp_path):
    # the FULL Kafka-analog pipeline: spool source → watermarked
    # tumbling-window aggregate (append mode: windows emit when the
    # watermark passes) → spool SINK, then read the sink back and
    # check the emitted window rows — source offsets, stateful agg,
    # and idempotent sink in one graph
    from pyspark.sql import functions as F

    _register(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    # two closed 5-min windows plus a late tail that advances the
    # watermark far enough to flush them
    msgs = (
        [f"2024-01-01 00:0{m}:00;a;{m}.0" for m in range(5)]
        + [f"2024-01-01 00:0{m}:00;b;1.0" for m in (5, 6, 7)]
        + ["2024-01-01 01:00:00;tail;0.0"]
    )
    append_messages(src, 0, msgs)

    stream = spark.readStream.format("spool").option("path", src).load()
    p = F.split("value", ";")
    parsed = stream.select(
        p[0].cast("timestamp").alias("ts"),
        p[1].alias("etype"),
        p[2].cast("double").alias("v"),
    ).withWatermark("ts", "10 minutes")
    windowed = (
        parsed.groupBy(F.window("ts", "5 minutes").alias("w"), "etype")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 2).alias("sv"))
        .select(
            F.concat_ws(
                ";",
                F.unix_timestamp("w.start").cast("string"),
                "etype",
                F.col("n").cast("string"),
                F.col("sv").cast("string"),
            ).alias("value")
        )
    )
    q = (
        windowed.writeStream.outputMode("append")
        .format("spool")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # a second empty pass advances nothing; emitted rows must not dup
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        r["value"]
        for r in spark.read.format("spool").option("path", out).load().collect()
    )
    ws0 = str(int(__import__("datetime").datetime(2024, 1, 1, 0, 0).timestamp()))
    ws1 = str(int(__import__("datetime").datetime(2024, 1, 1, 0, 5).timestamp()))
    assert f"{ws0};a;5;10.0" in rows
    assert f"{ws1};b;3;3.0" in rows
    # only the two closed windows emitted (tail window still open)
    assert len(rows) == 2


def test_commit_sweeps_stale_staged_files(spark, spool_dir):
    # orphans from failed/speculative attempts never appear in commit
    # messages — commit must age them out of .staging/, while leaving
    # a fresh (possibly concurrent) stage untouched
    import os
    import time as _time

    _register(spark)
    staging = os.path.join(spool_dir, ".staging")
    os.makedirs(staging, exist_ok=True)
    stale = os.path.join(staging, "deadbeef-p0.part")
    fresh = os.path.join(staging, "cafebabe-p0.part")
    for fp in (stale, fresh):
        with open(fp, "w") as f:
            f.write("orphan\n")
    old = _time.time() - 3600
    os.utime(stale, (old, old))

    df = spark.createDataFrame(
        [(0, "m1")], "partition int, value string"
    )
    df.write.format("spool").option("path", spool_dir).mode("append").save()

    assert not os.path.exists(stale), "stale orphan must be swept"
    assert os.path.exists(fresh), "fresh stage must survive the sweep"
    vals = {
        r["value"]
        for r in spark.read.format("spool").option("path", spool_dir).load().collect()
    }
    assert "m1" in vals and "orphan" not in vals


def test_slow_concurrent_writer_stage_survives_commit_sweep(spark, spool_dir):
    # Advisor-found bug: the old flat sweep deleted ANY .part older
    # than the grace, so a slow concurrent writer (staged early, still
    # writing, not yet committed) lost files. Namespaced staging fixes
    # it: a foreign namespace is swept only when its NEWEST entry is
    # older than the grace — one live file keeps the whole namespace.
    import os
    import time as _time

    _register(spark)
    staging = os.path.join(spool_dir, ".staging")
    slow = os.path.join(staging, "slowwriter00")
    os.makedirs(slow, exist_ok=True)
    early = os.path.join(slow, "t1-p0.part")
    live = os.path.join(slow, "t2-p0.part")
    for fp in (early, live):
        with open(fp, "w") as f:
            f.write("staged\n")
    old = _time.time() - 7200
    os.utime(early, (old, old))
    os.utime(slow, (old, old))  # dir mtime stale too; `live` is fresh

    crashed = os.path.join(staging, "crashedjob00")
    os.makedirs(crashed, exist_ok=True)
    dead = os.path.join(crashed, "t9-p0.part")
    with open(dead, "w") as f:
        f.write("orphan\n")
    for fp in (dead, crashed):
        os.utime(fp, (old, old))

    df = spark.createDataFrame([(0, "m1")], "partition int, value string")
    df.write.format("spool").option("path", spool_dir).mode("append").save()

    assert os.path.exists(early) and os.path.exists(live), (
        "slow concurrent writer's namespace must survive while any "
        "file in it is fresh"
    )
    assert not os.path.exists(crashed), "fully-stale namespace is GC'd"
    # the committing writer's own namespace is gone (unconditional)
    leftover = [
        n for n in os.listdir(staging) if n not in ("slowwriter00",)
    ]
    assert leftover == []
