"""Stream-vs-batch parity for the Bloom dedup admission path."""

from __future__ import annotations

from pyspark.sql import functions as F
import pytest

from biggis_landuse_spark.functions.dedup import bloom_bits
from biggis_landuse_spark.queries import load_tables
from biggis_landuse_spark.streaming.dedup import stream_bloom_admit

pytestmark = pytest.mark.slow

DOC_DDL = "doc_id long, text string"


def _setup(spark, sf_dir, tmp_path, n_files: int):
    (documents,) = load_tables(spark, sf_dir, "documents")
    snap = documents.where(F.col("doc_id") % 2 == 0)
    batch = documents.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    bits = bloom_bits(snap)
    src = str(tmp_path / "doc_stream")
    # several files => several micro-batches with maxFilesPerTrigger=1
    for i in range(n_files):
        batch.where(F.col("doc_id") % n_files == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return batch, bits, src


def test_stream_bloom_matches_batch_twin(spark, sf_dir, tmp_path):
    batch, bits, src = _setup(spark, sf_dir, tmp_path, n_files=3)
    out = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(DOC_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_bloom_admit(stream, bits, out, ckpt).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from biggis_landuse_spark.functions.dedup import bloom_containment

    want = {
        r["doc_id"]: (r["n_grams"], r["n_hit"], r["flagged"])
        for r in bloom_containment(batch, bits).collect()
    }
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hit"], r["flagged"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == want  # micro-batching is invisible: per-doc scoring


def test_stream_bloom_admitted_only_filters_flagged(spark, sf_dir, tmp_path):
    batch, bits, src = _setup(spark, sf_dir, tmp_path, n_files=2)
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt2")
    stream = spark.readStream.schema(DOC_DDL).parquet(src)
    q = stream_bloom_admit(stream, bits, out, ckpt, admitted_only=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert rows and all(not r["flagged"] for r in rows)


# ---------------------------------------------------------------------------
# SimHash near-dup admission (the Hamming twin of the Bloom gate)
# ---------------------------------------------------------------------------


def _setup_simhash(spark, sf_dir, tmp_path, n_files: int):
    from biggis_landuse_spark.functions.dedup import simhash_band_index

    (documents,) = load_tables(spark, sf_dir, "documents")
    snap = documents.where(F.col("doc_id") % 2 == 0)
    # odd docs PLUS an exact copy of a snapshot doc under a fresh id —
    # the known near-dup (Hamming 0) the gate must flag
    copy_src = snap.orderBy("doc_id").limit(1).select(
        (F.lit(10_000_000)).alias("doc_id"), F.col("text")
    )
    batch = (
        documents.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(copy_src)
    )
    index = simhash_band_index(snap).cache()
    src = str(tmp_path / "sh_stream")
    for i in range(n_files):
        batch.where(F.col("doc_id") % n_files == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return batch, index, src


def test_stream_simhash_matches_batch_twin(spark, sf_dir, tmp_path):
    from biggis_landuse_spark.functions.dedup import simhash_near_dup_flags
    from biggis_landuse_spark.streaming.dedup import stream_simhash_admit

    batch, index, src = _setup_simhash(spark, sf_dir, tmp_path, n_files=3)
    out = str(tmp_path / "sh_scored")
    ckpt = str(tmp_path / "sh_ckpt")
    stream = (
        spark.readStream.schema(DOC_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_simhash_admit(stream, index, out, ckpt).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = {
        r["doc_id"]: (r["min_hamming"], r["nearest_snap_id"], r["flagged"])
        for r in simhash_near_dup_flags(batch, index).collect()
    }
    got = {
        r["doc_id"]: (r["min_hamming"], r["nearest_snap_id"], r["flagged"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == want  # micro-batching is invisible: per-doc scoring
    # the planted exact copy is a Hamming-0 flag against its source
    assert got[10_000_000][0] == 0
    assert got[10_000_000][2] is True
    index.unpersist()


def test_stream_admit_sink_is_idempotent_on_retry(spark, sf_dir, tmp_path):
    # r8 (ADVICE): the foreachBatch sink writes each micro-batch to a
    # batch_id-keyed partition directory with overwrite mode, so a
    # retried micro-batch REPLACES its own output instead of
    # appending duplicates (exactly-once at the sink)
    from biggis_landuse_spark.streaming.dedup import _write_scored_batch

    scored = spark.createDataFrame(
        [(1, True), (2, False)], "doc_id long, flagged boolean"
    )
    out = str(tmp_path / "retry_sink")
    _write_scored_batch(scored, out, 0)
    _write_scored_batch(scored, out, 0)  # simulated retry
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # not 4
    assert {r["batch_id"] for r in rows} == {0}
    _write_scored_batch(scored, out, 1)  # next batch adds its own dir
    assert spark.read.parquet(out).count() == 4


def test_stream_simhash_rejects_unsound_threshold(spark, sf_dir, tmp_path):
    # r8 (ADVICE): thresholds beyond the pigeonhole no-miss bound
    # (SIMHASH_BANDS - 1) would silently under-flag; both the batch
    # scorer and the stream gate refuse them eagerly
    import pytest

    from biggis_landuse_spark.functions.dedup import (
        SIMHASH_BANDS,
        simhash_near_dup_flags,
    )
    from biggis_landuse_spark.streaming.dedup import stream_simhash_admit

    batch, index, src = _setup_simhash(spark, sf_dir, tmp_path, n_files=1)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_flags(batch, index, threshold=SIMHASH_BANDS)
    stream = spark.readStream.schema(DOC_DDL).parquet(src)
    with pytest.raises(ValueError, match="pigeonhole"):
        stream_simhash_admit(
            stream, index, str(tmp_path / "o"), str(tmp_path / "c"),
            threshold=SIMHASH_BANDS,
        )
    index.unpersist()


def test_stream_simhash_admitted_only_drops_near_dups(spark, sf_dir, tmp_path):
    from biggis_landuse_spark.streaming.dedup import stream_simhash_admit

    batch, index, src = _setup_simhash(spark, sf_dir, tmp_path, n_files=2)
    out = str(tmp_path / "sh_admitted")
    ckpt = str(tmp_path / "sh_ckpt2")
    stream = spark.readStream.schema(DOC_DDL).parquet(src)
    q = stream_simhash_admit(stream, index, out, ckpt, admitted_only=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    ids = {r["doc_id"] for r in rows}
    assert 10_000_000 not in ids  # the planted copy was gated
    assert all(not r["flagged"] for r in rows)
    index.unpersist()
