"""Stream-vs-batch parity for the Gopher quality admission gate."""

from __future__ import annotations

from pyspark.sql import functions as F
import pytest

from biggis_landuse_spark.queries import load_tables
from biggis_landuse_spark.streaming.quality import (
    quality_flags,
    stream_quality_admit,
)

pytestmark = pytest.mark.slow

DOC_DDL = "doc_id long, text string"


def _setup(spark, sf_dir, tmp_path, n_files: int):
    (documents,) = load_tables(spark, sf_dir, "documents")
    # the fixture vocabulary carries almost none of the 8 Gopher stop
    # words, so no fixture doc passes ALL rules — plant a few passing
    # docs so both gate outcomes flow through the stream
    passing = " ".join(
        ["the cat and the dog have to be of help with that plan"] * 5
    )
    crafted = spark.createDataFrame(
        [(10_000 + i, passing) for i in range(5)], DOC_DDL
    )
    batch = documents.select("doc_id", "text").unionByName(crafted)
    src = str(tmp_path / "doc_stream")
    for i in range(n_files):
        batch.where(F.col("doc_id") % n_files == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return batch, src


def test_stream_quality_matches_batch_twin(spark, sf_dir, tmp_path):
    batch, src = _setup(spark, sf_dir, tmp_path, n_files=3)
    out = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(DOC_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_quality_admit(stream, out, ckpt).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    cols = [
        "r_words", "r_word_len", "r_symbol", "r_bullet", "r_ellipsis",
        "r_alpha", "r_stopword", "passed",
    ]
    want = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in quality_flags(batch).collect()
    }
    got = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want  # micro-batching is invisible: per-doc scoring
    # the gate discriminates on the fixture (both outcomes present)
    assert any(v[-1] for v in want.values())
    assert any(not v[-1] for v in want.values())


def test_stream_quality_admitted_only(spark, sf_dir, tmp_path):
    batch, src = _setup(spark, sf_dir, tmp_path, n_files=2)
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt2")
    stream = spark.readStream.schema(DOC_DDL).parquet(src)
    q = stream_quality_admit(stream, out, ckpt, admitted_only=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert rows and all(r["passed"] for r in rows)
    n_pass = sum(1 for r in quality_flags(batch).collect() if r["passed"])
    assert len(rows) == n_pass


def test_stream_quality_agrees_with_gopher_rules_census(spark, sf_dir):
    # the flags aggregated over the whole corpus must reproduce the
    # registry query's per-source n_pass totals (shared expressions)
    from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    (documents,) = load_tables(spark, sf_dir, "documents")
    flags = quality_flags(documents)
    total_pass = flags.where("passed").count()
    census = REGISTRY["gopher_rules"].spark(spark, sf_dir).collect()
    assert sum(r["n_pass"] for r in census) == total_pass
