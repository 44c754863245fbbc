"""Degenerate-input totality under default ANSI mode (Spark 4 raises
DIVIDE_BY_ZERO for ALL zero divisors, doubles included): constant
layers, zero vectors, and single-cell layers must yield NULL/NODATA,
never crash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.functions.similarity import as_double, cosine
from biggis_landuse_spark.model import TILE_SCHEMA

pytestmark = pytest.mark.slow


def test_cosine_of_zero_vector_is_null_not_crash(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["c"]
        for r in df.select(
            "vec_id",
            cosine(as_double("embedding"), F.array(F.lit(1.0), F.lit(0.0)))
            .alias("c"),
        ).collect()
    }
    assert rows[1] is None  # zero vector: no direction → NODATA
    assert rows[2] == pytest.approx(1.0)


def test_getis_ord_constant_layer_yields_null_not_crash(spark):
    from biggis_landuse_spark.operators.focal import getis_ord_gstar

    rows = [
        ("flat", 0, tc, tr, None, (2, 2, "float64", [[5.0, 5.0, 5.0, 5.0]]))
        for tc in range(2)
        for tr in range(2)
    ]
    tiles = spark.createDataFrame(rows, schema=TILE_SCHEMA)
    out = getis_ord_gstar(tiles, radius=1)
    vals = [
        v
        for r in out.collect()
        for v in r["tile"]["bands"][0]
    ]
    # constant layer: stddev 0 → z-scores undefined → all NULL
    assert vals and all(v is None for v in vals)


def test_brute_force_topk_tolerates_zero_vectors(spark):
    from biggis_landuse_spark.functions.similarity import brute_force_topk

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = brute_force_topk(df.where("vec_id = 1"), df, k=2).collect()
    assert len(out) == 2  # runs; zero-vector corpus row just can't rank
    assert all(r["neighbor_id"] != 0 for r in out)


def test_text_ops_total_on_degenerate_docs(spark):
    """Empty docs, one-token docs, punctuation-only docs must flow
    through tokenize/shingle/quality expressions without ANSI errors."""
    from biggis_landuse_spark.functions import dedup as D
    from biggis_landuse_spark.functions import text as TX

    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "!!! ..."), (4, "   "), (5, "a b")],
        "doc_id long, text string",
    )
    toks = TX.tokens("text")
    out = df.select(
        "doc_id",
        F.size(toks).alias("ntok"),
        F.size(D.shingles_from_tokens(toks, k=3)).alias("nsh"),
        TX.punct_ratio("text").alias("pr"),
        TX.stopword_ratio("text").alias("sr"),
        TX.mean_word_len("text").alias("mwl"),
        TX.fingerprint("text").alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["ntok"] == 0 and by_id[1]["nsh"] == 0
    assert by_id[2]["ntok"] == 1 and by_id[2]["nsh"] == 0
    assert by_id[4]["ntok"] == 0
    assert all(r["fp"] is not None for r in out)


def test_sequence_packing_zero_token_docs(spark, tmp_path):
    """Docs with zero tokens land in a bin (contributing 0 mass) and
    never crash the integer bin arithmetic."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["", "x " * 600, "", "y"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [0, 1200, 0, 1],
        }
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)
    from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["sequence_packing"].spark(spark, str(tmp_path)).collect()
    assert sum(r["n_docs"] for r in rows) == 4
    assert sum(r["bin_tokens"] for r in rows) == 601
