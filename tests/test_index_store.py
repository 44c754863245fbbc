"""Persisted ANN index artifacts (ml/index_store.py, r9 VERDICT r8
#3): exact codebook round-trips through parquet + manifest, probe
parity with in-query training, and the registry query's cache
discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.functions import similarity as S
from biggis_landuse_spark.ml.index_store import (
    load_hier_index,
    load_pq_codebooks,
    save_hier_index,
    save_pq_codebooks,
)
from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded, load_tables

pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _train(spark, kc=4, kf=4):
    (embeddings,) = load_tables(spark, SF, "embeddings")
    v = embeddings.select("vec_id", S.as_double("embedding").alias("vec"))
    return S.hier_codebook_trained(v, kc=kc, kf=kf, iters=2, vec_col="vec")


def _rows(df):
    return sorted(
        (tuple(r.asDict().items()) for r in df.collect()),
        key=lambda t: str(t),
    )


def test_hier_index_round_trip_is_exact(spark, tmp_path):
    fines, coarse = _train(spark)
    path = str(tmp_path / "idx")
    save_hier_index(fines, coarse, path, params={"kc": 4, "kf": 4})
    lf, lc, meta = load_hier_index(spark, path)
    # EXACT equality — doubles round-trip losslessly through parquet,
    # so the persisted probe path is bit-identical to in-query training
    assert _rows(lf.select("cid", "ccid", "cv")) == _rows(
        fines.select("cid", "ccid", "cv")
    )
    assert _rows(lc) == _rows(coarse)
    assert meta["kind"] == "ivf_hier" and meta["kc"] == 4


def test_hier_index_kind_mismatch_raises(spark, tmp_path):
    cb = spark.createDataFrame(
        [(0, 0, [0.0, 1.0])], "s int, c int, cv array<double>"
    )
    path = str(tmp_path / "pq")
    save_pq_codebooks(cb, path)
    with pytest.raises(ValueError, match="not an ivf_hier"):
        load_hier_index(spark, path)
    loaded, meta = load_pq_codebooks(spark, path)
    assert meta["kind"] == "pq"
    assert _rows(loaded) == _rows(cb)


def test_hier_index_manifest_shape_mismatch_raises(spark, tmp_path):
    # the manifest is the authority on the trained width: a stored
    # codebook whose shape disagrees with its declared kc/kf must be
    # refused, not silently under/over-probed (r9 ADVICE #3)
    fines, coarse = _train(spark)
    path = str(tmp_path / "idx_bad")
    save_hier_index(fines, coarse, path, params={"kc": 7, "kf": 4})
    with pytest.raises(ValueError, match="manifest kc=7"):
        load_hier_index(spark, path)
    path2 = str(tmp_path / "idx_bad2")
    save_hier_index(fines, coarse, path2, params={"kc": 4, "kf": 9})
    with pytest.raises(ValueError, match="kc\\*kf=36"):
        load_hier_index(spark, path2)


def test_codebooks_probe_width_comes_from_the_index(spark, tmp_path):
    # ADVICE r9 #3: with codebooks= the caller's kc must NOT set the
    # query-side coarse-probe width — an index trained at kc=4 probed
    # with a wrong caller kc=1 must still default to all 4 coarse
    # cells and return the same rows as the honest call
    fines, coarse = _train(spark, kc=4, kf=4)
    path = str(tmp_path / "idx_w")
    save_hier_index(fines, coarse, path)
    lf, lc, _ = load_hier_index(spark, path)
    (embeddings,) = load_tables(spark, SF, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 10)

    def run(kc):
        return S.ivf_topk_hier_trained(
            queries, embeddings, kc=kc, kf=4, k=5,
            n_assign_coarse=2, n_probe=8, codebooks=(lf, lc),
        )

    assert _rows(run(kc=1)) == _rows(run(kc=4))


def test_persisted_probe_matches_inline_training(spark):
    _ensure_loaded()
    inline = REGISTRY["ann_ivf2_trained_topk"].spark(spark, SF)
    persisted = REGISTRY["ann_ivf2_persisted_topk"].spark(spark, SF)
    assert _rows(inline) == _rows(persisted)


def test_persisted_query_caches_the_artifact(spark):
    from biggis_landuse_spark.queries import similarity as qsim

    _ensure_loaded()
    REGISTRY["ann_ivf2_persisted_topk"].spark(spark, SF).count()
    path1 = qsim._HIER_INDEX_DIRS[SF]
    REGISTRY["ann_ivf2_persisted_topk"].spark(spark, SF).count()
    assert qsim._HIER_INDEX_DIRS[SF] == path1  # trained exactly once


def test_pq_persisted_probe_matches_inline_training(spark):
    _ensure_loaded()
    inline = REGISTRY["ann_ivfpq_topk"].spark(spark, SF)
    persisted = REGISTRY["ann_ivfpq_persisted_topk"].spark(spark, SF)
    assert _rows(inline) == _rows(persisted)


def test_pq_train_codebooks_round_trip(spark, tmp_path):
    from biggis_landuse_spark.functions.similarity import (
        ivfpq_train_codebooks,
    )

    (embeddings,) = load_tables(spark, SF, "embeddings")
    centroids = embeddings.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), S.as_double("embedding").alias("cv")
    )
    cbs = ivfpq_train_codebooks(
        embeddings, centroids, m=16, ncode=64, train_iters=2
    )
    path = str(tmp_path / "pq_idx")
    save_pq_codebooks(cbs, path, params={"m": 16, "ncode": 64})
    loaded, meta = load_pq_codebooks(spark, path)
    assert meta["m"] == 16
    assert _rows(loaded) == _rows(cbs)


def test_loaded_codebooks_skip_training_jobs(spark, tmp_path):
    # the codebooks= path must not re-enter hier_codebook_trained:
    # its plan reads the parquet artifact, with no Lloyd-loop scans
    # of the corpus on the codebook side
    fines, coarse = _train(spark)
    path = str(tmp_path / "idx2")
    save_hier_index(fines, coarse, path)
    lf, lc, _ = load_hier_index(spark, path)
    (embeddings,) = load_tables(spark, SF, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 10)
    out = S.ivf_topk_hier_trained(
        queries, embeddings, kc=4, kf=4, k=5,
        n_assign_coarse=2, n_probe=8, codebooks=(lf, lc),
    )
    assert out.count() > 0
