from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Test tiers: the full suite runs 25-37 minutes, so the DEFAULT tier —
# the tier-1 verify command in ROADMAP.md, run without any tier
# variable — skips the heavyweight e2e/codec/harness modules and the
# bulk of the oracle-differential parametrization. A slow module says
# so itself with ``pytestmark = pytest.mark.slow`` (the ``slow`` marker
# is registered in pyproject.toml), so renaming or adding a file keeps
# its tier. ``pytest.mark.slow(spark_only=True)`` marks only the
# module's tests that use the ``spark`` fixture (test_reproject.py's
# parse tests stay in the default tier). The full gate — the whole
# suite run before a change is merged — sets SPARK_GRAFT_SLOW_TESTS=1
# and runs every tier. Coverage note: everything the slow tier defers
# is ALSO verified by the DuckDB oracle sweep, which re-runs every
# registry query against its oracle.
RUN_SLOW_TESTS = os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1"

# cross-family oracle smoke subset kept in the default tier (the full
# 237-query parametrization runs in the slow tier / the /tmp sweeps)
ORACLE_SMOKE = {
    "pricing_summary", "stack_join", "knn_cosine", "bm25_search",
    "tumbling_window", "sessionize", "dedup_minhash", "dedup_incremental",
    "semantic_dedup", "terrain_tile", "utm_grid", "media_metadata",
    "ndvi_tile", "dsir_select", "simhash_hamming_pairs",
    "hybrid_retrieval", "tfidf_top_terms", "embedding_near_dup",
    "ann_pq_topk", "flow_accumulation",
}


def is_slow(item) -> bool:
    mark = item.get_closest_marker("slow")
    if mark is None:
        return False
    return not mark.kwargs.get("spark_only") or "spark" in item.fixturenames


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW_TESTS:
        return
    skip_slow = pytest.mark.skip(
        reason="slow tier (set SPARK_GRAFT_SLOW_TESTS=1 to run)"
    )
    for item in items:
        if is_slow(item):
            item.add_marker(skip_slow)
        elif item.path.name == "test_oracle.py" and "[" in item.name:
            q = item.name.split("[", 1)[1].rstrip("]")
            if q not in ORACLE_SMOKE:
                item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    from biggis_landuse_spark.session import get_spark

    spark = get_spark(
        app_name="biggis-tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
