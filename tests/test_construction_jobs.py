"""Query construction without avoidable Spark jobs: the load_tables
schema memo, and the exact-size broadcasts in the D8 doubling loops."""

from __future__ import annotations

import re
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded, load_tables

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


# the pointer-doubling joins: Euler-tour ranking joins on ptr, watershed
# labeling on v (every other join in either query keys on other columns)
_DOUBLING_KEY = {"flow_accumulation_full": "ptr", "watershed_basins": "v"}


def _doubling_join_strategies(spark, query, sf_dir):
    """(result rows, the join operators the query's doubling rounds
    planned), read off every localCheckpointed plan after it ran —
    initial and final AQE plans both."""
    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    plans = []

    def spy(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    cls.localCheckpoint = spy
    try:
        rows = sorted(tuple(r) for r in REGISTRY[query].spark(spark, sf_dir).collect())
    finally:
        cls.localCheckpoint = orig
    pat = re.compile(rf"(\w+Join) \[{_DOUBLING_KEY[query]}#\d+L\]")
    return rows, {m for p in plans for m in pat.findall(p)}


@pytest.mark.parametrize("query", sorted(_DOUBLING_KEY))
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
