"""The benchmark's own arithmetic: percentiles, self time and the
per-layer table, plus the seeded generator's determinism.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from spans import Span, Tracer, job_counts, layer_table, percentile, self_times  # noqa: E402


def test_percentile_median_odd_and_even():
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([7.0], 50) == 7.0


def test_percentile_ends_and_interpolation():
    xs = [10, 20, 30, 40, 50]
    assert percentile(xs, 0) == 10
    assert percentile(xs, 100) == 50
    assert percentile(xs, 90) == pytest.approx(46.0)
    assert percentile(xs, 25) == 20


def test_percentile_matches_statistics_median():
    xs = [0.93, 1.2, 0.41, 5.5, 0.88, 1.01, 2.7, 0.3]
    assert percentile(xs, 50) == pytest.approx(statistics.median(xs))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def _span(i, name, start, end, parent=None, op=0):
    return Span(i, name, op, parent, start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "op", 0.0, 1.0),
        _span(1, "construct", 0.1, 0.4, parent=0),
        _span(2, "execute", 0.5, 0.9, parent=0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(300.0)  # 1000 - 300 - 400
    assert st[1] == pytest.approx(300.0)
    assert st[2] == pytest.approx(400.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, "op", 0.0, 1.0),
        _span(1, "a", 0.1, 0.6, parent=0),
        _span(2, "b", 0.4, 0.8, parent=0),  # overlaps a by 0.2
    ]
    assert self_times(spans)[0] == pytest.approx(300.0)  # 1000 - 700


def test_self_time_clips_children_to_parent():
    spans = [
        _span(0, "op", 0.0, 1.0),
        _span(1, "late", 0.9, 1.5, parent=0),
    ]
    assert self_times(spans)[0] == pytest.approx(900.0)


def test_self_time_grandchildren_only_reduce_their_parent():
    spans = [
        _span(0, "op", 0.0, 1.0),
        _span(1, "drain", 0.2, 0.8, parent=0),
        _span(2, "inner", 0.3, 0.5, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(400.0)
    assert st[1] == pytest.approx(400.0)
    assert st[2] == pytest.approx(200.0)


def test_layer_table_sums_per_name_and_sorts_by_self():
    spans = [
        _span(0, "op", 0.0, 1.0, op=0),
        _span(1, "drain", 0.0, 0.9, parent=0, op=0),
        _span(2, "op", 1.0, 2.0, op=1),
        _span(3, "drain", 1.0, 1.7, parent=2, op=1),
    ]
    rows = layer_table(spans)
    assert [r["name"] for r in rows] == ["drain", "op"]
    drain, op = rows
    assert drain["n"] == 2
    assert drain["total_ms"] == pytest.approx(1600.0)
    assert drain["p50_ms"] == pytest.approx(800.0)
    assert op["self_ms"] == pytest.approx(400.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op", 0) as s:
        assert s is None
    assert tr.spans == []


def test_tracer_nests_spans():
    tr = Tracer(enabled=True)
    with tr.span("op", 3):
        with tr.span("construct", 3):
            pass
    op, child = sorted(tr.spans, key=lambda s: s.id)
    assert child.parent == op.id and op.parent is None
    assert op.start <= child.start <= child.end <= op.end
    assert {s.op for s in tr.spans} == {3}


class _Info:
    def __init__(self, **kw):
        self.__dict__.update(kw)


class _StatusTracker:
    """Three jobs in group g, two ungrouped: job 9 from before the span,
    job 12 submitted from a worker thread during it."""

    groups = {"g": [10, 11, 13], None: [9, 12]}
    stages = {10: [0, 1], 11: [2], 13: [3], 9: [4], 12: [5]}
    tasks = {0: 4, 1: 0, 2: 2, 3: 1, 4: 8, 5: 3}  # stage 1 skipped

    def getJobIdsForGroup(self, group):
        return self.groups[group]

    def getJobInfo(self, job):
        return _Info(stageIds=self.stages[job])

    def getStageInfo(self, stage):
        return _Info(numCompletedTasks=self.tasks[stage])


class _Sc:
    def statusTracker(self):
        return _StatusTracker()


def test_job_counts_adds_new_ungrouped_jobs_and_skips_empty_stages():
    assert job_counts(_Sc(), "g", {9}) == {"jobs": 4, "stages": 4, "tasks": 10}
    assert job_counts(_Sc(), "g", {9, 12}) == {"jobs": 3, "stages": 3,
                                               "tasks": 7}


def test_scene_bands_ndvi_defined_and_cloud_flagged():
    a, b = gen.scene_bands(3, 48), gen.scene_bands(3, 48)
    for name in ("red", "nir", "qa"):
        assert (a.bands[name] == b.bands[name]).all()
    red = a.bands["red"].astype(float)
    nir = a.bands["nir"].astype(float)
    ndvi = (nir - red) / (nir + red)
    assert 0 < ndvi.min() and ndvi.max() < 1
    r0, r1, c0, c1 = a.cloud
    cloud = a.bands["qa"] & gen.CLOUD_BIT > 0
    assert cloud[r0:r1, c0:c1].all() and cloud.sum() == (r1 - r0) * (c1 - c0)
    assert (gen.scene_bands(4, 48).bands["red"] != a.bands["red"]).any()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.scene_stream(5, n_tiles=2, size=8, waves=3, parts=2)
    b = gen.scene_stream(5, n_tiles=2, size=8, waves=3, parts=2)
    c = gen.scene_stream(6, n_tiles=2, size=8, waves=3, parts=2)
    assert a.waves == b.waves and a.value_sum == b.value_sum
    assert a.waves != c.waves
    assert a.n_messages == sum(len(m) for w in a.waves for m in w.values())
    gen.write_tables(5, str(tmp_path / "x"))
    gen.write_tables(5, str(tmp_path / "y"))
    for name in gen.ROWS:
        assert (tmp_path / "x" / f"{name}.parquet").read_bytes() == (
            tmp_path / "y" / f"{name}.parquet").read_bytes()
    assert gen.query_order(5, list("abcd"), 1) == gen.query_order(5, list("abcd"), 1)
