"""bench.py's compact line must fit the driver's tail capture whole:
over budget, it sheds plain query entries, then NORM_BASKET members,
and the canaries last."""

from __future__ import annotations

import json

import bench


def _compact(names):
    return {"metric": "headline_queries_total", "queries": {n: 1234 for n in names}}


def test_oversized_line_sheds_down_to_budget_keeping_canaries():
    plain = [f"query_{i:03d}" for i in range(200)]
    names = plain + list(bench.NORM_BASKET) + list(bench.CANARY_QUERIES)
    timings = {n: 1.0 + i for i, n in enumerate(names)}
    # a budget the canaries alone fit, but not the canaries plus the
    # basket: every other entry has to go
    canary_only = len(json.dumps(_compact(bench.CANARY_QUERIES)))
    compact = _compact(names)
    line = bench.shed_to_budget(compact, timings, budget=canary_only + 20)
    assert len(line) <= canary_only + 20
    assert json.loads(line) == compact
    assert set(compact["queries"]) == set(bench.CANARY_QUERIES)


def test_basket_outlives_plain_queries_and_cheapest_go_first():
    plain = ["slow_plain", "fast_plain"]
    names = plain + list(bench.NORM_BASKET) + list(bench.CANARY_QUERIES)
    timings = {n: 5.0 for n in names}
    timings["fast_plain"] = 0.1
    full = json.dumps(_compact(names))
    compact = _compact(names)
    bench.shed_to_budget(compact, timings, budget=len(full) - 1)
    assert "fast_plain" not in compact["queries"]
    assert "slow_plain" in compact["queries"]
    compact = _compact(names)
    bench.shed_to_budget(
        compact, timings, budget=len(json.dumps(_compact(names[2:])))
    )
    assert set(compact["queries"]) == set(names[2:])


def test_line_within_budget_is_untouched():
    compact = _compact(bench.CANARY_QUERIES)
    line = bench.shed_to_budget(compact, {}, budget=10_000)
    assert json.loads(line) == _compact(bench.CANARY_QUERIES)
