"""D8 flow direction + bounded flow accumulation (operators/flow.py):
semantics against a pure-Python replica on crafted terrains, the
strict-downhill DAG invariant, and the plan shapes that carry to
100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.operators.flow import (
    D8_OFFSETS,
    d8_directions,
    flow_accumulation,
    flow_edges,
)
from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _cells_df(spark, grid):
    rows = [
        (x, y, int(z)) for y, row in enumerate(grid) for x, z in enumerate(row)
    ]
    return spark.createDataFrame(rows, "gx int, gy int, elev long")


def _d8_reference(grid):
    """Independent per-cell steepest-descent with float slopes and the
    lowest-index tie-break — no packed-integer trick shared with the
    engine."""
    h, w = len(grid), len(grid[0])
    out = {}
    for y in range(h):
        for x in range(w):
            best = None
            for d, dx, dy in D8_OFFSETS:
                nx, ny = x + dx, y + dy
                if not (0 <= nx < w and 0 <= ny < h):
                    continue
                drop = grid[y][x] - grid[ny][nx]
                if drop <= 0:
                    continue
                slope = drop / (2 ** 0.5 if dx and dy else 1.0)
                if best is None or slope > best[0] + 1e-12:
                    best = (slope, d)
            out[(x, y)] = -1 if best is None else best[1]
    return out


def test_d8_matches_float_reference_on_noisy_terrain(spark):
    import random

    rng = random.Random(5)
    grid = [[rng.randrange(0, 50) + 3 * x + 2 * y for x in range(9)]
            for y in range(7)]
    got = {
        (r["gx"], r["gy"]): r["dir"]
        for r in d8_directions(_cells_df(spark, grid)).collect()
    }
    assert got == _d8_reference(grid)


def test_d8_bowl_drains_to_center_and_accumulates(spark):
    # 5x5 bowl: elevation = chebyshev distance from center → every
    # non-center cell flows inward, center is the single pit, and the
    # center's accumulation is every other cell (24) within depth 2
    grid = [[max(abs(x - 2), abs(y - 2)) * 10 for x in range(5)]
            for y in range(5)]
    cells = _cells_df(spark, grid)
    directed = d8_directions(cells)
    dirs = {(r["gx"], r["gy"]): r["dir"] for r in directed.collect()}
    assert dirs[(2, 2)] == -1
    assert sum(1 for v in dirs.values() if v == -1) == 1
    edges = flow_edges(directed, 5)
    # strict downhill: every edge loses elevation (DAG invariant)
    elev = {(r["gx"], r["gy"]): r["elev"] for r in cells.collect()}
    for e in edges.collect():
        ux, uy = e["u"] % 5, e["u"] // 5
        vx, vy = e["v"] % 5, e["v"] // 5
        assert elev[(ux, uy)] > elev[(vx, vy)]
    acc = {r["v"]: r["acc"] for r in flow_accumulation(edges, 2).collect()}
    assert acc[2 * 5 + 2] == 24  # all 24 outer cells reach the pit


def test_flow_accumulation_depth_bounds_path_length(spark):
    # a straight monotone ramp: cell i flows to i+1; with depth D the
    # last cell sees exactly min(i, D) upstream contributors
    grid = [[50 - x for x in range(8)]]
    edges = flow_edges(d8_directions(_cells_df(spark, grid)), 8)
    for depth in (1, 3, 7):
        acc = {
            r["v"]: r["acc"]
            for r in flow_accumulation(edges, depth).collect()
        }
        for i in range(1, 8):
            assert acc[i] == min(i, depth), (depth, i)


def test_flow_accumulation_full_matches_bounded_at_diameter(spark):
    # VERDICT r8 #2 equality pin: on the noisy crafted terrain the
    # pointer-doubling full-horizon counts must equal the bounded
    # form run at depth >= the grid diameter
    import random

    from biggis_landuse_spark.operators.flow import flow_accumulation_full

    rng = random.Random(11)
    grid = [[rng.randrange(0, 40) + 4 * x + 3 * y for x in range(10)]
            for y in range(8)]
    edges = flow_edges(d8_directions(_cells_df(spark, grid)), 10)
    full = {
        r["v"]: r["acc"] for r in flow_accumulation_full(edges).collect()
    }
    bounded = {
        r["v"]: r["acc"] for r in flow_accumulation(edges, 20).collect()
    }
    assert full == bounded


def test_flow_accumulation_full_long_chain_log_rounds(spark):
    # a 33-cell monotone ramp: the longest flow path is 32 steps, so
    # the bounded form needs 32 rounds while doubling drains in 6
    # (1,2,4,8,16,32); cell i must see exactly i upstream contributors
    from biggis_landuse_spark.operators.flow import flow_accumulation_full

    n = 33
    grid = [[100 - x for x in range(n)]]
    edges = flow_edges(d8_directions(_cells_df(spark, grid)), n)
    acc = {r["v"]: r["acc"] for r in flow_accumulation_full(edges).collect()}
    assert acc == {i: i for i in range(1, n)}


def test_flow_accumulation_full_matches_closure_form(spark):
    # VERDICT r9 #1 equality pin: the Euler-tour + weighted-list-
    # ranking rewrite must return exactly the r9 transitive-closure
    # form's counts on crafted terrain — same keys, same values —
    # while carrying O(n) state per round instead of O(n·L)
    import random

    from biggis_landuse_spark.operators.flow import (
        flow_accumulation_closure,
        flow_accumulation_full,
    )

    rng = random.Random(23)
    grid = [[rng.randrange(0, 35) + 5 * x + 2 * y for x in range(11)]
            for y in range(9)]
    edges = flow_edges(d8_directions(_cells_df(spark, grid)), 11)
    full = {
        r["v"]: r["acc"] for r in flow_accumulation_full(edges).collect()
    }
    closure = {
        r["v"]: r["acc"]
        for r in flow_accumulation_closure(edges).collect()
    }
    assert full == closure


def test_flow_accumulation_full_wide_confluence_tree(spark):
    # a star + chains forest exercises the sibling sweep of the Euler
    # tour (many children per node), the shape the closure form never
    # stressed: 6 chains of length 3 all draining into one pit
    from biggis_landuse_spark.operators.flow import flow_accumulation_full

    edges = []
    for c in range(6):
        a, b, t = 100 + 3 * c, 101 + 3 * c, 102 + 3 * c
        edges += [(a, b), (b, t), (t, 0)]
    df = spark.createDataFrame(edges, "u long, v long")
    acc = {r["v"]: r["acc"] for r in flow_accumulation_full(df).collect()}
    expect = {0: 18}
    for c in range(6):
        expect[101 + 3 * c] = 1
        expect[102 + 3 * c] = 2
    assert acc == expect


def test_flow_accumulation_full_empty_edges(spark):
    # an all-flat grid has no downhill edges: the closure is empty and
    # the operator must return an empty frame, not loop or error
    from biggis_landuse_spark.operators.flow import flow_accumulation_full

    grid = [[7 for _ in range(4)] for _ in range(3)]
    edges = flow_edges(d8_directions(_cells_df(spark, grid)), 4)
    assert flow_accumulation_full(edges).count() == 0


def test_d8_elev_domain_guard_raises(spark):
    # the packed arg-max key overflows BIGINT past |drop| ~7.6e8; the
    # guard must fail loudly instead of returning a wrong direction
    cells = spark.createDataFrame(
        [(0, 0, 500_000_000), (1, 0, 0)], "gx int, gy int, elev long"
    )
    with pytest.raises(Exception, match="packed-key bound"):
        d8_directions(cells).collect()


def test_early_stop_matches_fixed_rounds_and_reports_counts(spark):
    # the probe-facing early_stop/stats paths: identical results to
    # the fixed-rounds form, with measured rounds <= the fixed budget
    import random

    from biggis_landuse_spark.operators.flow import (
        flow_accumulation_full,
        strahler_orders,
        watershed_roots,
    )

    rng = random.Random(3)
    grid = [[rng.randrange(0, 30) + 4 * x + 3 * y for x in range(9)]
            for y in range(7)]
    cells = _cells_df(spark, grid)
    directed = d8_directions(cells)
    edges = flow_edges(directed, 9)
    ids = cells.select(
        (F.col("gy") * 9 + F.col("gx")).cast("long").alias("u")
    )

    st = {}
    ws_fast = watershed_roots(edges, ids, rounds=20, early_stop=True,
                              stats=st)
    ws_ref = watershed_roots(edges, ids, rounds=8)
    assert sorted(map(tuple, ws_fast.collect())) == sorted(
        map(tuple, ws_ref.collect())
    )
    assert 0 < st["rounds"] <= 8

    st2 = {}
    so_fast = strahler_orders(edges, ids, rounds=20, early_stop=True,
                              stats=st2)
    so_ref = strahler_orders(edges, ids, rounds=8)
    assert sorted(map(tuple, so_fast.collect())) == sorted(
        map(tuple, so_ref.collect())
    )
    assert 0 < st2["rounds"] <= 8

    st3 = {}
    flow_accumulation_full(edges, stats=st3).count()
    # Euler-tour list ranking drains in ceil(log2 max-tour-length)
    # rounds; a 63-cell grid tours at most ~126 arcs → <= 7
    assert 0 < st3["rounds"] <= 7
    # the O(n)-state contract: per-round state is exactly 2 arcs per
    # node touched by an edge, never the closure's n·L pairs
    n_nodes = edges.select("u").union(edges.select("v")).distinct().count()
    assert st3["state_rows"] == 2 * n_nodes


def test_flow_queries_plan_shapes(spark):
    _ensure_loaded()
    plan = (
        REGISTRY["d8_flow_direction"]
        .spark(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # arg-max is the packed-integer max


def test_flow_registry_totals(spark):
    _ensure_loaded()
    dirs = REGISTRY["d8_flow_direction"].spark(spark, SF).collect()
    n_cells = sum(r["n_cells"] for r in dirs)
    hist = REGISTRY["flow_accumulation"].spark(spark, SF).collect()
    assert sum(r["n_cells"] for r in hist) == n_cells  # grid conserved
    assert any(r["acc"] == 0 and r["n_cells"] > 0 for r in hist)
    assert max(r["acc"] for r in hist) > 1  # real convergence happens


def test_watershed_bowl_single_basin(spark):
    from biggis_landuse_spark.operators.flow import watershed_roots

    grid = [[max(abs(x - 2), abs(y - 2)) * 10 for x in range(5)]
            for y in range(5)]
    cells = _cells_df(spark, grid)
    directed = d8_directions(cells)
    edges = flow_edges(directed, 5)
    ids = cells.select(
        (F.col("gy") * 5 + F.col("gx")).cast("long").alias("u")
    )
    roots = watershed_roots(edges, ids, rounds=4)
    got = {r["u"]: r["root"] for r in roots.collect()}
    assert len(got) == 25
    assert set(got.values()) == {2 * 5 + 2}  # one basin, rooted at pit


def test_watershed_two_basins_partition_the_grid(spark):
    from biggis_landuse_spark.operators.flow import watershed_roots

    # two bowls side by side: a ridge at x=4 splits drainage
    def z(x, y):
        cx = 2 if x <= 4 else 7
        return max(abs(x - cx), abs(y - 2)) * 10

    grid = [[z(x, y) for x in range(10)] for y in range(5)]
    cells = _cells_df(spark, grid)
    edges = flow_edges(d8_directions(cells), 10)
    ids = cells.select(
        (F.col("gy") * 10 + F.col("gx")).cast("long").alias("u")
    )
    got = {r["u"]: r["root"] for r in watershed_roots(edges, ids).collect()}
    pits = {2 * 10 + 2, 2 * 10 + 7}
    assert set(got.values()) == pits
    assert len(got) == 50
    # basins are connected around their own pit: each pit labels itself
    for p in pits:
        assert got[p] == p


def test_watershed_registry_conserves_cells(spark):
    _ensure_loaded()
    basins = REGISTRY["watershed_basins"].spark(spark, SF).collect()
    dirs = REGISTRY["d8_flow_direction"].spark(spark, SF).collect()
    n_cells = sum(r["n_cells"] for r in dirs)
    n_pits = sum(r["n_cells"] for r in dirs if r["dir"] == -1)
    assert sum(r["n_cells"] for r in basins) == n_cells
    assert len(basins) == n_pits  # exactly one basin per pit


def test_strahler_on_crafted_confluence_tree(spark):
    """A hand-built binary drainage tree: four headwater chains merge
    pairwise into two order-2 streams, which merge into one order-3
    trunk — the defining Strahler semantics, pinned exactly."""
    from biggis_landuse_spark.operators.flow import strahler_orders

    #   0   1   2   3     headwaters (order 1)
    #    \ /     \ /
    #     4       5       confluences (order 2)
    #      \     /
    #        6            confluence of two order-2 (order 3)
    #        |
    #        7            chain below the trunk (stays order 3)
    edges = spark.createDataFrame(
        [(0, 4), (1, 4), (2, 5), (3, 5), (4, 6), (5, 6), (6, 7)],
        "u long, v long",
    )
    ids = spark.createDataFrame([(i,) for i in range(8)], "u long")
    got = {r["u"]: r["o"] for r in strahler_orders(edges, ids, rounds=4).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 3}


def test_strahler_chain_stays_order_one(spark):
    # a pure chain has no confluence: order 1 everywhere regardless
    # of length (the property that distinguishes Strahler from depth)
    from biggis_landuse_spark.operators.flow import strahler_orders

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "u long")
    got = {r["u"]: r["o"] for r in strahler_orders(edges, ids, rounds=6).collect()}
    assert set(got.values()) == {1}


def test_strahler_registry_converged_and_conserves(spark):
    _ensure_loaded()
    from biggis_landuse_spark.operators.flow import (
        d8_directions,
        flow_edges,
        strahler_orders,
    )
    from biggis_landuse_spark.queries.raster_shapes import (
        _FLOW_W,
        _STRAHLER_ROUNDS,
        _flow_cells,
    )

    census = REGISTRY["strahler_order"].spark(spark, SF).collect()
    dirs = REGISTRY["d8_flow_direction"].spark(spark, SF).collect()
    assert sum(r["n_cells"] for r in census) == sum(
        r["n_cells"] for r in dirs
    )
    assert {r["strahler_order"] for r in census} >= {1}
    # convergence pin: +2 rounds changes nothing
    cells = _flow_cells(spark, SF)
    edges = flow_edges(d8_directions(cells), _FLOW_W)
    ids = cells.select(
        (F.col("gy") * _FLOW_W + F.col("gx")).cast("long").alias("u")
    )
    a = sorted(map(tuple, strahler_orders(edges, ids, _STRAHLER_ROUNDS).collect()))
    b = sorted(map(tuple, strahler_orders(edges, ids, _STRAHLER_ROUNDS + 2).collect()))
    assert a == b


def test_flow_accumulation_full_negative_ids_match_closure(spark):
    # r11 ADVICE pin: the 2n/2n+1 arc encoding must survive negative
    # node ids — Spark's % keeps the dividend's sign, so the parity
    # split uses pmod; shiftright floors, which is already correct
    from biggis_landuse_spark.operators.flow import (
        flow_accumulation_closure,
        flow_accumulation_full,
    )

    edges = [(-7, -3), (-6, -3), (-3, -1), (-5, -1), (4, -1), (-1, 0)]
    df = spark.createDataFrame(edges, "u long, v long")
    full = {r["v"]: r["acc"] for r in flow_accumulation_full(df).collect()}
    closure = {
        r["v"]: r["acc"] for r in flow_accumulation_closure(df).collect()
    }
    assert full == closure
    assert full[0] == 6  # every cell drains to the outlet


def test_flow_accumulation_full_cyclic_input_raises(spark):
    # r11 ADVICE pin: a ranking loop that exits via max_rounds without
    # draining (cyclic edges = not a drainage forest) must refuse, not
    # feed partial distances into the subtree formula
    from biggis_landuse_spark.operators.flow import flow_accumulation_full

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "u long, v long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        flow_accumulation_full(df, max_rounds=3)
