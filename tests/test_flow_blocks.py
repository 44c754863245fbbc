"""Block-local D8 kernels (operators/flow.py): block_flow_accumulation
and block_watershed_roots equal d8_directions followed by the
whole-grid Euler tour and pointer doubling cell for cell at any block
size, the weighted subtree sums equal a pure-Python fold, and the D8
path leaves its session serializable."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.operators.flow import (
    BLOCK,
    block_flow_accumulation,
    block_watershed_roots,
    d8_directions,
    flow_accumulation_full,
    flow_edges,
    subtree_sums,
    watershed_roots,
)

_WALL = 10_000


def _spiral(n: int) -> list[list[int]]:
    """An n×n square spiral corridor between one-cell walls, falling
    along the corridor from the outer corner to the centre: the one
    flow path winds through every block of a small block size."""
    grid = [[_WALL] * n for _ in range(n)]
    x = y = 0
    step = 0
    grid[y][x] = 5_000
    lengths = [n - 1, n - 1, n - 1]
    k = n - 3
    while k > 0:
        lengths += [k, k]
        k -= 2
    for i, length in enumerate(lengths):
        dx, dy = [(1, 0), (0, 1), (-1, 0), (0, -1)][i % 4]
        for _ in range(length):
            x, y, step = x + dx, y + dy, step + 1
            grid[y][x] = 5_000 - step
    return grid


def _terrains() -> list[list[list[int]]]:
    r1, r2 = random.Random(5), random.Random(23)
    return [
        # seeded noisy DEMs
        [[r1.randrange(0, 50) + 3 * x + 2 * y for x in range(9)]
         for y in range(7)],
        [[r2.randrange(0, 35) + 5 * x + 2 * y for x in range(11)]
         for y in range(8)],
        # test_flow.py's bowl and two bowls split by a ridge
        [[max(abs(x - 2), abs(y - 2)) * 10 for x in range(5)]
         for y in range(5)],
        [[max(abs(x - (2 if x <= 4 else 7)), abs(y - 2)) * 10
          for x in range(10)] for y in range(5)],
        # a ramp whose paths run diagonally across blocks
        [[100 - 4 * x - 3 * y for x in range(12)] for y in range(4)],
        _spiral(11),
        # all flat: every cell is its own pit
        [[7] * 6 for _ in range(3)],
    ]


def _composite() -> list[list[int]]:
    """Every terrain stacked in one grid, each padded and separated by
    wall cells: walls drain into the terrains but no terrain cell
    drains out, so every terrain keeps its own flow paths."""
    terrains = _terrains()
    width = max(len(t[0]) for t in terrains)
    rows: list[list[int]] = []
    for t in terrains:
        rows += [row + [_WALL] * (width - len(row)) for row in t]
        rows.append([_WALL] * width)
    return rows


GRID = _composite()
H, WIDTH = len(GRID), len(GRID[0])


def _cells(spark, grid):
    rows = [(x, y, z) for y, row in enumerate(grid) for x, z in enumerate(row)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["gx", "gy", "elev"]),
        "gx int, gy int, elev long",
    ).localCheckpoint(eager=True)


def _reference(cells, width):
    """(acc per cell id, root per cell id) of the whole-grid operators:
    d8_directions, then the Euler tour and the pointer doubling."""
    directed = d8_directions(cells)
    edges = flow_edges(directed, width)
    ids = directed.select(
        (F.col("gy") * width + F.col("gx")).cast("long").alias("u")
    )
    acc = {r["u"]: 0 for r in ids.collect()}
    full = flow_accumulation_full(edges).collect()
    acc.update({r["v"]: r["acc"] for r in full})
    roots = watershed_roots(edges, ids)  # 8 rounds: paths under 256
    return acc, {r["u"]: r["root"] for r in roots.collect()}


@pytest.fixture(scope="module")
def grid(spark):
    cells = _cells(spark, GRID)
    return cells, _reference(cells, WIDTH)


def test_reference_covers_the_shapes(grid):
    # the shapes this file is about: a spiral path over a hundred cells
    # long, and the flat terrain's cells all their own pits
    _, (acc, roots) = grid
    assert max(acc.values()) > 100
    assert sum(1 for u, r in roots.items() if u == r) > 18


@pytest.mark.parametrize("block", [3, 4, 5, 7, 2 * H])
def test_block_accumulation_equals_euler_tour(spark, grid, block):
    cells, (acc, _) = grid
    got = block_flow_accumulation(cells, WIDTH, block=block)
    assert {r["u"]: r["acc"] for r in got.collect()} == acc


@pytest.mark.parametrize("block", [3, 4, 5, 7, 2 * H])
def test_block_roots_equal_pointer_doubling(spark, grid, block):
    cells, (_, roots) = grid
    got = block_watershed_roots(cells, WIDTH, block=block)
    assert {r["u"]: r["root"] for r in got.collect()} == roots


def test_empty_grid(spark):
    cells = spark.createDataFrame([], "gx int, gy int, elev long")
    assert block_flow_accumulation(cells, 4, block=3).collect() == []
    assert block_watershed_roots(cells, 4, block=3).collect() == []


def test_elevation_guard_holds_on_the_block_path(spark):
    cells = spark.createDataFrame(
        [(0, 0, 500_000_000), (1, 0, 0)], "gx int, gy int, elev long"
    )
    with pytest.raises(Exception, match="packed-key bound"):
        block_flow_accumulation(cells, 2)


def test_weighted_subtree_sums_match_python_fold(spark):
    # a forest with negative ids, several roots and wide fan-in: each
    # child weighs its edge's w, each root 0
    edges = [(-7, -3, 5), (-6, -3, 2), (-3, -1, 1), (-5, -1, 7), (4, -1, 3),
             (-1, 0, 4), (9, 8, 6), (10, 8, 1), (11, 10, 2)]
    parent = {u: v for u, v, _ in edges}
    want: dict[int, int] = {}
    for u, v, w in edges:
        want.setdefault(v, 0)
        node = u
        while True:
            want[node] = want.get(node, 0) + w
            if node not in parent:
                break
            node = parent[node]
    df = spark.createDataFrame(edges, "u long, v long, w long")
    got = {r["v"]: r["t"] for r in subtree_sums(df, weight="w").collect()}
    assert got == want


def test_d8_path_leaves_the_session_serializable(spark):
    # a pyspark.sql.Observation registers the session's
    # ObservationManager, which Java serialization refuses; every
    # count the D8 operators read must leave the session shippable
    session = spark.newSession()
    terrain = _terrains()[0]
    cells = _cells(session, terrain)
    width = len(terrain[0])
    block_flow_accumulation(cells, width).collect()  # one block
    block_flow_accumulation(cells, width, block=3).collect()  # forest
    block_watershed_roots(cells, width, block=3).collect()
    assert BLOCK > width
    jvm = spark._jvm
    out = jvm.java.io.ObjectOutputStream(jvm.java.io.ByteArrayOutputStream())
    out.writeObject(session._jsparkSession)
    out.close()
