"""Tile-local CCL (operators/regions.py): equality with a BFS
reference, tiling invariance, and boundary-merge correctness."""

from __future__ import annotations

import random
from collections import deque

from pyspark.sql import functions as F
import pytest

from biggis_landuse_spark.operators.regions import label_regions

pytestmark = pytest.mark.slow


def _bfs_regions(cells: dict[tuple[int, int], int], width: int) -> dict:
    """Reference labeling: min pixel id (gy*width+gx) per 4-connected
    same-class region."""
    out = {}
    seen = set()
    for start in cells:
        if start in seen:
            continue
        comp, q = [], deque([start])
        seen.add(start)
        while q:
            x, y = q.popleft()
            comp.append((x, y))
            for nb in ((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)):
                if nb in cells and nb not in seen and cells[nb] == cells[(x, y)]:
                    seen.add(nb)
                    q.append(nb)
        label = min(gy * width + gx for gx, gy in comp)
        for c in comp:
            out[c] = label
    return out


def _random_grid(rng, w, h, n_classes=3, density=0.85):
    return {
        (x, y): rng.randrange(n_classes)
        for x in range(w)
        for y in range(h)
        if rng.random() < density
    }


def _run(spark, cells, width, tile_size):
    df = spark.createDataFrame(
        [(x, y, c) for (x, y), c in sorted(cells.items())],
        "gx long, gy long, cls int",
    )
    got = label_regions(df, width=width, tile_size=tile_size).collect()
    return {(r.gx, r.gy): r.region_id for r in got}


def test_label_regions_matches_bfs_reference(spark):
    rng = random.Random(7)
    for trial in range(3):
        w = h = 24
        cells = _random_grid(rng, w, h)
        want = _bfs_regions(cells, w)
        got = _run(spark, cells, width=w, tile_size=8)
        assert got == want, f"trial {trial}"


def test_label_regions_tiling_invariant(spark):
    rng = random.Random(13)
    cells = _random_grid(rng, 32, 32, n_classes=2, density=0.95)
    a = _run(spark, cells, width=32, tile_size=4)
    b = _run(spark, cells, width=32, tile_size=16)
    c = _run(spark, cells, width=32, tile_size=64)  # single tile
    assert a == b == c


def test_label_regions_snake_region_spans_many_tiles(spark):
    # a one-pixel-wide serpentine across the whole grid: the worst
    # diameter case for label propagation; the boundary merge must
    # still converge and assign ONE label
    w, h = 32, 9
    cells = {}
    for y in range(h):
        if y % 2 == 0:
            for x in range(w):
                cells[(x, y)] = 1
        else:
            cells[(w - 1 if (y // 2) % 2 == 0 else 0, y)] = 1
    got = _run(spark, cells, width=w, tile_size=4)
    assert len(set(got.values())) == 1
    assert set(got.values()) == {0}


def test_label_regions_all_isolated(spark):
    # checkerboard of alternating classes: every pixel its own region
    cells = {(x, y): (x + y) % 2 for x in range(8) for y in range(8)}
    got = _run(spark, cells, width=8, tile_size=4)
    assert all(got[(x, y)] == y * 8 + x for (x, y) in cells)
