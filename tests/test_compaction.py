"""Layer write layout + compaction: parallel range-partitioned writes
must produce the contracted file layout (multiple files with disjoint
sorted Z-key ranges → file-level pruning works), and compaction must
shrink the file count without changing the data."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.versioning import zorder_key
from biggis_landuse_spark.fixtures import fixture_layer

pytestmark = pytest.mark.slow


def _files(base: str, layer: str, zoom: int) -> list[str]:
    """The data files of the layer's current snapshot: the newest
    manifest names its directory."""
    manifests = glob.glob(f"{base}/tiles/{layer}/{zoom}/_manifests/v*.json")
    newest = max(manifests, key=lambda p: int(os.path.basename(p)[1:-5]))
    with open(newest) as f:
        return glob.glob(f"{json.load(f)['data']}/part-*.parquet")


@pytest.fixture()
def catalog(spark, tmp_path):
    return LayerCatalog(spark, str(tmp_path / "catalog"))


@pytest.fixture()
def grid(spark):
    return fixture_layer(spark, "b4_red")  # 4×4 grid of 8×8 tiles


def test_write_layer_splits_across_files(catalog, grid):
    # 16 tiles into 4 requested ranges: the write must parallelize
    # (more than one file), never exceed the target
    catalog.write_layer(grid, "lay", 3, target_files=4)
    n = len(_files(catalog.base, "lay", 3))
    assert 1 < n <= 4, n


def test_write_layer_files_have_disjoint_zkey_ranges(spark, catalog, grid):
    catalog.write_layer(grid, "lay", 3, target_files=4)
    per_file = (
        spark.read.parquet(*_files(catalog.base, "lay", 3))
        .withColumn("_zk", zorder_key())
        .withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .agg(F.min("_zk").alias("lo"), F.max("_zk").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(per_file) > 1
    for a, b in zip(per_file, per_file[1:]):
        assert a["hi"] <= b["lo"], (a, b)  # non-overlapping → prunable


def test_compact_layer_shrinks_files_preserves_data(catalog, grid):
    catalog.write_layer(grid, "lay", 3, target_files=8)
    n_before = len(_files(catalog.base, "lay", 3))
    assert n_before > 2
    before = {
        (r["tile_col"], r["tile_row"]): r["tile"]
        for r in catalog.read_layer("lay", 3).collect()
    }
    catalog.compact_layer("lay", 3, target_files=2)
    assert len(_files(catalog.base, "lay", 3)) <= 2
    after = {
        (r["tile_col"], r["tile_row"]): r["tile"]
        for r in catalog.read_layer("lay", 3).collect()
    }
    assert after == before
    # metadata row and attributes survive the rewrite
    assert ("lay", 3) in catalog.layer_ids()
    assert catalog.read_attribute("lay", 3, "histogramData") is not None


# -- Hilbert SFC keying (reference HilbertKeyIndexMethod parity) -----------


def test_hilbert_key_is_a_hilbert_curve(spark):
    """Bijectivity + unit-step adjacency on the full 8×8 grid: every
    index 0..63 appears exactly once and consecutive indices are
    Manhattan-distance-1 neighbors — the defining Hilbert property
    (Z-order fails this: its diagonal jumps are what Hilbert's range
    locality improves on)."""
    from biggis_landuse_spark.versioning import with_hilbert_key

    n = 8
    grid = spark.createDataFrame(
        [(c, r) for c in range(n) for r in range(n)],
        "tile_col int, tile_row int",
    )
    rows = (
        with_hilbert_key(grid, out="hk", bits=3)
        .orderBy("hk")
        .collect()
    )
    assert [r["hk"] for r in rows] == list(range(n * n))
    for a, b in zip(rows, rows[1:]):
        step = abs(a["tile_col"] - b["tile_col"]) + abs(
            a["tile_row"] - b["tile_row"]
        )
        assert step == 1, (a, b)


def test_hilbert_matches_zorder_bit_budget(spark):
    """Full-width (16-bit) keys stay within the same non-negative
    63-bit budget as zorder_key, and remain bijective on a sparse
    high-coordinate sample."""
    from biggis_landuse_spark.versioning import Z_BITS, with_hilbert_key

    hi = (1 << Z_BITS) - 1
    pts = [(c, r) for c in (0, 1, 777, hi - 1, hi) for r in (0, 5, hi)]
    df = spark.createDataFrame(pts, "tile_col int, tile_row int")
    rows = with_hilbert_key(df, out="hk").collect()
    keys = [r["hk"] for r in rows]
    assert len(set(keys)) == len(pts)
    assert all(0 <= k < (1 << (2 * Z_BITS)) for k in keys)


def test_write_layer_hilbert_files_have_disjoint_key_ranges(
    spark, catalog, grid
):
    from biggis_landuse_spark.versioning import with_hilbert_key

    catalog.write_layer(grid, "lay", 3, target_files=4, index_method="hilbert")
    per_file = (
        with_hilbert_key(
            spark.read.parquet(*_files(catalog.base, "lay", 3)),
            out="_hk",
        )
        .withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .agg(F.min("_hk").alias("lo"), F.max("_hk").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(per_file) > 1
    for a, b in zip(per_file, per_file[1:]):
        assert a["hi"] <= b["lo"], (a, b)


def test_write_layer_rejects_unknown_index_method(catalog, grid):
    with pytest.raises(ValueError, match="index_method"):
        catalog.write_layer(grid, "lay", 3, index_method="peano")
