"""Golden tests for the raster core: local map algebra, tile⇄pixel
round-trip, catalog write/read/delete/merge (SURVEY.md §5 items 1,3,5)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark import fixtures as FX
from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.operators import local as L
from biggis_landuse_spark.pixeling import (
    labeled_pixel_samples,
    pixels_to_tiles,
    tiles_to_pixels,
)

pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def red(spark):
    return FX.fixture_layer(spark, "b4_red")


@pytest.fixture(scope="module")
def nir(spark):
    return FX.fixture_layer(spark, "b5_nir")


@pytest.fixture(scope="module")
def qa(spark):
    return FX.fixture_layer(spark, "bqa")


def _join_tiles(a, b, names=("t1", "t2")):
    return a.select(
        "tile_col", "tile_row", F.col("tile").alias(names[0])
    ).join(
        b.select("tile_col", "tile_row", F.col("tile").alias(names[1])),
        ["tile_col", "tile_row"],
    )


def test_ndvi_golden(red, nir):
    joined = _join_tiles(nir, red)
    out = joined.select(
        "tile_col",
        "tile_row",
        L.ndvi(F.col("t1"), F.col("t2")).alias("tile"),
    )
    px = tiles_to_pixels(
        out.withColumn("layer", F.lit("ndvi")).withColumn("zoom", F.lit(0))
    ).collect()
    assert len(px) == FX.GRID * FX.GRID * FX.TS * FX.TS
    for r in px:
        exp = FX.expected_ndvi(r["tile_col"], r["tile_row"], r["px"], r["py"])
        if exp is None:
            assert r["value"] is None
        else:
            assert r["value"] == pytest.approx(exp, abs=1e-12), (
                r["tile_col"], r["tile_row"], r["px"], r["py"])


def test_cloud_mask_golden(red, qa):
    joined = _join_tiles(red, qa, names=("val", "qa"))
    out = joined.select(
        "tile_col",
        "tile_row",
        L.mask_bits(
            F.col("val"), F.col("qa"), FX.CLOUD_BIT | FX.CIRRUS_BIT
        ).alias("tile"),
    )
    px = tiles_to_pixels(
        out.withColumn("layer", F.lit("m")).withColumn("zoom", F.lit(0))
    ).collect()
    n_masked = sum(1 for r in px if r["value"] is None)
    for r in px:
        q = FX.qa_value(r["tile_col"], r["tile_row"], r["px"], r["py"])
        v = FX.red_value(r["tile_col"], r["tile_row"], r["px"], r["py"])
        if int(q) & (FX.CLOUD_BIT | FX.CIRRUS_BIT):
            assert r["value"] is None
        else:
            assert r["value"] == v
    # every 7th or 11th cell is masked → sanity lower bound
    assert n_masked > 100


def test_convert_and_band_ops(red, nir):
    df = red.select(
        "tile_col",
        "tile_row",
        L.convert(F.col("tile"), "int32").alias("as_int"),
        L.band_select(F.col("tile"), 0).alias("b0"),
    )
    row = df.first()
    assert row["as_int"]["cell_type"] == "int32"
    assert len(row["b0"]["bands"]) == 1

    stacked = _join_tiles(nir, red).select(
        L.band_concat(F.col("t1"), F.col("t2")).alias("tile")
    )
    assert len(stacked.first()["tile"]["bands"]) == 2


def test_tile_merge_prefers_existing(spark, red):
    # existing has NODATA where qa cells are cloudy; update fills them
    masked = _join_tiles(red, FX.fixture_layer(spark, "bqa"), ("val", "qa")).select(
        "tile_col",
        "tile_row",
        L.mask_bits(F.col("val"), F.col("qa"), FX.CLOUD_BIT).alias("t_old"),
    )
    update = red.select(
        "tile_col", "tile_row", L.map_pixels(F.col("tile"), lambda x: x + 0.5).alias("t_new")
    )
    merged = masked.join(update, ["tile_col", "tile_row"]).select(
        "tile_col", "tile_row", L.tile_merge(F.col("t_old"), F.col("t_new")).alias("tile")
    )
    px = tiles_to_pixels(
        merged.withColumn("layer", F.lit("m")).withColumn("zoom", F.lit(0))
    ).collect()
    for r in px:
        v = FX.red_value(r["tile_col"], r["tile_row"], r["px"], r["py"])
        q = int(FX.qa_value(r["tile_col"], r["tile_row"], r["px"], r["py"]))
        if q & FX.CLOUD_BIT:
            assert r["value"] == v + 0.5  # filled from update
        else:
            assert r["value"] == v  # existing preserved


def test_pixel_roundtrip_identity(spark, nir):
    pixels = tiles_to_pixels(nir)
    back = pixels_to_tiles(pixels, cols=FX.TS, rows=FX.TS, n_bands=1)
    orig = {
        (r["tile_col"], r["tile_row"]): r["tile"]["bands"] for r in nir.collect()
    }
    rt = {
        (r["tile_col"], r["tile_row"]): r["tile"]["bands"] for r in back.collect()
    }
    assert orig == rt


def test_pixels_to_tiles_fills_missing_with_null(spark, nir):
    pixels = tiles_to_pixels(nir).where(
        ~((F.col("px") == 0) & (F.col("py") == 0))
    )
    back = pixels_to_tiles(pixels, cols=FX.TS, rows=FX.TS, n_bands=1)
    row = back.where(
        (F.col("tile_col") == 1) & (F.col("tile_row") == 2)
    ).first()
    band = row["tile"]["bands"][0]
    assert band[0] is None  # missing pixel → NODATA
    assert band[1] == FX.nir_value(1, 2, 1, 0)


def test_pixels_to_tiles_uniform_bands_when_top_band_masked(spark, red, nir):
    # a tile whose TOP band lost every pixel to masking must still
    # emit the same band count as its siblings (reference multiband
    # invariant, ManyLayersToMultibandLayer.scala:198-203) — per-tile
    # max(band)+1 would silently produce a ragged 1-band tile
    stacked = _join_tiles(nir, red).select(
        F.lit("stack").alias("layer"),
        F.lit(0).alias("zoom"),
        "tile_col",
        "tile_row",
        L.band_concat(F.col("t1"), F.col("t2")).alias("tile"),
    )
    pixels = tiles_to_pixels(stacked).where(
        ~((F.col("band") == 1) & (F.col("tile_col") == 1) & (F.col("tile_row") == 2))
    )
    back = pixels_to_tiles(pixels, cols=FX.TS, rows=FX.TS)  # n_bands derived
    counts = {
        (r["tile_col"], r["tile_row"]): len(r["tile"]["bands"])
        for r in back.collect()
    }
    assert set(counts.values()) == {2}
    victim = back.where(
        (F.col("tile_col") == 1) & (F.col("tile_row") == 2)
    ).first()["tile"]["bands"]
    assert all(v is None for v in victim[1])  # masked band → all NODATA
    assert victim[0][0] is not None  # surviving band intact


def test_labeled_pixel_samples(spark, red, nir):
    stacked = _join_tiles(nir, red).select(
        F.lit("stack").alias("layer"),
        F.lit(0).alias("zoom"),
        "tile_col",
        "tile_row",
        L.band_concat(F.col("t1"), F.col("t2")).alias("tile"),
    )
    labels = FX.fixture_layer(spark, "labels").select(
        "layer", "zoom", "tile_col", "tile_row",
        F.col("tile").alias("ltile"),
    )
    full = stacked.join(
        labels.select("tile_col", "tile_row", "ltile"), ["tile_col", "tile_row"]
    ).select(
        "layer", "zoom", "tile_col", "tile_row",
        L.band_concat(F.col("ltile"), F.col("tile")).alias("tile"),
    )
    samples = labeled_pixel_samples(tiles_to_pixels(full), label_band=0)
    r = samples.where(
        (F.col("tile_col") == 0) & (F.col("tile_row") == 0)
        & (F.col("px") == 2) & (F.col("py") == 3)
    ).first()
    assert r["label"] == FX.label_value(0, 0, 2, 3)
    assert r["features"] == [FX.nir_value(0, 0, 2, 3), FX.red_value(0, 0, 2, 3)]


def test_catalog_write_read_delete_merge(spark, tmp_path, red, nir):
    cat = LayerCatalog(spark, str(tmp_path / "catalog"))
    cat.write_layer(red, "b4_red", zoom=3)
    cat.write_layer(nir, "b5_nir", zoom=3)

    assert sorted(cat.layer_ids()) == [("b4_red", 3), ("b5_nir", 3)]
    assert cat.finest_zoom("b4_red") == 3

    got = cat.read_layer("b4_red")
    assert got.count() == FX.GRID * FX.GRID
    meta = cat.layers().where(F.col("layer") == "b4_red").first()
    assert meta["tile_cols"] == FX.TS
    assert meta["layout_cols"] == FX.GRID
    assert meta["n_bands"] == 1

    hist = json.loads(cat.read_attribute("b4_red", 3, "histogramData"))
    assert hist["lo"] == 0.0
    assert sum(c for _, c in hist["counts"]) == FX.GRID * FX.GRID * FX.TS * FX.TS

    # merge: shifted update fills nothing (existing wins everywhere)
    update = red.select(
        "tile_col", "tile_row", "ts",
        L.map_pixels(F.col("tile"), lambda x: x + 99.0).alias("tile"),
    )
    cat.merge_into_layer(update, "b4_red", 3)
    after = cat.read_layer("b4_red", 3)
    px = tiles_to_pixels(after).where(
        (F.col("tile_col") == 0) & (F.col("tile_row") == 0) & (F.col("py") == 0)
    ).orderBy("px").collect()
    assert [r["value"] for r in px[:3]] == [0.0, 1.0, 2.0]  # unchanged

    cat.delete_layer("b5_nir")
    assert cat.layer_ids() == [("b4_red", 3)]
    with pytest.raises(KeyError):
        cat.finest_zoom("b5_nir")


def test_spacetime_layer_time_range_read(spark, tmp_path, red):
    """SpaceTimeKey parity (api/package.scala:152-164): tiles carry a
    timestamp; writes order time-major so a time_range read is a
    scan-pruning range predicate; reads filter the requested instant
    window only."""
    import datetime as dt

    cat = LayerCatalog(spark, str(tmp_path / "cat_st"))
    t0 = dt.datetime(2024, 1, 1)
    snapshots = [
        red.withColumn("ts", F.lit(t0 + dt.timedelta(days=d)).cast("timestamp"))
        for d in range(3)
    ]
    all_tiles = snapshots[0].unionByName(snapshots[1]).unionByName(snapshots[2])
    cat.write_layer(all_tiles.drop("layer", "zoom"), "st", 0)

    n_per_day = red.count()
    full = cat.read_layer("st", 0)
    assert full.count() == 3 * n_per_day

    day2 = cat.read_layer(
        "st", 0, time_range=(t0 + dt.timedelta(days=1), t0 + dt.timedelta(days=2))
    )
    assert day2.count() == n_per_day
    assert day2.select("ts").distinct().count() == 1

    # the time predicate must reach the parquet scan (row-group pruning
    # against the time-major sort order)
    plan = day2._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(ts" in plan


def test_reclassify_breaks_default_and_nodata(spark):
    from biggis_landuse_spark.operators.local import reclassify
    from biggis_landuse_spark.pixeling import pixels_to_tiles, tiles_to_pixels
    from pyspark.sql import functions as F

    vals = {(0, 0): 5.0, (1, 0): 33.0, (2, 0): 96.9, (3, 0): 99.0,
            (0, 1): None, (1, 1): 0.0, (2, 1): 32.999, (3, 1): 66.0}
    pixels = spark.createDataFrame(
        [("rc", 0, 0, 0, 0, x, y, v) for (x, y), v in vals.items()],
        "layer string, zoom int, tile_col int, tile_row int, band int, "
        "px int, py int, value double",
    )
    tiles = pixels_to_tiles(pixels, cols=4, rows=2, n_bands=1)
    out = tiles.withColumn(
        "tile",
        reclassify(F.col("tile"), [(0, 33, 1), (33, 66, 2), (66, 97, 3)],
                   default=9.0),
    )
    got = {(r["px"], r["py"]): r["value"] for r in tiles_to_pixels(out).collect()}
    assert got[(0, 0)] == 1.0      # in [0, 33)
    assert got[(1, 0)] == 2.0      # lower bound inclusive
    assert got[(2, 0)] == 3.0      # in [66, 97)
    assert got[(3, 0)] == 9.0      # 99 unmatched -> default
    assert got[(0, 1)] is None     # NODATA passes through, never default
    assert got[(1, 1)] == 1.0
    assert got[(2, 1)] == 1.0      # upper bound exclusive
    assert got[(3, 1)] == 3.0
