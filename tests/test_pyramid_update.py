"""update_pyramid: incremental maintenance must be bit-identical to a
full rebuild of the updated base (a parent is a pure function of its 4
children), touch only affected parents, and refuse missing levels."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark import fixtures as FX
from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.operators.local import map_pixels
from biggis_landuse_spark.operators.pyramid import build_pyramid, update_pyramid

pytestmark = pytest.mark.slow


def _levels(cat, layer, zooms):
    out = {}
    for z in zooms:
        out[z] = {
            (r["tile_col"], r["tile_row"]): tuple(
                tuple(
                    None if v is None else round(v, 9) for v in band
                )
                for band in r["tile"]["bands"]
            )
            for r in cat.read_layer(layer, z).collect()
        }
    return out


def test_update_pyramid_matches_full_rebuild(spark, tmp_path):
    base_zoom = 3
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    tiles = FX.fixture_layer(spark, "b4_red", base_zoom)
    cat.write_layer(tiles.drop("layer", "zoom"), "lyr", base_zoom)
    build_pyramid(cat, "lyr", from_zoom=base_zoom, to_zoom=0)

    # update two base tiles (one shared parent, one not)
    changed = [(1, 1), (3, 2)]
    updated = cat.read_layer("lyr", base_zoom).withColumn(
        "tile",
        F.when(
            (F.col("tile_col") == 1) & (F.col("tile_row") == 1)
            | (F.col("tile_col") == 3) & (F.col("tile_row") == 2),
            map_pixels(F.col("tile"), lambda v: v * 2 + 1),
        ).otherwise(F.col("tile")),
    )
    tmp = str(tmp_path / "staged_base")
    updated.select("tile_col", "tile_row", "ts", "tile").write.parquet(tmp)
    cat.write_layer(spark.read.parquet(tmp), "lyr", base_zoom)

    update_pyramid(
        cat,
        "lyr",
        spark.createDataFrame(changed, "tile_col int, tile_row int"),
        from_zoom=base_zoom,
        to_zoom=0,
    )
    incremental = _levels(cat, "lyr", range(0, base_zoom + 1))

    # reference: full rebuild of the SAME updated base in a fresh catalog
    cat2 = LayerCatalog(spark, str(tmp_path / "cat2"))
    cat2.write_layer(spark.read.parquet(tmp), "lyr", base_zoom)
    build_pyramid(cat2, "lyr", from_zoom=base_zoom, to_zoom=0)
    full = _levels(cat2, "lyr", range(0, base_zoom + 1))

    assert incremental == full


def test_update_pyramid_leaves_unaffected_parents_untouched(spark, tmp_path):
    base_zoom = 2
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    tiles = FX.fixture_layer(spark, "b5_nir", base_zoom)
    cat.write_layer(tiles.drop("layer", "zoom"), "lyr", base_zoom)
    build_pyramid(cat, "lyr", from_zoom=base_zoom, to_zoom=1)
    before = _levels(cat, "lyr", [1])[1]

    # change only tile (0, 0) → only parent (0, 0) may change at zoom 1
    updated = cat.read_layer("lyr", base_zoom).withColumn(
        "tile",
        F.when(
            (F.col("tile_col") == 0) & (F.col("tile_row") == 0),
            map_pixels(F.col("tile"), lambda v: v + 100.0),
        ).otherwise(F.col("tile")),
    )
    tmp = str(tmp_path / "staged")
    updated.select("tile_col", "tile_row", "ts", "tile").write.parquet(tmp)
    cat.write_layer(spark.read.parquet(tmp), "lyr", base_zoom)
    update_pyramid(
        cat,
        "lyr",
        spark.createDataFrame([(0, 0)], "tile_col int, tile_row int"),
        from_zoom=base_zoom,
        to_zoom=1,
    )
    after = _levels(cat, "lyr", [1])[1]
    assert after[(0, 0)] != before[(0, 0)]
    for k in before:
        if k != (0, 0):
            assert after[k] == before[k], k


def test_update_pyramid_requires_existing_levels(spark, tmp_path):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    tiles = FX.fixture_layer(spark, "b4_red", 2)
    cat.write_layer(tiles.drop("layer", "zoom"), "lyr", 2)
    with pytest.raises(KeyError, match="build_pyramid first"):
        update_pyramid(
            cat,
            "lyr",
            spark.createDataFrame([(0, 0)], "tile_col int, tile_row int"),
            from_zoom=2,
            to_zoom=0,
        )
