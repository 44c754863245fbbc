"""The reference's GettingStarted tutorial (GettingStarted.scala:45-75
— Landsat B4/B5/BQA → cloud-masked NDVI → layer write → pyramid →
serve) as one end-to-end test over REAL GeoTIFF inputs: every band is
written as an actual deflate-compressed .tif and ingested with the
DEFAULT decoder (the pure-Python baseline codec) — no fakes anywhere
in the chain."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
import pytest

from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.operators.local import mask_bits, ndvi
from biggis_landuse_spark.operators.pyramid import build_pyramid
from biggis_landuse_spark.pixeling import tiles_to_pixels
from biggis_landuse_spark.serving import lookup_tile, render_tiles_png
from biggis_landuse_spark.sources.geotiff import ingest_geotiff
from biggis_landuse_spark.sources.tiff import encode_tiff

pytestmark = pytest.mark.slow

W = H = 32
TILE = 16
CLOUD_BIT = 0x10


def _scene():
    rng = np.random.default_rng(11)
    red = rng.integers(500, 3000, (H, W)).astype(np.float32)
    nir = rng.integers(3000, 6000, (H, W)).astype(np.float32)
    qa = np.zeros((H, W), dtype=np.uint16)
    qa[4:9, 4:9] = CLOUD_BIT  # one cloud patch
    return red, nir, qa


def test_getting_started_ndvi_pipeline(spark, tmp_path):
    red, nir, qa = _scene()
    for name, band in (("b4_red", red), ("b5_nir", nir), ("bqa", qa)):
        d = tmp_path / name
        d.mkdir()
        (d / "scene.tif").write_bytes(
            encode_tiff([band], compression="deflate",
                        georef=(8.0, 49.0, 0.001, 0.001))
        )

    # 1. ingest each band from its real .tif (default decoder)
    layers = {
        name: ingest_geotiff(spark, str(tmp_path / name), name, TILE)
        for name in ("b4_red", "b5_nir", "bqa")
    }

    # 2. 3-layer join on the tile key + cloud mask + NDVI
    #    (NDVILayerWithCloudMaskExample.scala:73-86)
    j = (
        layers["b5_nir"].select("tile_col", "tile_row", F.col("tile").alias("t_nir"))
        .join(
            layers["b4_red"].select(
                "tile_col", "tile_row", F.col("tile").alias("t_red")
            ),
            ["tile_col", "tile_row"],
        )
        .join(
            layers["bqa"].select(
                "tile_col", "tile_row", F.col("tile").alias("t_qa")
            ),
            ["tile_col", "tile_row"],
        )
    )
    result = j.select(
        F.lit("ndvi").alias("layer"),
        F.lit(1).alias("zoom"),
        "tile_col",
        "tile_row",
        F.lit(None).cast("timestamp").alias("ts"),
        ndvi(
            mask_bits(F.col("t_nir"), F.col("t_qa"), CLOUD_BIT),
            mask_bits(F.col("t_red"), F.col("t_qa"), CLOUD_BIT),
        ).alias("tile"),
    )

    # 3. write the layer, build the pyramid (LayerToPyramid)
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    cat.write_layer(result.drop("layer", "zoom"), "ndvi", 1)
    build_pyramid(cat, "ndvi", from_zoom=1, to_zoom=0)
    assert cat.read_layer("ndvi", 0).count() == 1

    # 4. pixel-exact check against numpy on every cell
    px = tiles_to_pixels(
        cat.read_layer("ndvi", 1)
        .withColumn("layer", F.lit("ndvi"))
        .withColumn("zoom", F.lit(1))
    ).collect()
    assert len(px) == W * H
    want = (nir - red) / (nir + red)
    for r in px:
        gy, gx = r["tile_row"] * TILE + r["py"], r["tile_col"] * TILE + r["px"]
        if qa[gy, gx] & CLOUD_BIT:
            assert r["value"] is None, (gx, gy)  # cloud → NODATA
        else:
            assert abs(r["value"] - float(want[gy, gx])) < 1e-6, (gx, gy)

    # 5. serve it (ServeLayerAsMap): color-map render + point lookup
    rendered = render_tiles_png(
        cat.read_layer("ndvi", 1), breaks=[0.3], palette=[0xFF0000FF, 0x00FF00FF]
    ).collect()
    assert len(rendered) == 4
    assert all(bytes(r["png"])[:8] == b"\x89PNG\r\n\x1a\n" for r in rendered)
    assert lookup_tile(cat, "ndvi", 1, 1, 0).count() == 1
