"""The reference's WorkflowExample (WorkflowExample.scala:26-175) as
one end-to-end integration test over the engine's real pieces:

ingest label + sat GeoTiffs → stack into a multiband layer → pixeling
to labeled samples → OneVsRest train/predict → reassemble the
prediction raster → catalog write → pyramid → color-map render + point
lookup. The reference left train→predict→reassemble as commented
plans (WorkflowExample.scala:153-162); here the whole chain runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F
import pytest

from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.ml import classify as C
from biggis_landuse_spark.operators.local import band_concat
from biggis_landuse_spark.operators.pyramid import build_pyramid
from biggis_landuse_spark.pixeling import (
    labeled_pixel_samples,
    pixels_to_tiles,
    tiles_to_pixels,
)
from biggis_landuse_spark.operators.local import map_pixels
from biggis_landuse_spark.serving import lookup_tile, render_tiles_png
from biggis_landuse_spark.sources.geotiff import FakeRampDecoder, ingest_geotiff

pytestmark = pytest.mark.slow

W = H = 16
TILE = 8
THRESH = W * H // 2


def test_workflow_example_end_to_end(spark, tmp_path):
    scene = tmp_path / "scene"
    scene.mkdir()
    # FakeRampDecoder payload header: (width, height) uint32-LE
    (scene / "a.bin").write_bytes(
        W.to_bytes(4, "little") + H.to_bytes(4, "little")
    )
    cat = LayerCatalog(spark, str(tmp_path / "cat"))

    # 1. ingest the sat scene; derive the ground-truth layer with a
    #    per-pixel local op (the engine-shipped decoder is the ramp)
    sat = ingest_geotiff(spark, str(scene), "sat", TILE, FakeRampDecoder())
    label = sat.select(
        "tile_col",
        "tile_row",
        map_pixels(
            F.col("tile"),
            lambda v: F.when(v < THRESH, 1.0).otherwise(2.0),
        ).alias("tile"),
    )

    # 2. stack label + sat into layer_label_sat (ManyLayersToMultiband)
    stacked = (
        label.select("tile_col", "tile_row", F.col("tile").alias("t_label"))
        .join(
            sat.select("tile_col", "tile_row", F.col("tile").alias("t_sat")),
            ["tile_col", "tile_row"],
        )
        .select(
            F.lit("layer_label_sat").alias("layer"),
            F.lit(1).alias("zoom"),
            "tile_col",
            "tile_row",
            F.lit(None).cast("timestamp").alias("ts"),
            band_concat(F.col("t_label"), F.col("t_sat")).alias("tile"),
        )
    )

    # 3. pixeling → labeled samples (TilePixeling, label band 0)
    samples = labeled_pixel_samples(tiles_to_pixels(stacked), label_band=0)
    assert samples.count() == W * H

    # 4. train + evaluate (TestClassifierSVM path, OneVsRest(LinearSVC))
    train, test = C.split_samples(samples)
    model = C.train_ova(train, max_iter=20)
    preds = C.predict(model, test)
    assert C.accuracy(preds) >= 0.9  # separable by construction

    # 5. classify the FULL raster and reassemble the prediction layer
    scored = C.predict(model, samples)
    result_px = scored.select(
        F.lit("layer_result").alias("layer"),
        F.lit(1).alias("zoom"),
        "tile_col",
        "tile_row",
        F.lit(0).alias("band"),
        "px",
        "py",
        F.col("prediction").cast("double").alias("value"),
    )
    result = pixels_to_tiles(result_px, cols=TILE, rows=TILE, n_bands=1)
    cat.write_layer(result.drop("layer", "zoom"), "layer_result", 1)

    # 6. pyramid down to zoom 0 (LayerToPyramid)
    build_pyramid(cat, "layer_result", from_zoom=1, to_zoom=0)
    assert set(cat.layer_ids()) >= {("layer_result", 1), ("layer_result", 0)}
    assert cat.read_layer("layer_result", 0).count() == 1

    # 7. serve: color-map render + indexed point lookup (ServeLayerAsMap)
    tiles = cat.read_layer("layer_result", 1)
    rendered = render_tiles_png(
        tiles, breaks=[1.5], palette=[0xFF0000FF, 0x00FF00FF]
    ).collect()
    assert len(rendered) == 4
    assert all(bytes(r["png"])[:8] == b"\x89PNG\r\n\x1a\n" for r in rendered)
    hit = lookup_tile(cat, "layer_result", 1, 1, 1).collect()
    assert len(hit) == 1

    # the classified raster reproduces the ground truth exactly
    got = {
        (r["tile_col"], r["tile_row"], r["px"], r["py"]): r["value"]
        for r in tiles_to_pixels(
            cat.read_layer("layer_result", 1).withColumn(
                "layer", F.lit("layer_result")
            ).withColumn("zoom", F.lit(1))
        ).collect()
    }
    wrong = sum(
        1
        for (tc, tr, px, py), v in got.items()
        if v != (1.0 if ((tr * TILE + py) * W + (tc * TILE + px)) < THRESH else 2.0)
    )
    assert wrong / len(got) <= 0.05  # ≥95% of pixels classified right
