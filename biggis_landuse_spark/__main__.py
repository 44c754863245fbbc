"""Runnable job entry points: ``python -m biggis_landuse_spark <cmd>``.

The reference ships each capability as a spark-submit main class
(GeotiffTilingExample, NDVILayerWithCloudMaskExample, LayerToPyramid,
LayerToGeotiff, ShapefilePolygonRasterizer, ZoomResampleLayer,
ConvolveLayerExample, ServeLayerAsMap, DeleteLayer, WordCount — all
under src/main/scala/biggis/landuse/spark/examples/). This CLI is the
same surface over the engine's APIs, so a reference user's job
invocations map 1:1 onto subcommands. Every subcommand is a thin
argument adapter — all logic lives in the library modules it calls.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _spark(args):
    from biggis_landuse_spark.session import get_spark

    return get_spark(app_name=f"biggis-{args.cmd}")


def _catalog(spark, args):
    from biggis_landuse_spark.catalog import LayerCatalog

    return LayerCatalog(spark, args.catalog)


def cmd_ingest(args) -> int:
    """GeotiffTilingExample / MultibandGeotiffTilingExample /
    MultibandGeotiffToLayerNoReproj: scan → decode → (reproject) →
    re-tile → layer write."""
    spark = _spark(args)
    cat = _catalog(spark, args)
    crs = "EPSG:3857"
    decoder = None
    if getattr(args, "pages_as_bands", False):
        # band-per-page archives (r11): stack every non-reduced page
        # IFD into one multiband layer (the hadoopMultibandGeoTiffRDD
        # surface, MultibandGeotiffTilingExample.scala:59)
        from biggis_landuse_spark.sources.geotiff import PageBandDecoder

        decoder = PageBandDecoder()
    if args.no_reproject:
        from biggis_landuse_spark.sources.geotiff import (
            ingest_geotiff,
            ingest_geotiff_overviews,
        )

        if args.with_overviews:
            # COG read surface (r10): IFD0 as the base zoom plus every
            # stored overview IFD as a coarser level — pyramid levels
            # the file already carries are loaded, not recomputed
            base_zoom = args.zoom if args.zoom >= 0 else 0
            written = ingest_geotiff_overviews(
                spark, args.path, args.layer, cat, base_zoom,
                tile_size=args.tile_size, crs=f"pixelgrid:{args.crs}",
            )
            print(f"wrote layer {args.layer} zooms {written}")
            return 0
        tiles = ingest_geotiff(
            spark, args.path, args.layer, args.tile_size, decoder=decoder
        )
        zoom = args.zoom if args.zoom >= 0 else 0
        # the raw path tiles the SOURCE pixel grid — record that
        # honestly so stack_layers' CRS check can catch a mix with
        # web-mercator layers instead of silently joining disjoint grids
        crs = f"pixelgrid:{args.crs}"
    else:
        from biggis_landuse_spark.operators.reproject import (
            ingest_geotiff_webmercator,
        )

        tiles = ingest_geotiff_webmercator(
            spark, args.path, args.layer,
            zoom=args.zoom if args.zoom >= 0 else None,
            tile_size=args.tile_size, src_crs=args.crs,
            decoder=decoder,
        )
        zoom = tiles.first()["zoom"]
    cat.write_layer(
        tiles.select("tile_col", "tile_row", "ts", "tile"),
        args.layer,
        zoom,
        crs=crs,
    )
    print(f"wrote layer {args.layer} zoom {zoom}")
    return 0


def cmd_ndvi(args) -> int:
    """NDVILayerExample / NDVILayerWithCloudMaskExample: red ⋈ nir
    (⋈ qa) → masked NDVI → layer write."""
    from biggis_landuse_spark.operators.local import mask_bits, ndvi

    spark = _spark(args)
    cat = _catalog(spark, args)
    nir = cat.read_layer(args.nir, args.zoom).select(
        "tile_col", "tile_row", "ts", F.col("tile").alias("t_nir")
    )
    red = cat.read_layer(args.red, args.zoom).select(
        "tile_col", "tile_row", F.col("tile").alias("t_red")
    )
    j = nir.join(red, ["tile_col", "tile_row"])
    t_nir, t_red = F.col("t_nir"), F.col("t_red")
    if args.qa:
        qa = cat.read_layer(args.qa, args.zoom).select(
            "tile_col", "tile_row", F.col("tile").alias("t_qa")
        )
        j = j.join(qa, ["tile_col", "tile_row"])
        t_nir = mask_bits(t_nir, F.col("t_qa"), args.mask_bits)
        t_red = mask_bits(t_red, F.col("t_qa"), args.mask_bits)
    out = j.select(
        "tile_col", "tile_row", "ts", ndvi(t_nir, t_red).alias("tile")
    )
    # derived layers inherit the input grid's CRS — writing the default
    # would lie about a pixel-grid input and trip stack_layers' check
    cat.write_layer(out, args.out, args.zoom, crs=cat.layer_crs(args.nir))
    print(f"wrote layer {args.out} zoom {args.zoom}")
    return 0


def cmd_convolve(args) -> int:
    """ConvolveLayerExample: focal mean over a circular kernel."""
    from biggis_landuse_spark.operators.focal import focal_mean

    spark = _spark(args)
    cat = _catalog(spark, args)
    tiles = cat.read_layer(args.layer, args.zoom)
    out = focal_mean(tiles, radius=args.radius)
    cat.write_layer(
        out.select("tile_col", "tile_row", "ts", "tile"),
        args.out, args.zoom, crs=cat.layer_crs(args.layer),
    )
    print(f"wrote layer {args.out} zoom {args.zoom}")
    return 0


def cmd_pyramid(args) -> int:
    """LayerToPyramid / GeotiffToPyramid tail: build levels down to 0."""
    from biggis_landuse_spark.operators.pyramid import build_pyramid

    spark = _spark(args)
    cat = _catalog(spark, args)
    from_zoom = args.from_zoom if args.from_zoom >= 0 else cat.finest_zoom(args.layer)
    build_pyramid(cat, args.layer, from_zoom=from_zoom, to_zoom=args.to_zoom)
    print(f"pyramid {args.layer}: zoom {from_zoom} → {args.to_zoom}")
    return 0


def cmd_resample(args) -> int:
    """ZoomResampleLayer: upsample a layer by dz zoom levels."""
    from biggis_landuse_spark.operators.resample import zoom_resample

    spark = _spark(args)
    cat = _catalog(spark, args)
    tiles = cat.read_layer(args.layer, args.zoom)
    out = zoom_resample(
        tiles.withColumn("zoom", F.lit(args.zoom)),
        dz=args.dz,
        method=args.method,
    )
    cat.write_layer(
        out.select("tile_col", "tile_row", "ts", "tile"),
        args.out, args.zoom + args.dz, crs=cat.layer_crs(args.layer),
    )
    print(f"wrote layer {args.out} zoom {args.zoom + args.dz}")
    return 0


def cmd_export(args) -> int:
    """LayerToGeotiff / MultibandLayerToGeotiff: per-tile real .tif
    payloads (distributed), or a driver-side stitched single .tif
    (size-guarded, like the reference's useStitching branch)."""
    import os

    spark = _spark(args)
    cat = _catalog(spark, args)
    tiles = cat.read_layer(args.layer, args.zoom)
    os.makedirs(args.out, exist_ok=True)
    if args.stitch:
        import numpy as np

        from biggis_landuse_spark.sources.geotiff import stitch_layer
        from biggis_landuse_spark.sources.tiff import encode_tiff

        mosaic = stitch_layer(tiles, band=args.band)
        path = os.path.join(args.out, f"{args.layer}_z{args.zoom}.tif")
        with open(path, "wb") as fh:
            fh.write(
                encode_tiff([np.nan_to_num(mosaic)], compression="deflate")
            )
        print(f"stitched {mosaic.shape} → {path}")
    else:
        from biggis_landuse_spark.sources.geotiff import (
            TiffEncoder,
            export_tiles,
        )

        payloads = export_tiles(tiles, encoder=TiffEncoder())
        out_dir, layer = args.out, args.layer

        # executor-side file writes (the reference wrote per-tile files
        # from executors too, LayerToGeotiff.scala:100-113) — no
        # payload ever crosses the driver, so the export scales with
        # the layer; out_dir must be a shared FS on a real cluster
        def write_partition(rows):
            for r in rows:
                path = os.path.join(
                    out_dir, f"{layer}_{r['tile_col']}_{r['tile_row']}.tif"
                )
                with open(path, "wb") as fh:
                    fh.write(bytes(r["payload"]))

        payloads.foreachPartition(write_partition)
        print(f"wrote {tiles.count()} tiles → {args.out}")
    return 0


def cmd_rasterize(args) -> int:
    """ShapefilePolygonRasterizer / ShapefileExample: vector source
    (.shp or GeoJSON) → burned tile layer."""
    from biggis_landuse_spark.operators.rasterize import (
        GridLayout,
        rasterize_features,
    )
    from biggis_landuse_spark.sources.vector import (
        read_geojson,
        read_geojsonl,
        read_shapefile,
    )

    spark = _spark(args)
    cat = _catalog(spark, args)
    if args.path.endswith(".shp"):
        feats = read_shapefile(spark, args.path, value_field=args.value_field)
    elif args.path.endswith((".jsonl", ".geojsonl")):
        feats = read_geojsonl(spark, args.path)
    else:
        feats = read_geojson(spark, args.path)
    layout = GridLayout(
        x0=args.x0, y0=args.y0, cell=args.cell, tile_size=args.tile_size
    )
    tiles = rasterize_features(feats, layout).select(
        "tile_col", "tile_row",
        F.lit(None).cast("timestamp").alias("ts"), "tile",
    )
    cat.write_layer(tiles, args.out, args.zoom)
    print(f"wrote layer {args.out} zoom {args.zoom}")
    return 0


def cmd_serve(args) -> int:
    """ServeLayerAsMap: HTTP GET /{zoom}/{x}/{y} → PNG."""
    from biggis_landuse_spark.serving import TileServer, approx_breaks

    spark = _spark(args)
    cat = _catalog(spark, args)
    if args.breaks:
        breaks = [float(b) for b in args.breaks.split(",")]
    else:
        from biggis_landuse_spark.pixeling import tiles_to_pixels

        zoom = cat.finest_zoom(args.layer)
        px = tiles_to_pixels(cat.read_layer(args.layer, zoom))
        breaks = approx_breaks(px, "value", n_classes=args.classes)
    palette = [
        int(c, 16) for c in args.palette.split(",")
    ] if args.palette else None
    kwargs = {"palette": palette} if palette else {}
    server = TileServer(cat, args.layer, breaks, **kwargs)
    port = server.start(args.port)
    print(
        f"serving {args.layer}: map client http://127.0.0.1:{port}/ "
        f"(tiles /{{z}}/{{x}}/{{y}})"
    )
    if args.block:  # pragma: no cover — interactive mode
        import time

        while True:
            time.sleep(60)
    return 0


def cmd_delete(args) -> int:
    """DeleteLayer: drop one zoom or the whole layer."""
    spark = _spark(args)
    cat = _catalog(spark, args)
    cat.delete_layer(args.layer, args.zoom if args.zoom >= 0 else None)
    print(f"deleted {args.layer}" + (f" zoom {args.zoom}" if args.zoom >= 0 else ""))
    return 0


def _stacked_samples(spark, args):
    """Stack label layer + feature layers and pixel them into labeled
    samples (label band 0) — the data-prep step shared by the
    samples/classify commands (TilePixelingExample / WorkflowExample).
    Alignment (CRS check, coarser-level resample) is stack_layers'
    job — the guarded form of the plain tile-key join."""
    from biggis_landuse_spark.operators.stack import stack_layers
    from biggis_landuse_spark.pixeling import (
        labeled_pixel_samples,
        tiles_to_pixels,
    )

    cat = _catalog(spark, args)
    layers = [args.labels] + args.features.split(",")
    full = stack_layers(cat, layers, zoom=args.zoom)
    return labeled_pixel_samples(tiles_to_pixels(full), label_band=0)


def cmd_stack(args) -> int:
    """ManyLayersToMultibandLayer: N layers → one multiband stack
    layer on a common aligned grid — max finest zoom by default, CRS
    check + coarser-level resample per input
    (ManyLayersToMultibandLayer.scala:56-76, createLayerStack
    :233-259)."""
    from biggis_landuse_spark.operators.stack import stack_layers

    spark = _spark(args)
    cat = _catalog(spark, args)
    layers = args.layers.split(",")
    zoom = args.zoom if args.zoom >= 0 else max(
        cat.finest_zoom(n) for n in layers
    )
    out = stack_layers(cat, layers, zoom=zoom, method=args.method)
    cat.write_layer(
        out.select(
            "tile_col",
            "tile_row",
            F.lit(None).cast("timestamp").alias("ts"),
            "tile",
        ),
        args.out,
        zoom,
        crs=cat.layer_crs(layers[0]),
    )
    print(f"wrote stack {args.out} ({len(layers)} layers) zoom {zoom}")
    return 0


def cmd_samples(args) -> int:
    """TilePixelingToCSVExample / UtilsSVM export: stacked layers →
    labeled pixel samples → CSV or LibSVM files."""
    from biggis_landuse_spark.sources.codecs import (
        save_samples_csv,
        save_samples_libsvm,
    )

    spark = _spark(args)
    samples = _stacked_samples(spark, args)
    if args.format == "csv":
        save_samples_csv(samples, args.out)
    else:
        save_samples_libsvm(samples, args.out)
    print(f"wrote {args.format} samples → {args.out}")
    return 0


def cmd_classify(args) -> int:
    """TestClassifierSVM + WorkflowExample tail: train OneVsRest
    LinearSVC on the labeled stack, report held-out accuracy, classify
    the full raster, and write the prediction layer."""
    from biggis_landuse_spark.ml import classify as C
    from biggis_landuse_spark.pixeling import pixels_to_tiles

    spark = _spark(args)
    cat = _catalog(spark, args)
    samples = _stacked_samples(spark, args)
    train, test = C.split_samples(samples)
    model = C.train_ova(train, max_iter=args.max_iter)
    acc = C.accuracy(C.predict(model, test))
    print(f"held-out accuracy: {acc:.4f}")
    scored = C.predict(model, samples)
    result_px = scored.select(
        F.lit(args.out).alias("layer"),
        F.lit(args.zoom).alias("zoom"),
        "tile_col",
        "tile_row",
        F.lit(0).alias("band"),
        "px",
        "py",
        F.col("prediction").cast("double").alias("value"),
    )
    tiles = pixels_to_tiles(
        result_px, cols=args.tile_size, rows=args.tile_size, n_bands=1
    )
    cat.write_layer(
        tiles.select("tile_col", "tile_row", "ts", "tile"),
        args.out, args.zoom, crs=cat.layer_crs(args.labels),
    )
    if args.model_out:
        C.save_model(model, args.model_out)
        print(f"saved model → {args.model_out}")
    print(f"wrote layer {args.out} zoom {args.zoom}")
    return 0


def cmd_compact(args) -> int:
    """Rewrite a layer into few globally Z-ordered files as a new
    snapshot (restores the pruning contract after incremental
    merges)."""
    spark = _spark(args)
    cat = _catalog(spark, args)
    cat.compact_layer(args.layer, args.zoom, target_files=args.target_files)
    print(f"compacted {args.layer}/{args.zoom} → {args.target_files} files")
    return 0


def cmd_vacuum(args) -> int:
    """Drop a catalog layer's snapshots older than the newest N
    (data dirs shared with kept versions survive)."""
    spark = _spark(args)
    cat = _catalog(spark, args)
    deleted = cat.store.vacuum(args.layer, args.zoom, keep=args.keep)
    print(f"vacuumed {len(deleted)} data dirs from {args.layer}/{args.zoom}")
    return 0


def cmd_layers(args) -> int:
    """List catalog layers with metadata (the attribute-store read
    path, DummyGeotrellisExample.scala:29-34)."""
    spark = _spark(args)
    cat = _catalog(spark, args)
    for r in cat.layers().orderBy("layer", "zoom").collect():
        print(
            f"{r['layer']}\tzoom={r['zoom']}\tcrs={r['crs']}"
            f"\tbands={r['n_bands']}\t{r['tile_cols']}x{r['tile_rows']}"
            f"\tcols {r['key_col_min']}..{r['key_col_max']}"
            f"\trows {r['key_row_min']}..{r['key_row_max']}"
        )
    return 0


def cmd_wordcount(args) -> int:
    """WordCount: text lines → (word, count) parquet/csv."""
    spark = _spark(args)
    lines = spark.read.text(args.path)
    counts = (
        lines.select(F.explode(F.split(F.lower("value"), r"\W+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts.write.mode("overwrite").parquet(args.out)
    print(f"wrote word counts → {args.out}")
    return 0


def cmd_regions(args) -> int:
    """Region inventory of a classified layer: contiguous same-value
    patches via the distributed CCL (operators/regions.label_regions —
    tile-local union-find + boundary merge), written as a CSV of
    (region_id, class, n_pixels, min_gx, min_gy, max_gx, max_gy)."""
    from biggis_landuse_spark.operators.regions import label_regions
    from biggis_landuse_spark.pixeling import tiles_to_pixels

    spark = _spark(args)
    cat = _catalog(spark, args)
    tiles = cat.read_layer(args.layer, args.zoom)
    cols = tiles.select(F.col("tile")["cols"]).first()[0]
    px = (
        tiles_to_pixels(tiles)
        .where(F.col("value").isNotNull() & (F.col("band") == args.band))
        .select(
            (F.col("tile_col") * cols + F.col("px")).cast("long").alias("gx"),
            (F.col("tile_row") * cols + F.col("py")).cast("long").alias("gy"),
            F.col("value").cast("int").alias("cls"),
        )
    )
    # 2^20 exceeds any tiled grid width at one zoom; keeps pixel ids
    # (gy*width+gx) unique without knowing the layer extent up front
    inv = (
        label_regions(px, width=1 << 20, tile_size=args.region_tile)
        .groupBy("region_id")
        .agg(
            F.min("cls").alias("class"),
            F.count(F.lit(1)).alias("n_pixels"),
            F.min("gx").alias("min_gx"),
            F.min("gy").alias("min_gy"),
            F.max("gx").alias("max_gx"),
            F.max("gy").alias("max_gy"),
        )
    )
    out = inv.coalesce(1) if args.single_file else inv
    out.write.mode("overwrite").option("header", True).csv(args.out)
    print(f"wrote region inventory → {args.out}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="biggis_landuse_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, catalog=True):
        if catalog:
            sp.add_argument("--catalog", required=True, help="catalog base dir")

    sp = sub.add_parser("ingest", help="GeoTiff → tiled layer")
    sp.add_argument("path")
    sp.add_argument("layer")
    common(sp)
    sp.add_argument("--tile-size", type=int, default=256)
    sp.add_argument("--zoom", type=int, default=-1, help="-1 = infer")
    sp.add_argument(
        "--crs", default="EPSG:4326",
        help="EPSG code, proj4 string, WKT, or 'auto' (.prj sidecar)",
    )
    sp.add_argument("--no-reproject", action="store_true",
                    help="keep source grid (MultibandGeotiffToLayerNoReproj)")
    sp.add_argument(
        "--pages-as-bands", action="store_true",
        help="stack every non-reduced page IFD of a multi-page archive "
        "into one multiband layer (band-per-page delivery)",
    )
    sp.add_argument(
        "--with-overviews", action="store_true",
        help="also ingest stored COG overview IFDs as coarser zooms "
        "(requires --no-reproject; zoom = base level)",
    )
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser("ndvi", help="red ⋈ nir (⋈ qa) → NDVI layer")
    common(sp)
    sp.add_argument("--red", required=True)
    sp.add_argument("--nir", required=True)
    sp.add_argument("--qa", default=None)
    sp.add_argument("--mask-bits", type=int, default=0x10)
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_ndvi)

    sp = sub.add_parser("convolve", help="focal mean")
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--radius", type=int, default=1)
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_convolve)

    sp = sub.add_parser("pyramid", help="build zoom pyramid")
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--from-zoom", type=int, default=-1, help="-1 = finest")
    sp.add_argument("--to-zoom", type=int, default=0)
    sp.set_defaults(fn=cmd_pyramid)

    sp = sub.add_parser("resample", help="zoom upsample")
    sp.add_argument(
        "--method",
        default="nearest",
        choices=["nearest", "bilinear", "cubic"],
        help="resampling kernel (Utils.scala:23 trio)",
    )
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--dz", type=int, default=1)
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_resample)

    sp = sub.add_parser("export", help="layer → real .tif files")
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--stitch", action="store_true")
    sp.add_argument("--band", type=int, default=0)
    sp.set_defaults(fn=cmd_export)

    sp = sub.add_parser("rasterize", help="shapefile/GeoJSON → tile layer")
    sp.add_argument("path")
    common(sp)
    sp.add_argument("--out", required=True)
    sp.add_argument("--zoom", type=int, default=0)
    sp.add_argument("--x0", type=float, default=0.0)
    sp.add_argument("--y0", type=float, default=0.0)
    sp.add_argument("--cell", type=float, default=1.0)
    sp.add_argument("--tile-size", type=int, default=256)
    sp.add_argument("--value-field", default=None)
    sp.set_defaults(fn=cmd_rasterize)

    sp = sub.add_parser("serve", help="HTTP tile server")
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--port", type=int, default=18080)
    sp.add_argument("--breaks", default=None, help="comma floats; default: quantiles")
    sp.add_argument("--classes", type=int, default=10)
    sp.add_argument("--palette", default=None, help="comma hex RGBA")
    sp.add_argument("--block", action="store_true")
    sp.set_defaults(fn=cmd_serve)

    sp = sub.add_parser("delete", help="delete layer (zoom)")
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--zoom", type=int, default=-1, help="-1 = all zooms")
    sp.set_defaults(fn=cmd_delete)

    sp = sub.add_parser("stack", help="N layers → multiband stack layer")
    sp.add_argument("--catalog", required=True)
    sp.add_argument("--layers", required=True, help="comma-separated inputs")
    sp.add_argument("--out", required=True)
    sp.add_argument("--zoom", type=int, default=-1, help="-1 = max finest")
    sp.add_argument(
        "--method", default="nearest",
        choices=("nearest", "bilinear", "cubic"),
        help="resample method for coarser inputs",
    )
    sp.set_defaults(fn=cmd_stack)

    sp = sub.add_parser("samples", help="stacked layers → labeled pixel samples")
    common(sp)
    sp.add_argument("--labels", required=True, help="label layer (band 0)")
    sp.add_argument("--features", required=True, help="comma feature layers")
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--format", choices=["csv", "libsvm"], default="csv")
    sp.set_defaults(fn=cmd_samples)

    sp = sub.add_parser("classify", help="train OvR SVM, write prediction layer")
    common(sp)
    sp.add_argument("--labels", required=True)
    sp.add_argument("--features", required=True)
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--tile-size", type=int, default=256)
    sp.add_argument("--max-iter", type=int, default=20)
    sp.add_argument("--model-out", default=None)
    sp.set_defaults(fn=cmd_classify)

    sp = sub.add_parser("compact", help="rewrite layer into few Z-ordered files")
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--target-files", type=int, default=1)
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser("vacuum", help="drop a layer's old snapshots")
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--keep", type=int, default=2)
    sp.set_defaults(fn=cmd_vacuum)

    sp = sub.add_parser("layers", help="list catalog layers + metadata")
    common(sp)
    sp.set_defaults(fn=cmd_layers)

    sp = sub.add_parser(
        "regions", help="classified layer → contiguous-patch inventory CSV"
    )
    common(sp)
    sp.add_argument("--layer", required=True)
    sp.add_argument("--zoom", type=int, required=True)
    sp.add_argument("--band", type=int, default=0)
    sp.add_argument("--region-tile", type=int, default=64,
                    help="CCL tiling block size")
    sp.add_argument("--out", required=True)
    sp.add_argument("--single-file", action="store_true")
    sp.set_defaults(fn=cmd_regions)

    sp = sub.add_parser("wordcount", help="text → word counts")
    sp.add_argument("path")
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_wordcount)

    sp = sub.add_parser(
        "sql", help="run Spark SQL over testdata tables + catalog layers"
    )
    sp.add_argument("text", help="SQL text, or @path to read a .sql file")
    sp.add_argument("--sf-dir", default=None,
                    help="register testdata parquet tables as views")
    sp.add_argument("--catalog", default=None,
                    help="register catalog layers as layer_<name>_z<zoom> views")
    sp.add_argument("--out", help="write parquet instead of printing")
    sp.add_argument("-n", type=int, default=20, help="rows to print")
    sp.set_defaults(fn=cmd_sql)

    sp = sub.add_parser(
        "query", help="run a registry query ('query list' to enumerate)"
    )
    sp.add_argument("name")
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sp.add_argument("--out", help="write parquet instead of printing")
    sp.add_argument("-n", type=int, default=20, help="rows to print")
    sp.set_defaults(fn=cmd_query)

    return p


def cmd_sql(args) -> int:
    """SQL console surface (r10): the same Catalyst planner the
    DataFrame API feeds, over the same normalized relations — views
    from the testdata loader and/or the layer catalog. Results print
    through the same bounded show(n) guard as ``query`` (never an
    unbounded driver collect); --out streams a distributed parquet
    write instead."""
    from biggis_landuse_spark import sql_surface

    spark = _spark(args)
    if args.sf_dir:
        sql_surface.register_testdata_views(spark, args.sf_dir)
    if args.catalog:
        sql_surface.register_catalog_views(spark, args.catalog)
    text = args.text
    if text.startswith("@"):
        with open(text[1:]) as fh:
            text = fh.read()
    df = sql_surface.run_sql(spark, text)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote sql result → {args.out}")
    else:
        df.show(args.n, truncate=False)
    return 0


def cmd_query(args) -> int:
    """Run any registry query against a testdata scale-factor dir."""
    from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    if args.name == "list" or args.name not in REGISTRY:
        for name in sorted(REGISTRY):
            print(name)
        return 0 if args.name == "list" else 2
    spark = _spark(args)
    df = REGISTRY[args.name].spark(spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.name} → {args.out}")
    else:
        df.show(args.n, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
