"""Layer catalog: Parquet-backed tile storage + a JSON attribute store.

Replaces the reference's HDFS AttributeStore + Avro layer
readers/writers + SFC index (api/package.scala:62-385):

- ``{base}/tiles/layer=<name>/zoom=<z>/part-*.parquet`` — tile rows,
  hive-partitioned by (layer, zoom) so reads prune partitions, sorted
  within files by a Z-order (Morton) key over (tile_col, tile_row) so
  Parquet row-group min/max stats prune spatial ranges — the exact
  role of the reference's ZCurveKeyIndexMethod (api/package.scala:143).
- ``{base}/layers/<layer>/<zoom>.json`` — one metadata record per
  (layer, zoom) (TileLayerMetadata analog, taken from the write job
  itself like TileLayerMetadata.fromRDD, GeotiffTilingExample.scala:50).
- ``{base}/attributes/<layer>/<zoom>/<name>.json`` — one record per
  attribute (the reference's HadoopAttributeStore; Utils.writeHistogram
  / readHistogram, Utils.scala:78-89).

Layer and attribute names are percent-encoded in file names, so any
string round-trips.

Concurrency: every record is its own file, published by writing a
uniquely named temp file and renaming it over the target
(``write_json``). Writers of different keys never touch the same file,
so concurrent per-layer ingests share one catalog with no lock and no
read-modify-write; writers of the same key replace the whole record
(last rename wins), and a reader never sees a torn one.

Scale: writes never collect tiles; the metadata is observed on the
write job and the histogram is one agg pass over the written tile
column; reads list and read small files on the driver, with no Spark job;
deletes drop whole directories.
"""

from __future__ import annotations

import json
import uuid
from urllib.parse import quote, unquote

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biggis_landuse_spark.model import LAYER_META_SCHEMA

Z_BITS = 16


def hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop FileSystem
    API, so every op works on any supported scheme (local FS, HDFS,
    S3A), not just os.path-reachable local paths."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_json(
    spark: SparkSession, path: str, record, overwrite: bool = True
) -> bool:
    """Publish ``record`` as the JSON file ``path`` atomically: write a
    uniquely named ``*.tmp`` file beside it, then rename. With
    ``overwrite`` the rename replaces an existing file
    (``FileContext.rename`` with ``Options.Rename.OVERWRITE``);
    without it the rename fails when ``path`` exists, and this removes
    the temp file and returns False. A crash before the rename leaves
    only a ``*.tmp`` file, which readers never list."""
    jvm = spark._jvm
    fs, final = hadoop_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(record).encode("utf-8")))
    finally:
        out.close()
    if overwrite:
        rename = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(rename, 1)
        opts[0] = rename.OVERWRITE
        jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            final.toUri(), spark._jsc.hadoopConfiguration()
        ).rename(tmp, final, opts)
        return True
    if fs.rename(tmp, final):
        return True
    fs.delete(tmp, False)
    return False


def read_json(spark: SparkSession, path: str):
    """The record ``write_json`` published at ``path``, or None."""
    fs, p = hadoop_path(spark, path)
    try:
        stream = fs.open(p)
    except Py4JJavaError as e:
        missing = "java.io.FileNotFoundException"
        if e.java_exception.getClass().getName() != missing:
            raise
        return None
    try:
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _enc(name: str) -> str:
    """Reversible file-name form of a layer or attribute name ('.'
    too, so no name becomes '.', '..' or a hidden file)."""
    return quote(name, safe="").replace(".", "%2E")


def zorder_key(col: str = "tile_col", row: str = "tile_row") -> F.Column:
    """Morton (Z-curve) interleave of two 16-bit keys (O2, SFC write
    order) — a pure column expression, codegen'd; no custom Catalyst
    work (SURVEY.md §4.1)."""
    terms = " + ".join(
        f"(shiftleft(CAST((shiftright({col}, {i}) & 1) AS BIGINT), {2 * i}) + "
        f"shiftleft(CAST((shiftright({row}, {i}) & 1) AS BIGINT), {2 * i + 1}))"
        for i in range(Z_BITS)
    )
    return F.expr(terms)


def with_hilbert_key(
    df: DataFrame,
    col: str = "tile_col",
    row: str = "tile_row",
    out: str = "_hk",
    bits: int = Z_BITS,
) -> DataFrame:
    """Append the Hilbert-curve index of (col, row) on a 2^bits grid —
    the reference's `HilbertKeyIndexMethod` key order
    (api/package.scala:152-164); `zorder_key` is the engine's default
    (documented-equivalent range pruning), this is the exact-parity
    alternative.

    The classic quadrant-recursive descent (MSB → LSB: consume the top
    bit of each axis, reduce into the quadrant, reflect+transpose on
    the lower two quadrants) expressed as ONE STAGED PROJECTION PER
    BIT LEVEL. The state (x, y) feeds the next level through several
    references, so a single closed-form expression would grow 4^bits
    nodes; per-level projections keep the plan linear in `bits` and
    each stage inside whole-stage codegen — the same staging
    discipline as the warp families (BASELINE.md r6 note). Hilbert
    beats Z-order on range-query locality (no long diagonal jumps),
    identical cost at write time: still a pure column pipeline feeding
    repartitionByRange.
    """
    x, y = "_hx", "_hy"
    df = (
        df.withColumn(x, F.col(col).cast("long"))
        .withColumn(y, F.col(row).cast("long"))
        .withColumn(out, F.lit(0).cast("long"))
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        df = (
            df.withColumn("_rx", F.expr(f"CAST(({x} & {s}) > 0 AS BIGINT)"))
            .withColumn("_ry", F.expr(f"CAST(({y} & {s}) > 0 AS BIGINT)"))
            .withColumn(
                out,
                F.expr(
                    f"{out} + CAST({s} AS BIGINT) * {s}"
                    f" * ((3 * _rx) ^ _ry)"
                ),
            )
            # reduce into the quadrant, then reflect+transpose the
            # lower-left (rx=0,ry=0) and lower-right (rx=1,ry=0) cases
            .withColumn("_qx", F.expr(f"{x} & {s - 1}"))
            .withColumn("_qy", F.expr(f"{y} & {s - 1}"))
            .withColumn(
                x,
                F.expr(
                    f"CASE WHEN _ry = 0 THEN"
                    f" (CASE WHEN _rx = 1 THEN {s - 1} - _qy ELSE _qy END)"
                    f" ELSE _qx END"
                ),
            )
            .withColumn(
                y,
                F.expr(
                    f"CASE WHEN _ry = 0 THEN"
                    f" (CASE WHEN _rx = 1 THEN {s - 1} - _qx ELSE _qx END)"
                    f" ELSE _qy END"
                ),
            )
        )
    return df.drop("_hx", "_hy", "_rx", "_ry", "_qx", "_qy")


class LayerCatalog:
    """Catalog service over a base directory (local FS or HDFS/S3 URI)."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base.rstrip("/")
        self.tiles_path = f"{self.base}/tiles"
        self.layers_path = f"{self.base}/layers"
        self.attributes_path = f"{self.base}/attributes"

    # -- write -------------------------------------------------------------

    def write_layer(
        self,
        tiles: DataFrame,
        layer: str,
        zoom: int,
        crs: str = "EPSG:3857",
        target_files: int | None = None,
        index_method: str = "zorder",
    ) -> None:
        """Write a tile DataFrame as (layer, zoom), globally SFC-ordered
        across ``target_files`` files, and publish its metadata record
        and histogram attribute.

        ``index_method``: "zorder" (default, Morton interleave) or
        "hilbert" (locality-equivalent Hilbert keying — the same
        disjoint-file-range write contract and range locality as the
        reference's HilbertKeyIndexMethod, api/package.scala:152; the
        reference's uzaygezen compact-Hilbert index values generally
        differ in curve orientation from the classic xy2d transform
        used here, and the keys are internal sort keys, so index-value
        parity is neither claimed nor needed).

        Reference: writeRddToLayer (api/package.scala:130-180) = SFC
        index + Avro write + histogram attribute; here the SFC is a
        sort key and the histogram is a one-pass agg stored as JSON.

        The write range-partitions on the SFC key (default
        ``defaultParallelism`` output files): every task writes a
        disjoint, sorted key range, so (a) the write parallelizes — a
        plain repartition(layer, zoom) would funnel the whole layer
        through ONE task at 100 TB — and (b) file- and row-group-level
        min/max stats on the key stay non-overlapping, which is what
        makes spatial-range reads prune files like the reference's
        Z-curve index ranges (api/package.scala:143).
        """
        from pyspark import StorageLevel
        from pyspark.sql import Observation

        keyed = tiles.withColumn("layer", F.lit(layer)).withColumn(
            "zoom", F.lit(zoom)
        )
        # space-time layers (SpaceTimeKey analog, api/package.scala:
        # 152-164 HilbertKeyIndexMethod(1)): time-major, Z-curve within
        # each instant, so Parquet row-group min/max stats prune BOTH a
        # time-range filter and a spatial-range filter. Spatial-only
        # layers (ts all NULL) keep the pure Z-order.
        if index_method == "hilbert":
            keyed = with_hilbert_key(keyed, out="_zk")
        elif index_method == "zorder":
            keyed = keyed.withColumn("_zk", zorder_key())
        else:
            raise ValueError(
                f"index_method must be 'zorder' or 'hilbert', got "
                f"{index_method!r}"
            )
        sort_keys = ["ts", "_zk"] if "ts" in keyed.columns else ["_zk"]
        n_files = (
            target_files
            if target_files is not None
            else self.spark.sparkContext.defaultParallelism
        )
        t = F.col("tile")
        cells = F.flatten(t["bands"])
        observed = Observation()
        # repartitionByRange needs a range-SAMPLING pass before the
        # write pass, so an unmaterialized input executes its whole
        # upstream plan twice — for the lazy ingest chain (chunked
        # decode → warp → reassembly) that was most of scene-ingest
        # wall time (r10, found by the 4-band scene e2e: 21-30 s per
        # band of which ~5 s is the chain run once). Persist spills to
        # local disk past memory, trading one extra local IO pass for
        # a full recompute — the same trade at 1000 executors.
        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            (
                keyed.repartitionByRange(n_files, "layer", "zoom", *sort_keys)
                .sortWithinPartitions(*sort_keys)
                # the metadata rides on the write job; placed after the
                # range shuffle so the sampling pass does not run it
                .observe(
                    observed,
                    F.min("tile_col").alias("key_col_min"),
                    F.max("tile_col").alias("key_col_max"),
                    F.min("tile_row").alias("key_row_min"),
                    F.max("tile_row").alias("key_row_max"),
                    F.first(t["cols"]).alias("tile_cols"),
                    F.first(t["rows"]).alias("tile_rows"),
                    F.first(t["cell_type"]).alias("cell_type"),
                    F.max(F.size(t["bands"])).alias("n_bands"),
                    F.min(F.array_min(cells)).alias("lo"),
                    F.max(F.array_max(cells)).alias("hi"),
                )
                .drop("_zk")
                .write.mode("overwrite")
                .partitionBy("layer", "zoom")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(self.tiles_path)
            )
        finally:
            keyed.unpersist()
        m = observed.get
        # the histogram reads the written partition back, tile column
        # only, with the schema known (no inference job): the write
        # refreshes every cached plan that reads the tiles path, so an
        # input derived from catalog layers (NDVI, pyramid levels)
        # would recompute its whole upstream from the persisted plan
        part = f"layer={self._partition_dir(layer)}/zoom={zoom}"
        written = self.spark.read.schema(
            T.StructType([keyed.schema["tile"]])
        ).parquet(f"{self.tiles_path}/{part}")
        histogram = _histogram_json(written, m["lo"], m["hi"])
        meta = {
            "layer": layer,
            "zoom": zoom,
            "cell_type": m["cell_type"],
            "crs": crs,
            "n_bands": m["n_bands"],
            "tile_cols": m["tile_cols"],
            "tile_rows": m["tile_rows"],
            "layout_cols": m["key_col_max"] - m["key_col_min"] + 1,
            "layout_rows": m["key_row_max"] - m["key_row_min"] + 1,
            "key_col_min": m["key_col_min"],
            "key_col_max": m["key_col_max"],
            "key_row_min": m["key_row_min"],
            "key_row_max": m["key_row_max"],
            "extent": None,
        }
        write_json(self.spark, self._meta_path(layer, zoom), meta)
        self.write_attribute(layer, zoom, "histogramData", histogram)

    # -- read --------------------------------------------------------------

    def layers(self) -> DataFrame:
        """Every metadata record as a ``LAYER_META_SCHEMA`` relation
        (the SQL surface's ``catalog_layers`` view)."""
        from biggis_landuse_spark.session import local_df

        rows = [self._meta(layer, zoom) for layer, zoom in self.layer_ids()]
        return local_df(
            self.spark, [r for r in rows if r is not None], LAYER_META_SCHEMA
        )

    def layer_ids(self) -> list[tuple[str, int]]:
        """All (layer, zoom) pairs (reference: attributeStore.layerIds,
        api/package.scala:108-122)."""
        return [
            (layer, zoom)
            for layer in sorted(map(unquote, self._list(self.layers_path)))
            for zoom in self._zooms(layer)
        ]

    def finest_zoom(self, layer: str) -> int:
        """Reference: zoomsOfLayer ... maxBy(_.zoom)
        (NDVILayerExample.scala:95-103)."""
        zooms = self._zooms(layer)
        if not zooms:
            raise KeyError(f"layer not found: {layer}")
        return zooms[-1]

    def layer_crs(self, layer: str, zoom: int | None = None) -> str:
        """Grid CRS recorded for (layer, zoom) — zoom=None means any
        level (one layer keeps one grid CRS across its pyramid). The
        stacking alignment check reads this (reference:
        tilesmerged.metadata.crs != tiles.metadata.crs,
        ManyLayersToMultibandLayer.scala:244)."""
        zooms = self._zooms(layer) if zoom is None else [zoom]
        meta = self._meta(layer, zooms[0]) if zooms else None
        if meta is None:
            raise KeyError(f"layer not found: {layer}")
        return meta["crs"]

    def read_layer(
        self,
        layer: str,
        zoom: int | None = None,
        band: int | None = None,
        time_range: tuple | None = None,
    ) -> DataFrame:
        """Partition-pruned read of one (layer, zoom); optional band
        selection (reference: readRddFromLayer band coercion,
        api/package.scala:189-308) and, for space-time layers, a
        ``time_range=(start, end)`` half-open filter — pushed to the
        parquet scan, where the time-major write order makes it a
        row-group-pruning range predicate (the Hilbert-index read path,
        api/package.scala:225-245)."""
        if zoom is None:
            zoom = self.finest_zoom(layer)
        df = self.spark.read.parquet(self.tiles_path).where(
            (F.col("layer") == layer) & (F.col("zoom") == zoom)
        )
        if time_range is not None:
            start, end = time_range
            df = df.where(
                (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
            )
        if band is not None:
            from biggis_landuse_spark.operators.local import band_select

            df = df.withColumn("tile", band_select(F.col("tile"), band))
        return df

    # -- delete ------------------------------------------------------------

    def delete_layer(self, layer: str, zoom: int | None = None) -> None:
        """Drop one zoom or all zooms of a layer, including metadata and
        attributes (S5; reference: deleteLayerFromCatalog /
        deleteZoomLevelFromLayer, api/package.scala:67-102)."""
        tiles = f"{self.tiles_path}/layer={self._partition_dir(layer)}"
        if zoom is None:
            # every zoom, and the leftover dirs, like the reference
            paths = [tiles, self._meta_path(layer), self._attr_dir(layer)]
        else:
            paths = [
                f"{tiles}/zoom={zoom}",
                self._meta_path(layer, zoom),
                self._attr_dir(layer, zoom),
            ]
        for path in paths:
            self._delete_dir(path)

    # -- merge (layer update) ----------------------------------------------

    def merge_into_layer(self, update: DataFrame, layer: str, zoom: int) -> None:
        """Merge an update into an existing layer: full-outer join on the
        tile key, cell-level coalesce(existing, update) — Delta MERGE
        semantics built from join + overwrite (reference:
        mergeRddIntoLayer, api/package.scala:328-385)."""
        from biggis_landuse_spark.operators.local import tile_merge

        existing = self.read_layer(layer, zoom).select(
            "tile_col", "tile_row", F.col("tile").alias("t_old")
        )
        upd = update.select(
            "tile_col", "tile_row", F.col("tile").alias("t_new")
        )
        merged = existing.join(upd, ["tile_col", "tile_row"], "full_outer").select(
            "tile_col",
            "tile_row",
            F.lit(None).cast("timestamp").alias("ts"),
            F.when(
                F.col("t_old").isNotNull() & F.col("t_new").isNotNull(),
                tile_merge(F.col("t_old"), F.col("t_new")),
            )
            .otherwise(F.coalesce("t_old", "t_new"))
            .alias("tile"),
        )
        # stage to a temp dir (never read+overwrite the same partition),
        # then rewrite the layer from the staged result — scales to any
        # layer size, no driver collect
        tmp = f"{self.base}/_staging/{layer}/{zoom}"
        merged.write.mode("overwrite").parquet(tmp)
        staged = self.spark.read.parquet(tmp)
        self.write_layer(staged, layer, zoom)
        self._delete_dir(f"{self.base}/_staging")

    def compact_layer(
        self, layer: str, zoom: int, target_files: int = 1
    ) -> None:
        """Rewrite a layer partition into ``target_files`` globally
        Z-ordered files.

        Incremental ingest (streaming foreachBatch merges, repeated
        merge_into_layer calls) accretes small files; at scale, scan
        cost and open-file overhead grow with file count while min/max
        pruning degrades as key ranges overlap. Compaction re-sorts
        once and restores the write-time layout contract (disjoint
        sorted key ranges per file). Same staging discipline as merge:
        never read and overwrite a partition in one job.
        """
        meta = self._meta(layer, zoom)
        current = self.read_layer(layer, zoom)
        tmp = f"{self.base}/_staging/compact/{layer}/{zoom}"
        current.write.mode("overwrite").parquet(tmp)
        staged = self.spark.read.parquet(tmp)
        self.write_layer(
            staged,
            layer,
            zoom,
            crs=meta["crs"] if meta else "EPSG:3857",
            target_files=target_files,
        )
        self._delete_dir(f"{self.base}/_staging")

    # -- attributes (S19) ---------------------------------------------------

    def write_attribute(self, layer: str, zoom: int, name: str, payload: str) -> None:
        write_json(
            self.spark,
            f"{self._attr_dir(layer, zoom)}/{_enc(name)}.json",
            {"layer": layer, "zoom": zoom, "name": name, "json": payload},
        )

    def read_attribute(self, layer: str, zoom: int, name: str) -> str | None:
        record = read_json(
            self.spark, f"{self._attr_dir(layer, zoom)}/{_enc(name)}.json"
        )
        return None if record is None else record["json"]

    # -- util ---------------------------------------------------------------

    def _meta_path(self, layer: str, zoom: int | None = None) -> str:
        """The layer's metadata dir, or its (layer, zoom) record."""
        path = f"{self.layers_path}/{_enc(layer)}"
        return path if zoom is None else f"{path}/{zoom}.json"

    def _attr_dir(self, layer: str, zoom: int | None = None) -> str:
        path = f"{self.attributes_path}/{_enc(layer)}"
        return path if zoom is None else f"{path}/{zoom}"

    def _meta(self, layer: str, zoom: int) -> dict | None:
        return read_json(self.spark, self._meta_path(layer, zoom))

    def _zooms(self, layer: str) -> list[int]:
        """The layer's zooms with a metadata record, ascending."""
        return sorted(
            int(name[: -len(".json")])
            for name in self._list(self._meta_path(layer))
            if name.endswith(".json")
        )

    def _partition_dir(self, layer: str) -> str:
        """The tile partition directory's form of ``layer``: the write
        escapes partition values the way Spark's partition discovery
        unescapes them."""
        utils = self.spark._jvm.org.apache.spark.sql.catalyst.catalog
        return utils.ExternalCatalogUtils.escapePathName(layer)

    def _list(self, path: str) -> list[str]:
        """Entry names under ``path`` ([] when it does not exist)."""
        fs, p = hadoop_path(self.spark, path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def _delete_dir(self, path: str) -> None:
        fs, p = hadoop_path(self.spark, path)
        fs.delete(p, True)


def _histogram_json(tiles: DataFrame, lo, hi, n_buckets: int = 16) -> str:
    """Layer histogram attribute (reference: rdd.histogram written at
    zoom 0, api/package.scala:146) over every band's cells of the
    written layer, between the write's observed ``lo`` and ``hi``: one
    global agg with one ``count_if`` column per bucket, so the counts
    take one pass and no grouping or sort."""
    if lo is None or hi is None or hi == lo:
        return json.dumps({"lo": lo, "hi": hi, "counts": []})
    step = (hi - lo) / n_buckets
    v = F.col("v")
    bucket = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(step)), F.lit(0)),
        F.lit(n_buckets - 1),
    )
    row = (
        tiles.select(F.explode(F.flatten(F.col("tile")["bands"])).alias("v"))
        .select(bucket.alias("bucket"))
        .agg(*[F.count_if(F.col("bucket") == i) for i in range(n_buckets)])
        .first()
    )
    return json.dumps(
        {
            "lo": lo,
            "hi": hi,
            "counts": [[i, int(c)] for i, c in enumerate(row) if c],
        }
    )
