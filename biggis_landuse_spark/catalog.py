"""Layer catalog: versioned tile storage + a JSON attribute store.

Replaces the reference's HDFS AttributeStore + Avro layer
readers/writers + SFC index (api/package.scala:62-385):

- ``{base}/tiles/<layer>/<zoom>/`` — tile rows, one
  :class:`~biggis_landuse_spark.versioning.VersionedLayerStore`
  snapshot per write: every overwrite and merge commits atomically,
  and a frame read before a rewrite keeps reading its own snapshot.
  The store owns the layout contract (time-major, then Z-order or
  Hilbert key within files, so Parquet row-group min/max stats prune
  time and space ranges — the role of the reference's
  ZCurveKeyIndexMethod, api/package.scala:143). A superseded snapshot
  stays on disk until ``store.vacuum``. Two writers racing on one key
  do not interleave: the loser gets the store's commit conflict.
- ``{base}/layers/<layer>/<zoom>.json`` — one metadata record per
  (layer, zoom) (TileLayerMetadata analog, GeotiffTilingExample.scala:
  50), published after each commit and taken from the committed
  snapshot.
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

Scale: writes never collect tiles; the metadata and histogram are one
aggregation over the committed snapshot, with the histogram's bucket
range read off its Parquet footers; reads list and read small files
with no Spark job; deletes drop whole directories.
"""

from __future__ import annotations

import json
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biggis_landuse_spark.model import LAYER_META_SCHEMA, WEB_MERCATOR
from biggis_landuse_spark.versioning import (
    VersionedLayerStore,
    _enc,
    hadoop_path,
    read_json,
    write_json,
)

N_BUCKETS = 16


class LayerCatalog:
    """Catalog service over a base directory (local FS or HDFS/S3 URI)."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base.rstrip("/")
        self.tiles_path = f"{self.base}/tiles"
        self.layers_path = f"{self.base}/layers"
        self.attributes_path = f"{self.base}/attributes"
        self.store = VersionedLayerStore(spark, self.tiles_path)

    # -- write -------------------------------------------------------------

    def write_layer(
        self,
        tiles: DataFrame,
        layer: str,
        zoom: int,
        crs: str = WEB_MERCATOR,
        target_files: int | None = None,
        index_method: str = "zorder",
    ) -> None:
        """Commit a tile DataFrame as (layer, zoom)'s new snapshot,
        globally SFC-ordered across ``target_files`` files
        (``VersionedLayerStore.write`` keeps the layout contract and
        its ``index_method``), then publish its metadata record and
        histogram attribute.

        Reference: writeRddToLayer (api/package.scala:130-180) = SFC
        index + Avro write + histogram attribute; here the SFC is a
        sort key and the histogram is a one-pass agg stored as JSON.
        """
        self.store.write(
            tiles.drop("layer", "zoom"), layer, zoom,
            target_files=target_files, index_method=index_method,
        )
        self._publish(layer, zoom, crs)

    def _publish(self, layer: str, zoom: int, crs: str | None = None) -> None:
        """Publish (layer, zoom)'s metadata record and histogram
        attribute from its committed snapshot: the histogram's bucket
        range and the cell type from the Parquet footers, everything
        else in one aggregation over the snapshot's cells. ``crs=None``
        keeps the recorded CRS."""
        if crs is None:
            meta = self._meta(layer, zoom)
            crs = meta["crs"] if meta else WEB_MERCATOR
        tiles = self.store.read(layer, zoom)
        t = F.col("tile")
        cells = F.flatten(t["bands"])
        span, cell_type = self._footer_stats(layer, zoom)
        if span is None:  # a NaN cell: the footers hold no range
            span = tiles.agg(
                F.min(F.array_min(cells)), F.max(F.array_max(cells))
            ).first()
        buckets = []
        if None not in span and span[0] != span[1]:
            # layer histogram (reference: rdd.histogram written at zoom
            # 0, api/package.scala:146): one count_if column per bucket,
            # so no grouping or sort; a null cell counts in bucket 0, a
            # cell-less tile's row (no position) in none
            step = (span[1] - span[0]) / N_BUCKETS
            at = F.floor((F.col("v") - F.lit(span[0])) / F.lit(step))
            bucket = F.when(
                F.col("i").isNotNull(),
                F.least(F.greatest(at, F.lit(0)), F.lit(N_BUCKETS - 1)),
            )
            buckets = [F.count_if(bucket == i) for i in range(N_BUCKETS)]
        # each cell row carries its tile's int fields (a string would be
        # a copy per cell); lo/hi are the cells' own (footers store 0.0
        # as -0.0)
        m = (
            tiles.select(
                "tile_col", "tile_row", t["cols"].alias("cols"),
                t["rows"].alias("rows"), F.size(t["bands"]).alias("n_bands"),
                F.posexplode_outer(cells).alias("i", "v"),
            )
            .agg(
                F.min("tile_col"), F.max("tile_col"), F.min("tile_row"),
                F.max("tile_row"), F.first("cols"), F.first("rows"),
                F.max("n_bands"), F.min("v"), F.max("v"), *buckets,
            )
            .first()
        )
        c0, c1, r0, r1, cols, rows, n_bands, lo, hi = m[:9]
        counts = [[i, int(c)] for i, c in enumerate(m[9:]) if c]
        write_json(self.spark, self._meta_path(layer, zoom), {
            "layer": layer,
            "zoom": zoom,
            "cell_type": cell_type,
            "crs": crs,
            "n_bands": n_bands,
            "tile_cols": cols,
            "tile_rows": rows,
            "layout_cols": c1 - c0 + 1,
            "layout_rows": r1 - r0 + 1,
            "key_col_min": c0,
            "key_col_max": c1,
            "key_row_min": r0,
            "key_row_max": r1,
            "extent": None,
        })
        self.write_attribute(
            layer, zoom, "histogramData",
            json.dumps({"lo": lo, "hi": hi, "counts": counts}),
        )

    def _footer_stats(self, layer: str, zoom: int):
        """((lo, hi) over every band cell, the smallest cell type) of
        (layer, zoom)'s current snapshot, from its Parquet footers'
        column statistics — no Spark job. Null cells are outside the
        statistics, as they are outside ``array_min``/``array_max``; a
        band column chunk with values but no min/max holds a NaN (the
        writer drops both then), and the range is None."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        manifest = self.store.manifest(layer, zoom)
        fs, data = hadoop_path(self.spark, manifest["data"])
        lo = hi = cell_type = None
        nan = False
        for st in fs.listStatus(data):
            if not st.getPath().getName().endswith(".parquet"):
                continue
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    st.getPath(), conf
                )
            )
            try:
                for block in reader.getFooter().getBlocks():
                    for chunk in block.getColumns():
                        path = chunk.getPath().toDotString()
                        s = chunk.getStatistics()
                        if path == "tile.cell_type" and s.hasNonNullValue():
                            ct = s.genericGetMin().toStringUsingUTF8()
                            cell_type = min(cell_type or ct, ct)
                        elif not path.startswith("tile.bands."):
                            continue
                        elif s.hasNonNullValue():
                            a, b = s.genericGetMin(), s.genericGetMax()
                            lo = a if lo is None else min(lo, a)
                            hi = b if hi is None else max(hi, b)
                        elif s.getNumNulls() < chunk.getValueCount():
                            nan = True
            finally:
                reader.close()
        return (None if nan else (lo, hi)), cell_type

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
        return self.layer_meta(layer, zoom)["crs"]

    def layer_meta(self, layer: str, zoom: int | None = None) -> dict:
        """The metadata record of (layer, zoom) — zoom=None means the
        coarsest level."""
        zooms = self._zooms(layer) if zoom is None else [zoom]
        meta = self._meta(layer, zooms[0]) if zooms else None
        if meta is None:
            raise KeyError(f"layer not found: {layer}")
        return meta

    def read_layer(
        self,
        layer: str,
        zoom: int | None = None,
        band: int | None = None,
        time_range: tuple | None = None,
    ) -> DataFrame:
        """Read (layer, zoom)'s committed snapshot — no Spark job, and
        the frame keeps reading that snapshot after later writes;
        optional band selection (reference: readRddFromLayer band
        coercion, api/package.scala:189-308) and, for space-time
        layers, a ``time_range=(start, end)`` half-open filter — pushed
        to the parquet scan, where the time-major write order makes it
        a row-group-pruning range predicate (the Hilbert-index read
        path, api/package.scala:225-245)."""
        if zoom is None:
            zoom = self.finest_zoom(layer)
        try:
            df = self.store.read(layer, zoom)
        except KeyError:
            if any(n.startswith("layer=") for n in self._list(self.tiles_path)):
                raise KeyError(  # written before snapshots: no manifest
                    f"{layer}/{zoom}: tiles in the old tiles/layer=…/zoom=… "
                    "layout; rewrite them with write_layer") from None
            raise
        df = df.select(
            "*", F.lit(layer).alias("layer"), F.lit(zoom).alias("zoom")
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
        """Drop one zoom or all zooms of a layer, every snapshot with
        its metadata and attributes (S5; reference:
        deleteLayerFromCatalog / deleteZoomLevelFromLayer,
        api/package.scala:67-102)."""
        for path in [
            self.store._layer_base(layer, zoom),
            self._meta_path(layer, zoom),
            self._attr_dir(layer, zoom),
        ]:
            fs, p = hadoop_path(self.spark, path)
            fs.delete(p, True)

    # -- merge (layer update) ----------------------------------------------

    def merge_into_layer(self, update: DataFrame, layer: str, zoom: int) -> None:
        """Merge an update into an existing layer (``store.merge``:
        cell-level coalesce(existing, update), committed as a new
        snapshot; reference: mergeRddIntoLayer, api/package.scala:
        328-385), then publish the records; the layer keeps its
        CRS."""
        self.store.merge(update, layer, zoom)
        self._publish(layer, zoom)

    def compact_layer(
        self, layer: str, zoom: int, target_files: int = 1
    ) -> None:
        """Rewrite (layer, zoom) into ``target_files`` globally
        Z-ordered files, as a new snapshot.

        Incremental ingest (streaming foreachBatch merges, repeated
        merge_into_layer calls) accretes small files; at scale, scan
        cost and open-file overhead grow with file count while min/max
        pruning degrades as key ranges overlap. Compaction re-sorts
        once and restores the write-time layout contract (disjoint
        sorted key ranges per file). The data is unchanged, so the
        records are too; the superseded snapshot stays until vacuum.
        """
        self.store.write(
            self.store.read(layer, zoom), layer, zoom, target_files=target_files
        )

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

    def _list(self, path: str) -> list[str]:
        """Entry names under ``path`` ([] when it does not exist)."""
        fs, p = hadoop_path(self.spark, path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]
