"""Tile/pixel data model (SURVEY.md §1.1).

The reference's unit of processing is a GeoTrellis ``Tile`` — a dense
2-D cell grid keyed by ``SpatialKey(col,row)`` inside a fixed layout,
with an RDD-attached ``TileLayerMetadata`` (reference:
api/package.scala:35-38, GeotiffTilingExample.scala:50). Here:

- a **tile table**: one row per (layer, zoom, tile_col, tile_row[, ts])
  with a ``tile`` struct column
  ``{cols, rows, cell_type, bands: array<array<double>>}`` — band-major,
  row-major pixels, NULL = NODATA (SURVEY.md §1.2 convention: NULL for
  relational ops; NaN appears only transiently inside numpy kernels);
- a **pixel table**: the exploded relational face
  (layer, zoom, tile_col, tile_row, band, px, py, value) — the
  reference's "pixeling" (UtilsML.scala:17-52) as a first-class dual;
- a **layer metadata record** per (layer, zoom) (``LAYER_META_SCHEMA``,
  kept by the catalog's attribute store) instead of metadata
  piggybacked on the distributed collection.

Scale note: a 256×256 double band is ~512 KiB; tiles are the unit of
locality, keys are plain int columns, so joins/aggregations shuffle
compact keyed rows and Parquet stores pixel arrays columnar-compressed.
"""

from __future__ import annotations

from pyspark.sql import types as T

TILE_SIZE = 256  # production default (reference Utils.scala:21)
FIXTURE_TILE_SIZE = 8  # test fixtures (FIXTURES.md B2)

CELL_TYPE_INT32 = "int32"
CELL_TYPE_FLOAT64 = "float64"

WEB_MERCATOR = "EPSG:3857"

TILE_STRUCT = T.StructType(
    [
        T.StructField("cols", T.IntegerType(), False),
        T.StructField("rows", T.IntegerType(), False),
        T.StructField("cell_type", T.StringType(), False),
        T.StructField(
            "bands",
            T.ArrayType(T.ArrayType(T.DoubleType(), containsNull=True)),
            False,
        ),
    ]
)

TILE_SCHEMA = T.StructType(
    [
        T.StructField("layer", T.StringType(), False),
        T.StructField("zoom", T.IntegerType(), False),
        T.StructField("tile_col", T.IntegerType(), False),
        T.StructField("tile_row", T.IntegerType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("tile", TILE_STRUCT, False),
    ]
)

PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("layer", T.StringType(), False),
        T.StructField("zoom", T.IntegerType(), False),
        T.StructField("tile_col", T.IntegerType(), False),
        T.StructField("tile_row", T.IntegerType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("px", T.IntegerType(), False),
        T.StructField("py", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)

EXTENT_STRUCT = T.StructType(
    [
        T.StructField("xmin", T.DoubleType(), False),
        T.StructField("ymin", T.DoubleType(), False),
        T.StructField("xmax", T.DoubleType(), False),
        T.StructField("ymax", T.DoubleType(), False),
    ]
)

LAYER_META_SCHEMA = T.StructType(
    [
        T.StructField("layer", T.StringType(), False),
        T.StructField("zoom", T.IntegerType(), False),
        T.StructField("cell_type", T.StringType(), False),
        T.StructField("crs", T.StringType(), False),
        T.StructField("n_bands", T.IntegerType(), False),
        T.StructField("tile_cols", T.IntegerType(), False),
        T.StructField("tile_rows", T.IntegerType(), False),
        T.StructField("layout_cols", T.IntegerType(), False),
        T.StructField("layout_rows", T.IntegerType(), False),
        T.StructField("key_col_min", T.IntegerType(), False),
        T.StructField("key_col_max", T.IntegerType(), False),
        T.StructField("key_row_min", T.IntegerType(), False),
        T.StructField("key_row_max", T.IntegerType(), False),
        T.StructField("extent", EXTENT_STRUCT, True),
    ]
)
