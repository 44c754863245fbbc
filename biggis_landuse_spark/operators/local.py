"""Local (per-cell) map algebra on tile struct columns.

Every op is a higher-order array function over the tile's band/pixel
arrays — JVM-side, codegen'd, NULL-propagating (NULL = NODATA,
SURVEY.md §1.2). The reference's per-pixel lambdas (``combineDouble``,
``mapDouble``, ``localAdd``…) map 1:1 onto ``zip_with``/``transform``.

Reference evidence per op is cited on each function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def map_pixels(tile: Column, fn, cell_type: str | None = None) -> Column:
    """Per-cell scalar map over every band (reference: ``mapDouble``,
    e.g. the z-score step SpatialGetisOrd.scala:80)."""
    return F.struct(
        tile["cols"].alias("cols"),
        tile["rows"].alias("rows"),
        (F.lit(cell_type) if cell_type else tile["cell_type"]).alias("cell_type"),
        F.transform(tile["bands"], lambda band: F.transform(band, fn)).alias(
            "bands"
        ),
    )


def combine(t1: Column, t2: Column, fn, cell_type: str = "float64") -> Column:
    """Binary per-cell combine of two co-registered tiles
    (reference: ``combineDouble``, NDVILayerExample.scala:70-72).
    NULL in either input propagates to the output cell."""
    return F.struct(
        t1["cols"].alias("cols"),
        t1["rows"].alias("rows"),
        F.lit(cell_type).alias("cell_type"),
        F.zip_with(
            t1["bands"],
            t2["bands"],
            lambda b1, b2: F.zip_with(b1, b2, fn),
        ).alias("bands"),
    )


def ndvi(nir: Column, red: Column) -> Column:
    """(nir - red) / (nir + red), NODATA-propagating; division by zero
    yields NULL via try_divide (ANSI-safe — Spark 4 defaults to ANSI
    mode where bare ``/`` would fail the job) — the analog of the
    reference's isData guard (NDVILayerExample.scala:55-61)."""
    return combine(nir, red, lambda i, r: F.try_divide(i - r, i + r))


def mask_bits(value_tile: Column, qa_tile: Column, bits: int) -> Column:
    """Bit-mask NODATA: cells whose QA value has any of ``bits`` set
    become NULL (reference cloud/cirrus mask `qa & 0x8000 / & 0x2000`,
    NDVILayerWithCloudMaskExample.scala:54-60)."""
    return combine(
        value_tile,
        qa_tile,
        lambda v, q: F.when(
            q.cast("long").bitwiseAND(F.lit(bits)) > 0, F.lit(None).cast("double")
        ).otherwise(v),
    )


def convert(tile: Column, cell_type: str) -> Column:
    """Cell-type conversion (P3; reference: tile.convert(
    DoubleConstantNoDataCellType), NDVILayerExample.scala:68-69).
    int32 floors toward zero like a numeric cast."""
    if cell_type == "int32":
        fn = lambda x: x.cast("int").cast("double")  # noqa: E731
    else:
        fn = lambda x: x.cast("double")  # noqa: E731
    return map_pixels(tile, fn, cell_type=cell_type)


def band_select(tile: Column, band: int) -> Column:
    """Single-band extraction (P7; reference: tile.band(n) / subsetBands,
    api/package.scala:214)."""
    return F.struct(
        tile["cols"].alias("cols"),
        tile["rows"].alias("rows"),
        tile["cell_type"].alias("cell_type"),
        F.array(tile["bands"][band]).alias("bands"),
    )


def band_concat(t1: Column, t2: Column) -> Column:
    """Band stacking of two co-registered tiles (reference:
    ArrayMultibandTile(bands1 ++ bands2),
    ManyLayersToMultibandLayer.scala:198-203)."""
    return F.struct(
        t1["cols"].alias("cols"),
        t1["rows"].alias("rows"),
        t1["cell_type"].alias("cell_type"),
        F.concat(t1["bands"], t2["bands"]).alias("bands"),
    )


def tile_merge(existing: Column, update: Column) -> Column:
    """Cell-level merge: prefer existing data cells, fill NODATA from
    the update (reference: Tile.merge inside mergeRddIntoLayer,
    api/package.scala:345-369)."""
    return F.struct(
        existing["cols"].alias("cols"),
        existing["rows"].alias("rows"),
        existing["cell_type"].alias("cell_type"),
        F.zip_with(
            existing["bands"],
            update["bands"],
            lambda b1, b2: F.zip_with(b1, b2, lambda o, n: F.coalesce(o, n)),
        ).alias("bands"),
    )


def normalize(tile: Column, vmin: Column, vmax: Column) -> Column:
    """Min-max rescale to [0,1] given (broadcast) global min/max
    (reference: band.normalize(min,max,0,1),
    UtilsSVM.NormalizeMultibandTile UtilsSVM.scala:316-359)."""
    return map_pixels(
        tile,
        lambda x: F.when(vmax == vmin, F.lit(0.0)).otherwise(
            (x - vmin) / (vmax - vmin)
        ),
    )


def reclassify(
    tile: Column,
    breaks: list[tuple[float, float, float]],
    default: float | None = None,
) -> Column:
    """Class recode (the land-use reclassification step; GeoTrellis
    localMap / ColorMap-style interval classification as a P4 scalar
    map): each ``(lo, hi, cls)`` maps cells with ``lo <= v < hi`` to
    ``cls``; unmatched cells become ``default`` (None = NODATA).
    First matching interval wins. Pure CASE-WHEN chain — whole-stage
    codegen, no Python."""

    def fn(v: Column) -> Column:
        out = F.lit(default).cast("double") if default is not None else F.lit(
            None
        ).cast("double")
        for lo, hi, cls in reversed(breaks):
            out = F.when(
                (v >= F.lit(float(lo))) & (v < F.lit(float(hi))),
                F.lit(float(cls)),
            ).otherwise(out)
        return F.when(v.isNull(), F.lit(None).cast("double")).otherwise(out)

    return map_pixels(tile, fn, cell_type="float64")
