"""SQL text surface over the engine (r10, VERDICT r9 #6).

The engine is DataFrame-first, but Catalyst gives SQL-over-text for
free once the relations have names: this module registers the star-
schema testdata tables and the parquet layer catalog as temp views so
arbitrary Spark SQL runs against the exact same normalized relations
the registry queries use (``queries.load_tables`` — events ``ts``
coerced to a plain microsecond TIMESTAMP, session tz UTC), and every
§2 shape a user writes as a DataFrame can equally be typed as SQL
(the parity pin: tests/test_cli.py runs the flagship NDVI-join shape
both ways and compares).

Reference twin: the reference drives everything through typed Scala
mains — it has no SQL console at all; this surface is Spark-native
value on top (``spark.sql`` is the same Catalyst planner the
DataFrame API feeds, so plans, pushdowns, and AQE behave
identically).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

#: the driver-registered star-schema tables (TESTDATA.md)
TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _ident(name: str) -> str:
    """Sanitize an arbitrary layer name into a SQL view identifier."""
    s = re.sub(r"[^A-Za-z0-9_]", "_", name)
    return s if s and not s[0].isdigit() else f"_{s}"


def register_testdata_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register each testdata parquet table present in ``sf_dir`` as a
    temp view under its canonical name, through the SAME loader the
    registry queries use (so SQL text sees identical schemas —
    including the events ``ts`` normalization)."""
    from biggis_landuse_spark.queries import load_tables

    names = [
        t for t in TESTDATA_TABLES
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    ]
    if names:
        for t, df in zip(names, load_tables(spark, sf_dir, *names)):
            df.createOrReplaceTempView(t)
    return names


def register_catalog_views(
    spark: SparkSession, catalog_dir: str
) -> list[str]:
    """Register the layer catalog for SQL: ``catalog_layers`` (the
    metadata relation) plus one ``layer_<name>_z<zoom>`` view per
    stored (layer, zoom) — each the ``read_layer`` frame of its
    committed snapshot, so SQL over a layer view scans exactly what
    ``read_layer`` would."""
    from biggis_landuse_spark.catalog import LayerCatalog

    cat = LayerCatalog(spark, catalog_dir)
    meta = cat.layers()
    meta.createOrReplaceTempView("catalog_layers")
    out = ["catalog_layers"]
    for layer, zoom in cat.layer_ids():
        view = f"layer_{_ident(layer)}_z{zoom}"
        cat.read_layer(layer, zoom).createOrReplaceTempView(view)
        out.append(view)
    return out


def run_sql(spark: SparkSession, text: str) -> DataFrame:
    """Run one SQL statement (Catalyst plans it exactly as the
    equivalent DataFrame chain)."""
    return spark.sql(text)
