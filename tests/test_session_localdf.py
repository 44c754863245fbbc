"""r11 ADVICE pin for session.local_df: PySpark's Arrow local-relation
path zips pandas columns with schema fields POSITIONALLY (names are
ignored), so a dict source whose key order differs from the schema
would silently write values into the wrong columns wherever the types
coincide. local_df reindexes named frames to schema order."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from biggis_landuse_spark.session import local_df

SCHEMA = StructType(
    [
        StructField("layer", StringType()),
        StructField("attr", StringType()),
        StructField("zoom", IntegerType()),
        StructField("rank", IntegerType()),
    ]
)


def test_dict_rows_out_of_schema_order(spark):
    # all-string and all-int column pairs: a positional zip would swap
    # them without a type error — exactly the silent-corruption case
    rows = [
        {"rank": 7, "zoom": 3, "attr": "histogram", "layer": "ndvi"},
        {"attr": "meta", "layer": "b04", "rank": 1, "zoom": 0},
    ]
    got = {tuple(r) for r in local_df(spark, rows, SCHEMA).collect()}
    assert got == {("ndvi", "histogram", 3, 7), ("b04", "meta", 0, 1)}


def test_row_objects_out_of_schema_order(spark):
    rows = [Row(zoom=5, layer="x", rank=2, attr="a")]
    [r] = local_df(spark, rows, SCHEMA).collect()
    assert (r["layer"], r["attr"], r["zoom"], r["rank"]) == ("x", "a", 5, 2)


def test_positional_tuples_still_work(spark):
    [r] = local_df(spark, [("l", "a", 1, 2)], SCHEMA).collect()
    assert (r["layer"], r["attr"], r["zoom"], r["rank"]) == ("l", "a", 1, 2)


def test_arrow_fallback_is_logged_and_counted(spark, monkeypatch, caplog):
    import pandas as pd

    from biggis_landuse_spark import session

    real = spark.createDataFrame

    def arrow_refuses(data, *args, **kwargs):
        if isinstance(data, pd.DataFrame):
            raise TypeError("arrow refused this frame")
        return real(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", arrow_refuses)
    before = session.LOCAL_DF_FALLBACKS
    rows = [{"layer": "ndvi", "attr": "histogram", "zoom": 3, "rank": 7}]
    with caplog.at_level("WARNING", logger="biggis_landuse_spark.session"):
        got = [tuple(r) for r in local_df(spark, rows, SCHEMA).collect()]
    assert got == [("ndvi", "histogram", 3, 7)]
    assert session.LOCAL_DF_FALLBACKS == before + 1
    [warning] = [r for r in caplog.records if r.levelname == "WARNING"]
    assert "TypeError" in warning.getMessage()
    assert "arrow refused this frame" in warning.getMessage()
