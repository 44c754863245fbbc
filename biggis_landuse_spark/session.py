"""SparkSession factory for the engine.

Replaces the reference's hand-rolled SparkConf setup (Kryo serializer +
GeoTrellis registrator, Utils.scala:41-57 in /root/reference): on
Spark SQL, Tungsten/UnsafeRow + Arrow make a custom serializer
unnecessary. AQE is enabled so partition counts and skew handling are
runtime-adaptive instead of the reference's hard-coded
``RDD_PARTITIONS = 256`` (Utils.scala:22).
"""

from __future__ import annotations

import logging
import os
import threading

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "biggis_landuse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local-mode defaults are sized for the test harness; on a real
    cluster the same settings remain sensible: AQE coalesces and
    splits shuffle partitions at runtime, Arrow accelerates every
    pandas-UDF boundary, and UTC pins timestamp semantics so results
    are reproducible against external oracles.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 NEGATIVE RESULT (measured, then reverted):
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=
        # true lets AQE size cached-plan output and read 1.79× on
        # pagerank_suppliers (its 32 sub-MB cached edge partitions
        # coalesce), but it also coalesced the CPU-heavy cached
        # relations whose parallelism IS the optimization — knn_graph
        # 0.49×, ann_ivfpq_topk 0.37× (single-task pair explosion /
        # encode) in a same-hour A/B. Cache partitioning stays pinned;
        # vocab-sized iterative states size themselves explicitly
        # (see queries/textops._bpe_train).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata writes TIMESTAMP(NANOS) parquet (events.ts);
        # read as long and convert at the source (queries.load_tables)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # direct (off-heap) memory backs Arrow batch transfer and
        # netty shuffle buffers; the JVM default ties it to the heap
        # (8g), which 32 concurrent Arrow-emitting tasks exhaust at
        # scene scale (r10: 4 parallel band ingests x 8 row-band
        # chunks died OutOfDirectMemoryError). Size it for the box —
        # on a cluster the same knob is per executor.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:MaxDirectMemorySize="
            + os.environ.get("SPARK_GRAFT_DIRECT_MEM", "24g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# local_df calls that fell back from the Arrow path to the Python-RDD
# path in this process
LOCAL_DF_FALLBACKS = 0
_FALLBACKS_LOCK = threading.Lock()


def local_df(spark: SparkSession, rows, schema):
    """Small driver-local rows → DataFrame via the pandas/Arrow
    local-relation path (r10). ``createDataFrame(list)`` plans a
    PYTHON RDD scan over defaultParallelism partitions: ~1 s of
    python-worker boot per cold worker and ~0.5-0.7 s of round-trips
    per job even warm — measured 4.5 s for a one-row metadata write
    and a visible tax on every query that materializes a model-sized
    relation (codebooks, trained weights, PCA loadings). The pandas
    route converts through Arrow into a JVM-local relation (~0.2 s,
    no python at runtime). Falls back to the plain path for values
    Arrow refuses — correctness is never traded, and the fallback is
    never silent: it logs a WARNING naming the exception and counts
    itself in ``LOCAL_DF_FALLBACKS``."""
    global LOCAL_DF_FALLBACKS
    import pandas as pd

    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema=schema)
    try:
        first = rows[0]
        if hasattr(first, "asDict"):
            pdf = pd.DataFrame([r.asDict() for r in rows])
        else:
            pdf = pd.DataFrame(rows)
        # Arrow conversion zips pandas columns with schema fields
        # POSITIONALLY (names are ignored), so a dict/Row source whose
        # key order differs from the schema would silently write values
        # into the wrong columns wherever the types coincide. Reindex
        # to schema order whenever the frame carries names.
        names = [f.name for f in schema.fields] if hasattr(
            schema, "fields") else None
        if names and set(pdf.columns) == set(names):
            pdf = pdf[names]
        return spark.createDataFrame(pdf, schema=schema)
    except Exception as exc:
        with _FALLBACKS_LOCK:
            LOCAL_DF_FALLBACKS += 1
        log.warning(
            "local_df: Arrow path failed (%s: %s); falling back to the "
            "Python-RDD createDataFrame path",
            type(exc).__name__,
            exc,
        )
        return spark.createDataFrame(rows, schema=schema)
