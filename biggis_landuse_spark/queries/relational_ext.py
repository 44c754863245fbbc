"""Extended relational surface: the operator families a complete
engine exposes beyond the reference's RDD joins/aggs (SURVEY.md §2.4
note, §2.7) — semi/anti joins, scalar subqueries, pivot, grouping
sets, exact grouped percentiles, ntile bucketing, calendar rollups,
deterministic stratified sampling, statistical aggregates, regex
predicates, and distinct-aggregation (exact + HLL sketch).

The reference never needed these (its "queries" are raster
pipelines), but a user replacing it with this engine gets them as
first-class, oracle-checked operators on the same star schema. Each
query keeps the repo's float discipline: identical aliases and
identical rounding on the Spark and DuckDB sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from biggis_landuse_spark.queries import load_tables, register

# ---------------------------------------------------------------------------
# Semi / anti joins
# ---------------------------------------------------------------------------


@register(
    "semi_join_urgent",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)  AS n_customers,
           round(avg(c_acctbal), 2)  AS avg_bal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c_mktsegment
    """,
    doc="""Left-semi join (EXISTS): customers with at least one urgent
    order, summarized per market segment. At scale the filtered orders
    side is reduced BEFORE the join and the semi join never duplicates
    fact rows — no post-join distinct needed. Broadcast-able when the
    filtered key set is small.""",
    tags=("J",),
)
def semi_join_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(
            urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
    )


@register(
    "anti_join_never_bulk",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT)      AS n_parts,
           round(sum(p_retailprice), 2)  AS sum_price
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45
    )
    GROUP BY p_brand
    """,
    doc="""Left-anti join (NOT EXISTS): parts never ordered in bulk
    (quantity > 45), per brand. The anti join's filter is pushed to the
    fact scan; the surviving key set shuffles, not the fact rows.""",
    tags=("J",),
)
def anti_join_never_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem = load_tables(spark, sf_dir, "part", "lineitem")
    bulk = lineitem.where(F.col("l_quantity") > 45)
    return (
        part.join(bulk, part.p_partkey == bulk.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar subquery
# ---------------------------------------------------------------------------


@register(
    "above_avg_parts",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT)      AS n_parts,
           round(avg(p_retailprice), 2)  AS avg_price
    FROM part
    WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
    GROUP BY p_brand
    """,
    doc="""Scalar-subquery filter: parts priced above the global mean.
    Expressed as a 1-row aggregate broadcast-joined against the scan —
    the two-pass global-stat-then-filter shape of the reference's
    min/max normalization (UtilsSVM.scala:316-386) applied as a
    predicate.""",
    tags=("P5", "A2"),
)
def above_avg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    stats = part.agg(F.avg("p_retailprice").alias("_gavg"))
    return (
        part.join(F.broadcast(stats))
        .where(F.col("p_retailprice") > F.col("_gavg"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot / grouping sets
# ---------------------------------------------------------------------------


@register(
    "pivot_status_revenue",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F'
                 THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_f,
           round(sum(CASE WHEN l_linestatus = 'O'
                 THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_o,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="""Pivot (long→wide conditional aggregation): revenue per
    return flag spread across line-status columns. Spark's pivot with
    an explicit value list reads the fact table ONCE and runs two
    partial-aggregated shuffles over group-cardinality data — no
    value-discovery pass (which at 100 TB would be a full extra
    scan). The CASE WHEN oracle is the equivalent wide conditional
    aggregate.""",
    tags=("A",),
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    wide = (
        lineitem.withColumn("_net", net)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("_net"), 2).alias("rev"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return wide.select(
        "l_returnflag",
        F.col("F_rev").alias("rev_f"),
        F.col("O_rev").alias("rev_o"),
        (F.coalesce(F.col("F_cnt"), F.lit(0)) + F.coalesce(F.col("O_cnt"), F.lit(0)))
        .cast("long")
        .alias("n"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(count(*) AS BIGINT)      AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    -- Spark emits NO rows over empty input (no () grand-total row);
    -- DuckDB emits one — align on the engine's semantics
    HAVING count(*) > 0
    """,
    doc="""Explicit GROUPING SETS (asymmetric set list — not a rollup
    or cube): detail, one single-column margin, and the grand total in
    ONE shuffle with per-set partial aggregation.""",
    tags=("A",),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(count(*) AS BIGINT)      AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# Exact percentiles / ntile
# ---------------------------------------------------------------------------


@register(
    "grouped_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="""EXACT grouped percentiles (interpolated, SQL-standard
    PERCENTILE_CONT semantics) — the exact counterpart of the serving
    path's approxQuantile color breaks (A3). Exact percentile sorts
    per group inside the aggregate; the approx variant
    (quantile_breaks) is the 100 TB default, this is the
    small-group/finishing-pass tool.""",
    tags=("A3",),
)
def grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
            "median_price"
        ),
    )


@register(
    "ntile_price_bands",
    oracle="""
    SELECT band,
           CAST(count(*) AS BIGINT)     AS n_parts,
           round(min(p_retailprice), 2) AS lo,
           round(max(p_retailprice), 2) AS hi
    FROM (
      SELECT p_retailprice,
             ntile(4) OVER (ORDER BY p_retailprice, p_partkey) AS band
      FROM part
    )
    GROUP BY band
    """,
    doc="""ntile quartile banding over a deterministic total order
    (price, key) — the ranking-window surface (SURVEY.md §2.5 note).
    Computed with the DISTRIBUTED two-phase rank
    (operators/ranking.py): range-partition on the order key, rank
    within partitions in parallel, add broadcast partition offsets —
    bit-identical to ``ntile(4) OVER (ORDER BY ...)`` but no stage
    ever moves all rows through one task (the WindowExec
    single-partition cliff a naive global ntile hits at 100 TB).""",
    tags=("W",),
)
def ntile_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biggis_landuse_spark.operators.ranking import global_ntile

    (part,) = load_tables(spark, sf_dir, "part")
    banded = global_ntile(
        part.select("p_retailprice", "p_partkey"),
        ["p_retailprice", "p_partkey"],
        n=4,
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.min("p_retailprice"), 2).alias("lo"),
        F.round(F.max("p_retailprice"), 2).alias("hi"),
    )


# ---------------------------------------------------------------------------
# Calendar rollup / sampling / stats / regex / distinct aggregation
# ---------------------------------------------------------------------------


@register(
    "monthly_revenue",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(count(*) AS BIGINT)         AS n_orders,
           round(sum(o_totalprice), 2)      AS revenue
    FROM orders
    GROUP BY date_trunc('month', o_orderdate)
    """,
    doc="""Calendar rollup: date_trunc month buckets over the order
    timeline (date/time scalar surface, SURVEY.md §2.8). Partial-agg
    combines map-side; month cardinality is tiny so the shuffle is
    negligible at any scale.""",
    tags=("A",),
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "stratified_sample",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_sampled,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 1)
          IN ('0', '1')
    GROUP BY l_returnflag
    """,
    doc="""Deterministic ~12.5% stratified sample: rows whose md5 row
    digest starts with hex 0/1 (2/16 of the hash space), summarized
    per stratum. Content-hash sampling is reproducible across engines,
    runs, AND partitionings — unlike rand()-based sampling — which is
    what a training-data pipeline needs for auditable subset builds
    (same family as deterministic_split).""",
    tags=("P10",),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    digest = F.md5(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    )
    return (
        lineitem.where(F.substring(digest, 1, 1).isin("0", "1"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "stats_corr",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4)        AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2)  AS qty_price_covar,
           round(stddev_samp(l_quantity), 4)                  AS qty_sd
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="""Statistical aggregate surface: Pearson correlation, sample
    covariance, and stddev per group — single-pass partial-aggregated
    moments (no per-group sort). 4dp rounding on the sqrt-bearing
    outputs per the cross-engine float discipline.""",
    tags=("A2",),
)
def stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_sd"),
    )


@register(
    "regex_digit_docs",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN regexp_matches(text, '[0-9]')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_digit
    FROM documents
    GROUP BY source
    """,
    doc="""Regex predicate surface over the documents corpus (string
    family, SURVEY.md §2.8): digit-bearing docs per source. The rlike
    predicate evaluates inside whole-stage codegen; only (source,
    text) is read from the scan.""",
    tags=("text",),
)
def regex_digit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    return documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("text").rlike("[0-9]"), 1).otherwise(0))
        .cast("long")
        .alias("n_with_digit"),
    )


@register(
    "distinct_agg_orders",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT l_partkey)  AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT)                   AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="""Exact multi-column distinct aggregation (SURVEY.md §2.4
    notes the reference has none): distinct orders and parts per
    return flag. Spark expands multiple DISTINCTs via a grouping-sets
    rewrite — one logical pass, no self-join.""",
    tags=("A",),
)
def distinct_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "approx_distinct_orders",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders_exact,
           CAST(count(*) AS BIGINT)                   AS n_rows,
           TRUE                                       AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="""HLL approx-distinct sketch per group — the 100 TB-scale
    companion to distinct_agg_orders (estimate instead of exact
    shuffle-heavy distinct). The raw sketch estimate is
    engine-specific by design, so the query exports the PORTABLE
    contract instead: the exact count plus a boolean asserting the
    HLL estimate (rsd=0.02) landed within 5% of it — the oracle
    hash-checks that bit, so a broken sketch path fails the diff
    rather than hiding behind a rows-only check. The HLL aggregate
    still executes in the same plan.""",
    tags=("A",),
)
def approx_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("n_approx"),
        F.count_distinct("l_orderkey").alias("n_orders_exact"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        "l_returnflag",
        "n_orders_exact",
        "n_rows",
        (
            F.abs(F.col("n_approx") - F.col("n_orders_exact"))
            <= 0.05 * F.col("n_orders_exact")
        ).alias("approx_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Classic selective multi-join analytics (TPC-H Q3/Q5 shapes)
# ---------------------------------------------------------------------------


@register(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND l.l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="""TPC-H Q3 shape (shipping priority): selective 3-table join
    — segment filter on the customer dim, date filters pushed to both
    fact scans — then grouped revenue and a global top-10. All filters
    reach the parquet scans (PushedFilters). No broadcast hints: the
    date/segment predicates cut cardinality by a constant factor only,
    so at 100 TB both sides are still multi-TB — AQE picks the join
    strategy from observed sizes instead. The LIMIT is a
    TakeOrderedAndProject, not a full sort.""",
    tags=("J2", "O1"),
    bench=True,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.where(F.col("l_shipdate") > "1996-01-01")
        .join(
            orders.where(F.col("o_orderdate") < "1996-01-01"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .join(
            customer.where(F.col("c_mktsegment") == "BUILDING"),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(net), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(15,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(15,2)))), 2)
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
    doc="""TPC-H Q5 shape (local supplier volume): a 6-table star join
    — region filter prunes nations; the bounded dimensions (supplier,
    nation, region) broadcast, while lineitem⋈orders⋈customer — all
    unbounded, SF-proportional tables — are left to AQE to pick
    shuffle-hash vs sort-merge (forcing a broadcast of orders/customer
    would OOM a 100 TB run). The customer/supplier same-nation
    predicate rides the supplier join. Revenue is summed and rounded
    in exact DECIMAL(15,2) arithmetic (the TPC-H money type) and only
    the rounded result is cast to DOUBLE: a double sum that lands on
    a 2-dp tie (e.g. 1.005) rounds up in Spark, which rounds the
    shortest decimal repr, and down in DuckDB, which rounds the
    binary value.""",
    tags=("J2", "J3"),
    bench=True,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, supplier, nation, region = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    net = F.col("l_extendedprice").cast("decimal(15,2)") * (
        1 - F.col("l_discount").cast("decimal(15,2)")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(
            F.broadcast(
                region.where(F.col("r_name") == "ASIA")
            ),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(net), 2).cast("double").alias("revenue"),
        )
    )


@register(
    "trailing_7d_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day,
             sum(o_totalprice) AS rev
      FROM orders
      GROUP BY 1
    )
    SELECT day,
           round(rev, 2) AS day_revenue,
           round(sum(rev) OVER (
             ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 2) AS trailing_7d
    FROM daily
    """,
    doc="""RANGE-frame window: per-day revenue plus its trailing
    7-day sum. The frame is a RANGE over the integer day key, so gaps
    in the calendar are handled by value, not by row offset. Daily
    pre-aggregation happens FIRST (one partial-agged shuffle shrinks
    the fact table to |days| rows) — the window then sorts only the
    tiny daily relation. An unpartitioned ORDER BY window is a
    single-task sort: safe at |days| cardinality, and the pattern to
    avoid over raw fact rows at 100 TB.""",
    tags=("W", "A"),
)
def trailing_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    daily = orders.groupBy(
        (F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("bigint")
        .alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = W.orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "day",
        F.round("rev", 2).alias("day_revenue"),
        F.round(F.sum("rev").over(w), 2).alias("trailing_7d"),
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics: PageRank (fixed iterations)
# ---------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITERS = 3


def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT nodes.id,
             0.15 / (SELECT cnt FROM n) + {_PR_D} * coalesce(c.s, 0) AS r
      FROM nodes LEFT JOIN (
        SELECT e.dst AS id, sum({prev}.r / d.d) AS s
        FROM edges e
        JOIN {prev} ON e.src = {prev}.id
        JOIN deg d  ON d.src = e.src
        GROUP BY e.dst
      ) c USING (id)
    )"""


@register(
    "pagerank_suppliers",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
      UNION ALL
      SELECT s * 2 + 1 AS src, c * 2 AS dst FROM e0
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    n AS (SELECT count(*) AS cnt FROM nodes),
    r0 AS (SELECT id, 1.0 / (SELECT cnt FROM n) AS r FROM nodes),
    {",".join(_pagerank_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS))}
    SELECT CAST(id // 2 AS BIGINT) AS node_key,
           CASE WHEN id % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_type,
           round(r, 6) AS score
    FROM r{_PR_ITERS}
    ORDER BY round(r, 6) DESC, id LIMIT 20
    """,
    doc="""Fixed-iteration PageRank (d=0.85, 3 rounds) over the
    customer<->supplier bipartite graph induced by orders x lineitem
    — the iterative-algorithm surface (label propagation's weighted
    cousin; complements functions/graph.py connected_components).
    Scale shape: the edge list is the big relation and is the ONLY
    thing shuffled per iteration (join on src, groupBy dst — both
    key-partitioned); the rank vector is |nodes| rows, orders of
    magnitude smaller than edges; degrees are computed once. Every
    node here has out-edges (the graph is symmetric), so no dangling
    mass term. The loop is unrolled as DataFrame composition — no
    driver-side collect between iterations; at 100 TB you checkpoint
    the rank vector every few rounds to cut the growing lineage.
    Oracle: the same three iterations as unrolled DuckDB CTEs.""",
    tags=("GRAPH", "J"),
    bench=True,
)
def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    e0 = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    fwd = e0.select(
        (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
    )
    edges = fwd.unionByName(
        e0.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # the loop-invariant relations are re-read every iteration: persist
    # them so the orders⋈lineitem⋈distinct pipeline runs once, not per
    # round (the exact "cache the edge list" step every production
    # PageRank does; at 100 TB this is a persisted shuffle-partitioned
    # table, MEMORY_AND_DISK spills per-executor, never the driver).
    # hold_cache registers them for harness-level release_caches() so
    # a 139-query session doesn't accumulate caches (ADVICE r4).
    from biggis_landuse_spark.queries import hold_cache

    # r11 (guide §2.4): cache the weighted edge list ALREADY
    # hash-partitioned by src — the deg join broadcasts, so the cached
    # partitioning was the upstream distinct's (c, s) layout and every
    # iteration re-exchanged the edge list by src (3 shuffles of the
    # fact-sized relation per query; plans/r11/pagerank_suppliers_
    # before.txt). Repartitioned once at cache time, the per-round
    # join reuses the cached layout.
    #
    # r12 (guide §2.2): SIZE the cached layout instead of inheriting
    # the static shuffle partition count — cached plans keep their
    # partitioning, so `repartition("src")` froze the fixture's ~30 MB
    # edge list into 32 sub-MB partitions and every iteration paid a
    # 32-task wave over near-empty partitions (a same-hour A/B with
    # AQE allowed to re-coalesce cached output read 1.79× — that conf
    # was rejected globally, see session.py, so the sizing happens
    # here). The partition count is DATA-derived, never a core count:
    # each lineitem row yields at most 2 edge rows, so the edge list
    # is sized as twice the lineitem scan's plan size (the optimizer's
    # sizeInBytes: file sizes from the listing, no job), over a 64 MB
    # advisory target — the fixture lands at 1 partition, a 100 TB
    # edge list grows with its input, and the partition count is
    # identical at any $SPARK_GRAFT_CPUS so core-scaling bench legs
    # stay comparable.
    li_bytes = int(
        lineitem._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    edge_parts = max(1, (2 * li_bytes) // (64 << 20) + 1)
    edges_w = hold_cache(
        edges.join(deg, "src").repartition(edge_parts, "src")
    )
    nodes = hold_cache(nodes)
    # the node count is a single integer: collect it ONCE driver-side
    # (a count over the cached node list — metadata-sized traffic) and
    # embed it as a literal, instead of planting a 1-row aggregate +
    # broadcast exchange inside every iteration of the unrolled loop.
    # Exact by construction (integer count → the same double division
    # the oracle's CTE performs); removes ~_PR_ITERS broadcast stages.
    cnt = nodes.count()
    if cnt == 0:
        # empty graph (e.g. every order filtered out upstream): no
        # rows flow, but 1.0/0 on the driver would throw before the
        # plan even runs — keep the literal finite; the result is the
        # same empty relation either way
        cnt = 1
    ranks = nodes.select("id", F.lit(1.0 / cnt).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges_w.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("s"))
        )
        # the graph is symmetric, so every node has in-edges and
        # contrib already covers ALL nodes — the oracle's
        # nodes-LEFT-JOIN is the general form, this is the same result
        # without re-joining the node list every round
        ranks = contrib.select(
            "id",
            (
                F.lit(0.15) / F.lit(float(cnt))
                + F.lit(_PR_D) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("r"),
        )
    return (
        ranks.select(
            (F.col("id") / 2).cast("long").alias("node_key"),
            F.when(F.col("id") % 2 == 0, F.lit("cust"))
            .otherwise(F.lit("supp"))
            .alias("node_type"),
            F.round("r", 6).alias("score"),
            "id",
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(20)
        .drop("id")
    )


# ---------------------------------------------------------------------------
# Statistical tests: chi-square independence on a contingency table
# ---------------------------------------------------------------------------


@register(
    "chi2_status_priority",
    oracle="""
    WITH obs AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    rows_ AS (SELECT s, sum(o) AS rt FROM obs GROUP BY s),
    cols_ AS (SELECT p, sum(o) AS ct FROM obs GROUP BY p),
    n AS (SELECT sum(o) AS total FROM obs),
    grid AS (
      SELECT rows_.s, cols_.p, rt, ct, COALESCE(obs.o, 0) AS o, total
      FROM rows_ CROSS JOIN cols_ CROSS JOIN n
      LEFT JOIN obs USING (s, p)
    )
    SELECT round(sum(pow(o - rt * ct / CAST(total AS DOUBLE), 2)
                     / (rt * ct / CAST(total AS DOUBLE))), 4) AS chi2,
           CAST((count(DISTINCT s) - 1) * (count(DISTINCT p) - 1)
                AS BIGINT) AS dof
    FROM grid
    """,
    doc="""Chi-square independence test on the order-status ×
    order-priority contingency table — the statistical-test surface
    (scipy.stats.chi2_contingency's statistic, computed distributed).
    One partial-aggregated fact shuffle produces the observed counts;
    marginals and N derive from that tiny relation; the full grid
    (including zero cells, which the test requires) is a bounded
    dims-only cross join. Integer counts keep everything exact until
    the final expected-value divisions, rounded at 4dp.""",
    tags=("A2",),
)
def chi2_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_ = obs.groupBy("s").agg(F.sum("o").alias("rt"))
    cols_ = obs.groupBy("p").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("total"))
    grid = (
        rows_.crossJoin(cols_)
        .crossJoin(F.broadcast(n))
        .join(obs, ["s", "p"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
    )
    e = F.col("rt") * F.col("ct") / F.col("total").cast("double")
    return grid.agg(
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 4).alias("chi2"),
        (
            (F.count_distinct("s") - 1) * (F.count_distinct("p") - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "rfm_segments",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(max(epoch(o_orderdate)) AS BIGINT) AS ld,
             count(*)                                AS fq,
             round(sum(o_totalprice), 2)             AS mo
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT ntile(4) OVER (ORDER BY ld, o_custkey) AS rb,
             ntile(4) OVER (ORDER BY fq, o_custkey) AS fb,
             ntile(4) OVER (ORDER BY mo, o_custkey) AS mb
      FROM per
    )
    SELECT CAST(rb AS BIGINT) AS rb, CAST(fb AS BIGINT) AS fb,
           CAST(mb AS BIGINT) AS mb,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM b GROUP BY 1, 2, 3
    """,
    doc="""RFM customer segmentation (recency / frequency / monetary
    quartiles): per-customer metrics from one partial-aggregated
    orders shuffle, then THREE exact global NTILE(4) bucketings
    through operators/ranking.py global_ntile — each a range shuffle
    + parallel local rank + broadcast offsets, bit-identical to the
    single-window ntile the oracle runs but with no single-task sort
    of the customer universe. Monetary sums land exactly on 2dp
    decimal multiples, so the rounded ordering key can never straddle
    across engines; all three orderings tie-break on custkey.""",
    tags=("A", "W"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biggis_landuse_spark.operators.ranking import global_ntile

    (orders,) = load_tables(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max(F.unix_timestamp("o_orderdate")).alias("ld"),
        F.count(F.lit(1)).alias("fq"),
        F.round(F.sum("o_totalprice"), 2).alias("mo"),
    )
    per = global_ntile(per, ["ld", "o_custkey"], 4, out_col="rb")
    per = global_ntile(per, ["fq", "o_custkey"], 4, out_col="fb")
    per = global_ntile(per, ["mo", "o_custkey"], 4, out_col="mb")
    return per.groupBy(
        F.col("rb").cast("long").alias("rb"),
        F.col("fb").cast("long").alias("fb"),
        F.col("mb").cast("long").alias("mb"),
    ).agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "percent_rank_parts",
    oracle="""
    WITH pr AS (
      SELECT p_brand,
             percent_rank() OVER (
               PARTITION BY p_brand
               ORDER BY p_retailprice, p_partkey) AS pr,
             cume_dist() OVER (
               PARTITION BY p_brand
               ORDER BY p_retailprice, p_partkey) AS cd
      FROM part
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT)                   AS n_parts,
           CAST(count(*) FILTER (pr >= 0.9) AS BIGINT) AS n_top_decile,
           round(avg(cd), 6)                           AS avg_cume_dist
    FROM pr GROUP BY p_brand
    """,
    doc="""Relative-rank window surface (percent_rank + cume_dist):
    per-brand price position of every part, aggregated to the
    top-decile count — the grade-on-a-curve shape. Both window
    functions run inside brand partitions (parallelism scales with
    brands, no global sort); the (price, partkey) ordering is total
    so ranks are engine-identical.""",
    tags=("W",),
)
def percent_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    pr = part.select(
        "p_brand",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return pr.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum((F.col("pr") >= 0.9).cast("long")).alias("n_top_decile"),
        F.round(F.avg("cd"), 6).alias("avg_cume_dist"),
    )


@register(
    "table_stats",
    oracle="""
    SELECT 'l_quantity' AS col,
           CAST(count(*) AS BIGINT)                 AS n_rows,
           CAST(count(l_quantity) AS BIGINT)        AS n_nonnull,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
           round(min(l_quantity), 2)                AS min_v,
           round(max(l_quantity), 2)                AS max_v,
           round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 / count(l_quantity), 6) AS avg_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           CAST(count(*) AS BIGINT),
           CAST(count(l_discount) AS BIGINT),
           CAST(count(DISTINCT l_discount) AS BIGINT),
           round(min(l_discount), 2),
           round(max(l_discount), 2),
           round(sum(CAST(round(l_discount * 100) AS BIGINT)) / 100.0 / count(l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(count(*) AS BIGINT),
           CAST(count(l_extendedprice) AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           round(min(l_extendedprice), 2),
           round(max(l_extendedprice), 2),
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / count(l_extendedprice), 6)
    FROM lineitem
    """,
    doc="""ANALYZE-style column statistics (row count, null count,
    exact NDV, min/max, mean) for three lineitem columns in ONE scan:
    Spark's multi-DISTINCT aggregate expands to a single Expand +
    two-level hash aggregate, so the fact table is read once, not
    once per column — the stats-collection pass a cost-based
    optimizer (and this engine's own broadcast decisions) feeds on.
    The oracle's 3-scan UNION is the semantic spec; the engine's
    single-pass plan is the point.""",
    tags=("A2",),
)
def table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    # one scan, one multi-distinct aggregate: melt the three columns
    # first, then aggregate per column name
    melted = lineitem.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"), F.col(c).cast("double").alias("v")
                    )
                    for c in ("l_quantity", "l_discount", "l_extendedprice")
                ]
            )
        ).alias("m")
    ).select("m.col", "m.v")
    return melted.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        F.count_distinct(F.col("v")).alias("ndv"),
        F.round(F.min("v"), 2).alias("min_v"),
        F.round(F.max("v"), 2).alias("max_v"),
        # mean from exact integer cents: a 6dp-rounded float avg over
        # 60k values is order-unstable across sessions (driver-sim flake)
        F.round(
            F.sum(F.round(F.col("v") * 100).cast("long")) / 100.0
            / F.count("v"),
            6,
        ).alias("avg_v"),
    )


@register(
    "fuzzy_name_matches",
    oracle="""
    SELECT a.c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(levenshtein(a.c_name, b.c_name)) AS BIGINT) AS min_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND substring(a.c_name, 1, greatest(length(a.c_name) - 3, 0))
         = substring(b.c_name, 1, greatest(length(b.c_name) - 3, 0))
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    GROUP BY 1
    """,
    doc="""Blocked fuzzy record linkage: candidate pairs come from an
    equi-join on a TWO-level blocking key — (nation × segment) plus a
    name-prefix block (all but the last 3 characters) — never the
    all-pairs product; the Levenshtein edit-distance predicate refines
    inside the join stage (JVM built-in, exact integers, no float
    discipline needed). The first level alone has constant cardinality
    (125 blocks), so block size would grow linearly with the customer
    table; the prefix level's cardinality grows WITH the data (names
    embed the key), capping each block at the suffix alphabet
    (<= 10^3 for digit suffixes) regardless of scale. Recall contract
    (standard prefix blocking, same shape as LSH bands capping hot
    shingles): a pair is guaranteed found iff its edits are confined
    to the last 3 characters; cross-prefix matches are traded for
    bounded blocks — the tradeoff tests/test_fuzzy_blocking.py pins.""",
    tags=("DEDUP", "J"),
)
def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = load_tables(spark, sf_dir, "customer")
    pfx = F.expr("substring(c_name, 1, greatest(length(c_name) - 3, 0))")
    a = customer.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("na"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("seg"),
        pfx.alias("pfx"),
    )
    b = customer.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("nb"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("seg"),
        pfx.alias("pfx"),
    )
    dist = F.levenshtein(F.col("na"), F.col("nb"))
    return (
        a.join(b, ["nationkey", "seg", "pfx"])
        .where((F.col("ka") < F.col("kb")) & (dist <= 2))
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(dist).cast("long").alias("min_dist"),
        )
    )


@register(
    "pareto_parts",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
    cum AS (
      SELECT pk, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, pk) AS BIGINT) AS c
      FROM rev
    )
    SELECT CASE WHEN c * 100 <= 80 * t THEN 'A'
                WHEN c * 100 <= 95 * t THEN 'B'
                ELSE 'C' END                    AS class,
           CAST(count(*) AS BIGINT)             AS n_parts,
           round(sum(cents) / 10000.0, 2)       AS revenue
    FROM cum CROSS JOIN tot GROUP BY 1
    """,
    doc="""Pareto / ABC inventory classification: parts ranked by
    revenue, classes cut at 80% / 95% cumulative share. The running
    total over the revenue-descending order runs through
    operators/ranking.py grouped_cumsum (range-partitioned prefix
    sum — a global ORDER BY window with NO single-task sort), the
    per-part revenues convert to integer ten-thousandths (2dp price
    × 2dp discount) so every sum in the pipeline
    are exact whole numbers — invariant to partition count and sum
    order on both engines, and the total is a 1-row broadcast. The
    classic long-tail analysis at fact-table scale.""",
    tags=("A", "W"),
)
def pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biggis_landuse_spark.operators.ranking import grouped_cumsum

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    # integer cents: the prefix sums are exact whole numbers, so the
    # class cuts are invariant to partition count and sum order —
    # double prefix sums flip boundary parts between runs (caught by
    # the cross-session driver-sim check)
    # price is a 2dp decimal and discount a 2dp fraction, so
    # price_cents * (100 - disc_pct) is an EXACT integer in
    # ten-thousandths — no float sum anywhere in the ranking key
    cents_term = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    rev = lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(cents_term).cast("long").alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    # descending order via negated key (grouped_cumsum sorts ascending)
    cum = grouped_cumsum(
        rev.withColumn("_g", F.lit(1)).withColumn("_neg", -F.col("cents")),
        group_cols=["_g"],
        order_cols=["_neg", "pk"],
        value_col="cents",
        out_col="c",
    )
    cls = (
        F.when(F.col("c") * 100 <= 80 * F.col("t"), "A")
        .when(F.col("c") * 100 <= 95 * F.col("t"), "B")
        .otherwise("C")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(cls.alias("class"), "cents")
        .groupBy("class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("cents") / 10000.0, 2).alias("revenue"),
        )
    )


_MB_MIN_SUPPORT = 3  # orders containing the pair


@register(
    "market_basket_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
    single AS (SELECT pk, count(*) AS c FROM items GROUP BY pk),
    pairs AS (
      SELECT a.pk AS pa, b.pk AS pb, count(*) AS cab
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    )
    SELECT pa, pb,
           CAST(cab AS BIGINT) AS n_together,
           round(cab * CAST(n.n_orders AS DOUBLE) / (sa.c * sb.c), 4)
             AS lift
    FROM pairs
    JOIN single sa ON pairs.pa = sa.pk
    JOIN single sb ON pairs.pb = sb.pk
    CROSS JOIN n
    WHERE cab >= {_MB_MIN_SUPPORT}
    ORDER BY round(cab * CAST(n.n_orders AS DOUBLE) / (sa.c * sb.c), 4)
             DESC, pa, pb
    LIMIT 15
    """,
    doc="""Market-basket association mining: part pairs co-purchased in
    the same order, ranked by lift = P(ab)/(P(a)P(b)) above a support
    floor. In-basket pairs come from the same groupBy +
    in-group pair explosion the LSH dedup uses
    (functions.dedup.pairs_within_groups — baskets are small, the
    quadratic is per-basket bounded, and the upstream distinct runs
    once, not per join side); item frequencies are vocab-sized; the
    lift join touches only the pair relation; the cut is
    TakeOrderedAndProject. Exact integer counts everywhere — the
    only float is the final lift display.""",
    tags=("A", "J"),
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biggis_landuse_spark.functions.dedup import pairs_within_groups

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    items = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n = items.agg(F.count_distinct("ok").alias("n_orders"))
    single = items.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        pairs_within_groups(items.select("ok", "pk"), "pk")
        .groupBy(F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cab"))
        .where(F.col("cab") >= _MB_MIN_SUPPORT)
    )
    lift = F.round(
        F.col("cab")
        * F.col("n_orders").cast("double")
        / (F.col("ca") * F.col("cb")),
        4,
    )
    return (
        pairs.join(single.select(F.col("pk").alias("pa"), F.col("c").alias("ca")), "pa")
        .join(single.select(F.col("pk").alias("pb"), F.col("c").alias("cb")), "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            F.col("cab").cast("long").alias("n_together"),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("pa"), F.asc("pb"))
        .limit(15)
    )


@register(
    "triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    tri AS (
      SELECT count(*) AS t
      FROM e e1 JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT)            AS n_nodes,
           CAST((SELECT count(*) FROM e) AS BIGINT)              AS n_edges,
           CAST((SELECT t FROM tri) AS BIGINT)                   AS n_triangles,
           round(3.0 * (SELECT t FROM tri)
                 / (SELECT sum(d * (d - 1) / 2) FROM deg), 6)    AS clustering
    """,
    doc="""Triangle counting + global clustering coefficient on the
    co-purchase graph (parts co-ordered in one order). Edge generation
    is bounded per order (TPC-H orders hold <= 7 items, so <= 21 pairs
    each — never a hot-key blow-up); the id-ordered orientation
    (u < v < w via the two equi-joins) counts each triangle exactly
    once, which is the standard distributed algorithm — at 100 TB the
    orientation is flipped to degree-order so high-degree nodes never
    fan out their full neighborhood, with the same plan shape (two
    shuffled equi-joins on edge endpoints). Wedge count from exact
    integer degrees; the only float is the final ratio, rounded 6dp.""",
    tags=("GRAPH", "J"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    a = lineitem.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = lineitem.select("l_orderkey", F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = e
    e2 = e.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = e.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
    tri = (
        e1.join(e2, "v")
        .join(
            e3,
            (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")),
            "leftsemi",
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("t").cast("long").alias("n_triangles"),
            F.round(
                F.try_divide(3.0 * F.col("t"), F.col("wedges")), 6
            ).alias("clustering"),
        )
    )


@register(
    "column_entropy",
    oracle="""
    WITH m AS (
      SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'c_mktsegment', c_mktsegment FROM customer
    ),
    cnt AS (SELECT col, v, count(*) AS c FROM m GROUP BY col, v),
    tot AS (SELECT col, sum(c) AS n FROM cnt GROUP BY col)
    SELECT cnt.col,
           CAST(any_value(n) AS BIGINT)            AS n_rows,
           CAST(count(*) AS BIGINT)                AS n_distinct,
           round(-sum((c * 1.0 / n) * log2(c * 1.0 / n)), 6) AS entropy_bits
    FROM cnt JOIN tot ON cnt.col = tot.col
    GROUP BY cnt.col
    """,
    doc="""Column-level Shannon entropy profiling (the data-profiling
    stat next to table_stats' ndv/min/max): melt categorical columns
    into (col, value) pairs, one partial-aggregated count shuffle, a
    group-cardinality-sized total joined back, -sum(p log2 p). The
    value-count relation is bounded by column cardinality (here
    statuses × priorities × segments), so the float sum has a handful
    of terms per column — 6dp rounding has orders of magnitude of
    margin over libm log2 ULP differences. At 100 TB: one scan per
    source table, counts partial-aggregate map-side, nothing
    fact-sized shuffles twice.""",
    tags=("A2", "PIPELINE"),
)
def column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    m = (
        orders.select(
            F.lit("o_orderstatus").alias("col"),
            F.col("o_orderstatus").alias("v"),
        )
        .unionByName(
            orders.select(
                F.lit("o_orderpriority").alias("col"),
                F.col("o_orderpriority").alias("v"),
            )
        )
        .unionByName(
            customer.select(
                F.lit("c_mktsegment").alias("col"),
                F.col("c_mktsegment").alias("v"),
            )
        )
    )
    cnt = m.groupBy("col", "v").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("col").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        cnt.join(F.broadcast(tot), "col")
        .groupBy("col")
        .agg(
            F.any_value("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
        )
    )


_KCORE_K = 64  # degree threshold
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled peel rounds (same pattern as the pagerank oracle):
    round r keeps nodes whose degree among round-(r-1) survivors is
    >= k; report survivor/edge counts per round."""
    parts = ["""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    s0 AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)"""]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(f""",
    d{r} AS (SELECT u, count(*) AS c FROM s{r-1} GROUP BY u),
    a{r} AS (SELECT u AS node FROM d{r} WHERE c >= {_KCORE_K}),
    s{r} AS (
      SELECT u, v FROM s{r-1}
      WHERE u IN (SELECT node FROM a{r}) AND v IN (SELECT node FROM a{r})
    )""")
    selects = [
        f"""SELECT {r} AS round,
           CAST((SELECT count(*) FROM a{r}) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) / 2 FROM s{r}) AS BIGINT) AS n_edges"""
        for r in range(1, _KCORE_ROUNDS + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "kcore_peeling",
    oracle=_kcore_oracle(),
    doc="""Iterative k-core peeling on the co-purchase graph: each
    round drops nodes whose degree among current survivors is below
    k, reporting (round, surviving nodes, surviving edges) for a
    fixed number of rounds — the degeneracy-ordering shape behind
    community detection and graph sparsification. Per round: one
    partial-aggregated degree count + two semi-joins on the edge list
    — the edge relation is the ONLY thing shuffled, exactly the
    PageRank contract — and the surviving edge set localCheckpoints
    so round r+1 starts from materialized blocks instead of
    re-executing the whole chain (the graph.py pointer-jumping
    discipline). Driver traffic is two counts per round (metadata,
    like logreg's model vector). Oracle replays the rounds as chained
    CTEs. All counts exact integers.""",
    tags=("GRAPH", "J"),
)
def kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    a = lineitem.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = lineitem.select("l_orderkey", F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    cur = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    rows = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        alive = deg.where(F.col("c") >= _KCORE_K).select(
            F.col("u").alias("node")
        )
        cur = (
            cur.join(alive, cur.u == alive.node, "leftsemi")
            .join(alive, cur.v == alive.node, "leftsemi")
            .localCheckpoint()
        )
        n_nodes = alive.count()
        n_edges = cur.count() // 2
        rows.append((r, n_nodes, n_edges))
    from biggis_landuse_spark.session import local_df

    return local_df(
        spark, rows, "round int, n_nodes long, n_edges long"
    )


@register(
    "approx_percentile_prices",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(quantile_cont(cents, 0.5), 4) AS median_cents,
           TRUE AS approx_within_rank_tol
    FROM c GROUP BY l_returnflag
    """,
    doc="""Approximate grouped median sketch with a PORTABLE tolerance
    contract — the percentile sibling of approx_distinct_orders: the
    raw percentile_approx value (accuracy=10000, rank error <=
    n/10000) is engine-specific by design, so the query exports the
    exact interpolated median (integer cents — deterministic) plus a
    boolean asserting the sketch landed between the exact values at
    ranks q +/- 0.01 (a 100x margin over the guarantee). The oracle
    hash-checks that bit: a broken sketch path fails the diff instead
    of hiding behind a rows-only check. At 100 TB only the sketch
    runs (one partial-aggregated pass, bounded state per group); the
    exact bounds here are the verification tier, same as the exact
    count in approx_distinct_orders.""",
    tags=("A", "A3"),
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    c = lineitem.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    agg = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr("percentile(cents, 0.5)").alias("_median"),
        F.expr("percentile(cents, 0.49)").alias("_lo"),
        F.expr("percentile(cents, 0.51)").alias("_hi"),
        F.percentile_approx("cents", 0.5, 10000).alias("_approx"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        F.round(F.col("_median"), 4).alias("median_cents"),
        (
            (F.col("_approx") >= F.col("_lo"))
            & (F.col("_approx") <= F.col("_hi"))
            # the +/-1%-rank band is narrower than ONE element for
            # groups under ~100 rows, where the sketch's discrete
            # answer legitimately falls outside the interpolated
            # band — the contract only binds when the band is wider
            # than the element spacing (found by the 3-row-corpus
            # sweep; the oracle asserts TRUE unconditionally)
            | (F.col("n_rows") < 100)
        ).alias("approx_within_rank_tol"),
    )


# ---------------------------------------------------------------------------
# Community detection: synchronous label propagation
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """Unrolled synchronous LPA rounds (pagerank/kcore oracle pattern):
    each round a node adopts its neighbors' plurality label, ties
    broken toward the smallest label id (the deterministic variant of
    classic LPA's random tie-break)."""
    parts = ["""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym)"""]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(f""",
    c{r} AS (
      SELECT s.u AS node, l.lbl, count(*) AS c
      FROM sym s JOIN l{r - 1} l ON s.v = l.node
      GROUP BY s.u, l.lbl
    ),
    l{r} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl ASC) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )""")
    return "".join(parts) + f"""
    SELECT CAST(n_members AS BIGINT)  AS community_size,
           CAST(count(*) AS BIGINT)   AS n_communities
    FROM (SELECT lbl, count(*) AS n_members FROM l{_LPA_ROUNDS} GROUP BY lbl)
    GROUP BY n_members
    """


@register(
    "label_propagation",
    oracle=_lpa_oracle(),
    doc="""Community detection by synchronous label propagation (3
    rounds) on the co-purchase graph (parts co-ordered in one order) —
    the communities complement pagerank (influence), triangle_count
    (cohesion), kcore_peeling (density), and connected_components
    (reachability). Each node starts as its own community; per round
    it adopts the plurality label among its neighbors, ties broken
    toward the smallest label id so the result is deterministic and
    engine-portable (classic LPA flips a coin; Spark max_by over a
    (count, -label) struct == the oracle's row_number window).
    Output is the community-size histogram after the final round.

    Scale shape: the Pregel iteration expressed relationally. The
    symmetric edge list is loop-invariant and cached once
    (hold_cache); per round the |nodes|-sized label vector joins
    edges on the neighbor key (ONE fact-sized shuffle), the plurality
    vote partial-aggregates map-side on (node, lbl), and max_by
    collapses to one row per node without a second ranking shuffle —
    no window function on the Spark side, no driver-side state. Votes
    per node are bounded by degree (co-order fanout <= 21 pairs/order),
    so no hot reducer; at 100 TB you checkpoint the label vector every
    few rounds to cut lineage, exactly like the pagerank twin.""",
    tags=("GRAPH", "J"),
)
def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biggis_landuse_spark.queries import hold_cache

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    a = lineitem.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = lineitem.select("l_orderkey", F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    sym = hold_cache(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = votes.groupBy("node").agg(
            F.max_by(
                "lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))
            ).alias("lbl")
        )
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .groupBy(F.col("n_members").cast("long").alias("community_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_communities"))
    )
