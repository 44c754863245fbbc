"""Extended relational surface: semantics that the oracle comparator
can't fully pin down — HLL sketch accuracy, sample determinism across
partitionings, and ntile band sizing."""

from __future__ import annotations

from pyspark.sql import functions as F

from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

_ensure_loaded()


def test_approx_distinct_within_5pct_of_exact(spark, sf_dir):
    # the query exports the tolerance contract itself (oracle-checked);
    # here pin it against the independent exact-distinct query too
    rows = {
        r["l_returnflag"]: r
        for r in REGISTRY["approx_distinct_orders"].spark(spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: r["n_orders"]
        for r in REGISTRY["distinct_agg_orders"].spark(spark, sf_dir).collect()
    }
    assert set(rows) == set(exact)
    for flag, n in exact.items():
        assert rows[flag]["n_orders_exact"] == n
        assert rows[flag]["approx_within_5pct"] is True, flag


def test_stratified_sample_invariant_to_partitioning(spark, sf_dir):
    # content-hash sampling must select the SAME rows no matter how the
    # input is partitioned — the property rand()-sampling lacks
    spec = REGISTRY["stratified_sample"]
    base = {tuple(r) for r in spec.spark(spark, sf_dir).collect()}

    from biggis_landuse_spark.queries import load_tables

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    digest = F.md5(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    )
    reshuffled = {
        tuple(r)
        for r in (
            lineitem.repartition(7, "l_partkey")
            .where(F.substring(digest, 1, 1).isin("0", "1"))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_sampled"),
                F.round(
                    F.sum(
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ),
                    2,
                ).alias("revenue"),
            )
            .collect()
        )
    }
    assert base == reshuffled


def test_ntile_bands_cover_all_rows_evenly(spark, sf_dir):
    rows = REGISTRY["ntile_price_bands"].spark(spark, sf_dir).collect()
    counts = {r["band"]: r["n_parts"] for r in rows}
    assert set(counts) == {1, 2, 3, 4}
    # ntile: band sizes differ by at most 1, bands are price-ordered
    assert max(counts.values()) - min(counts.values()) <= 1
    by_band = sorted(rows, key=lambda r: r["band"])
    for a, b in zip(by_band, by_band[1:]):
        assert a["hi"] <= b["lo"]


def test_global_row_number_matches_single_partition_window(spark):
    from pyspark.sql import Window
    from biggis_landuse_spark.operators.ranking import (
        global_ntile,
        global_row_number,
    )

    df = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(157)], "k long, v long"
    ).repartition(7)
    got = {
        r["k"]: r["rn"]
        for r in global_row_number(df, ["v", "k"], num_partitions=5).collect()
    }
    want = {
        r["k"]: r["rn"]
        for r in df.select(
            "k", F.row_number().over(Window.orderBy("v", "k")).alias("rn")
        ).collect()
    }
    assert got == want

    # NTILE parity incl. the uneven-remainder distribution (157 % 4 = 1)
    got_b = {
        r["k"]: r["band"]
        for r in global_ntile(df, ["v", "k"], n=4, num_partitions=5).collect()
    }
    want_b = {
        r["k"]: r["band"]
        for r in df.select(
            "k", F.ntile(4).over(Window.orderBy("v", "k")).alias("band")
        ).collect()
    }
    assert got_b == want_b


def test_ntile_query_has_no_single_partition_window(spark):
    from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["ntile_price_bands"].spark(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the two-phase rank sorts within range partitions; no window may
    # run on a SinglePartition exchange of the full relation
    assert "Window" in plan
    import re

    assert not re.search(r"Exchange SinglePartition[^\n]*\n[^\n]*Sort", plan)


def test_grouped_cumsum_matches_single_window(spark):
    from pyspark.sql import Window
    from biggis_landuse_spark.operators.ranking import grouped_cumsum

    # ties on (g, t) included: RANGE-frame peers must collapse identically
    df = spark.createDataFrame(
        [(i, f"g{i % 3}", (i * 13) % 40, (-1) ** i) for i in range(211)],
        "k long, g string, t long, delta long",
    ).repartition(7)
    got = sorted(
        (r["g"], r["t"], r["cs"])
        for r in grouped_cumsum(
            df, ["g"], ["t"], "delta", out_col="cs", num_partitions=5
        ).collect()
    )
    want = sorted(
        (r["g"], r["t"], r["cs"])
        for r in df.select(
            "g",
            "t",
            F.sum("delta")
            .over(Window.partitionBy("g").orderBy("t"))
            .alias("cs"),
        ).collect()
    )
    assert got == want


def test_grouped_cumsum_edge_shapes(spark):
    from pyspark.sql import Window
    from biggis_landuse_spark.operators.ranking import grouped_cumsum

    # single-row groups, one giant hot group, all-negative deltas, and
    # heavy (t) ties — the shapes that break naive two-phase offsets
    rows = [("solo", 5, 7)]
    rows += [("hot", t // 3, -1) for t in range(120)]    # ties + hot group
    rows += [("neg", t, -(t + 1)) for t in range(9)]
    df = spark.createDataFrame(rows, "g string, t long, delta long").repartition(6)
    got = sorted(
        (r["g"], r["t"], r["cs"])
        for r in grouped_cumsum(
            df, ["g"], ["t"], "delta", out_col="cs", num_partitions=4
        ).collect()
    )
    want = sorted(
        (r["g"], r["t"], r["cs"])
        for r in df.select(
            "g", "t",
            F.sum("delta").over(Window.partitionBy("g").orderBy("t")).alias("cs"),
        ).collect()
    )
    assert got == want


def test_pagerank_scores_sum_to_one(spark, sf_dir):
    # rank mass is conserved across iterations (no dangling nodes in
    # the symmetric bipartite graph) — the full vector sums to ~1
    from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["pagerank_suppliers"].spark(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r["score"] > 0 for r in rows)
    # top-20 of a mass-1 distribution: each score below 1, list sorted
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert sum(scores) < 1.0


def test_pagerank_edge_layout_one_partition_at_fixture_scale(spark, sf_dir):
    # the cached edge list is sized from the lineitem scan's plan size:
    # one partition at fixture scale, with no counting job
    import re

    from biggis_landuse_spark import queries

    queries.release_caches()
    try:
        REGISTRY["pagerank_suppliers"].spark(spark, sf_dir)
        edges_w = queries._ACTIVE_CACHES[0]
        plan = edges_w._jdf.queryExecution().analyzed().toString()
        assert re.search(r"RepartitionByExpression \[src#\d+L\], 1\b", plan), plan
    finally:
        queries.release_caches()


def test_local_supplier_volume_rounds_a_revenue_tie_exactly(spark, tmp_path):
    # one ASIA line of 2.01 at a 50% discount: revenue is exactly 1.005,
    # a 2-dp tie. As a double the product is 1.00499999999999989...,
    # which Spark's round (of the shortest repr "1.005") takes up and
    # DuckDB's (of the binary value) takes down; the exact DECIMAL sum
    # rounds it up on both engines
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    i64 = pa.int64()
    tables = {
        "region": {"r_regionkey": pa.array([0], i64), "r_name": ["ASIA"]},
        "nation": {
            "n_nationkey": pa.array([0], i64), "n_name": ["JAPAN"],
            "n_regionkey": pa.array([0], i64),
        },
        "supplier": {"s_suppkey": pa.array([0], i64),
                     "s_nationkey": pa.array([0], i64)},
        "customer": {"c_custkey": pa.array([0], i64),
                     "c_nationkey": pa.array([0], i64)},
        "orders": {"o_orderkey": pa.array([0], i64),
                   "o_custkey": pa.array([0], i64)},
        "lineitem": {
            "l_orderkey": pa.array([0], i64), "l_suppkey": pa.array([0], i64),
            "l_extendedprice": [2.01], "l_discount": [0.5],
        },
    }
    con = duckdb.connect()
    for name, cols in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    spec = REGISTRY["local_supplier_volume"]
    got = [tuple(r) for r in spec.spark(spark, str(tmp_path)).collect()]
    want = con.sql(spec.oracle).fetchall()
    assert got == want == [("JAPAN", 1, 1.01)]
    # the input really is a tie on which the double forms disagree
    double_duck = con.sql(
        "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) FROM lineitem"
    ).fetchone()[0]
    double_spark = spark.sql(
        "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS r "
        f"FROM parquet.`{tmp_path / 'lineitem.parquet'}`"
    ).first()["r"]
    assert (double_duck, double_spark) == (1.0, 1.01)
