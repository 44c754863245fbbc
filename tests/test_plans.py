"""Physical-plan regression tests: the scale properties that make the
engine viable at 100 TB — predicate pushdown to the parquet scan,
column pruning, broadcast joins for small dims, partial (map-side)
aggregation, and the absence of accidental cartesian products — are
asserted on the executed plans so a refactor can't silently lose them.
"""

from __future__ import annotations

import pytest

from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plan_of(spark):
    _ensure_loaded()

    def get(name: str) -> str:
        df = REGISTRY[name].spark(spark, SF)
        return df._jdf.queryExecution().executedPlan().toString()

    return get


def test_dim_joins_broadcast_not_shuffle(plan_of):
    # small dims (part/orders/customer/supplier/nation) must broadcast:
    # no shuffle of the 100 TB fact side, no cartesian fallback
    for q in ("ndvi_shape", "join3_chain", "stack_join"):
        plan = plan_of(q)
        assert "BroadcastHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_filter_pushdown_reaches_scan(plan_of):
    plan = plan_of("pricing_summary")
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan
    plan = plan_of("ndvi_shape")
    assert "GreaterThan(p_retailprice,0.0)" in plan


def _read_schemas(plan: str) -> list[str]:
    import re

    return re.findall(r"ReadSchema: (struct<[^>]*>)", plan)


def test_column_pruning_reaches_scan(plan_of):
    # an 11-column lineitem scan feeding a 3-column query must read 3
    plan = plan_of("ndvi_shape")
    li = next(s for s in _read_schemas(plan) if "l_partkey" in s)
    assert "l_extendedprice" in li and "l_shipdate" not in li
    assert li.count(":") == 3  # exactly three fields survive pruning
    # media queries wrap documents: only (doc_id, text) may be read
    plan = plan_of("media_metadata")
    doc = _read_schemas(plan)[0]
    assert "doc_id" in doc and "lang" not in doc and "source" not in doc


def test_aggregation_is_partial_then_final(plan_of):
    # map-side combine: two HashAggregate levels around one exchange
    plan = plan_of("pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "SortAggregate" not in plan


def test_knn_broadcasts_query_side_only(plan_of):
    # brute-force knn: deliberate broadcast nested loop of the tiny
    # query side; the corpus side must NOT shuffle or sort-merge
    plan = plan_of("knn_cosine")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_asof_join_has_no_join_operator(plan_of):
    # the as-of union+window formulation replaces any join with a
    # single partition-sort — no join operator may appear at all,
    # in either direction
    for q in ("asof_last_click", "asof_next_purchase"):
        plan = plan_of(q)
        assert "Join" not in plan, q
        assert "Window" in plan, q


def test_range_join_is_hash_join(plan_of):
    plan = plan_of("range_join_cooccur")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_anti_joins_stay_hash_joins(plan_of):
    # EXISTS/NOT EXISTS must compile to (broadcast) hash semi/anti
    # joins — never a nested-loop or cartesian fallback that would
    # re-scan the fact side per probe row
    for q in ("semi_join_urgent", "anti_join_never_bulk"):
        plan = plan_of(q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "HashJoin" in plan, q
    assert "LeftSemi" in plan_of("semi_join_urgent")
    assert "LeftAnti" in plan_of("anti_join_never_bulk")


def test_pivot_has_no_value_discovery_pass(plan_of):
    # pivot with an explicit value list = two partial-aggregated
    # shuffles (fine-key agg, then pivotfirst), both over
    # group-cardinality data — and NO extra job to discover pivot
    # values (which at 100 TB would be a full prior scan)
    plan = plan_of("pivot_status_revenue")
    assert "pivotfirst" in plan
    assert plan.count("Exchange") == 2
    assert plan.count("FileScan") == 1  # single pass over the fact table
    assert "SortAggregate" not in plan


def test_scalar_subquery_broadcasts_stat_row(plan_of):
    # the 1-row global-average side must broadcast; the part scan must
    # not shuffle for the comparison
    plan = plan_of("above_avg_parts")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row side, no key
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_filter_in_scan_stage(plan_of):
    # the md5 sample predicate is deterministic row-local work: it must
    # run in the scan stage (a Filter before any Exchange), so only
    # sampled rows shuffle
    plan = plan_of("stratified_sample")
    # plan strings print root-first: an operator deeper in the string
    # executes earlier; the Filter must sit below the shuffle Exchange
    assert "Filter" in plan and "Exchange" in plan
    assert plan.index("Filter") > plan.index("Exchange")


def test_star_join_bounded_dims_broadcast(plan_of):
    # Q5 shape: bounded dims (supplier/nation/region) broadcast; the
    # unbounded orders/customer sides are left to Catalyst/AQE (at this
    # SF they auto-broadcast from size stats — no cartesian fallback)
    plan = plan_of("local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _hinted_tables(spark, name: str) -> list[str]:
    """Tables wrapped in an explicit broadcast hint, from the analyzed
    logical plan (ResolvedHint nodes survive analysis)."""
    import re

    df = REGISTRY[name].spark(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # each ResolvedHint is immediately followed by the hinted subtree;
    # grab the first parquet relation path under it
    out = []
    for m in re.finditer(r"ResolvedHint \(strategy=broadcast\)", analyzed):
        tail = analyzed[m.end():]
        loc = re.search(r"/(\w+)\.parquet", tail)
        out.append(loc.group(1) if loc else "?")
    return out


UNBOUNDED = {"lineitem", "orders", "customer", "events", "documents", "embeddings"}


def test_no_broadcast_hint_on_unbounded_tables(spark):
    # 100 TB guard: an explicit F.broadcast on an SF-proportional table
    # is a driver/executor OOM at scale. Only bounded dims (nation,
    # region, supplier, part) and derived 1-row/bounded frames may be
    # hinted. Checked registry-wide on the analyzed logical plan.
    _ensure_loaded()
    for name in ("local_supplier_volume", "shipping_priority", "join3_chain",
                 "stack_join", "ndvi_shape", "pricing_summary"):
        hinted = _hinted_tables(spark, name)
        bad = [t for t in hinted if t in UNBOUNDED]
        assert not bad, f"{name} broadcast-hints unbounded table(s) {bad}"


def test_topk_is_take_ordered_not_full_sort(plan_of):
    # Q3 shape: ORDER BY + LIMIT must compile to TakeOrderedAndProject
    # (per-partition top-k then driver merge), never a global Sort
    plan = plan_of("shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [revenue" not in plan


def test_windowed_agg_is_single_shuffle(plan_of):
    # tumbling window × type: window() is a row-local projection, so
    # the whole aggregate is one partial+final pair around one shuffle
    plan = plan_of("tumbling_window")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2


def test_argmax_snapshot_uses_partial_agg_not_window(plan_of):
    # latest-event-per-key must be max_by aggregation (map-side
    # combinable), never a ranking window (full per-key sort)
    plan = plan_of("latest_event_per_user")
    assert "Window" not in plan
    assert "max_by" in plan


def test_tile_operator_queries_never_go_cartesian(plan_of):
    # the raster pipelines compose joins, explodes, and pandas UDFs;
    # none may degenerate into a cartesian product, and key joins stay
    # hash joins (the only nested-loop allowed is a 1-row global-stats
    # broadcast, as in Getis-Ord standardization / P5 normalization)
    for q in (
        "focal_tile",
        "pyramid_tile",
        "zoom_resample_tile",
        "getis_ord_tile",
        "ndvi_tile",
        "stack_normalize_tile",
        "rasterize_grid",
    ):
        plan = plan_of(q)
        assert "CartesianProduct" not in plan, q
        assert "SortMergeJoin" not in plan, q  # all keyed joins broadcast


def test_lsh_candidates_single_pass_no_join(plan_of):
    # near-dup candidates are enumerated inside each bounded
    # (bucket, sub) group — no join at all, so no all-pairs product
    # and no second evaluation of the LSH projection pipeline; the
    # sorted-group pair explosion shows up as aggregate + generate
    plan = plan_of("embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # single-pass: zero join operators
    assert "Generate" in plan and "HashAggregate" in plan


def test_scd2_window_is_per_user_not_global(plan_of):
    # the lead() window must run inside user_id hash partitions —
    # a SinglePartition window would serialize the whole event log
    plan = plan_of("scd2_state_history")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_funnel_joins_are_hash_joins(plan_of):
    # stage joins key on user_id (hash/broadcast); the only
    # nested-loop is the deliberate 1-row×1-row summary cross join
    plan = plan_of("funnel_stages")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_retention_cohort_join_no_nlj(plan_of):
    plan = plan_of("retention_cohorts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_centroids_partial_agg(plan_of):
    # posexplode fan-out must partial-aggregate before the exchange:
    # the shuffle carries |labels|×dim partial sums, not every element
    plan = plan_of("embedding_centroids")
    assert "partial_count" in plan or "partial_sum" in plan or (
        plan.count("HashAggregate") >= 2
    )
    assert plan.index("Generate") > plan.index("Exchange")


def test_no_query_in_registry_goes_cartesian(plan_of):
    # registry-wide lint: NO query may compile to a CartesianProduct,
    # and a BroadcastNestedLoopJoin is legal ONLY for the deliberate
    # bounded-side broadcasts (1-row global stats / bounded query sets)
    BNLJ_OK = {
        "lsh_parameter_plan",  # 59x11 literal parameter grid, no data tables
        "knn_cosine",  # broadcast bounded query side, by design
        "knn_label_predict",  # same bounded query-side broadcast as knn_cosine
        "nearest_station",  # broadcast K-station table (bounded by contract)
        "ann_pq_topk",  # broadcast bounded query-side PQ distance tables
        "ann_ivfpq_topk",  # broadcast 16-centroid codebook + nq·n_probe dts
        "ann_ivfpq_recall_eval",  # same broadcasts + knn_cosine's query side
        "rrf_fusion",  # ivf_topk's centroid/query-side bounded broadcasts
        "viewshed_grid",  # 1-row observer-height broadcast
        "ann_ivf_topk",  # broadcast 16-centroid codebook
        "ann_ivf2_topk",  # broadcast 1-row two-level codebook (hier IVF)
        "ann_ivf2_trained_topk",  # Lloyd model + 1-row codebook broadcasts
        "ann_ivf2_persisted_topk",  # same 1-row codebook, loaded not trained
        "ann_ivfpq_persisted_topk",  # ann_ivfpq_topk's broadcasts, loaded
        "ann_ivf2_recall_eval",  # same + knn_cosine's bounded query side
        "ann_recall_eval",  # knn_cosine's query broadcast + the codebook
        "semantic_dedup",  # broadcast 16-centroid codebook (ivf_assign)
        "knn_graph",  # same 16-centroid codebook broadcast (ivf_assign)
        "knn_graph_recall_eval",  # codebook + bounded-panel brute force
        # r11 persisted-codebook twins: the same model-sized broadcasts
        # (loaded centroid table + Lloyd training's per-round model)
        "semantic_dedup_persisted",
        "knn_graph_persisted",
        "knn_graph_persisted_recall_eval",
        "kmeans_lloyd",  # broadcast 16-centroid model per Lloyd iteration
        "pagerank_suppliers",  # 1-row node-count broadcast per iteration
        "above_avg_parts",  # 1-row scalar-subquery stat
        "tfidf_top_terms",  # 1-row corpus size N
        "bm25_search",  # 1-row (n_docs, avgdl, per-term df) broadcast
        "hybrid_retrieval",  # bm25's 1-row stats + 1-row feedback centroid
        "collocations_pmi",  # two 1-row token/bigram total broadcasts
        "nb_lang_confusion",  # 5-row lang-stats + 1-row vocab/ndocs broadcasts
        "funnel_stages",  # 1-row × 1-row × 1-row summary
        "getis_ord_shape",  # 1-row global stats broadcast
        "getis_ord_tile",
        "stack_normalize_tile",  # 1-row per-band min/max broadcast
        "late_data_policy",  # 1-row watermark horizon
        "ntile_price_bands",  # 1-row global count broadcast (global_ntile)
        "rfm_segments",  # 3× 1-row global count broadcast (global_ntile)
        "pareto_parts",  # 1-row revenue-total broadcast
        "vocab_growth",  # 1-row max-doc_id broadcast for prefix buckets
        "market_basket_lift",  # 1-row order-count broadcast
        "chi2_status_priority",  # bounded marginal grids (statuses × priorities) + 1-row N
        "events_resample_dense",  # 1-row global span broadcast for grid synthesis
        "triangle_count",  # 1-row triangle/wedge/edge summaries crossed
        "pca_power",  # 1-row Rayleigh-eigenvalue broadcast
        "temperature_mix",  # 1-row mixing-total broadcast
        "dsir_select",  # 1-row corpus/target token-total broadcasts
        "land_use_change_matrix",  # 1-row pixel-total broadcast for shares
    }
    for name in sorted(REGISTRY):
        plan = plan_of(name)
        assert "CartesianProduct" not in plan, name
        if name not in BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_concurrent_events_two_phase_cumsum(plan_of):
    # the sweep-line cumsum must range-partition, never serialize into
    # one task: a SinglePartition window over the boundary relation is
    # the 100 TB cliff grouped_cumsum exists to avoid
    plan = plan_of("concurrent_events")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_vocab_coverage_broadcasts_vocab(plan_of):
    # pass 2 membership must be a broadcast join of the K-term vocab
    # (never a shuffle of the token relation against it) and the vocab
    # cut itself a TakeOrderedAndProject, not a global sort
    plan = plan_of("vocab_coverage")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_terrain_single_margin_exchange(plan_of):
    # terrain shares the focal family's ONE neighborhood shuffle: the
    # 9-way explode feeds exactly one hash aggregate over the tile key
    plan = plan_of("terrain_tile")
    assert "CartesianProduct" not in plan
    assert plan.count("Generate explode") >= 1


def test_warp_grid_queries_stay_jvm_side_one_shuffle_staged(plan_of):
    # the inverse-projection grid queries: zero Python eval, exactly
    # one Exchange (the final aggregate), and the STAGED projection —
    # lat/lon materialized once, not inlined into every output column
    # (codegen size discipline; the r5 utm_grid 'regression' was the
    # JIT warm-up tail of the doubled expression tree)
    for name in ("utm_grid", "tm_grid", "lcc_grid", "laea_grid", "ps_grid",
                 "albers_grid", "sinu_grid", "cea_grid", "merc_grid",
                 "eqc_grid", "moll_grid", "somerc_grid", "sterea_grid",
                 "sinu_ell_grid", "omerc_grid", "krovak_grid", "cassini_grid"):
        plan = plan_of(name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert plan.count("Exchange") == 1, (name, plan.count("Exchange"))
        # staged: the grid keys must be computed FROM the named lat/lon
        # columns (floor(lat...)), not from a re-inlined trig tree —
        # re-inlining shows up as asin/atan inside the floor() args
        import re as _re

        floors = _re.findall(r"FLOOR\([^)]{0,80}\)", plan)
        assert floors, name
        assert all("ATAN" not in f.upper() and "ASIN" not in f.upper() for f in floors), name


def test_dsir_select_broadcast_model_topk(plan_of):
    # the B-row model joins broadcast (corpus never shuffles for the
    # scoring join) and selection is top-K, not a global sort
    plan = plan_of("dsir_select")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # exactly the doc-keyed aggregate shuffles the scored relation
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_dedup_bloom_int_keyed_probe(plan_of):
    # the filter probe is an equi-join on the int bit position —
    # never a cartesian/broadcast-nested-loop fallback
    plan = plan_of("dedup_bloom")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_document_chunking_zero_shuffle_pruned_scan(plan_of):
    # chunking must stay a narrow map over the scan: tokenize, explode
    # the per-doc index range, slice — all in one codegen stage, no
    # Exchange anywhere, and only (doc_id, text) read from documents
    plan = plan_of("document_chunking")
    assert "Exchange" not in plan
    assert "Generate explode" in plan
    doc = _read_schemas(plan)[0]
    assert "doc_id" in doc and "text" in doc
    assert doc.count(":") == 2


def test_label_propagation_votes_use_max_by_not_window(plan_of):
    # the per-node plurality vote must collapse via max_by partial
    # aggregation — a ranking Window would add a second fact-sized
    # sort+shuffle per LPA round
    plan = plan_of("label_propagation")
    assert "Window" not in plan
    assert "max_by" in plan
    assert "CartesianProduct" not in plan


def test_media_audio_stats_zero_shuffle(plan_of):
    # synthesize → WAV decode (mapInPandas) → featurize must stay a
    # narrow pipeline: no Exchange, result co-partitioned with input
    plan = plan_of("media_audio_stats")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_media_phash_and_scene_cuts_single_exchange(plan_of):
    # phash: the only shuffle is the final hash groupBy
    plan = plan_of("media_phash_dedup")
    assert plan.count("Exchange") <= 2  # partial→final agg pair
    assert "MapInPandas" in plan
    # scene cuts: lag window + rollup share ONE doc-keyed exchange
    plan = plan_of("media_scene_cuts")
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
