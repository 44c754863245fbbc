"""Training-data-pipeline queries beyond the dedup/text basics:
TF-IDF term weighting, eval-set decontamination, repetition-based
quality filtering, and sequence packing.

These are the corpus-preparation operators a pretraining pipeline runs
after cleaning/dedup (driver brief: "the operations a large-scale
training-data pipeline would need"). All Catalyst built-ins — the only
shuffles are the aggregations stated per query — and every one has an
exact DuckDB oracle (integer counts where possible; transcendental
weights rounded at 6dp on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biggis_landuse_spark.functions import dedup as D
from biggis_landuse_spark.functions.text import STOPWORDS_EN, tokens
from biggis_landuse_spark.queries import load_tables, register, spread

_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE doc_id < 10 GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tf, df, round(w, 6) AS tfidf,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY w DESC, term
             ) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    doc="""TF-IDF term weighting: tf(doc, term) x ln(N / df(term)), top-3
    terms per doc for a bounded query set of docs. Scale shape: df is
    ONE shuffle on term over the corpus (partial-agg combines
    map-side; vocabulary is sublinear in corpus size), the bounded
    query-side tf relation broadcasts into the df join (the corpus
    never re-shuffles for it), and the ranking window runs on the
    tiny joined result. Ties broken by term so the top-3 cut is
    deterministic on both engines.""",
    tags=("TEXT", "ML"),
    bench=True,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    toks = spread(documents).select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = (
        toks.where(F.col("doc_id") < 10)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # r12 (VERDICT r11 #7): df was count_distinct(doc_id) over the
    # full (doc, term) explode — planned as Expand + a double
    # aggregate whose first phase shuffles every distinct (term, doc)
    # pair. Deduplicating per document FIRST (array_distinct before
    # the explode, scan-local) makes df a plain count with map-side
    # partial aggregation: count(distinct doc per term) == count of
    # per-doc-distinct term occurrences, exactly. Precondition: doc_id
    # is unique and non-null in `documents` (one row per document) —
    # a duplicated doc_id would count twice here and once in the
    # oracle's COUNT(DISTINCT doc_id), a null one here and not there.
    # tests/test_pipeline_ops.py asserts it on the testdata.
    df = (
        spread(documents)
        .select(F.explode(F.array_distinct(tokens("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        df.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("w"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    )
    return (
        scored.withColumn("rnk", rnk)
        .where(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round("w", 6).alias("tfidf"),
            "rnk",
        )
    )


# Overlap n-gram size. Real pipelines use 8-13-word windows; the
# synthetic corpus's tiny vocabulary makes 4 the size that actually
# exercises the probe (longer shingles almost never collide here).
_DECON_K = 4


@register(
    "decontaminate_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[i + 1 : i + {_DECON_K}], ' ') AS shingle
      FROM (
        SELECT doc_id, t, unnest(range(len(t) - {_DECON_K - 1})) AS i
        FROM toks WHERE len(t) >= {_DECON_K}
      )
    ),
    eval_sh AS (
      SELECT doc_id AS eval_id, shingle FROM grams WHERE doc_id % 50 = 0
    ),
    corpus_sh AS (
      SELECT doc_id, shingle FROM grams WHERE doc_id % 50 <> 0
    )
    SELECT doc_id,
           CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_matched,
           CAST(count(DISTINCT shingle) AS BIGINT) AS n_shared
    FROM corpus_sh JOIN eval_sh USING (shingle)
    GROUP BY doc_id
    """,
    doc="""Train/eval decontamination: corpus docs sharing any n-gram
    with a held-out eval set (doc_id % 50 = 0 stands in for the eval
    split). Scale shape: the eval side is bounded and BROADCASTS into
    the shingle equi-join, so the corpus-side shingle relation never
    shuffles for the probe — one grouped count on the (small) hit set
    afterwards. The n-gram inverted-index probe is how Gopher/Llama
    style pipelines scrub benchmark contamination at corpus scale.""",
    tags=("TEXT", "DEDUP"),
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    tokd = spread(documents).select(
        "doc_id", tokens("text").alias("_toks")
    )
    grams = tokd.select(
        "doc_id",
        F.explode(
            D.shingles_from_tokens(F.col("_toks"), k=_DECON_K)
        ).alias("shingle"),
    ).dropDuplicates(["doc_id", "shingle"])
    eval_sh = grams.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    corpus_sh = grams.where(F.col("doc_id") % 50 != 0)
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("eval_id").alias("n_eval_matched"),
            F.count_distinct("shingle").alias("n_shared"),
        )
    )


@register(
    "repetition_ratio",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             greatest(len(t) - 1, 0)           AS n2,
             len(list_distinct(
               list_transform(range(greatest(len(t) - 1, 0)),
                              i -> t[i + 1] || ' ' || t[i + 2])
             ))                                AS d2
      FROM (SELECT source, {_TOKS} AS t FROM documents)
    )
    SELECT source,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(n2) AS BIGINT)   AS total_bigrams,
           CAST(sum(d2) AS BIGINT)   AS distinct_bigrams,
           round(1.0 - sum(d2) / CAST(sum(n2) AS DOUBLE), 6)
                                     AS dup_fraction
    FROM per_doc GROUP BY source
    """,
    doc="""Repetition-based quality scoring (the Gopher-style
    duplicate-n-gram filter): per-document duplicate-bigram mass,
    aggregated per source. All per-doc work is array expressions
    inside the scan projection (no shuffle but the final tiny groupBy);
    the counts are exact integers, the single ratio is one division of
    exact sums rounded at 6dp on both engines.""",
    tags=("TEXT",),
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    tokd = spread(documents).select(
        "source", tokens("text").alias("_toks")
    )
    grams = D.shingles_from_tokens(F.col("_toks"), k=2)
    per_doc = tokd.select(
        "source",
        F.size(grams).alias("n2"),
        F.size(F.array_distinct(grams)).alias("d2"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n2").cast("long").alias("total_bigrams"),
        F.sum("d2").cast("long").alias("distinct_bigrams"),
        F.round(
            F.lit(1.0)
            - F.try_divide(F.sum("d2"), F.sum("n2").cast("double")),
            6,
        ).alias("dup_fraction"),
    )


_PACK_BUDGET = 512  # tokens per packed sequence
_PACK_SHARDS = 4  # parallel packing shards per language


@register(
    "sequence_packing",
    oracle=f"""
    WITH sized AS (
      SELECT lang,
             doc_id % {_PACK_SHARDS} AS shard,
             doc_id,
             len({_TOKS}) AS ntok
      FROM documents
    ),
    placed AS (
      SELECT lang, shard, ntok,
             coalesce(sum(ntok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // {_PACK_BUDGET} AS bin_id
      FROM sized
    )
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS bin_tokens
    FROM placed GROUP BY lang, shard, bin_id
    """,
    doc="""Sequence packing: assign documents to fixed token-budget
    bins (512 tokens) by exclusive running token count, in
    deterministic doc_id order. Packing is inherently sequential per
    stream, so the scale lever is SHARDING: each (lang, shard) packs
    independently — shards = parallelism, and the window sort runs
    within hash-partitioned shards, never as a global sort. The
    bin id is integer division of an exact integer prefix sum, so
    results are engine-exact (no float anywhere).""",
    tags=("TEXT", "ML", "W"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    sized = documents.select(
        "lang",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(tokens("text")).alias("ntok"),
    )
    prefix = F.coalesce(
        F.sum("ntok").over(
            Window.partitionBy("lang", "shard")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    placed = sized.select(
        "lang",
        "shard",
        "ntok",
        F.floor(prefix / _PACK_BUDGET).alias("bin_id"),
    )
    return placed.groupBy("lang", "shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("bin_tokens"),
    )


_MIX_CAP = 10  # per-(lang, source) document cap


@register(
    "domain_mix_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, source, n_chars,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT)      AS n_kept,
           CAST(sum(n_chars) AS BIGINT)  AS kept_chars
    FROM ranked WHERE rk <= {_MIX_CAP}
    GROUP BY lang, source
    """,
    doc="""Domain-mix rebalancing (training-data mixture control): cap
    each (lang, source) domain at N documents, chosen DETERMINISTICALLY
    by md5(doc_id) order — an unbiased, seedless uniform sample per
    domain that is stable across runs and engines (the same discipline
    as stratified_sample / deterministic_split).

    Scale: one hash shuffle on the domain key; the ranking window runs
    inside each domain partition (never a global sort), and rows
    beyond the cap are dropped before the final tiny per-domain
    aggregate. Domain count is bounded (langs × sources), so no skew
    pathology — a single huge domain still ranks in parallel via its
    partition's sort spill.""",
    tags=("TEXT", "ML", "P10"),
    bench=True,
)
def domain_mix_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("lang", "source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        documents.select("lang", "source", "n_chars", rk.alias("rk"))
        .where(F.col("rk") <= _MIX_CAP)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
    )


@register(
    "bigram_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(t[1:len(t) - 1]) AS w1,
             unnest(t[2:len(t)])     AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c12 AS (
      SELECT w1, w2, count(*) AS n12 FROM big GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, sum(n12) AS n1 FROM c12 GROUP BY w1
    ),
    model AS (
      SELECT c12.w1, c12.w2, CAST(n12 AS DOUBLE) / n1 AS p
      FROM c12 JOIN c1 ON c12.w1 = c1.w1
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT)          AS n_bigrams,
           round(exp(avg(-ln(m.p))), 2)      AS ppl
    FROM big b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
    GROUP BY b.doc_id
    """,
    doc="""Corpus-trained bigram-LM perplexity per document — the
    in-container analog of CCNet/KenLM quality filtering: train MLE
    bigram probabilities P(w2|w1) on the corpus itself (one
    map-side-combined groupBy over exploded bigrams), score every
    document by exp(mean negative log-likelihood), and rank docs by
    how 'surprising' their word sequences are relative to the corpus.

    Scale: the model build is two partial-aggregated shuffles over the
    bigram vocabulary (sub-linear in corpus size); scoring is an
    equi-join of corpus bigrams against the model — AQE broadcasts the
    model when it fits, and its skew-join splitting absorbs hot-bigram
    keys. No UDF anywhere; unsmoothed MLE is exact on both engines
    because every scored bigram exists in the training counts by
    construction.""",
    tags=("TEXT", "ML", "DEDUP"),
    bench=True,
)
def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", tokens("text").alias("t")
    ).where(F.size("t") >= 2)
    pair = F.zip_with(
        F.expr("slice(t, 1, size(t) - 1)"),
        F.expr("slice(t, 2, size(t) - 1)"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = toks.select("doc_id", F.explode(pair).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    model = c12.join(c1, "w1").select(
        "w1", "w2", (F.col("n12").cast("double") / F.col("n1")).alias("p")
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.exp(F.avg(-F.log("p"))), 2).alias("ppl"),
        )
    )


_FUNNEL_MIN_TOK = 30
_FUNNEL_MAX_DUP = 0.05
_FUNNEL_MAX_MWL = 4.8


@register(
    "quality_funnel",
    oracle=f"""
    WITH d AS (
      SELECT lang = 'en'                                    AS p_lang,
             len(t) >= {_FUNNEL_MIN_TOK}                    AS p_len,
             1.0 - len(list_distinct(
                     list_transform(range(greatest(len(t) - 1, 0)),
                                    i -> t[i + 1] || ' ' || t[i + 2])))
                   / CAST(greatest(len(t) - 1, 1) AS DOUBLE)
               <= {_FUNNEL_MAX_DUP}                         AS p_rep,
             list_aggregate(list_transform(t, x -> len(x)), 'sum')
                   / CAST(greatest(len(t), 1) AS DOUBLE)
               <= {_FUNNEL_MAX_MWL}                         AS p_mwl
      FROM (SELECT lang, {_TOKS} AS t FROM documents)
    ),
    agg AS (
      SELECT count(*) AS s0,
             count(*) FILTER (p_lang)                         AS s1,
             count(*) FILTER (p_lang AND p_len)               AS s2,
             count(*) FILTER (p_lang AND p_len AND p_rep)     AS s3,
             count(*) FILTER (p_lang AND p_len AND p_rep AND p_mwl) AS s4
      FROM d
    )
    SELECT 0 AS stage, 'all' AS filter_name, CAST(s0 AS BIGINT) AS n_surviving FROM agg
    UNION ALL SELECT 1, 'lang_en',        CAST(s1 AS BIGINT) FROM agg
    UNION ALL SELECT 2, 'min_length',     CAST(s2 AS BIGINT) FROM agg
    UNION ALL SELECT 3, 'low_repetition', CAST(s3 AS BIGINT) FROM agg
    UNION ALL SELECT 4, 'word_shape',     CAST(s4 AS BIGINT) FROM agg
    """,
    doc="""Corpus quality-filter funnel: survivor counts through the
    cascaded pretraining filters (language -> min length -> Gopher
    duplicate-bigram repetition -> mean-word-length shape), computed
    in ONE corpus scan via conditional aggregation — never one pass
    per stage. All per-doc predicates are scan-local array
    expressions over a single materialized token array; the aggregate
    partial-reduces map-side to one row, then unpivots to the 5-row
    funnel. The per-doc ratios are single IEEE divisions of exact
    integers, bit-identical across engines, so threshold comparisons
    never straddle.""",
    tags=("TEXT", "A"),
    bench=True,
)
def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    tokd = spread(documents).select("lang", tokens("text").alias("_toks"))
    n = F.size("_toks")
    n2 = F.greatest(n - 1, F.lit(0))
    grams = D.shingles_from_tokens(F.col("_toks"), k=2)
    dupfrac = F.lit(1.0) - F.size(F.array_distinct(grams)) / F.greatest(
        n2, F.lit(1)
    ).cast("double")
    mwl = F.aggregate(
        F.col("_toks"), F.lit(0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n, F.lit(1)).cast("double")
    flags = tokd.select(
        (F.col("lang") == "en").alias("p_lang"),
        (n >= _FUNNEL_MIN_TOK).alias("p_len"),
        (dupfrac <= _FUNNEL_MAX_DUP).alias("p_rep"),
        (mwl <= _FUNNEL_MAX_MWL).alias("p_mwl"),
    )
    c = lambda cond: F.sum(cond.cast("long"))  # noqa: E731
    agg = flags.agg(
        F.count(F.lit(1)).alias("s0"),
        c(F.col("p_lang")).alias("s1"),
        c(F.col("p_lang") & F.col("p_len")).alias("s2"),
        c(F.col("p_lang") & F.col("p_len") & F.col("p_rep")).alias("s3"),
        c(
            F.col("p_lang") & F.col("p_len") & F.col("p_rep") & F.col("p_mwl")
        ).alias("s4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(nm).alias("filter_name"),
                F.col(f"s{i}").alias("n_surviving"),
            )
            for i, nm in enumerate(
                ["all", "lang_en", "min_length", "low_repetition", "word_shape"]
            )
        ]
    )
    return agg.select(F.explode(stages).alias("x")).select(
        "x.stage", "x.filter_name", "x.n_surviving"
    )


# Gopher document-quality rules (Rae et al. 2021, arXiv:2112.11446
# Appendix A1.1) — the PUBLISHED thresholds, not tuned to the fixture.
# The rule expressions live in functions/text.py::gopher_rule_flags
# (shared with the streaming admission gate); the oracle interpolates
# the same constants.
from biggis_landuse_spark.functions.text import (  # noqa: E402
    GOPHER_MAX_BULLET as _GOPHER_MAX_BULLET,
    GOPHER_MAX_ELLIPSIS as _GOPHER_MAX_ELLIPSIS,
    GOPHER_MAX_MWL as _GOPHER_MAX_MWL,
    GOPHER_MAX_SYMBOL as _GOPHER_MAX_SYMBOL,
    GOPHER_MAX_WORDS as _GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA as _GOPHER_MIN_ALPHA,
    GOPHER_MIN_MWL as _GOPHER_MIN_MWL,
    GOPHER_MIN_STOP as _GOPHER_MIN_STOP,
    GOPHER_MIN_WORDS as _GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS as _GOPHER_STOPWORDS,
    gopher_rule_flags,
)


@register(
    "gopher_rules",
    oracle=f"""
    WITH d AS (
      SELECT source,
             coalesce(n BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS},
                      FALSE) AS r_words,
             coalesce(mwl >= {_GOPHER_MIN_MWL} AND mwl <= {_GOPHER_MAX_MWL},
                      FALSE) AS r_word_len,
             coalesce(n_hash / CAST(greatest(n, 1) AS DOUBLE)
                        <= {_GOPHER_MAX_SYMBOL}
                      AND n_ell / CAST(greatest(n, 1) AS DOUBLE)
                        <= {_GOPHER_MAX_SYMBOL}, FALSE) AS r_symbol,
             coalesce(len(list_filter(lines, l -> ltrim(l) LIKE '•%'
                                                OR ltrim(l) LIKE '- %'))
                      / CAST(greatest(len(lines), 1) AS DOUBLE)
                      <= {_GOPHER_MAX_BULLET}, FALSE) AS r_bullet,
             coalesce(len(list_filter(lines, l -> l LIKE '%...'))
                      / CAST(greatest(len(lines), 1) AS DOUBLE)
                      <= {_GOPHER_MAX_ELLIPSIS}, FALSE) AS r_ellipsis,
             coalesce(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
                      / CAST(greatest(n, 1) AS DOUBLE)
                      >= {_GOPHER_MIN_ALPHA}, FALSE) AS r_alpha,
             coalesce(len(list_filter(
                        [{", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)}],
                        w -> list_contains(t, w)))
                      >= {_GOPHER_MIN_STOP}, FALSE) AS r_stopword
      FROM (
        SELECT source, t, len(t) AS n,
               list_aggregate(list_transform(t, x -> len(x)), 'sum')
                 / CAST(greatest(len(t), 1) AS DOUBLE)         AS mwl,
               length(text) - length(replace(text, '#', ''))   AS n_hash,
               (length(text) - length(replace(text, '...', ''))) // 3
                                                               AS n_ell,
               string_split(text, chr(10))                     AS lines
        FROM (SELECT source, text, {_TOKS} AS t FROM documents)
      )
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                            AS n_docs,
           CAST(count(*) FILTER (NOT r_words) AS BIGINT)       AS n_fail_word_count,
           CAST(count(*) FILTER (NOT r_word_len) AS BIGINT)    AS n_fail_word_len,
           CAST(count(*) FILTER (NOT r_symbol) AS BIGINT)      AS n_fail_symbol,
           CAST(count(*) FILTER (NOT r_bullet) AS BIGINT)      AS n_fail_bullet,
           CAST(count(*) FILTER (NOT r_ellipsis) AS BIGINT)    AS n_fail_ellipsis,
           CAST(count(*) FILTER (NOT r_alpha) AS BIGINT)       AS n_fail_alpha,
           CAST(count(*) FILTER (NOT r_stopword) AS BIGINT)    AS n_fail_stopword,
           CAST(count(*) FILTER (r_words AND r_word_len AND r_symbol
                 AND r_bullet AND r_ellipsis AND r_alpha AND r_stopword)
                AS BIGINT)                                     AS n_pass
    FROM d
    GROUP BY source
    """,
    doc="""The Gopher document-quality rule suite (Rae et al. 2021,
    arXiv:2112.11446 A1.1) at the PUBLISHED thresholds: word count in
    [50, 100k], mean word length in [3, 10], symbol-to-word ratios
    ('#' and '...', EACH) <= 0.1, <=90% bullet-started lines, <=30%
    ellipsis-ended lines, >=80% words containing a letter, >=2 of the
    8 required English stop words. One corpus scan, all predicates
    scan-local array expressions over one materialized token array,
    conditional aggregation to a |source|-row result — the same
    one-pass shape as quality_funnel, so at 100 TB this is a pure
    map-side reduce. Every ratio is a single IEEE division of exact
    integers, bit-identical across engines. NULL text coalesces to
    rule failure (degenerate-corpus totality).""",
    tags=("TEXT", "A"),
    bench=True,
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    tokd = spread(documents).select(
        "source",
        "text",
        tokens("text").alias("_t"),
        F.split("text", "\n").alias("_lines"),
    )
    fl = gopher_rule_flags()
    flags = tokd.select(
        "source", *[c.alias(name) for name, c in fl.items()]
    )
    fail = lambda c: F.sum((~F.col(c)).cast("long"))  # noqa: E731
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        fail("r_words").alias("n_fail_word_count"),
        fail("r_word_len").alias("n_fail_word_len"),
        fail("r_symbol").alias("n_fail_symbol"),
        fail("r_bullet").alias("n_fail_bullet"),
        fail("r_ellipsis").alias("n_fail_ellipsis"),
        fail("r_alpha").alias("n_fail_alpha"),
        fail("r_stopword").alias("n_fail_stopword"),
        F.sum(
            (
                F.col("r_words")
                & F.col("r_word_len")
                & F.col("r_symbol")
                & F.col("r_bullet")
                & F.col("r_ellipsis")
                & F.col("r_alpha")
                & F.col("r_stopword")
            ).cast("long")
        ).alias("n_pass"),
    )


# Deterministic synthetic URL per document (the documents table carries
# no URL column): mixed-case scheme/host, sometimes an explicit :443,
# sometimes a trailing slash, query params in varying order with utm_*
# tracking noise, sometimes a fragment — the exact variation families a
# crawl-frontier canonicalizer must collapse. Pure integer arithmetic
# on doc_id, so both engines synthesize byte-identical raw URLs.
_RAW_URL = """
    concat(
      CASE doc_id % 3 WHEN 0 THEN 'HTTPS://WWW.'
                      WHEN 1 THEN 'https://www.'
                      ELSE 'https://' END,
      source, '.Example.COM',
      CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
      '/docs/', CAST(doc_id % 40 AS VARCHAR),
      CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,
      CASE WHEN doc_id % 2 = 0
           THEN concat('?id=', CAST(doc_id % 11 AS VARCHAR),
                       '&utm_source=feed')
           ELSE concat('?utm_source=feed&id=',
                       CAST(doc_id % 11 AS VARCHAR)) END,
      CASE WHEN doc_id % 13 = 0 THEN '#sec2' ELSE '' END
    )
"""


@register(
    "url_canonicalize",
    oracle=f"""
    WITH raw AS (
      SELECT source, {_RAW_URL} AS url FROM documents
    ),
    parts AS (
      SELECT source, url,
             split_part(split_part(url, '#', 1), '?', 1) AS base,
             split_part(split_part(url, '#', 1), '?', 2) AS q
      FROM raw
    ),
    hostpath AS (
      SELECT source, url, q,
             lower(split_part(base, '://', 1)) AS scheme,
             substr(base, length(split_part(base, '://', 1)) + 4) AS rest
      FROM parts
    ),
    canon AS (
      SELECT source, url,
             concat(
               scheme, '://',
               lower(regexp_replace(split_part(rest, '/', 1), ':443$', '')),
               CASE WHEN regexp_replace(
                      substr(rest, length(split_part(rest, '/', 1)) + 1),
                      '/+$', '') = '' THEN '/'
                    ELSE regexp_replace(
                      substr(rest, length(split_part(rest, '/', 1)) + 1),
                      '/+$', '') END,
               CASE WHEN len(list_filter(string_split(q, '&'),
                          p -> p <> '' AND NOT regexp_matches(p, '^utm_')))
                         > 0
                    THEN concat('?', array_to_string(
                      list_sort(list_filter(string_split(q, '&'),
                        p -> p <> '' AND NOT regexp_matches(p, '^utm_'))),
                      '&'))
                    ELSE '' END
             ) AS canonical
      FROM hostpath
    ),
    groups AS (
      SELECT source, canonical, CAST(count(*) AS BIGINT) AS n
      FROM canon GROUP BY source, canonical
    )
    SELECT source,
           CAST(sum(n) AS BIGINT)                            AS n_urls,
           CAST(count(*) AS BIGINT)                          AS n_canonical,
           CAST(coalesce(sum(n) FILTER (n > 1), 0) AS BIGINT) AS n_dup_urls,
           CAST(max(n) AS BIGINT)                            AS max_group,
           min(canonical)                                    AS sample_canonical
    FROM groups
    GROUP BY source
    """,
    doc="""Crawl-frontier URL canonicalization + duplicate-URL
    accounting: lowercase scheme/host, strip default :443 port, strip
    the fragment, strip trailing slashes (root stays '/'), drop utm_*
    tracking params, sort the surviving query params — then count how
    many raw URL variants collapse onto each canonical form, per
    source. All string/array column expressions (split_part /
    regexp_replace / array_sort), one groupBy(source, canonical)
    shuffle then a |source|-row rollup — the canonical key is
    high-cardinality and hash-partitions evenly at 100 TB (no hot
    key: the group size is the per-page variant count, bounded by the
    synthesis families, and in a real crawl by per-page mirror
    count). The URLs themselves are synthesized deterministically
    from doc_id (the fixture has no URL column) with the exact
    variation families the canonicalizer must collapse, so the oracle
    replays synthesis + canonicalization byte-identically.""",
    tags=("TEXT",),
    bench=True,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    raw = documents.select(
        "source", F.expr(_RAW_URL.replace("VARCHAR", "STRING")).alias("url")
    )
    parts = raw.select(
        "source",
        F.expr("split_part(split_part(url, '#', 1), '?', 1)").alias("base"),
        F.expr("split_part(split_part(url, '#', 1), '?', 2)").alias("q"),
    )
    hostpath = parts.select(
        "source",
        "q",
        F.expr("lower(split_part(base, '://', 1))").alias("scheme"),
        F.expr(
            "substr(base, length(split_part(base, '://', 1)) + 4)"
        ).alias("rest"),
    )
    kept = (
        "filter(split(q, '&'), p -> p <> '' AND NOT p rlike '^utm_')"
    )
    cpath = (
        "regexp_replace(substr(rest, length(split_part(rest, '/', 1)) + 1),"
        " '/+$', '')"
    )
    canon = hostpath.select(
        "source",
        F.expr(
            f"""concat(
              scheme, '://',
              lower(regexp_replace(split_part(rest, '/', 1), ':443$', '')),
              CASE WHEN {cpath} = '' THEN '/' ELSE {cpath} END,
              CASE WHEN size({kept}) > 0
                   THEN concat('?', array_join(array_sort({kept}), '&'))
                   ELSE '' END
            )"""
        ).alias("canonical"),
    )
    groups = canon.groupBy("source", "canonical").agg(
        F.count(F.lit(1)).alias("n")
    )
    return groups.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_urls"),
        F.count(F.lit(1)).alias("n_canonical"),
        F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n_dup_urls"),
        F.max("n").cast("long").alias("max_group"),
        F.min("canonical").alias("sample_canonical"),
    )


# C4 line synthesis: the fixture documents are flat word streams (no
# newlines, no punctuation), so the line structure C4 filters operate
# on is synthesized deterministically from doc_id — token runs of
# (5 + doc_id % 7) words per line, ~2/3 of lines closed with a
# terminal '.', and the paper's three page-poison markers
# ('javascript' line, 'lorem ipsum', '{') injected on fixed doc_id
# residues. The FILTERS then run as real string predicates over the
# built lines (LIKE / split / lower), exactly what they'd do on real
# crawl text; the oracle replays synthesis + filtering byte-identically.
_C4_LINES_SPARK = """
    transform(
      CASE WHEN _nl > 0 THEN sequence(0, _nl - 1) ELSE array() END,
      i -> concat(
        array_join(slice(_t, CAST(i * _L + 1 AS INT), CAST(_L AS INT)), ' '),
        CASE WHEN doc_id % 41 = 0 AND i = 0 THEN ' javascript' ELSE '' END,
        CASE WHEN doc_id % 43 = 0 AND i = 1 THEN ' lorem ipsum' ELSE '' END,
        CASE WHEN doc_id % 47 = 0 AND i = 2 THEN ' {' ELSE '' END,
        CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END
      )
    )
"""

_C4_LINES_DUCK = """
    list_transform(
      range(CAST(_nl AS BIGINT)),
      i -> concat(
        array_to_string(_t[CAST(i * _L + 1 AS BIGINT)
                           : CAST((i + 1) * _L AS BIGINT)], ' '),
        CASE WHEN doc_id % 41 = 0 AND i = 0 THEN ' javascript' ELSE '' END,
        CASE WHEN doc_id % 43 = 0 AND i = 1 THEN ' lorem ipsum' ELSE '' END,
        CASE WHEN doc_id % 47 = 0 AND i = 2 THEN ' {' ELSE '' END,
        CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END
      )
    )
"""

# a C4-kept line: terminal punctuation, >= 3 words, no 'javascript'
_C4_MIN_LINE_WORDS = 3
_C4_MIN_SENTENCES = 5


@register(
    "c4_line_filters",
    oracle=f"""
    WITH lined AS (
      SELECT source, doc_id, {_C4_LINES_DUCK} AS lines
      FROM (
        SELECT source, doc_id, _t, _L, (len(_t) + _L - 1) // _L AS _nl
        FROM (SELECT source, doc_id, {_TOKS} AS _t,
                     5 + doc_id % 7 AS _L
              FROM documents)
      )
    ),
    filtered AS (
      SELECT source,
             len(lines) AS n_lines,
             list_filter(lines, l ->
               (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
               AND len(list_filter(string_split(l, ' '), x -> x <> ''))
                   >= {_C4_MIN_LINE_WORDS}
               AND NOT contains(lower(l), 'javascript')) AS kept,
             len(list_filter(lines, l ->
                 contains(lower(l), 'lorem ipsum'))) > 0 AS has_lorem,
             len(list_filter(lines, l -> contains(l, '{{'))) > 0 AS has_brace
      FROM lined
    ),
    flags AS (
      SELECT source, n_lines, kept,
             NOT has_lorem AND NOT has_brace
               AND len(kept) >= {_C4_MIN_SENTENCES} AS page_kept
      FROM filtered
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                     AS n_docs,
           CAST(sum(n_lines) AS BIGINT)                 AS n_lines,
           CAST(count(*) FILTER (page_kept) AS BIGINT)  AS n_docs_kept,
           CAST(coalesce(sum(len(kept)) FILTER (page_kept), 0) AS BIGINT)
             AS n_lines_kept,
           CAST(coalesce(sum(
                 list_aggregate(list_transform(kept, l ->
                   len(list_filter(string_split(l, ' '), x -> x <> ''))),
                   'sum')) FILTER (page_kept), 0) AS BIGINT)
             AS n_words_kept
    FROM flags
    GROUP BY source
    """,
    doc="""The C4 cleaning-rule suite (Raffel et al. 2020, the T5
    corpus pipeline): keep only lines ending in terminal punctuation
    with >= 3 words and no 'javascript'; drop whole pages containing
    'lorem ipsum' or a curly brace, or with fewer than 5 surviving
    sentences. Line structure is synthesized deterministically from
    doc_id (the fixture is a flat word stream), then the filters run
    as REAL string predicates (LIKE / split / contains) over the
    built lines. One corpus scan, scan-local array expressions,
    conditional aggregation to a |source|-row result — map-side
    reduce at 100 TB, the same one-pass shape as gopher_rules.""",
    tags=("TEXT", "A"),
    bench=True,
)
def c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    prepped = spread(documents).select(
        "source",
        "doc_id",
        tokens("text").alias("_t"),
        (F.lit(5) + F.col("doc_id") % 7).alias("_L"),
    ).withColumn(
        "_nl", F.expr("(size(_t) + _L - 1) div _L")
    )
    lined = prepped.select(
        "source", F.expr(_C4_LINES_SPARK).alias("lines")
    )
    nw = (
        "size(filter(split({l}, ' '), x -> x <> ''))"
    )
    kept_expr = (
        "filter(lines, l -> "
        "(l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%\"') "
        f"AND {nw.format(l='l')} >= {_C4_MIN_LINE_WORDS} "
        "AND NOT contains(lower(l), 'javascript'))"
    )
    filtered = lined.select(
        "source",
        F.size("lines").alias("n_lines"),
        F.expr(kept_expr).alias("kept"),
        F.expr(
            "exists(lines, l -> contains(lower(l), 'lorem ipsum'))"
        ).alias("has_lorem"),
        F.expr("exists(lines, l -> contains(l, '{'))").alias("has_brace"),
    )
    flags = filtered.select(
        "source",
        "n_lines",
        "kept",
        (
            ~F.col("has_lorem")
            & ~F.col("has_brace")
            & (F.size("kept") >= _C4_MIN_SENTENCES)
        ).alias("page_kept"),
    )
    kept_words = F.expr(
        f"aggregate(kept, 0, (acc, l) -> acc + {nw.format(l='l')})"
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum(F.col("page_kept").cast("long")).alias("n_docs_kept"),
        F.coalesce(
            F.sum(F.when(F.col("page_kept"), F.size("kept"))), F.lit(0)
        ).cast("long").alias("n_lines_kept"),
        F.coalesce(
            F.sum(F.when(F.col("page_kept"), kept_words)), F.lit(0)
        ).cast("long").alias("n_words_kept"),
    )


# -- trained quality classifier (FineWeb-Edu shape) -------------------------
# Distill a cheap heuristic gate into a parametric model: label every
# document with a rule (stopword ratio + length — the kind of signal a
# teacher model or annotator would produce), featurize with
# scan-local text statistics, and train logistic regression by
# full-batch gradient descent. The logreg_gd discipline on a 5-dim
# feature space: per iteration the 5-float model broadcasts into the
# scan, each gradient component rounds at 6dp so both engines enter
# the next iteration with bit-identical weights.

_QLR_ITERS = 3
_QLR_STOP = STOPWORDS_EN  # the shared stopword vocabulary
_QLR_FEATS = ("f0", "f1", "f2", "f3", "f4")


def _qlr_feats_sql() -> str:
    lst = ", ".join(f"'{w}'" for w in _QLR_STOP)
    sw = (
        f"len(list_filter(t, x -> list_contains([{lst}], x)))"
        " / CAST(greatest(len(t), 1) AS DOUBLE)"
    )
    return f"""
    feats AS (
      SELECT 1.0 AS f0,
             len(t) / 100.0 AS f1,
             list_aggregate(list_transform(t, x -> len(x)), 'sum')
               / CAST(greatest(len(t), 1) AS DOUBLE) AS f2,
             {sw} AS f3,
             len(list_distinct(t)) / CAST(greatest(len(t), 1) AS DOUBLE)
               AS f4,
             CASE WHEN {sw} >= 0.05 AND len(t) >= 50
                  THEN 1.0 ELSE 0.0 END AS y
      FROM (SELECT {_TOKS} AS t FROM documents)
    )"""


def _qlr_dot_sql(w: str) -> str:
    return " + ".join(f"{w}.w{j} * f{j}" for j in range(5))


def _qlr_grad_sql(prev_w: str, grad: str) -> str:
    # coalesce: an EMPTY corpus yields NULL means — the zero gradient
    # keeps the oracle on the engine's zero-model totality contract
    p = f"1.0 / (1.0 + exp(-({_qlr_dot_sql('w')})))"
    comps = ", ".join(
        f"round(coalesce(avg(({p} - y) * f{j}), 0.0), 6) AS g{j}"
        for j in range(5)
    )
    return f"{grad} AS (SELECT {comps} FROM sf CROSS JOIN {prev_w} w)"


def _qlr_chain_sql() -> str:
    # standardize f1..f4 (bias stays 1.0): mu/sd round at 6dp — the
    # cross-engine sync — and a zero sd (constant feature on a
    # degenerate corpus) clamps to 1e-6 instead of dividing by zero
    stats = ", ".join(
        f"round(avg(f{j}), 6) AS mu{j}, "
        f"round(stddev_pop(f{j}), 6) AS sd{j}"
        for j in range(1, 5)
    )
    std = ", ".join(
        f"(f{j} - mu{j}) / greatest(sd{j}, 0.000001) AS f{j}"
        for j in range(1, 5)
    )
    parts = [
        _qlr_feats_sql(),
        f"stats AS (SELECT {stats} FROM feats)",
        f"sf AS (SELECT 1.0 AS f0, {std}, y FROM feats CROSS JOIN stats)",
        "w0 AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(5))
        + ")",
    ]
    for it in range(_QLR_ITERS):
        parts.append(_qlr_grad_sql(f"w{it}", f"g{it + 1}"))
        upd = ", ".join(f"w.w{j} - g.g{j} AS w{j}" for j in range(5))
        parts.append(
            f"w{it + 1} AS (SELECT {upd} FROM w{it} w CROSS JOIN "
            f"g{it + 1} g)"
        )
    return ",\n".join(parts)


def _qlr_features(documents: DataFrame) -> DataFrame:
    toks = tokens("text")
    d = spread(documents).select(toks.alias("_t"))
    n = F.size("_t")
    n1 = F.greatest(n, F.lit(1)).cast("double")
    sw = (
        F.size(
            F.filter(
                F.col("_t"),
                lambda x: F.array_contains(
                    F.array(*[F.lit(w) for w in _QLR_STOP]), x
                ),
            )
        )
        / n1
    )
    return d.select(
        F.lit(1.0).alias("f0"),
        (n / F.lit(100.0)).alias("f1"),
        (
            F.aggregate(F.col("_t"), F.lit(0), lambda a, t: a + F.length(t))
            / n1
        ).alias("f2"),
        sw.alias("f3"),
        (F.size(F.array_distinct("_t")) / n1).alias("f4"),
        F.when((sw >= 0.05) & (n >= 50), 1.0).otherwise(0.0).alias("y"),
    )


def _qlr_standardize(feats: DataFrame) -> tuple[DataFrame, bool]:
    """z-score f1..f4 with 6dp-rounded mu/sd (the cross-engine sync;
    an 8-float driver collect — model-sized traffic). A zero sd
    clamps to 1e-6, mirroring the oracle. Returns (df, is_empty) —
    an empty corpus yields NO model rows (the logreg_gd contract)."""
    row = feats.agg(
        *[
            x
            for j in range(1, 5)
            for x in (
                F.round(F.avg(f"f{j}"), 6).alias(f"mu{j}"),
                F.round(F.stddev_pop(f"f{j}"), 6).alias(f"sd{j}"),
            )
        ]
    ).first()
    if row is None or row["mu1"] is None:
        return feats, True  # empty corpus
    return feats.select(
        "f0",
        *[
            (
                (F.col(f"f{j}") - F.lit(row[f"mu{j}"]))
                / F.lit(max(row[f"sd{j}"], 0.000001))
            ).alias(f"f{j}")
            for j in range(1, 5)
        ],
        "y",
    ), False


def _qlr_train(feats: DataFrame) -> list[float]:
    w = [0.0] * 5
    for _ in range(_QLR_ITERS):
        dot = F.lit(w[0]) * F.col("f0")
        for j in range(1, 5):
            dot = dot + F.lit(w[j]) * F.col(f"f{j}")
        p = 1.0 / (1.0 + F.exp(-dot))
        row = feats.agg(
            *[
                F.round(F.avg((p - F.col("y")) * F.col(f"f{j}")), 6).alias(
                    f"g{j}"
                )
                for j in range(5)
            ]
        ).first()
        if row is None or row["g0"] is None:
            return w  # empty corpus: the zero model
        w = [w[j] - row[f"g{j}"] for j in range(5)]
    return w


@register(
    "quality_classifier_train",
    oracle=f"""
    WITH {_qlr_chain_sql()}
    SELECT dim, weight FROM (
      {" UNION ALL ".join(
          f"SELECT {j} AS dim, round(w{j}, 6) AS weight FROM w{_QLR_ITERS}"
          for j in range(5)
      )}
    ) CROSS JOIN (SELECT count(*) AS _n FROM sf) g
    WHERE g._n > 0
    """,
    doc="""Train a document-quality classifier from heuristic labels
    (the FineWeb-Edu / fastText-filter distillation shape): label =
    a stopword+length rule, features = bias / scaled length / mean
    word length / stopword ratio / distinct-token ratio, model =
    logistic regression by 3 unrolled full-batch GD iterations
    (lr=1.0). Per iteration the 5-float model broadcasts into one
    corpus scan and the gradient partial-aggregates map-side to 5
    floats of driver traffic (the treeAggregate contract) — at
    100 TB each iteration is one scan, no shuffle beyond the final
    1-row aggregate. Gradient components round at 6dp so both
    engines step through bit-identical weights.""",
    tags=("ML", "TEXT", "PIPELINE"),
)
def quality_classifier_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from biggis_landuse_spark.queries import hold_cache

    (documents,) = load_tables(spark, sf_dir, "documents")
    # the feature relation feeds 1 standardize + _QLR_ITERS gradient
    # aggregations — persist it so the tokenize/feature pass over the
    # corpus runs once, not once per job (r11)
    feats, empty = _qlr_standardize(hold_cache(_qlr_features(documents)))
    if empty:  # no training rows → no model (the logreg_gd contract)
        return spark.createDataFrame([], "dim int, weight double")
    from biggis_landuse_spark.session import local_df

    w = _qlr_train(feats)
    out = [(j, round(w[j], 6)) for j in range(5)]
    return local_df(spark, out, "dim int, weight double")


@register(
    "quality_classifier_eval",
    oracle=f"""
    WITH {_qlr_chain_sql()}
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (y = 1.0) AS BIGINT) AS n_positive,
           CAST(count(*) FILTER ({_qlr_dot_sql("w")} >= 0) AS BIGINT)
             AS n_pred_positive,
           CAST(count(*) FILTER (({_qlr_dot_sql("w")} >= 0) = (y = 1.0))
                AS BIGINT) AS n_correct,
           CAST(count(*) FILTER ({_qlr_dot_sql("w")} >= 0 AND y = 1.0)
                AS BIGINT) AS n_true_positive
    FROM sf CROSS JOIN w{_QLR_ITERS} w
    """,
    doc="""Confusion counts of the trained quality classifier against
    its own training labels (the filter-quality report a pipeline
    ships with the model): decision rule w·x >= 0 (sigmoid >= 0.5).
    The weights entering the dot product are bit-identical across
    engines (every gradient step is 6dp-synced and the w−g update is
    exact IEEE), so the per-document decisions — and therefore the
    exact integer counts — agree with no tolerance. One scan over
    the feature relation with a broadcast 1-row model.""",
    tags=("ML", "TEXT", "PIPELINE"),
    bench=True,
)
def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biggis_landuse_spark.queries import hold_cache

    (documents,) = load_tables(spark, sf_dir, "documents")
    # persist the feature relation: standardize + 3 gradient rounds +
    # the confusion aggregate each scan it (see quality_classifier_train)
    feats, _empty = _qlr_standardize(hold_cache(_qlr_features(documents)))
    w = _qlr_train(feats)
    dot = F.lit(w[0]) * F.col("f0")
    for j in range(1, 5):
        dot = dot + F.lit(w[j]) * F.col(f"f{j}")
    pred = dot >= 0
    pos = F.col("y") == 1.0
    c = lambda cond: F.count(F.when(cond, 1)).cast("long")  # noqa: E731
    return feats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        c(pos).alias("n_positive"),
        c(pred).alias("n_pred_positive"),
        c(pred == pos).alias("n_correct"),
        c(pred & pos).alias("n_true_positive"),
    )


@register(
    "temperature_mix",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
      GROUP BY source
    ),
    weighted AS (
      SELECT source, n, round(sqrt(CAST(n AS DOUBLE)), 6) AS w FROM counts
    ),
    tot AS (SELECT sum(w) AS tw, sum(n) AS tn FROM weighted)
    SELECT source, n AS n_docs,
           round(w / tw, 6)                          AS mix_weight,
           round((w / tw) / (n * 1.0 / tn), 6)       AS upsample_factor,
           CAST(round(w / tw * 100000) AS BIGINT)    AS samples_per_100k
    FROM weighted CROSS JOIN tot
    """,
    doc="""Temperature-based domain mixing (the alpha=0.5 sampling rule
    multilingual/multi-domain training mixes use — weight each source
    by n^alpha instead of n so small domains are upsampled): one
    partial-aggregated count per source, a 1-row total broadcast, and
    the per-source weight/upsample-factor/sample-budget arithmetic.
    sqrt rounds at 6dp before normalization (the sync point), ratios
    round at 6dp, and the 100k-sample budget allocation is an exact
    integer on both engines. Complements domain_mix_cap (hard caps)
    with the soft-mixing rule.""",
    tags=("PIPELINE", "TEXT"),
)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    counts = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    weighted = counts.select(
        "source", "n", F.round(F.sqrt(F.col("n").cast("double")), 6).alias("w")
    )
    tot = weighted.agg(
        F.sum("w").alias("tw"), F.sum("n").alias("tn")
    )
    return weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.col("w") / F.col("tw"), 6).alias("mix_weight"),
        F.round(
            (F.col("w") / F.col("tw")) / (F.col("n") / F.col("tn")), 6
        ).alias("upsample_factor"),
        F.round(F.col("w") / F.col("tw") * 100000)
        .cast("long")
        .alias("samples_per_100k"),
    )


_DSIR_B = 64   # hashed feature buckets (10^4+ at real scale)
_DSIR_K = 50   # documents resampled


@register(
    "dsir_select",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKS}) AS term FROM documents
    ),
    hashed AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(term), 1, 6) AS BIGINT) % {_DSIR_B}
               AS b
      FROM tok
    ),
    raw AS (SELECT b, count(*) AS r FROM hashed GROUP BY b),
    tgt AS (
      SELECT b, count(*) AS t FROM hashed WHERE lang = 'en' GROUP BY b
    ),
    tot AS (
      SELECT sum(r) AS tr, (SELECT sum(t) FROM tgt) AS tt FROM raw
    ),
    model AS (
      SELECT raw.b,
             round(ln((coalesce(t, 0) + 1.0) / (tt + {_DSIR_B}))
                   - ln((r + 1.0) / (tr + {_DSIR_B})), 6) AS lam
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
    ),
    scored AS (
      SELECT h.doc_id,
             CAST(count(*) AS BIGINT) AS n_toks,
             sum(lam)                 AS logw
      FROM hashed h JOIN model m ON h.b = m.b
      GROUP BY h.doc_id
    ),
    keyed AS (
      SELECT doc_id, n_toks, logw,
             logw - ln(-ln((CAST('0x' || substr(md5(
                 CAST(doc_id AS VARCHAR) || '|dsir'), 1, 8) AS BIGINT)
               + 0.5) / 4294967296.0)) AS k
      FROM scored
    )
    SELECT doc_id, n_toks,
           round(logw, 4) AS log_w,
           round(k, 4)    AS sample_key
    FROM keyed ORDER BY k DESC, doc_id LIMIT {_DSIR_K}
    """,
    doc="""DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): estimate per-doc
    importance weights as the log-likelihood ratio of a hashed
    bag-of-unigrams model fit on a target slice (lang='en') vs the
    raw corpus (Laplace-smoothed, 64 buckets here / 10k+ at scale),
    then resample top-K by weight + deterministic Gumbel noise (the
    Gumbel-top-k trick; uniforms from the portable md5 mix so both
    engines draw identical noise).

    Scale: model fit is two partial-aggregated shuffles that each
    output only B bucket rows; the B-row model broadcasts; scoring is
    a map-side broadcast join over exploded tokens plus ONE doc-keyed
    shuffle; selection is TakeOrderedAndProject (top-K, no global
    sort). Float sync: bucket log-ratios round at 6dp BEFORE scoring
    (both engines sum identical doubles), outputs at 4dp.""",
    tags=("PIPELINE", "TEXT", "ML"),
    bench=True,
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    hashed = documents.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("term")
    ).select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5("term"), 1, 6), 16, 10).cast("long"),
            F.lit(_DSIR_B),
        ).alias("b"),
    )
    # raw and target bucket counts in ONE pass (r11): the tokenize +
    # md5-hash subtree is the expensive part of this query, and the
    # separate raw/tgt aggregates evaluated it twice (plus once more
    # for scoring — three full passes). A conditional count fuses the
    # two model-fit passes: t = count of 'en' rows per bucket (0, not
    # NULL, for absent buckets — the +1 Laplace smoothing and the
    # tt/tr totals are value-identical to the old left-join form).
    counts = hashed.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("t"),
    )
    tot = counts.agg(
        F.sum("r").alias("tr"), F.sum(F.when(F.col("t") > 0, F.col("t"))).alias("tt")
    )
    model = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (F.col("t") + 1.0)
                    / (F.col("tt") + _DSIR_B)
                )
                - F.log((F.col("r") + 1.0) / (F.col("tr") + _DSIR_B)),
                6,
            ).alias("lam"),
        )
    )
    scored = (
        hashed.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("lam").alias("logw"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|dsir"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    k = F.col("logw") - F.log(-F.log(u))
    return (
        scored.select(
            "doc_id",
            "n_toks",
            F.round(F.col("logw"), 4).alias("log_w"),
            F.round(k, 4).alias("sample_key"),
            k.alias("_k"),
        )
        .orderBy(F.desc("_k"), F.asc("doc_id"))
        .limit(_DSIR_K)
        .drop("_k")
    )


_N_SHUFFLE_SHARDS = 8  # thousands at real scale (one shard ~ one output file)


@register(
    "corpus_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR) || '|shuffle') AS k,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|shuffle'),
                                 1, 6) AS BIGINT) % {_N_SHUFFLE_SHARDS}
               AS shard
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           arg_min(doc_id, k)           AS head_doc,
           arg_max(doc_id, k)           AS tail_doc
    FROM keyed GROUP BY shard
    """,
    doc="""Deterministic corpus shuffle into equal training shards —
    the write-layout step after select/mix/pack: every doc gets a
    content-hash order key (md5 of doc_id + salt, engine-portable),
    its shard is the key's md5-prefix modulo, and docs are consumed
    within a shard in key order. The query reports per-shard stats
    (count, bytes, first/last doc in shuffle order) — the manifest a
    shard writer would emit.

    Scale shape: ONE partial-aggregated shuffle on shard (min_by/
    max_by/sum all combine map-side; N_SHARDS rows out). The actual
    write is `repartition(shard)` + `sortWithinPartitions(k)` — the
    same key pair, no extra shuffle, and shard sizes are balanced by
    the hash regardless of doc_id layout (thousands of shards at
    100 TB: shard count scales with corpus/file-size, never with
    executor count).""",
    tags=("PIPELINE",),
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|shuffle")))
    shard = F.pmod(
        F.conv(F.substring(k, 1, 6), 16, 10).cast("long"),
        F.lit(_N_SHUFFLE_SHARDS),
    )
    return (
        documents.select(
            "doc_id", "n_chars", k.alias("k"), shard.alias("shard")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min_by("doc_id", "k").alias("head_doc"),
            F.max_by("doc_id", "k").alias("tail_doc"),
        )
    )


@register(
    "cross_source_contamination",
    oracle=f"""
    WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source
    ),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared,
           round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6)
             AS jaccard
    FROM shared
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
    doc="""Source×source contamination matrix: 3-word-shingle Jaccard
    overlap between every pair of corpus sources — the leakage
    diagnostic run before mixing crawl snapshots / data vendors into
    one training corpus (a shingle seen in two sources inflates dedup
    debt and can leak eval sets across vendor boundaries).

    Scale shape: the corpus is shingled and aggregated to one row per
    DISTINCT shingle in ONE shuffle (collect_set dedups in the
    partial agg, and each set is bounded by the SOURCE count —
    dozens, fixed by schema, never data-sized). That vocabulary-sized
    relation is hold_cache()d and feeds both consumers: per-source
    sizes (explode + re-agg over distinct-shingle rows, sublinear in
    the corpus) and the pair explosion, which is |shingles|·n_sources²
    at absolute worst — linear in the corpus, never doc-quadratic.
    Per-source sizes are n_sources rows — broadcast into the jaccard
    join.""",
    tags=("PIPELINE", "TEXT", "dedup"),
    bench=True,
)
def cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biggis_landuse_spark.queries import hold_cache

    (documents,) = load_tables(spark, sf_dir, "documents")
    # deliberately NOT spread (r11): the shingle+collect_set chain
    # aggregates to a vocabulary-sized relation; measured same-context,
    # the round-robin exchange costs more than the single-split scan
    # parallelism it buys here (0.93 s vs 0.75 s warm at sf0.1)
    grouped = hold_cache(
        documents.select("source", tokens("text").alias("_toks"))
        .select(
            "source",
            F.explode(D.shingles_from_tokens(F.col("_toks"))).alias("shingle"),
        )
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    sizes = grouped.select(F.explode("srcs").alias("source")).groupBy(
        "source"
    ).agg(F.count(F.lit(1)).alias("n"))
    pair_expr = (
        "flatten(transform(srcs, (a, i) -> "
        "  transform(slice(srcs, i + 2, size(srcs)), b -> "
        "    struct(a AS src_a, b AS src_b))))"
    )
    pairs = grouped.where(F.size("srcs") >= 2).select(
        F.explode(F.expr(pair_expr)).alias("p")
    )
    shared = pairs.groupBy(
        F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    sa = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("_na")))
    sb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n").alias("_nb")))
    return (
        shared.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("_na") + F.col("_nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


# RAG / training-context chunking: fixed token window with overlap.
# 32/24 fits the synthetic corpus (10-99 tokens/doc -> 1-4 chunks);
# real pipelines run 512/384 etc. - the plan shape is identical.
_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


@register(
    "document_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    counted AS (
      SELECT doc_id, t,
             CASE WHEN len(t) <= {_CHUNK_TOKENS} THEN 1
                  ELSE 1 + (len(t) - {_CHUNK_TOKENS} + {_CHUNK_STRIDE - 1})
                           // {_CHUNK_STRIDE} END AS n_chunks
      FROM toks
    ),
    exploded AS (
      SELECT doc_id, t, unnest(range(n_chunks)) AS i FROM counted
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(len(t[CAST(i*{_CHUNK_STRIDE}+1 AS BIGINT)
                      :CAST(i*{_CHUNK_STRIDE}+{_CHUNK_TOKENS} AS BIGINT)])
                AS BIGINT) AS chunk_tokens,
           substr(md5(array_to_string(
               t[CAST(i*{_CHUNK_STRIDE}+1 AS BIGINT)
                 :CAST(i*{_CHUNK_STRIDE}+{_CHUNK_TOKENS} AS BIGINT)], ' ')),
               1, 8) AS chunk_sig
    FROM exploded
    """,
    doc="""Overlapping token-window chunking (RAG / context-window prep):
    every document is split into {chunk}-token windows advancing by
    {stride} tokens (so consecutive chunks share {overlap} tokens of
    context), the step between cleaning and embedding in a retrieval
    or long-context training pipeline. Emits one row per chunk with a
    content signature (md5 of the chunk text) so exact chunk payloads
    are oracle-verified, not just counts.

    Scale shape: ZERO shuffles — tokenize, a narrow posexplode of the
    per-doc chunk index range, and an array slice are all computed
    inside one whole-stage-codegen'd map over the parquet scan. Output
    is ~(ntok/stride) rows per doc regardless of corpus size, so the
    operator streams at 100 TB; the downstream embed step sees chunks
    already co-partitioned with their parent doc's file split (no
    repartition needed before a per-chunk Pandas-UDF encoder).""",
    tags=("PIPELINE",),
    bench=True,
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    C, S = _CHUNK_TOKENS, _CHUNK_STRIDE
    toked = documents.select("doc_id", tokens("text").alias("t"))
    counted = toked.select(
        "doc_id",
        "t",
        F.when(F.size("t") <= C, F.lit(1))
        .otherwise(F.lit(1) + F.floor((F.size("t") - C + (S - 1)) / S))
        .cast("long")
        .alias("n_chunks"),
    )
    exploded = counted.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("i"),
    )
    chunk = F.slice("t", F.col("i") * S + 1, C)
    return exploded.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("chunk_tokens"),
        F.substring(F.md5(F.array_join(chunk, " ")), 1, 8).alias(
            "chunk_sig"
        ),
    )
