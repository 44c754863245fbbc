"""Training-data-pipeline operators (queries/pipeline.py): TF-IDF,
decontamination, repetition filter, sequence packing — semantics and
the plan shapes that carry to 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def run(spark):
    _ensure_loaded()

    def get(name: str):
        return REGISTRY[name].spark(spark, SF)

    return get


@pytest.fixture(scope="module")
def plan_of(spark):
    _ensure_loaded()

    def get(name: str) -> str:
        df = REGISTRY[name].spark(spark, SF)
        return df._jdf.queryExecution().executedPlan().toString()

    return get


def test_tfidf_query_side_broadcasts(plan_of):
    # the bounded tf side broadcasts into the corpus-wide df relation;
    # the only nested-loop is the deliberate 1-row N broadcast
    plan = plan_of("tfidf_top_terms")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_top3_and_idf_consistency(run):
    rows = run("tfidf_top_terms").collect()
    assert rows
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
        assert r["tf"] >= 1 and r["df"] >= 1
        assert 1 <= r["rnk"] <= 3
    for doc, rs in per_doc.items():
        assert len(rs) == len({r["rnk"] for r in rs}) <= 3
        # rank order matches descending weight
        rs.sort(key=lambda r: r["rnk"])
        ws = [r["tfidf"] for r in rs]
        assert ws == sorted(ws, reverse=True)


def test_decontaminate_eval_side_broadcasts(plan_of):
    plan = plan_of("decontaminate_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_never_flags_eval_docs(run):
    rows = run("decontaminate_overlap").collect()
    for r in rows:
        assert r["doc_id"] % 50 != 0  # eval docs are not their own hits
        assert r["n_eval_matched"] >= 1 and r["n_shared"] >= 1


def test_repetition_ratio_bounds(run):
    rows = run("repetition_ratio").collect()
    assert rows
    for r in rows:
        assert 0 <= r["distinct_bigrams"] <= r["total_bigrams"]
        assert 0.0 <= r["dup_fraction"] < 1.0


def test_sequence_packing_conserves_and_is_deterministic(spark, run):
    rows = run("sequence_packing").collect()
    assert rows
    # conservation: packed token mass equals the corpus token mass
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    total = docs.select(
        F.sum(F.size(F.filter(F.split("text", " "), lambda t: t != "")))
    ).first()[0]
    assert sum(r["bin_tokens"] for r in rows) == total
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert all(r["bin_id"] >= 0 for r in rows)
    # shard-parallel: bins keyed per (lang, shard) never collide across
    # shards, so re-running yields the identical multiset
    again = run("sequence_packing").collect()
    key = lambda r: (r["lang"], r["shard"], r["bin_id"])  # noqa: E731
    assert sorted(map(tuple, rows), key=str) == sorted(
        map(tuple, again), key=str
    ), "packing must be deterministic"
    assert len({key(r) for r in rows}) == len(rows)


def test_sequence_packing_windows_are_shard_local(plan_of):
    # the running sum sorts WITHIN hash-partitioned (lang, shard)
    # groups — a window exchange, never a global single-partition sort
    plan = plan_of("sequence_packing")
    assert "Window" in plan
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


# -- gopher_rules ----------------------------------------------------------


def test_gopher_rules_one_scan_no_joins(plan_of):
    plan = plan_of("gopher_rules")
    assert "Join" not in plan and "CartesianProduct" not in plan
    # partial → final aggregate (map-side reduce at 100 TB)
    assert plan.count("HashAggregate") >= 2


def test_gopher_rules_count_invariants(spark, run):
    rows = run("gopher_rules").collect()
    assert rows
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        for c in (
            "n_fail_word_count",
            "n_fail_word_len",
            "n_fail_symbol",
            "n_fail_bullet",
            "n_fail_ellipsis",
            "n_fail_alpha",
            "n_fail_stopword",
        ):
            assert 0 <= r[c] <= r["n_docs"]
            # a doc failing rule X cannot be in the all-rules-pass set
            assert r["n_pass"] <= r["n_docs"] - r[c]


def _write_documents(spark, tmp_path, rows):
    _ensure_loaded()
    out = str(tmp_path / "gopher_docs")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (s, t) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_gopher_rules_each_rule_fires(spark, tmp_path):
    """One crafted violator per rule, one clean doc — each rule must
    fire exactly where intended (the published-threshold semantics,
    pinned independently of the fixture corpus)."""
    good = "the dog and cat have fun with food that they love " * 6  # 60 words
    crafted = [
        ("ok", good),
        ("short", "the and of with that"),  # < 50 words
        ("longwords", " ".join(["the", "and", "that", "with"] + ["supercalifragilistic"] * 56)),
        ("symbols", good + " " + " ".join(["#"] * 12)),  # >0.1 '#'/word
        ("bullets", "• " + good + "\n• x\n• y\n• z\n• w\n• v\n• u\n• t\n• s\n• r"),
        ("ellipsis", good + "...\nmore words here...\nand more..."),
        ("nonalpha", "the and of with " + " ".join(str(i) for i in range(56))),
        ("nostop", " ".join(["dog cat fox hen cow owl bat elk"] * 8)),
    ]
    d = _write_documents(spark, tmp_path, crafted)
    got = {r["source"]: r for r in REGISTRY["gopher_rules"].spark(spark, d).collect()}
    assert got["ok"]["n_pass"] == 1
    expect_fail = {
        "short": "n_fail_word_count",
        "longwords": "n_fail_word_len",
        "symbols": "n_fail_symbol",
        "bullets": "n_fail_bullet",
        "ellipsis": "n_fail_ellipsis",
        "nonalpha": "n_fail_alpha",
        "nostop": "n_fail_stopword",
    }
    for src, col in expect_fail.items():
        assert got[src][col] == 1, f"{src} should fail {col}"
        assert got[src]["n_pass"] == 0


# -- url_canonicalize ------------------------------------------------------


def test_url_canonicalize_no_joins_two_phase_agg(plan_of):
    plan = plan_of("url_canonicalize")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "SinglePartition" not in plan  # rollup stays per-source


def test_url_canonicalize_collapses_variant_families(spark, tmp_path):
    """doc_ids 0 and 880 synthesize DIFFERENT raw URLs (case, :443,
    trailing slash, fragment all differ) whose canonical forms are
    identical — the collapse the canonicalizer exists for."""
    d = _write_documents(spark, tmp_path, [("src0", "a"), ("src0", "b")])
    # overwrite with controlled doc_ids
    spark.createDataFrame(
        [(0, "a", "en", "src0", 1), (880, "b", "en", "src0", 1)],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = REGISTRY["url_canonicalize"].spark(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_urls"] == 2
    assert r["n_canonical"] == 1
    assert r["n_dup_urls"] == 2
    assert r["max_group"] == 2
    assert r["sample_canonical"] == "https://www.src0.example.com/docs/0?id=0"


# -- c4_line_filters -------------------------------------------------------


def _c4_reference(doc_id, words):
    """Pure-Python replica of the C4 synthesis + filter semantics —
    independent of both engines' expressions."""
    L = 5 + doc_id % 7
    lines = []
    for i in range(0, (len(words) + L - 1) // L):
        l = " ".join(words[i * L : (i + 1) * L])
        if doc_id % 41 == 0 and i == 0:
            l += " javascript"
        if doc_id % 43 == 0 and i == 1:
            l += " lorem ipsum"
        if doc_id % 47 == 0 and i == 2:
            l += " {"
        if (doc_id + i) % 3 != 0:
            l += "."
        lines.append(l)
    kept = [
        l
        for l in lines
        if l.endswith((".", "!", "?", '"'))
        and len([w for w in l.split(" ") if w]) >= 3
        and "javascript" not in l.lower()
    ]
    page_kept = (
        not any("lorem ipsum" in l.lower() for l in lines)
        and not any("{" in l for l in lines)
        and len(kept) >= 5
    )
    return {
        "n_lines": len(lines),
        "n_docs_kept": int(page_kept),
        "n_lines_kept": len(kept) if page_kept else 0,
        "n_words_kept": sum(
            len([w for w in l.split(" ") if w]) for l in kept
        )
        if page_kept
        else 0,
    }


def test_c4_line_filters_match_python_reference(spark, tmp_path):
    """Crafted doc_ids isolate each rule: 1 = clean kept page, 2 =
    too few sentences, 43 = lorem-ipsum poison, 47 = brace poison,
    82 = javascript line excluded but page survives. Expected counts
    come from an independent pure-Python replica."""
    crafted = [
        (1, "clean", 60),
        (2, "short", 12),
        (43, "lorem", 90),
        (47, "brace", 100),
        (82, "js", 150),
    ]
    rows = [
        (d, " ".join(f"w{k}" for k in range(n)), "en", src, n)
        for d, src, n in crafted
    ]
    _ensure_loaded()
    out = str(tmp_path / "c4docs")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    got = {
        r["source"]: r
        for r in REGISTRY["c4_line_filters"].spark(spark, out).collect()
    }
    for d, src, n in crafted:
        want = _c4_reference(d, [f"w{k}" for k in range(n)])
        for col, v in want.items():
            assert got[src][col] == v, (src, col, got[src], want)
    # rule isolation: the poisoned pages died for their OWN reason
    assert got["clean"]["n_docs_kept"] == 1
    assert got["short"]["n_docs_kept"] == 0
    assert got["lorem"]["n_docs_kept"] == 0
    assert got["brace"]["n_docs_kept"] == 0
    assert got["js"]["n_docs_kept"] == 1  # page survives minus the js line


def test_c4_line_filters_one_scan_no_joins(plan_of):
    plan = plan_of("c4_line_filters")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial → final


# -- quality classifier (train + eval) --------------------------------------


def test_quality_classifier_learns_the_gate(run):
    # trained decisions must beat the majority-class baseline — the
    # distillation actually learned, not collapsed to all-negative
    r = run("quality_classifier_eval").first()
    majority = max(r["n_positive"], r["n_docs"] - r["n_positive"])
    assert r["n_correct"] > majority, dict(r.asDict())
    assert 0 < r["n_pred_positive"] < r["n_docs"]
    assert r["n_true_positive"] <= r["n_positive"]
    assert r["n_true_positive"] <= r["n_pred_positive"]


def test_quality_classifier_weights_deterministic(run):
    w1 = {r["dim"]: r["weight"] for r in run("quality_classifier_train").collect()}
    w2 = {r["dim"]: r["weight"] for r in run("quality_classifier_train").collect()}
    assert w1 == w2
    assert len(w1) == 5
    assert any(v != 0.0 for v in w1.values())


def test_quality_classifier_total_on_empty_corpus(spark, tmp_path):
    _ensure_loaded()
    out = str(tmp_path / "empty_docs")
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    w = REGISTRY["quality_classifier_train"].spark(spark, out).collect()
    assert w == []  # no training rows → no model (logreg_gd contract)
    e = REGISTRY["quality_classifier_eval"].spark(spark, out).first()
    assert e["n_docs"] == 0


def test_quality_classifier_grad_is_partial_agg(plan_of):
    # each GD iteration is one scan → partial-aggregated 1-row result;
    # the model rides in as literals, so the plan has no join at all
    plan = plan_of("quality_classifier_eval")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


# -- tokenizer_fertility / lsh_parameter_plan -------------------------------


def test_tokenizer_fertility_bounds(run):
    rows = run("tokenizer_fertility").collect()
    assert rows
    for r in rows:
        # the BPE pre-tokenizer never merges whitespace words, so
        # fertility is >= 1 on an all-letters corpus
        assert r["total_subtokens"] >= r["total_words"] > 0
        assert r["fertility"] >= 1.0


def test_lsh_parameter_plan_s_curve_properties(run):
    rows = run("lsh_parameter_plan").collect()
    assert rows
    by_key = {(r["bands"], r["rows_per_band"]): r for r in rows}
    assert (20, 5) in by_key  # the canonical 100-hash configuration
    for r in rows:
        assert r["p_catch"] >= 0.9
        assert r["signature_size"] <= 120
        assert 0.0 < r["threshold"] < 1.0
        assert r["p_false"] <= r["p_catch"]
    # monotone in bands at fixed rows: more bands catch more
    for rr in {k[1] for k in by_key}:
        seq = sorted(
            (k[0], v["p_catch"]) for k, v in by_key.items() if k[1] == rr
        )
        assert all(a[1] <= b[1] + 1e-9 for a, b in zip(seq, seq[1:]))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_documents_doc_id_unique_and_non_null(sf_dir, sf):
    # tfidf_top_terms' single-pass df counts per-row distinct terms,
    # which equals the oracle's COUNT(DISTINCT doc_id) only when every
    # document row has its own non-null doc_id
    import os

    import duckdb

    path = os.path.join(os.path.dirname(sf_dir), sf, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no {sf} testdata next to {sf_dir}")
    rows, non_null, distinct = duckdb.sql(
        f"SELECT count(*), count(doc_id), count(DISTINCT doc_id) FROM '{path}'"
    ).fetchone()
    assert rows > 0
    assert non_null == rows
    assert distinct == rows
