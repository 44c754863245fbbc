#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed with a count() action (full plan, no driver
collect of data rows). A warmup run of the first query absorbs JVM/
codegen startup so the numbers measure the plans, not the JIT.

Environment-drift attribution (r8, VERDICT r7 #4): the output also
carries ``load_avg`` (1/5/15-min system load before and after the run)
and ``canary`` — the timings of three pinned-plan trivial queries
(pricing_summary, media_metadata, pyramid_level) whose code and plans
never change round-to-round. Uniform canary drift ⇒ machine noise;
canary-stable drift in other queries ⇒ a real regression. Earlier
rounds argued this distinction in prose; now it is machine-readable.

Streaming visibility (r8, VERDICT r7 #6): a deterministic streaming
micro-bench (tumbling window, session window, stateful tile
reassembly — see streaming/bench.py) reports rows/s under a
``streaming`` key. Disable with SPARK_GRAFT_STREAMING=0.

Output contract (r9, VERDICT r8 #1; widened r12, VERDICT r11 #1): the
driver captures only a ~2 KB tail of stdout and parses the LAST JSON
line in it. The full per-query record outgrew that window in r8
("parsed": null), so the output is split: the full detail object is
written to ``BENCH_DETAIL.json`` (``BENCH_DETAIL_c{N}.json`` when
$SPARK_GRAFT_CPUS != 32, so a low-core scaling leg never overwrites
the main record) AND printed first (where tail truncation clips it
harmlessly), and the FINAL printed line is a compact headline
(total, sf, canary, streaming rows/s, worst per-query ratio vs the
operative BASELINE.md table) guaranteed to fit the tail window. Since
r12 the compact line also carries the pinned COMPACT_QUERIES per-query
map (all compute-bound queries, ms-int values — see its comment) plus
``prewarm_sec``, so the driver's per-query comparison and scaling
check see the queries that matter, not just the 3 trivial canaries.

Contention-proofing (r11, VERDICT r10 #1): the r10 driver run read
1.379× on a loaded box (load_avg 5.8–8.6) while three same-HEAD solo
runs read 0.93–1.03× — the gap was C2 JIT ramp degrading under CPU
contention, concentrated in the staged-codegen grid family (lcc_grid
5.43× in-driver vs 0.88× solo). Three changes make the protocol
measure the engine, not the box:

1. **Suite pre-warm**: every benched query executes once before ANY
   timed loop, amortizing C2 compilation across the whole suite
   instead of paying it inside the first timed queries.
2. **Adaptive steady-state reruns**: after the two standard timed
   runs, if the two best times still disagree by >1.3× the query is
   re-run (up to 4 timed runs total) until they agree — a loaded
   scheduler can inflate any single run; the min of agreeing runs is
   the steady state.
3. **Canary normalization**: the headline carries
   ``shared_vs_baseline_canary_norm`` = shared ratio ÷ canary ratio,
   where the canary ratio is this run's three pinned-plan trivial
   queries vs their own baseline rows. Uniform machine slowdown moves
   both numerator and denominator, so the normalized ratio isolates
   code regressions from box load, machine-readably.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# trivial pinned-plan queries used as environment canaries
CANARY_QUERIES = ("pricing_summary", "media_metadata", "pyramid_level")

# normalization basket (r11): the trivial canaries are driver-latency
# dominated, so they read ~1.0 even while co-tenant load inflates the
# compute-bound suite 1.2-2x (measured: suite median 1.12 on a box
# with background load 3, canaries 0.93-0.97). Machine drift is only
# attributable if the basket CONTENDS the way the suite does, so it
# spans the suite's cost profiles — scan-agg, HOF+shuffle dedup,
# n-way join, broadcast dot-product, text scoring, kernel window,
# staged-codegen warp — restricted to queries whose code has been
# frozen for 3+ rounds. The ratio is the MEDIAN of per-query ratios
# (robust to one member regressing); if a round touches a member's
# code, drop it from the basket in the same commit.
NORM_BASKET = (
    "pricing_summary",    # scan + group agg (trivial tier)
    # dedup_minhash dropped r11: its signature build moved to the
    # Arrow kernel (minhash_signatures_from_text) — code no longer
    # frozen, per the basket rule above
    "stack_join",         # n-way tile join
    "knn_cosine",         # broadcast crossJoin + vector fold
    "bm25_search",        # text tokenize + tf-idf scoring
    "focal_mean_shape",   # buffered neighborhood kernel
    "utm_grid",           # staged-codegen projection family
    "semantic_dedup",     # IVF block + in-group pair explosion
    "concurrent_events",  # grouped cumsum window over events
    "tumbling_window",    # time-bucket aggregation
    # hybrid_retrieval dropped r12: its shortlist/feedback stage was
    # restructured (cached shortlist, VERDICT r11 #7) — code no
    # longer frozen, per the basket rule above
    "dedup_bloom",        # shingle explode + bloom-bit probe join
    "ann_ivf_topk",       # centroid probe + candidate join
)

REPO_DIR = os.path.dirname(os.path.abspath(__file__))

# Driver-visible per-query reporting (r12, VERDICT r11 #1): the r11
# compact line carried only the 3 trivial canaries, so the driver's
# per-query comparison saw 3 of 87 queries and its scaling check
# ratioed driver-latency-bound queries (false suspect_cpus_ignored).
# The full 87-name map cannot fit: the driver captures a 2000-byte
# stdout tail and parses the LAST JSON line, and the 87 names alone
# are 1258 chars (1898 bytes as a ms-int JSON map) before any other
# compact field — a clipped line parses as null, which is worse than
# a partial map. So the compact line carries a FIXED 51-query map:
# every query ≥ ~0.89 s at sf0.1 (the compute-bound set — everything
# excluded is a sub-0.9 s scan whose ratio is driver-latency noise)
# plus the NORM_BASKET and the canaries. Membership is pinned here —
# not recomputed from timings — so round-over-round key sets stay
# comparable (entries are only ever ADDED, with the byte guard in
# main() dropping the smallest-time additions first if the line would
# outgrow the tail window). Unit convention: the three CANARY_QUERIES
# keep their historical float seconds (existing entries are never
# renamed or re-unit-ed); every other entry is integer MILLISECONDS
# ("q_ms": 1 marks the convention). Per-key units are consistent
# across rounds, so the driver's per-query and scaling ratios are
# unit-invariant.
COMPACT_QUERIES = (
    "ann_ivf2_persisted_topk",
    "ann_ivf2_topk",
    "ann_ivf2_trained_topk",
    "ann_ivf_topk",
    "ann_ivfpq_persisted_topk",
    "ann_ivfpq_topk",
    "ann_pq_topk",
    "bigram_perplexity",
    "bm25_search",
    "bpe_train_merges",
    "cassini_grid",
    "concurrent_events",
    "cross_source_contamination",
    "d8_flow_direction",
    "datum_shift_grid",
    "dedup_bloom",
    "dedup_incremental",
    "dedup_minhash",
    "dsir_select",
    "dup_ngram_spans",
    "embedding_near_dup",
    "flow_accumulation",
    "flow_accumulation_full",
    "focal_mean_shape",
    "hybrid_retrieval",
    "kmeans_lloyd",
    "knn_cosine",
    "knn_graph",
    "knn_graph_persisted",
    "local_supplier_volume",
    "media_metadata",
    "ndvi_tile",
    "pagerank_suppliers",
    "paragraph_dedup_strip",
    "pricing_summary",
    "proximity_grid",
    "pyramid_level",
    "quality_classifier_eval",
    "semantic_dedup",
    "semantic_dedup_persisted",
    "simhash_hamming_pairs",
    "spatial_join_points_polygons",
    "stack_join",
    "strahler_order",
    "terrain_tile",
    "tfidf_top_terms",
    "tm_grid",
    "tumbling_window",
    "utm_grid",
    "viewshed_grid",
    "watershed_basins",
)

# the compact line must survive the driver's 2000-byte tail capture
# whole; leave headroom for the non-query fields growing a little
COMPACT_LINE_BUDGET = 1950


def shed_to_budget(
    compact: dict, timings: dict, budget: int = COMPACT_LINE_BUDGET
) -> str:
    """The compact line as JSON, within ``budget`` bytes.

    Tail-window guard: a clipped final line parses as null at the
    driver, which loses the WHOLE record. While the line is over
    budget, drop ``compact["queries"]`` entries (deterministic; the
    full map is still in the detail sidecar): plain queries first, then
    NORM_BASKET members, canaries last — cheapest first within each
    class."""

    def shed_rank(name: str) -> tuple:
        return (
            name in CANARY_QUERIES, name in NORM_BASKET, timings.get(name, 0.0)
        )

    line = json.dumps(compact)
    while len(line) > budget and compact["queries"]:
        compact["queries"].pop(min(compact["queries"], key=shed_rank))
        line = json.dumps(compact)
    return line


def _load_baseline_table(path: str) -> dict[str, float]:
    """Parse the per-query `| name | sec |` rows from BASELINE.md.

    Both the historical r4 table and the operative r8 table match the
    row pattern; parsing top-to-bottom lets the later (operative)
    table overwrite the r4 rows, so the returned map IS the operative
    regression bar.
    """
    table: dict[str, float] = {}
    try:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                parts = [p.strip() for p in line.strip().split("|")]
                # "| name | 0.273 |" -> ["", "name", "0.273", ""]
                if len(parts) == 4 and parts[0] == "" and parts[3] == "":
                    try:
                        table[parts[1]] = float(parts[2])
                    except ValueError:
                        continue
    except OSError:
        pass
    return table


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description=(
            "Benchmark harness: runs the headline queries and prints a "
            "compact JSON headline as the LAST stdout line (full "
            "per-query record in BENCH_DETAIL.json). Safe: --help does "
            "not run anything."
        )
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="parquet table directory (default $SPARK_GRAFT_SF_DIR "
        "or /root/testdata/sf0.1)",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of query names to run "
        "(default: all; headline ratios are only meaningful full-suite)",
    )
    ap.add_argument(
        "--no-streaming",
        action="store_true",
        help="skip the streaming micro-bench (also SPARK_GRAFT_STREAMING=0)",
    )
    ap.add_argument(
        "--no-prewarm",
        action="store_true",
        help="skip the suite-level pre-warm pass (r11 contention "
        "hardening; skipping reproduces the pre-r11 protocol)",
    )
    ap.add_argument(
        "--max-runs",
        type=int,
        default=4,
        help="cap on timed runs per query for steady-state detection "
        "(default 4; 2 reproduces the pre-r11 protocol)",
    )
    ap.add_argument(
        "--budget-sec",
        type=float,
        default=float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1800")),
        help="soft wall-clock budget: past 60%% of it the adaptive "
        "reruns degrade to min-of-2, past 85%% the remaining pre-warm "
        "is skipped — a slow box must produce a degraded-but-complete "
        "record, never a killed run (default 1800, or "
        "$SPARK_GRAFT_BENCH_BUDGET)",
    )
    return ap.parse_args(argv)


# two timed runs agreeing within this factor = steady state reached;
# disagreement triggers adaptive reruns (contention / JIT-ramp runs
# read high, never low, so the min of agreeing runs is trustworthy)
STEADY_STATE_RATIO = 1.3


def _time_query(
    spark, spec, sf_dir: str, max_runs: int, pre: float | None = None
) -> float:
    """Timed runs until the two best agree within STEADY_STATE_RATIO
    (or max_runs), returning the min — on a contended box any single
    run can be inflated by scheduler noise; agreement of the two best
    is the machine-checkable steady-state signal.

    ``pre`` is this query's own COLD pre-warm time from earlier in
    this session: warm timed runs should never be slower than the
    cold first run, so best > 1.5×pre means every timed run so far
    hit a bad window (GC storm, scheduler pile-up) and reruns are
    warranted even though the runs agree with each other. This is the
    guard against the rotating per-run outlier a loaded box produces
    (measured: one query per loaded suite reading 2.4-4× while its
    own pre-warm ran at baseline speed)."""
    times: list[float] = []
    for _ in range(max(2, max_runs)):
        t0 = time.perf_counter()
        spec.spark(spark, sf_dir).count()
        times.append(time.perf_counter() - t0)
        if len(times) >= 2:
            best2 = sorted(times)[:2]
            agree = best2[1] <= best2[0] * STEADY_STATE_RATIO
            plausible = pre is None or best2[0] <= pre * 1.5
            if agree and plausible:
                break
    return min(times)


def main() -> None:
    args = _parse_args()
    sf_dir = args.sf_dir
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from biggis_landuse_spark.queries import bench_queries, release_caches
    from biggis_landuse_spark.session import get_spark

    load_before = os.getloadavg()
    spark = get_spark(app_name="biggis-bench")

    specs = bench_queries()
    if args.queries:
        wanted = {q.strip() for q in args.queries.split(",") if q.strip()}
        unknown = wanted - set(specs)
        if unknown:
            sys.exit(f"unknown queries: {sorted(unknown)}")
        specs = {n: s for n, s in specs.items() if n in wanted}
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Suite pre-warm (r11): one execution of EVERY query before any
    # timed loop. C2 JIT compilation of the shared codegen scaffolding
    # (whole-stage codegen entry points, Arrow writers, shuffle paths)
    # is amortized here, so the first timed queries no longer pay it —
    # under CPU contention that ramp was 3-5× on the staged-codegen
    # grid family (r10 driver run: lcc_grid 5.43× vs 0.88× solo).
    suite_t0 = time.perf_counter()
    degraded: list[str] = []

    def over_budget(frac: float) -> bool:
        return time.perf_counter() - suite_t0 > args.budget_sec * frac

    prewarm_sec = 0.0
    prewarm_times: dict[str, float] = {}
    if not args.no_prewarm:
        t0 = time.perf_counter()
        for name, spec in specs.items():
            if over_budget(0.85):
                degraded.append("prewarm_truncated")
                break
            try:
                q0 = time.perf_counter()
                spec.spark(spark, sf_dir).count()
                prewarm_times[name] = time.perf_counter() - q0
            except Exception:  # noqa: BLE001 — the timed loop reports it
                pass
            finally:
                release_caches()
        prewarm_sec = round(time.perf_counter() - t0, 3)

    for name, spec in specs.items():
        # per-query warmup (after the suite pre-warm) restores this
        # query's code/data caches right before its timed runs; the
        # min of steady-state-agreeing runs suppresses GC/scheduler
        # noise (±30% run-to-run observed on a loaded 32-core box).
        # Loop-invariant caches an iterative query holds (pagerank's
        # edge list) stay warm across its reruns — that IS its steady
        # state — and are released between queries so they never
        # accumulate across the suite.
        # A failing query is RECORDED, not fatal: one regression must
        # never cost the whole round's numbers (BENCH_r03 lesson).
        # The explicit JVM GC before each query's timed loop removes
        # RUN-ORDER noise: without it, heap garbage left by earlier
        # queries triggers collections inside later timed runs —
        # measured up to 2.2× on untouched queries (r8: stack_join
        # 1.38 s in-suite vs 0.73 s isolated, identical plans). With
        # it, in-suite numbers match isolated reruns.
        try:
            spark._jvm.System.gc()
            spec.spark(spark, sf_dir).count()
            runs = args.max_runs
            pre = prewarm_times.get(name)
            if over_budget(0.6):
                # soft budget: a slow box yields a degraded-but-
                # complete record (min-of-2, no floor-guard reruns),
                # never a killed run — flagged in the output
                if "adaptive_degraded" not in degraded:
                    degraded.append("adaptive_degraded")
                runs, pre = 2, None
            timings[name] = round(
                _time_query(spark, spec, sf_dir, runs, pre=pre), 3
            )
        except Exception as exc:  # noqa: BLE001 — survive and report
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            release_caches()

    streaming: dict | None = None
    if (
        os.environ.get("SPARK_GRAFT_STREAMING", "1") != "0"
        and not args.no_streaming
        and not args.queries
    ):
        try:
            from biggis_landuse_spark.streaming.bench import (
                run_streaming_bench,
            )

            streaming = run_streaming_bench(spark)
        except Exception as exc:  # noqa: BLE001 — survive and report
            errors["__streaming__"] = f"{type(exc).__name__}: {exc}"[:200]

    total = round(sum(timings.values()), 3)
    canary = {
        name: timings[name] for name in CANARY_QUERIES if name in timings
    }
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "load_avg": {
            "before": [round(x, 2) for x in load_before],
            "after": [round(x, 2) for x in os.getloadavg()],
        },
        "canary": canary,
        "prewarm_sec": prewarm_sec,
    }
    if degraded:
        detail["budget_degraded"] = degraded
    if streaming is not None:
        detail["streaming"] = streaming
    if errors:
        # a partial total is NOT comparable to a full-suite total — a
        # slow query erroring out would read as a speedup. Null the
        # headline and report the partial sum separately.
        detail["value"] = None
        detail["partial_total"] = total
        detail["errors"] = errors

    # full record: sidecar file + first printed line (tail-clippable).
    # Per-leg naming (r12, VERDICT r11 #1): the driver's 8-core
    # scaling leg used to OVERWRITE the 32-core detail record; any
    # non-default core count now writes its own sidecar.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    detail_name = (
        "BENCH_DETAIL.json" if cpus == "32" else f"BENCH_DETAIL_c{cpus}.json"
    )
    detail_path = os.path.join(REPO_DIR, detail_name)
    try:
        with open(detail_path, "w", encoding="utf-8") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:  # sidecar is best-effort; stdout still has it
        errors["__detail_sidecar__"] = f"{type(exc).__name__}: {exc}"[:200]
    print(json.dumps(detail))

    # compact headline LAST — this is the line the driver's bounded
    # 2000-byte tail capture must contain whole. The queries map
    # carries the pinned COMPACT_QUERIES set (see its comment for the
    # unit and sizing contract); the full map lives in the detail
    # record above.
    baseline = _load_baseline_table(os.path.join(REPO_DIR, "BASELINE.md"))
    shared = [n for n in timings if n in baseline]
    cq = dict(canary)  # legacy float-second entries, keys unchanged
    for n in COMPACT_QUERIES:
        if n in timings and n not in cq:
            cq[n] = int(round(timings[n] * 1000))
    compact = {
        "metric": "headline_queries_total",
        "value": detail["value"],
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "queries": cq,
        "q_ms": 1,  # non-canary queries entries are integer ms
        "canary": canary,
        "prewarm_sec": prewarm_sec,  # VERDICT r11 #10: untimed-region
        # cost is driver-visible so work can't silently migrate there
        "detail": detail_name,
    }
    if shared:
        base_sum = sum(baseline[n] for n in shared)
        compact["shared_n"] = len(shared)
        compact["shared_sec"] = round(sum(timings[n] for n in shared), 3)
        compact["shared_vs_baseline"] = (
            round(compact["shared_sec"] / base_sum, 3) if base_sum else None
        )
        worst = max(
            (n for n in shared if baseline[n] > 0),
            key=lambda n: timings[n] / baseline[n],
            default=None,
        )
        if worst is not None:
            compact["worst_query"] = worst
            compact["worst_ratio"] = round(timings[worst] / baseline[worst], 3)
        # canary normalization (r11, VERDICT r10 #1): the drift of the
        # frozen-code NORM_BASKET vs its own baseline rows measures
        # the BOX, not the code — the basket members contend for CPU/
        # memory bandwidth the way the suite does (trivial canaries
        # alone read ~1.0 under load and miss the drift entirely).
        # Median of per-query ratios: robust to one member being
        # noisy. Dividing the shared ratio by it yields a contention-
        # corrected headline; on an idle box both ratios coincide.
        basket = [
            n for n in NORM_BASKET if n in timings and baseline.get(n)
        ]
        if basket and compact["shared_vs_baseline"] is not None:
            ratios = sorted(timings[n] / baseline[n] for n in basket)
            mid = len(ratios) // 2
            canary_ratio = (
                ratios[mid]
                if len(ratios) % 2
                else (ratios[mid - 1] + ratios[mid]) / 2
            )
            compact["canary_ratio"] = round(canary_ratio, 3)
            if canary_ratio > 0:
                # clamp at 1.0: normalization may only FORGIVE box
                # slowdown, never inflate the ratio (a basket running
                # faster than baseline must not mask a regression)
                compact["shared_vs_baseline_canary_norm"] = round(
                    compact["shared_vs_baseline"] / max(canary_ratio, 1.0), 3
                )
    if streaming is not None:
        compact["streaming_rows_per_sec"] = {
            leg: stats.get("rows_per_sec")
            for leg, stats in streaming.items()
            if isinstance(stats, dict)
        }
    if degraded:
        compact["budget_degraded"] = degraded
    if errors:
        compact["partial_total"] = total
        compact["errors_n"] = len(errors)
    print(shed_to_budget(compact, timings))
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
