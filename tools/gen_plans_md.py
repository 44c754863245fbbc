"""Regenerate PLANS.md: formatted physical plans for representative
queries, as direct evidence of the scale properties SCALING.md claims
(pushdown, broadcast choices, partial aggregation, codegen spans).

Usage: python tools/gen_plans_md.py   (writes /root/repo/PLANS.md)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# query → what the plan demonstrates
SHOWCASE = {
    "pricing_summary": (
        "partial (map-side) aggregation + filter pushdown: the Filter and "
        "the partial HashAggregate sit below the Exchange, and PushedFilters "
        "reaches the parquet scan"
    ),
    "local_supplier_volume": (
        "star join: bounded dims (supplier/nation/region) broadcast, "
        "SF-proportional tables never carry a broadcast hint"
    ),
    "asof_last_click": (
        "as-of join compiled to union + ONE window exchange — no join "
        "operator at all"
    ),
    "semantic_dedup": (
        "IVF pair confinement, single-pass: broadcast-centroid assignment "
        "(BNLJ over the broadcast codebook) runs ONCE, the window-mode "
        "sub-split and the (cell, sub) pair-enumeration groupBy share one "
        "corpus exchange, and no self-join appears anywhere in the plan"
    ),
    "dedup_minhash": (
        "LSH banding: candidate generation is an equi-join on band "
        "signatures — no all-pairs product anywhere in the plan; the "
        "hot-group sub-split Window sits on the SAME exchange the pair "
        "groupBy needs (hash(band_id, sig) satisfies the (band_id, sig, "
        "sub) clustering), so the r6 skew guard costs zero extra shuffles"
    ),
    "utm_grid": (
        "inverse-projection warp: pure trig column expressions (no Python "
        "eval), ONE exchange (the final aggregate), and the STAGED "
        "projection — lat/lon materialized once in their own Project, grid "
        "keys derived from the named columns (codegen half the size, JIT "
        "warm from run one)"
    ),
    "ndvi_tile": (
        "raster pipeline: whole-stage codegen spans over the zip_with NDVI "
        "arithmetic; the only exchanges are the tile-key reassembly shuffles"
    ),
    "raster_region_labels": (
        "distributed CCL: ONE pixel shuffle into the tile-keyed "
        "FlatMapGroupsInPandas (union-find per tile, Arrow-batched); the "
        "iterative merge's joins touch only the boundary-pixel relation "
        "(pmod tile-edge filters under the equi-joins), and the final "
        "label map joins back instead of re-shuffling pixels per round"
    ),
    "cross_source_contamination": (
        "bounded-group pair explosion: ONE corpus shuffle aggregates to a "
        "distinct-shingle relation whose collect_set is bounded by the "
        "source count (schema-bounded, never data-sized); both consumers "
        "(sizes, pair counts) read the cached InMemoryTableScan of that "
        "vocabulary-sized relation, and the n_sources-row size table "
        "broadcasts into the jaccard join"
    ),
    "document_chunking": (
        "zero-shuffle corpus transform: tokenize, explode of the per-doc "
        "chunk-index range, and the window slice all fuse into one "
        "whole-stage-codegen span over a two-column pruned parquet scan — "
        "no Exchange in the plan at all"
    ),
    "label_propagation": (
        "Pregel-style iteration, relationally: the cached symmetric edge "
        "list joins the |nodes|-sized label vector once per round, the "
        "plurality vote partial-aggregates map-side on (node, label), and "
        "max_by collapses to one row per node — no ranking Window, no "
        "second fact-sized shuffle per round"
    ),
    "simhash_hamming_pairs": (
        "pigeonhole Hamming blocking: fingerprints ride inside the "
        "collected structs so the exact bit_count verify needs NO join "
        "back to the signature relation — the band groupBy and the "
        "hot-group sub-split Window share the one corpus exchange, and "
        "no self-join or all-pairs product appears in the plan"
    ),
    "ann_ivfpq_topk": (
        "trained IVFADC: the Lloyd rounds and the residual pipeline are "
        "broadcast-join + partial-agg chains (corpus shuffles carry one "
        "row per (vector, subspace), codebook relations are m×ncode and "
        "cached); candidates come from the cell-id equi-join over the "
        "CODE table and the per-probe distance tables enter through an "
        "ordinary BroadcastHashJoin — no SortMergeJoin, no corpus-sized "
        "join-back (the cell id rides the encode groupBys via first())"
    ),
    "hybrid_retrieval": (
        "retrieval funnel: the BM25 stage is two corpus scans with a "
        "1-row stats broadcast and TakeOrderedAndProject shortlists; the "
        "feedback centroid is a second 1-row broadcast onto the 20-row "
        "shortlist, so the dense cosine rerank never touches the corpus — "
        "every BroadcastNestedLoopJoin in the plan carries a bounded side"
    ),
    "gopher_rules": (
        "one-pass quality census: all seven rule predicates are "
        "scan-local array expressions in one whole-stage-codegen span, "
        "the conditional aggregation partial-reduces map-side, and the "
        "plan carries no join and exactly one Exchange (the |source|-row "
        "final aggregate) — at 100 TB this is a pure map-side reduce"
    ),
    "d8_flow_direction": (
        "exact-integer raster arg-max: the 8-way offset explode "
        "equi-joins the grid once (the proximity discipline), the "
        "steepest-descent choice folds into a single packed-BIGINT max "
        "with the tie-break in the low bits — no Window, no float "
        "ordering, no pixel self-join anywhere in the plan"
    ),
    "watershed_basins": (
        "block-local basins (Barnes 2017): the block kernel's one "
        "checkpointed pass (LogicalRDD scan, lineage flat) holds every "
        "cell's terminal; on the one-block fixture grid no perimeter "
        "round runs, and the final census is one partial-aggregated "
        "groupBy on the root id"
    ),
    "media_exif": (
        "zero-shuffle multimodal extraction: template synthesis is a "
        "CASE over unhex literals inside the scan projection, the real "
        "IFD walker runs in ONE Arrow-batched mapInPandas pass, and the "
        "plan has no Exchange at all — constant memory per worker, "
        "ingest-speed metadata census"
    ),
}


def main() -> None:
    from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded
    from biggis_landuse_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("plans-doc")
    out = [
        "# PLANS — physical-plan evidence for the SCALING.md claims",
        "",
        "Auto-generated by `python tools/gen_plans_md.py` at sf0.001;",
        "regenerate after plan-shape changes. Each section shows",
        "`df.explain(\"formatted\")` for one representative query and the",
        "property the plan demonstrates. The plan-shape regression tests in",
        "`tests/test_plans.py` enforce these properties registry-wide;",
        "this file is the human-readable exhibit.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = REGISTRY[name].spark(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree, drop the verbose per-node detail dump —
        # but keep the scan-pushdown evidence lines the commentary cites
        tree = plan.split("\n\n")[0]
        evidence = [
            ln.strip()
            for ln in plan.splitlines()
            if "PushedFilters:" in ln or "ReadSchema:" in ln
        ]
        out += [f"## {name}", "", f"**Demonstrates:** {why}", "", "```"]
        out += [tree.rstrip()]
        if evidence:
            out += ["", "-- scan details --"] + evidence
        out += ["```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}: {len(SHOWCASE)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
