"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB posture):
- exact dedup: hash-groupBy on a content digest — one shuffle on the
  digest, partial-agg combined map-side.
- MinHash+LSH: shingle → K salted min-hashes → band signatures →
  equi-join on (band, signature). The candidate join is an equi-join
  (shuffle on band signature), never an all-pairs product.
- n-gram Jaccard: inverted-index equi-join on shingle, then grouped
  intersection counts; per-shingle document-frequency cap bounds the
  worst-case join fan-out on hot shingles (stopword shingles).
- SimHash: per-token md5-bit votes folded map-side in an
  Arrow-batched kernel (hashlib md5 + one numpy bit-count per doc);
  zero shuffle, only (id, text) crosses the Python boundary.

The min-hash family here is "lexicographic min of salted md5", which
is engine-portable (any SQL engine with md5 reproduces it bit-for-bit)
— that is what makes the DuckDB oracle exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biggis_landuse_spark.functions.text import fingerprint, tokens

N_MINHASH = 8  # salted hashes per doc
N_BANDS = 4  # 2 hashes per band
SHINGLE_WORDS = 3


def shingles_from_tokens(toks: Column, k: int = SHINGLE_WORDS) -> Column:
    """k-word shingles from a *materialized* token-array column.

    The token column MUST be a plain column reference, not the
    tokenizer expression itself: expressions passed in are inlined
    into every element_at inside the transform lambda (3k copies), so
    an un-materialized ``tokens(text)`` here re-tokenizes each doc
    ~10× — measured 9× slower end-to-end on the minhash pipeline.
    Callers project ``tokens(text).alias("_toks")`` first.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    build = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    return F.when(F.size(toks) >= k, build).otherwise(
        F.array().cast("array<string>")
    )


def _shingle_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) pairs with duplicates, tokens materialized once."""
    tokd = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return tokd.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"))).alias("shingle"),
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (id, shingle) pairs — the inverted-index base relation."""
    return _shingle_rows(df, id_col, text_col).dropDuplicates(
        [id_col, "shingle"]
    )


def minhash_signatures(shingled: DataFrame, id_col: str) -> DataFrame:
    """K salted min-hashes per document (one shuffle: groupBy id)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(N_MINHASH)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def minhash_signatures_from_text(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """K salted min-hashes per document from raw text.

    Execution (r11): an Arrow-batched kernel — per document, the
    3-word shingles are built once and each salted md5 is tracked as
    a running minimum over the raw 16-byte digests (hex encoding is
    byte-monotone, so min-by-digest == min-by-hexdigest; one hexlify
    per (doc, salt) at the end). Map-side, ZERO shuffle, only
    (id, text) crosses the Python boundary; hashlib's md5 is C and
    produces the identical lowercase hex Spark's md5 does, so every
    oracle replay is unchanged.

    This replaces the explode + groupBy(id) + 8×min(md5) form. Those
    mins aggregate STRING buffers, which HashAggregate cannot hold
    (not fixed-width mutable), so the whole shingle relation ran
    through SortAggregate — a map-side sort of |shingles| rows, a
    doc-keyed exchange, and a second sort — measured ~1.6 s of the
    2.5 s dedup_incremental decomposition at sf0.1. The kernel
    measured 0.29-0.33 s for the same relation (same session,
    interleaved), is bit-identical at both SFs, and is immune to the
    interpreted-path JIT fragility batch 5 documents. (The r8 note
    retired with the old form: an ``array_min(transform(...))``
    zero-shuffle expression benchmarks ~4× slower than even the
    explode form — interpreted HOF lambdas; that comparison is why
    the kernel, not a HOF fold, is the zero-shuffle answer.)
    Documents with fewer than SHINGLE_WORDS tokens carry no
    signature, matching the old explode-drop semantics.
    ``minhash_signatures`` remains the relational form for callers
    that already hold a shingle relation."""
    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        [df.schema[id_col]]
        + [StructField(f"h{i}", StringType()) for i in range(N_MINHASH)]
    )
    sub = df.select(id_col, text_col)
    k = SHINGLE_WORDS
    n_hash = N_MINHASH

    def sig_batches(it):
        # r12 (VERDICT r11 #4): the r11 kernel hashed every (shingle,
        # salt) occurrence in a pure-Python double loop — the scan-
        # proportional CPU term of the whole dedup family. Two changes,
        # both bit-identical to min(md5(salt+shingle)) semantics:
        # 1. hash each UNIQUE shingle once per salt (duplicates cannot
        #    change a min; the synthetic-vocabulary corpora the dedup
        #    family targets repeat shingles heavily), and
        # 2. take the per-document minima vectorized: per salt, rank
        #    the unique digests by one argsort (numpy 'S16' ordering is
        #    memcmp over the fixed 16 bytes — trailing-null padding
        #    compares below every non-null byte, so it agrees with
        #    bytes-wise min), then min-rank per document via ONE
        #    minimum.reduceat over the shingle→unique inverse map.
        # Digest→hex goes through ndarray.tobytes() (never item access:
        # numpy 'S' ITEM access strips trailing NUL bytes, a digest
        # ending in 0x00 would lose bytes). ids are assumed non-null
        # (ADVICE r11: a null id would coerce the Arrow int column to
        # float — same contract as the r11 kernel and the relational
        # form's groupBy key).
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        salts = [f"{i}|".encode("utf-8") for i in range(n_hash)]
        hcols = [f"h{i}" for i in range(n_hash)]
        for pdf in it:
            ids: list = []
            lens: list[int] = []
            sh_all: list[str] = []
            for doc_id, text in zip(
                pdf[id_col].values, pdf[text_col].values
            ):
                if text is None:
                    continue
                toks = [t for t in text.split(" ") if t]
                if len(toks) < k:
                    continue
                ids.append(doc_id)
                n = len(toks) - k + 1
                lens.append(n)
                sh_all.extend(
                    " ".join(toks[i : i + k]) for i in range(n)
                )
            if not ids:
                yield pd.DataFrame(columns=[id_col] + hcols)
                continue
            uniq, inv = np.unique(
                np.asarray(sh_all, dtype=object), return_inverse=True
            )
            ub = [u.encode("utf-8") for u in uniq.tolist()]
            offsets = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(np.asarray(lens[:-1], dtype=np.int64), out=offsets[1:])
            out = {id_col: ids}
            n_uniq = len(ub)
            for s, salt in enumerate(salts):
                digs = np.frombuffer(
                    b"".join(md5(salt + b).digest() for b in ub),
                    dtype="S16",
                    count=n_uniq,
                )
                order = np.argsort(digs, kind="stable")
                rank = np.empty(n_uniq, dtype=np.int64)
                rank[order] = np.arange(n_uniq)
                min_rank = np.minimum.reduceat(rank[inv], offsets)
                blob = digs[order][min_rank].tobytes().hex()
                out[hcols[s]] = [
                    blob[j * 32 : (j + 1) * 32] for j in range(len(ids))
                ]
            yield pd.DataFrame(out)

    return sub.mapInPandas(sig_batches, schema=out_schema)


def pairs_within_groups(keyed: DataFrame, id_col: str) -> DataFrame:
    """(group key cols…, id) → all unordered id pairs per group.

    groupBy + collect_list + in-group pair explosion instead of a
    self-join: the upstream pipeline (shingling/hashing/bucketing) is
    evaluated ONCE, not once per join side, and the single shuffle is
    on the group key. Group fan-out is quadratic in group size — on a
    skewable key, cap hot groups first (see subsplit_band_groups /
    similarity.subsplit_cells); lsh_band_pairs does this itself.
    """
    key_cols = [c for c in keyed.columns if c != id_col]
    grouped = (
        keyed.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # all (i < j) combinations of the sorted id array, JVM-side
    pair_expr = (
        "flatten(transform(ids, (a, i) -> "
        "  transform(slice(ids, i + 2, size(ids)), b -> "
        "    struct(a AS doc_a, b AS doc_b))))"
    )
    return grouped.select(
        F.explode(F.expr(pair_expr)).alias("p")
    ).select("p.doc_a", "p.doc_b")


def banded_signatures(signatures: DataFrame, id_col: str) -> DataFrame:
    """(band_id, sig, id) rows: each doc's K min-hashes folded into
    N_BANDS band signatures — the LSH bucketing relation."""
    per_band = N_MINHASH // N_BANDS
    band_cols = []
    for b in range(N_BANDS):
        sig = F.concat(
            *[F.col(f"h{b * per_band + j}") for j in range(per_band)]
        )
        band_cols.append(F.struct(F.lit(b).alias("band_id"), sig.alias("sig")))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select("band.band_id", "band.sig", id_col)


BAND_GROUP_CAP = 64  # hard per-(band, signature) pair-block cap


def subsplit_band_groups(
    banded: DataFrame, id_col: str, cap: int = BAND_GROUP_CAP
) -> DataFrame:
    """Hard band-group size guard: split any (band_id, sig) group whose
    population exceeds ``cap`` into ``ceil(pop/cap)`` deterministic
    md5-mixed sub-buckets, so the in-group pair explosion does at most
    ~cap²-ish work per block — total pair volume <= n·N_BANDS·cap,
    linear in the corpus even when a boilerplate-heavy corpus puts
    millions of docs behind ONE band signature.

    Same discipline as similarity.subsplit_cells, but the population
    comes from a window count instead of a broadcast-joined aggregate:
    the distinct-signature relation is ~n·N_BANDS rows (nothing like
    the sqrt-n IVF centroid table), so broadcasting it would be the
    scale bug. The window shuffles on (band_id, sig) — the SAME key
    the downstream pairs_within_groups groups by (plus ``sub``), so
    Catalyst reuses the exchange: still one corpus shuffle total.
    WindowExec buffers each group through a spillable row array, so a
    monster group costs disk, not executor OOM. Deterministic recall
    tradeoff (documented): pairs straddling sub-buckets of an
    oversized group are not compared — the bounded-block contract the
    resolution path (lsh_dropped_ids) never needs because its fan-out
    is already linear.
    """
    from pyspark.sql import Window as W

    pop = F.count(F.lit(1)).over(W.partitionBy("band_id", "sig"))
    nsub = F.ceil(pop / F.lit(float(cap))).cast("long")
    mix = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    return banded.withColumn("sub", F.pmod(mix, nsub).cast("long"))


def lsh_band_pairs(
    signatures: DataFrame, id_col: str, group_cap: int = BAND_GROUP_CAP
) -> DataFrame:
    """Candidate near-dup pairs sharing ≥1 LSH band signature.

    Returns (doc_a, doc_b, n_shared_bands) with doc_a < doc_b.
    Formulated as groupBy(band signature) + in-group pair explosion
    (see pairs_within_groups) — equivalent to the band equi-join but
    the signature pipeline runs once instead of once per join side.
    Hot band groups are hard-capped by subsplit_band_groups BEFORE the
    explosion, so pair volume stays linear in the corpus under any
    signature skew (the 100 TB guard; exact-fanout test in
    tests/test_dedup_ops.py).
    """
    banded = subsplit_band_groups(
        banded_signatures(signatures, id_col), id_col, group_cap
    )
    return (
        pairs_within_groups(banded, id_col)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


def lsh_dropped_ids(signatures: DataFrame, id_col: str) -> DataFrame:
    """Ids dropped by lowest-id-representative dedup resolution: every
    id that shares an LSH band with a LOWER id.

    Within a band group that is exactly "all ids except the group
    minimum", so the fan-out is LINEAR in group size — for resolution
    (unlike similarity scoring) the quadratic n(n-1)/2 pair explosion
    of lsh_band_pairs is never needed, which is what keeps hot buckets
    (boilerplate-heavy corpora) tractable at 100 TB. One shuffle on
    the band signature, one distinct on the dropped set.
    """
    banded = banded_signatures(signatures, id_col)
    grouped = (
        banded.groupBy("band_id", "sig")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return grouped.select(
        F.explode(F.expr("slice(ids, 2, size(ids) - 1)")).alias(id_col)
    ).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Pairwise n-gram Jaccard similarity via inverted-index equi-join.

    ``max_doc_freq`` drops shingles occurring in more than that many
    docs before the join (the scale lever: hot 'stopword shingles'
    otherwise dominate the join fan-out at 100 TB).
    """
    sh = exploded_shingles(df, id_col, text_col)
    if max_doc_freq is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(
            df_counts.where(F.col("df") <= max_doc_freq).select("shingle"),
            "shingle",
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # threshold on the UNROUNDED value (oracle parity: the DuckDB twin
    # filters before rounding); round only in the projected output
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 6).alias("jaccard"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Pairwise ASYMMETRIC n-gram containment via inverted-index
    equi-join: containment(a in b) = |sh(a) ∩ sh(b)| / |sh(a)|.

    The subset-duplication signal Jaccard misses: a short document
    quoted verbatim inside a long one has high containment but low
    Jaccard (the union is dominated by the long doc), so quote
    extraction / boilerplate-inclusion dedup thresholds on containment
    instead. Pairs are kept when EITHER direction clears ``threshold``
    and both directions are reported. Same plan as ngram_jaccard_pairs
    (shingle equi-join, one grouped intersection count, size joins);
    ``max_doc_freq`` is the same hot-shingle scale lever.
    """
    sh = exploded_shingles(df, id_col, text_col)
    if max_doc_freq is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(
            df_counts.where(F.col("df") <= max_doc_freq).select("shingle"),
            "shingle",
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("nb"))
    ca = F.col("c") / F.col("na")
    cb = F.col("c") / F.col("nb")
    # threshold on the UNROUNDED greatest (oracle parity), round in output
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.greatest(ca, cb) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(ca, 6).alias("containment_a"),
            F.round(cb, 6).alias("containment_b"),
        )
    )


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document from md5 token hashes.

    For every token occurrence, the first 8 hex digits of md5(token)
    give 32 bits; each bit contributes +1/-1 to its position; the
    fingerprint sets bit j iff the position-j sum is positive.
    Executed by the simhash_fp Arrow kernel (r11); the md5-vote math
    is engine-portable and the DuckDB oracles replay it exactly.
    """
    return simhash_fp(df, id_col, text_col, n_hex=8)


def simhash_fp(
    df: DataFrame, id_col: str, text_col: str, n_hex: int = 8
) -> DataFrame:
    """SimHash fingerprint of ``4*n_hex`` bits (simhash32 generalized):
    the first ``n_hex`` hex digits of md5(token) contribute ±1 per bit
    position; the fingerprint sets bit j iff the position-j sum is
    positive. ``n_hex`` must stay ≤ 15 so the fingerprint fits a
    signed BIGINT without touching the sign bit (both engines would
    otherwise overflow-check the power-of-two sum).

    Execution (r11): an Arrow-batched kernel — hashlib md5 per token
    (C speed, identical bytes to Spark's md5 over UTF-8), then one
    vectorized numpy fold per document: bit-j counts c_j over the
    token hashes, fingerprint bit j set iff 2*c_j > n_tokens
    (equivalent to the ±1 vote sum being positive — exact integers,
    so every DuckDB oracle replay is unchanged). Map-side, zero
    shuffle, only (id, text) crosses the Python boundary.

    This replaces the r8 array-HOF fold (aggregate + zip_with + 60
    per-token vote expressions). Higher-order-function lambdas are
    CodegenFallback — evaluated on the interpreted expression path —
    and that path proved JVM-profile-fragile: running knn_graph's
    HOF-heavy dot-product lineage BEFORE this query's first execution
    left the fingerprint projection permanently ~2.3-3.3x slower
    (megamorphic call sites at first C2 compile; bisected
    deterministically, survives System.gc() and any number of reruns,
    and hit 2 of 6 full-suite bench runs as a 3.3-5.5 s
    simhash_hamming_pairs reading vs 1.3-1.9 s solo). The kernel is
    both faster and immune: same-session noop A/B at sf0.1 — HOF form
    2.35-2.52 s clean / 3.07-3.37 s polluted; kernel 0.36-0.47 s in
    BOTH states (a codegen'd explode + 60-sum groupBy form measured
    0.81-1.0 s, also immune; the kernel wins 2.3x on top). Token-less
    (or NULL-text) docs carry no signature, matching the old
    explode-drop semantics."""
    from pyspark.sql.types import LongType, StructField, StructType

    nbits = 4 * n_hex
    out_schema = StructType(
        [df.schema[id_col], StructField("simhash", LongType())]
    )
    sub = df.select(id_col, text_col)

    def fp_batches(it):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(nbits, dtype=np.uint64)
        md5 = hashlib.md5
        # chunked bit-count fold: bounds the (tokens x nbits) vote
        # matrix at ~30 MB however long one document is
        chunk = 65536
        for pdf in it:
            ids, fps = [], []
            for doc_id, text in zip(
                pdf[id_col].values, pdf[text_col].values
            ):
                if text is None:
                    continue
                toks_py = [t for t in text.split(" ") if t]
                if not toks_py:
                    continue
                # first n_hex md5 hex digits, nibble-reversed into a
                # little-endian int: bit j == (digit j//4 >> j%4) & 1,
                # the same bit layout the votes index (and the oracle)
                hs = np.array(
                    [
                        int(
                            md5(t.encode("utf-8")).hexdigest()[
                                n_hex - 1 :: -1
                            ],
                            16,
                        )
                        for t in toks_py
                    ],
                    dtype=np.uint64,
                )
                c = np.zeros(nbits, dtype=np.int64)
                for lo in range(0, len(hs), chunk):
                    part = hs[lo : lo + chunk]
                    c += ((part[:, None] >> shifts) & 1).sum(
                        0, dtype=np.int64
                    )
                fp = int(
                    (
                        (2 * c > len(hs)).astype(np.uint64) << shifts
                    ).sum()
                )
                ids.append(doc_id)
                fps.append(fp)
            yield pd.DataFrame({id_col: ids, "simhash": fps})

    return sub.mapInPandas(fp_batches, schema=out_schema)


SIMHASH_BITS = 60       # fingerprint width for Hamming pairing (15 hex digits)
SIMHASH_BANDS = 4       # pigeonhole blocks: 4 bands × 15 bits
SIMHASH_HAMMING_T = SIMHASH_BANDS - 1  # exactness bound of the blocking


def simhash_band_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str = "simhash",
    threshold: int = SIMHASH_HAMMING_T,
    cap: int = BAND_GROUP_CAP,
) -> DataFrame:
    """Hamming-ball near-dup pairs via pigeonhole band blocking.

    Split the 60-bit fingerprint into 4 disjoint 15-bit bands; any
    pair within Hamming distance ≤ 3 differs in at most 3 bit
    positions, so at least one band is bit-identical (pigeonhole) —
    candidate generation is an equi-join on (band_id, band value) that
    misses nothing at the default threshold WHILE band groups stay
    under ``cap``, unlike the probabilistic MinHash/LSH family.
    Candidates are verified with the exact distance
    bit_count(a XOR b) <= threshold, so every emitted pair is a true
    near-dup (the Manku/Jain/Sarma web-dedup construction).

    Width matters: SimHash bits over a shared vocabulary are heavily
    CORRELATED (per-bit majority votes agree across similar bags of
    words), so an 8-bit band saturates — measured on the sf0.01
    fixture, one 8-bit band value held 140 of 500 docs, engaging the
    sub-split cap and silently dropping true pairs. 15-bit bands keep
    the hottest fixture group at 27 (< cap, exactness intact, pinned
    by tests/test_dedup_ops.py). At corpus sizes where even 15-bit
    groups exceed the cap, the md5 sub-split bounds pair volume at the
    documented recall cost (mirrored op-for-op in the oracle);
    production-exact at any scale means Manku's permuted sorted-table
    scheme — the relational shape here is its equi-join core.

    Scale shape: 4 band rows per doc, ONE shuffle on (band_id, band)
    reused by the hot-group sub-split window (subsplit_band_groups
    discipline — pair volume stays ≤ n·4·cap under any skew), and the
    fingerprints ride INSIDE the collected structs so no join-back to
    the signature relation is ever needed. Pairs sharing several bands
    dedupe in the final per-pair aggregate — the same exchange the
    distinct would need anyway.
    """
    from pyspark.sql import Window as W

    per_band = SIMHASH_BITS // SIMHASH_BANDS
    banded = sig.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), b -> struct("
                f"  b AS band_id,"
                f"  CAST(shiftright({hash_col}, b * {per_band})"
                f"       & {(1 << per_band) - 1} AS STRING) AS sig))"
            )
        ).alias("band"),
    ).select("band.band_id", "band.sig", id_col, hash_col)
    pop = F.count(F.lit(1)).over(W.partitionBy("band_id", "sig"))
    nsub = F.ceil(pop / F.lit(float(cap))).cast("long")
    mix = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    bsub = banded.withColumn("sub", F.pmod(mix, nsub).cast("long"))
    grouped = (
        bsub.groupBy("band_id", "sig", "sub")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col(id_col).alias("i"), F.col(hash_col).alias("h")))
            ).alias("xs")
        )
        .where(F.size("xs") >= 2)
    )
    pair_expr = (
        "flatten(transform(xs, (a, i) -> "
        "  transform(slice(xs, i + 2, size(xs)), b -> "
        "    struct(a.i AS doc_a, b.i AS doc_b, "
        "           CAST(bit_count(a.h ^ b.h) AS INT) AS hamming))))"
    )
    pairs = grouped.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.doc_a", "p.doc_b", "p.hamming"
    )
    return (
        pairs.where(F.col("hamming") <= threshold)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
    )


def simhash_band_index(
    snapshot: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The static near-dup admission index: every snapshot document's
    60-bit fingerprint exploded into its 4 pigeonhole bands —
    (band_id, sig, snap_id, snap_hash). Built once per crawl snapshot
    (out-of-band, like the Bloom bits relation) and probed by
    :func:`simhash_near_dup_flags`; ~4 rows per snapshot doc."""
    per_band = SIMHASH_BITS // SIMHASH_BANDS
    sig = simhash_fp(snapshot, id_col, text_col, n_hex=SIMHASH_BITS // 4)
    return sig.select(
        F.col(id_col).alias("snap_id"),
        F.col("simhash").alias("snap_hash"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), b -> struct("
                f"  b AS band_id,"
                f"  CAST(shiftright(simhash, b * {per_band})"
                f"       & {(1 << per_band) - 1} AS STRING) AS sig))"
            )
        ).alias("band"),
    ).select("band.band_id", "band.sig", "snap_id", "snap_hash")


def simhash_near_dup_flags(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: int = SIMHASH_HAMMING_T,
) -> DataFrame:
    """Score an incoming batch against a snapshot's simhash band index:
    per document, the minimum Hamming distance to any band-colliding
    snapshot doc (NULL when no band collides), the nearest snapshot id,
    and ``flagged`` = near-dup within ``threshold``.

    The incremental/admission form of :func:`simhash_band_pairs`:
    batch-internal pairs are never generated, the probe is an
    equi-join on (band_id, band value) against the prebuilt index, and
    the per-doc minimum partial-aggregates — linear in the batch, the
    rolling-crawl contract (dedup_incremental's shape for the
    Hamming metric). Pigeonhole exactness holds per collision: with
    ``SIMHASH_BANDS`` bands, a pair within Hamming distance
    ``SIMHASH_BANDS - 1`` always shares a band, so a NULL min_hamming
    genuinely means "no snapshot doc within the threshold" (no
    sub-split is applied on the admission path — the probe fan-out is
    bounded by index collisions per band, and the flag needs only the
    MINIMUM, aggregated before any pair list materializes). The
    no-miss guarantee therefore requires ``threshold <=
    SIMHASH_BANDS - 1``; larger thresholds would silently under-flag
    pairs at distances SIMHASH_BANDS..threshold that collide in no
    band, so they are rejected here (honest bound)."""
    if threshold > SIMHASH_BANDS - 1:
        raise ValueError(
            f"threshold={threshold} exceeds the pigeonhole no-miss "
            f"bound ({SIMHASH_BANDS} bands ⇒ exact only for "
            f"threshold <= {SIMHASH_BANDS - 1}); pairs at larger "
            "distances can collide in no band and would be silently "
            "missed — use simhash_band_pairs (batch path) or more "
            "bands instead"
        )
    per_band = SIMHASH_BITS // SIMHASH_BANDS
    sig = simhash_fp(batch, id_col, text_col, n_hex=SIMHASH_BITS // 4)
    banded = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), b -> struct("
                f"  b AS band_id,"
                f"  CAST(shiftright(simhash, b * {per_band})"
                f"       & {(1 << per_band) - 1} AS STRING) AS sig))"
            )
        ).alias("band"),
    ).select("band.band_id", "band.sig", id_col, "simhash")
    hits = banded.join(index, ["band_id", "sig"]).select(
        id_col,
        F.expr("CAST(bit_count(simhash ^ snap_hash) AS INT)").alias("h"),
        "snap_id",
    )
    best = hits.groupBy(id_col).agg(
        F.min("h").alias("min_hamming"),
        F.min_by("snap_id", F.struct("h", "snap_id")).alias("nearest_snap_id"),
    )
    return (
        sig.join(best, id_col, "left")
        .select(
            id_col,
            "simhash",
            "min_hamming",
            "nearest_snap_id",
            (F.coalesce("min_hamming", F.lit(SIMHASH_BITS)) <= threshold).alias(
                "flagged"
            ),
        )
    )


def exact_dedup_summary(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content-digest groupBy: survivors keep min id."""
    groups = (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(F.col("n_docs") - 1).cast("long").alias("n_duplicates"),
    )


BLOOM_M = 65536  # filter bits (sized to snapshot shingle count; 2^33+ at scale)
BLOOM_K = 3      # hash functions (8-hex-char slices of one md5)


def bloom_positions(
    shingle: Column | str, m: int = BLOOM_M, k: int = BLOOM_K
) -> Column:
    """K Bloom bit positions for a shingle, carved as independent
    32-bit slices of ONE md5 (portable: DuckDB derives identical bits
    via ``CAST('0x' || substr(md5(s), 1+8j, 8) AS BIGINT) % m``)."""
    col = F.col(shingle) if isinstance(shingle, str) else shingle
    return F.array(
        *[
            F.pmod(
                F.conv(F.substring(F.md5(col), 1 + 8 * j, 8), 16, 10).cast(
                    "long"
                ),
                F.lit(m),
            )
            for j in range(k)
        ]
    )


def _bloom_shingles(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Distinct (id, shingle) pairs, guarded against sub-shingle docs."""
    tokd = docs.select(F.col(id_col), tokens(text_col).alias("_toks")).where(
        F.size("_toks") >= SHINGLE_WORDS
    )
    return tokd.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("_toks")))
        ).alias("shingle"),
    )


def bloom_bits(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """The Bloom filter as a relation: the <=m-row DISTINCT set of bit
    positions covering every shingle of ``docs`` — the constant-memory
    artifact a rolling crawl persists instead of the corpus (at real
    scale this compiles to Spark's native bloom_filter_agg; the
    relational form is its exact logical twin)."""
    sh = _bloom_shingles(docs, id_col, text_col)
    return (
        sh.select(F.explode(bloom_positions("shingle", m, k)).alias("p"))
        .distinct()
    )


def bloom_containment(
    docs: DataFrame,
    bits: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    thresh: float = 0.5,
) -> DataFrame:
    """Score each doc by the fraction of its shingles whose K bit
    positions are ALL set in ``bits``; flag docs at >= ``thresh``
    containment. Per-doc and batch-local, so the same call serves the
    batch query and each streaming micro-batch (no cross-batch state
    beyond the static bits relation). No false negatives: an inserted
    shingle always probes positive."""
    sh = _bloom_shingles(docs, id_col, text_col)
    pos = sh.select(
        F.col(id_col),
        "shingle",
        F.explode(bloom_positions("shingle", m, k)).alias("p"),
    )
    marked = pos.join(
        bits.withColumn("_inb", F.lit(True)), "p", "left"
    ).select(
        F.col(id_col),
        "shingle",
        F.coalesce(F.col("_inb"), F.lit(False)).alias("inb"),
    )
    grams = marked.groupBy(id_col, "shingle").agg(
        F.bool_and("inb").alias("hit")
    )
    d = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.col("hit").cast("long")).cast("long").alias("n_hit"),
    )
    frac = F.col("n_hit") * 1.0 / F.col("n_grams")
    return d.select(
        F.col(id_col),
        "n_grams",
        "n_hit",
        F.round(frac, 6).alias("hit_frac"),
        (frac >= thresh).alias("flagged"),
    )
