"""D8 hydrological flow operators (GRASS r.watershed / ArcGIS Flow
Direction + Flow Accumulation family) over integer elevation grids.

Reference scope: the reference's raster toolbox carries the focal /
zonal / proximity analysis families (SpatialGetisOrd.scala,
UtilsML neighborhood ops); D8 drainage is the canonical next member a
land-use user reaches for. Both operators are exact-integer,
shuffle-bounded compositions:

- :func:`d8_directions`: one offset-explode + one grid equi-join (the
  proximity discipline — never a pixel self-join), steepest-descent
  arg-max via a single packed BIGINT key, so no float ordering and no
  window anywhere. drop²·(3−d²) cross-multiplies the slope comparison
  drop/√d² onto integers (d² ∈ {1,2}), and the packed low 3 bits
  carry the deterministic direction tie-break.
- :func:`block_flow_accumulation` / :func:`block_watershed_roots`:
  full-horizon accumulation and basin labels the way the reference
  runs map algebra, tile by tile (Barnes 2017, "Parallel
  non-divergent flow accumulation for trillion cell DEMs"). One
  ``applyInPandas`` per ``BLOCK``² block (its cells plus a one-cell
  halo) takes each cell's D8 direction and drains the block in numpy
  (:func:`_drain_window`, :func:`_drain`: Kahn levels for the in-block
  accumulation, pointer jumping for each cell's in-block terminal — a
  pit, or the exit cell where its path leaves the block). Only the
  exit cells then meet in a global solve: the perimeter forest, about
  4/BLOCK of the cells, where each exit links to the terminal of its
  downstream cell. Basin roots are one join of the cells onto the
  forest's doubled roots (:func:`watershed_roots`); accumulation
  weighs each exit by the cells its flow carries, sums the forest's
  weighted subtrees (:func:`subtree_sums`) into each entry cell's
  inflow, and drains every block once more with that inflow. A grid
  inside one block has no exits and builds with one eager action (one
  exchange: a map-stage job and the checkpoint job).
- :func:`flow_accumulation`: upstream-contributor counts within a
  BOUNDED path depth — ``depth`` rounds of frontier ⋈ edges pointer
  chasing with the connected_components localCheckpoint discipline.
  Strictly-downhill edges make the flow graph a DAG (elevation
  strictly decreases), so every (source, downstream) pair appears
  exactly once and the count is exact. Full-basin accumulation =
  depth ≥ grid diameter; at 100 TB the bounded depth IS the scale
  contract (work is |edges|·depth worst case, each round one hash
  equi-join on the cell key).
- :func:`flow_accumulation_full`: the same counts over the WHOLE flow
  path of an arbitrary edge list via Euler tour + weighted list
  ranking — O(log) shuffle rounds with O(n) state per round (never
  the O(n·L) transitive closure).
- :func:`strahler_orders` stays on fixpoint rounds over every cell:
  its update along a path is a max / count-at-max fold, not a sum, so
  it does not reduce to a weighted perimeter forest.
"""

from __future__ import annotations

import math
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# D8 neighbor offsets in tie-break priority order (E, SE, S, SW, W,
# NW, N, NE — lowest index wins on equal slope)
D8_OFFSETS = [
    (0, 1, 0), (1, 1, 1), (2, 0, 1), (3, -1, 1),
    (4, -1, 0), (5, -1, -1), (6, 0, -1), (7, 1, -1),
]

# side of the square blocks the block kernels drain in one group: at
# most 262,144 cells per applyInPandas group, and a perimeter of about
# 4/512 of the cells for the global solve
BLOCK = 512


def _checkpoint_with(df: DataFrame, metric: Column) -> tuple[DataFrame, int]:
    """Eager localCheckpoint of ``df`` and the value of the aggregate
    ``metric`` over it (a row count, a drain probe), observed by the
    checkpoint job itself instead of by a job of its own.

    The observation is string-named and read off the observed frame's
    own query execution: a ``pyspark.sql.Observation`` would register
    the session's ``ObservationManager``, which is not serializable, and
    leave the session unable to ship any closure that holds it."""
    name = f"d8_metric_{uuid.uuid4().hex}"
    observed = df.observe(name, metric.alias("m"))
    df = observed.localCheckpoint(eager=True)
    metrics = observed._jdf.queryExecution().observedMetrics()
    return df, metrics.apply(name).getLong(0)


def _broadcast_if_small(df: DataFrame, rows: int) -> DataFrame:
    """Hint ``df`` for broadcast when its size, ``rows`` (exact, or an
    upper bound) × the planner's per-row width, fits the session's own
    ``spark.sql.autoBroadcastJoinThreshold`` (-1: never).

    The D8 loops join localCheckpointed relations, and a checkpoint
    carries the size estimate of the plan it came from: 13.5 MB for
    the 768-cell edge relation that holds ~12 KB. Without the hint
    every doubling round plans a SortMergeJoin and pays its shuffle
    stages. The width is Spark's own (8 bytes of row overhead plus
    each column's default size), so at scale, where the relation
    outgrows the threshold, the plan is the one Spark would pick on
    its own."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    width = 8 + df._jdf.schema().defaultSize()
    if limit >= 0 and rows * width <= limit:
        return F.broadcast(df)
    return df


def _guard_elev(cells: DataFrame) -> DataFrame:
    """``cells`` with the packed-key bound on ``elev`` (see
    :func:`d8_directions`) asserted row by row: a cheap row-local guard
    that passes every in-domain value through and fails loudly on a
    domain violation instead of returning a wrong arg-max."""
    return cells.withColumn(
        "elev",
        F.when(F.abs(F.col("elev")) <= F.lit(379_000_000), F.col("elev"))
        .otherwise(F.raise_error(F.lit(
            "D8: |elev| exceeds the 3.79e8 packed-key bound"
        ))),
    )


def d8_directions(cells: DataFrame) -> DataFrame:
    """``cells`` (gx int, gy int, elev bigint) → (gx, gy, elev, dir)
    with ``dir`` the steepest strictly-downhill D8 neighbor index
    (tie-break: lowest index) or -1 for a pit/flat cell.

    Neighbors resolve through ONE equi-join of the 8-way offset
    explode against the grid; the arg-max folds into
    max(drop²·(3−d²)·8 + (7−dir)) — exact integers end to end.

    Contract: the |drop| between neighbors must stay <=
    sqrt(2^63/16) = 759,250,124 or the packed key drop²·(3−d²)·8
    overflows BIGINT and picks a wrong direction, so |elev| is
    guarded at 379,000,000 (< 759,250,124/2 = 379,625,062, so ANY
    in-guard drop fits — 2·3.8e8 would already wrap: 16·(7.6e8)² =
    9.2416e18 > 2^63−1 = 9.2234e18). Any real DEM (Everest in
    millimeters is 8.8e6) is orders of magnitude inside the bound; it
    is asserted here because the declared elev domain (bigint) would
    otherwise permit silent wraparound.
    """
    cells = _guard_elev(cells)
    offs = F.array(
        *[
            F.struct(
                F.lit(d).alias("dir"),
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(dx * dx + dy * dy).alias("d2"),
            )
            for d, dx, dy in D8_OFFSETS
        ]
    )
    probes = cells.select(
        "gx", "gy", "elev", F.explode(offs).alias("o")
    ).select(
        "gx",
        "gy",
        "elev",
        (F.col("gx") + F.col("o.dx")).alias("nx"),
        (F.col("gy") + F.col("o.dy")).alias("ny"),
        "o.dir",
        "o.d2",
    )
    nb = cells.select(
        F.col("gx").alias("nx"),
        F.col("gy").alias("ny"),
        F.col("elev").alias("nelev"),
    )
    drop = F.col("elev") - F.col("nelev")
    packed = (
        drop * drop * (F.lit(3) - F.col("d2")) * 8 + (F.lit(7) - F.col("dir"))
    )
    best = (
        probes.join(nb, ["nx", "ny"])
        .where(drop > 0)
        .groupBy("gx", "gy")
        .agg(F.max(packed).alias("p"))
        .select(
            "gx", "gy", (F.lit(7) - F.col("p") % 8).cast("int").alias("dir")
        )
    )
    return cells.join(best, ["gx", "gy"], "left").select(
        "gx",
        "gy",
        "elev",
        F.coalesce("dir", F.lit(-1)).cast("int").alias("dir"),
    )


def flow_edges(directed: DataFrame, width: int) -> DataFrame:
    """(gx, gy, dir) rows with dir >= 0 → (u, v) BIGINT cell-id edges
    following the D8 direction."""
    dx = F.element_at(
        F.array(*[F.lit(d[1]) for d in D8_OFFSETS]), F.col("dir") + 1
    )
    dy = F.element_at(
        F.array(*[F.lit(d[2]) for d in D8_OFFSETS]), F.col("dir") + 1
    )
    return directed.where(F.col("dir") >= 0).select(
        (F.col("gy") * width + F.col("gx")).cast("long").alias("u"),
        ((F.col("gy") + dy) * width + F.col("gx") + dx)
        .cast("long")
        .alias("v"),
    )


def flow_accumulation(edges: DataFrame, depth: int) -> DataFrame:
    """(u, v) strictly-downhill edges → (v, acc): the number of
    upstream cells whose flow path reaches ``v`` in <= ``depth``
    steps. ``depth`` rounds of frontier ⋈ edges; the edge relation
    and EVERY round checkpoint (see the inline task-binary notes —
    the one loop where the connected_components every-N cadence is
    too loose)."""
    # the edge relation is re-referenced depth times (every round's
    # probe side and every union branch): without this checkpoint the
    # full upstream plan (grid synthesis → d8 arg-max) serializes into
    # EVERY task binary — measured 24.5 MiB/task at depth 12; with it
    # the loop references a plain materialized relation
    edges = edges.localCheckpoint(eager=True)
    frontier = edges
    layers = [edges]
    for s in range(2, depth + 1):
        nxt = edges.select(
            F.col("u").alias("v"), F.col("v").alias("w")
        )
        frontier = frontier.join(nxt, "v").select(
            "u", F.col("w").alias("v")
        )
        # cadence-2 checkpointing (r11): every OTHER round (and the
        # last) materializes. The r8 13-24 MiB task binaries came from
        # un-checkpointed layers re-embedding the full upstream grid
        # synthesis; with the edge relation checkpointed above, a lazy
        # layer is ONE hash join over two plain cached relations (~KB
        # of plan), and halving the eager materializations removes
        # ~depth/2 fixed job costs per query (measured 0.25-0.35 s
        # each at fixture scale on local[32])
        if s % 2 == 0 or s == depth:
            frontier = frontier.localCheckpoint(eager=True)
        layers.append(frontier)
    allp = layers[0]
    for l in layers[1:]:
        allp = allp.unionByName(l)
    return allp.groupBy("v").agg(F.count(F.lit(1)).alias("acc"))


def flow_accumulation_full(edges: DataFrame,
                           max_rounds: int = 48,
                           stats: dict | None = None) -> DataFrame:
    """(u, v) strictly-downhill edges → (v, acc): upstream-contributor
    counts over the FULL flow horizon — every path length — with
    O(n) state per shuffle round: acc(v) = |subtree(v)| − 1 in the
    in-forest where every cell points at its downstream neighbor, the
    :func:`subtree_sums` of unit weights less the node itself.

    The transitive-closure form this replaces (kept as
    :func:`flow_accumulation_closure` for the equality tests)
    materialized every (source, downstream) pair — Σ path lengths =
    O(n·L) rows for horizon L, 3–4 orders of magnitude more state than
    the n-sized answer on continental grids. Identical output to the
    closure/bounded forms (only targets with acc >= 1 are returned).
    """
    sums = subtree_sums(edges, max_rounds=max_rounds, stats=stats)
    return sums.select(
        "v", (F.col("t") - 1).alias("acc")
    ).where(F.col("acc") >= 1)


def subtree_sums(edges: DataFrame, weight: str | None = None,
                 max_rounds: int = 48,
                 stats: dict | None = None) -> DataFrame:
    """(u, v[, weight]) in-forest edges (child u → parent v) →
    (v, t) for every node: t(v) = the summed weight of v's subtree,
    v included. Without ``weight`` every node weighs 1; with it each
    child weighs its out-edge's ``weight`` column and each root, which
    has no out-edge, weighs 0.

    Euler tour + weighted list ranking, the textbook subtree
    algorithm, with total state exactly 2n arc rows in EVERY round:

    1. Each tree edge (child u → parent v) contributes a down-arc
       (enter u, id 2u) and an up-arc (leave u, id 2u+1); roots get a
       virtual sentinel parent so the formula is uniform. The Euler
       tour successor is local arithmetic over (parent, first-child,
       next-sibling) — one window shuffle partitioned by parent.
    2. Weighted list ranking by pointer doubling: a down-arc carries
       its node's weight, an up-arc 0, and d(x) becomes the summed
       weight of x and every arc after it in its tour, computed in
       ceil(log2 max-tour-length) rounds of one hash equi-join each,
       each round carrying exactly one (ptr, d) pair per arc —
       *partial sums instead of pairs*, the same O(n)-state
       discipline :func:`watershed_roots` uses.
    3. The arcs of v's subtree sit strictly between down(v) and
       up(v), so t(v) = d(down_v) − d(up_v): exact integers end to
       end, read off with one groupBy on the node id.

    Rounds are ceil(log2 2n) worst-case; the loop stops early once
    every arc has reached its tour end. Per-round eager localCheckpoint
    keeps lineage and task binaries flat (the flow_accumulation
    discipline).

    ``stats`` (optional dict) receives ``{"rounds": r, "state_rows":
    2n}`` — measured doubling rounds and the (constant) per-round
    state size the scale probe records.
    """
    edges, n_edges = _checkpoint_with(edges, F.count(F.lit(1)))
    wt = F.col(weight) if weight is not None else F.lit(1)
    # child ordering within each parent: first child starts the
    # descent, next sibling continues the sweep — one shuffle on v
    w = W.partitionBy("v").orderBy("u")
    ch = edges.select(
        "u",
        "v",
        F.lead("u").over(w).alias("sib"),
        F.row_number().over(w).alias("rk"),
        wt.cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    first_child = ch.where(F.col("rk") == 1).select(
        F.col("v").alias("n"), F.col("u").alias("fc")
    )
    # one row per node: child nodes carry (parent, next sibling);
    # roots (targets that are never sources) carry neither; every
    # relation joined here has at most |edges| rows
    roots = (
        edges.select(F.col("v").alias("n"))
        .distinct()
        .join(_broadcast_if_small(
            edges.select(F.col("u").alias("n")).distinct(), n_edges),
            "n", "left_anti")
    )
    nodes = ch.select(
        F.col("u").alias("n"), F.col("v").alias("par"), "sib", "w"
    ).unionByName(
        roots.select(
            "n", F.lit(None).cast("long").alias("par"),
            F.lit(None).cast("long").alias("sib"),
            F.lit(1 if weight is None else 0).cast("long").alias("w"),
        )
    ).join(_broadcast_if_small(first_child, n_edges), "n", "left")
    # Euler-tour successor, all local arithmetic: down(n)=2n enters n
    # (next: descend to first child, else bounce straight up);
    # up(n)=2n+1 leaves n (next: next sibling's descent, else leave
    # the parent; roots end their tour → null)
    down = nodes.select(
        (F.col("n") * 2).alias("id"),
        F.coalesce(F.col("fc") * 2, F.col("n") * 2 + 1).alias("ptr"),
        F.col("w").alias("d"),
    )
    up = nodes.select(
        (F.col("n") * 2 + 1).alias("id"),
        F.when(F.col("sib").isNotNull(), F.col("sib") * 2)
        .when(F.col("par").isNotNull(), F.col("par") * 2 + 1)
        .alias("ptr"),
        F.lit(0).cast("long").alias("d"),
    )
    arcs, n_arcs = _checkpoint_with(
        down.unionByName(up), F.count(F.lit(1))
    )
    # weighted list ranking: each round jumps 2^k arcs ahead, summing
    # the carried distance — state is exactly n_arcs rows per round
    rounds_run = 0
    drained = False
    # r11 loop shape, two changes (measured together 2.0 s → 1.2 s for
    # the 8-round loop at n_arcs=1536 on local[32]):
    # 1. one LEFT join per jump instead of filter + inner join + union
    #    of the drained rows — a null ptr never matches, so p2 stays
    #    null and the row keeps its distance through coalesce; same
    #    fixpoint, one scan of the arc relation per round, not three.
    # 2. cadence-2 checkpoints/drain probes: two jumps compose lazily
    #    between materializations, halving the fixed per-round job
    #    costs (isEmpty + localCheckpoint were ~0.3 s/round). An extra
    #    no-op jump after drain is identity.
    for r in range(max_rounds):
        hop = _broadcast_if_small(arcs.select(
            F.col("id").alias("ptr"),
            F.col("ptr").alias("p2"),
            F.col("d").alias("d2"),
        ), n_arcs)
        arcs = arcs.join(hop, "ptr", "left").select(
            "id",
            F.col("p2").alias("ptr"),
            (F.col("d") + F.coalesce(F.col("d2"), F.lit(0))).alias("d"),
        )
        rounds_run += 1
        if r % 2 == 1 or r == max_rounds - 1:
            arcs, live = _checkpoint_with(arcs, F.count("ptr"))
            if live == 0:
                drained = True
                break
    if stats is not None:
        # under cadence-2 drain probes the loop may execute one no-op
        # jump past the true drain round; ceil(log2 n_arcs) bounds the
        # drain round from above (every tour is <= n_arcs long), so
        # the min is the tight honest "rounds needed" figure the scale
        # probe records
        bound = (
            max(1, math.ceil(math.log2(n_arcs))) if n_arcs > 0 else 0
        )
        stats["rounds"] = min(rounds_run, bound)
        stats["state_rows"] = n_arcs
    # a ranking loop that exits via max_rounds without draining means
    # the edge set was cyclic (not a forest) or the tour outran
    # 2^max_rounds arcs — either way the dd-du subtree formula below
    # would return silently WRONG counts, so refuse instead. The check
    # costs nothing when the loop broke: its own drain probe proved it.
    if not drained:
        undrained = arcs.where(F.col("ptr").isNotNull())
        if not undrained.isEmpty():
            if stats is not None:
                stats["undrained_arcs"] = undrained.count()
            raise ValueError(
                "subtree_sums: list ranking did not converge "
                f"in {max_rounds} rounds — the edge set is cyclic (not "
                "a drainage forest) or the tour exceeds 2^max_rounds "
                "arcs"
            )
    # subtree weight off the two tour ranks of each node: one groupBy.
    # pmod, not %: Spark's % keeps the dividend's sign, so a negative
    # odd arc id would satisfy neither branch and drop the node
    by_node = arcs.groupBy(
        F.shiftright(F.col("id"), 1).alias("v")
    ).agg(
        F.max(F.when(F.pmod(F.col("id"), 2) == 0, F.col("d"))).alias("dd"),
        F.max(F.when(F.pmod(F.col("id"), 2) == 1, F.col("d"))).alias("du"),
    )
    return by_node.select("v", (F.col("dd") - F.col("du")).alias("t"))


def flow_accumulation_closure(edges: DataFrame,
                              max_rounds: int = 16,
                              stats: dict | None = None) -> DataFrame:
    """The r9 transitive-closure form of full-horizon accumulation,
    kept as the independent cross-check for
    :func:`flow_accumulation_full`'s Euler-tour rewrite (equality
    pinned in tests/test_flow.py). Pointer doubling over a ``jump``
    relation extends a materialized ``closure`` of every (source,
    downstream) pair — O(log L) rounds but O(n·L) total closure rows,
    which is why it is no longer the production path."""
    closure = edges.localCheckpoint(eager=True)
    jump = closure
    rounds_run = 0
    for _ in range(max_rounds):
        mid = jump.select("u", F.col("v").alias("m"))
        ext = (
            mid.join(
                closure.select(
                    F.col("u").alias("m"), F.col("v").alias("w")
                ),
                "m",
            )
            .select("u", F.col("w").alias("v"))
            .localCheckpoint(eager=True)
        )
        nxt_jump = (
            mid.join(
                jump.select(F.col("u").alias("m"), F.col("v").alias("w")),
                "m",
            )
            .select("u", F.col("w").alias("v"))
            .localCheckpoint(eager=True)
        )
        closure = closure.unionByName(ext).localCheckpoint(eager=True)
        jump = nxt_jump
        rounds_run += 1
        if jump.isEmpty():
            break
    if stats is not None:
        stats["rounds"] = rounds_run
    return closure.groupBy("v").agg(F.count(F.lit(1)).alias("acc"))


def watershed_roots(edges: DataFrame, cells_ids: DataFrame,
                    rounds: int = 8, early_stop: bool = False,
                    stats: dict | None = None) -> DataFrame:
    """(u, v) strictly-downhill edges + the full cell-id relation →
    (u, root): the terminal pit each cell ultimately drains to.

    Pointer DOUBLING, not pointer chasing: pits self-loop, and each of
    the ``rounds`` iterations composes the parent map with itself
    (parent ∘ parent), so reach doubles per round — O(log diameter)
    rounds for full-basin labeling where flow_accumulation's bounded
    depth pays one round per step. 2^rounds must exceed the longest
    flow path (rounds=8 covers diameter 256; at continental grids set
    rounds = ceil(log2(diameter))). The same per-round
    localCheckpoint discipline as connected_components keeps lineage
    and task binaries flat.

    ``early_stop=True`` breaks once a doubling round changes no
    parent (every pointer reached its self-looping pit) at the cost
    of one changed-row count per round; ``stats`` then receives the
    measured ``{"rounds": r}`` for the scale probe.
    """
    pits = cells_ids.join(edges.select("u").distinct(), "u", "left_anti")
    # one row per cell (pits self-loop), in every round
    parent, n_cells = _checkpoint_with(edges.unionByName(
        pits.select("u", F.col("u").alias("v"))
    ), F.count(F.lit(1)))
    rounds_run = 0
    for r in range(rounds):
        prev = parent
        parent = (
            parent.join(
                _broadcast_if_small(parent.select(
                    F.col("u").alias("v"), F.col("v").alias("w")
                ), n_cells),
                "v",
            )
            .select("u", F.col("w").alias("v"))
        )
        # cadence-2 checkpoints in the fixed-rounds form (r11): a lazy
        # doubling round is one self-join over plain cached relations,
        # so materializing every other round halves the fixed job
        # costs; early_stop keeps per-round checkpoints because its
        # convergence probe joins consecutive materialized rounds
        if early_stop or r % 2 == 1 or r == rounds - 1:
            parent = parent.localCheckpoint(eager=True)
        rounds_run += 1
        if early_stop:
            converged = (
                parent.join(prev.withColumnRenamed("v", "pv"), "u")
                .where(F.col("v") != F.col("pv"))
                .isEmpty()
            )
            if converged:
                break
    if stats is not None:
        stats["rounds"] = rounds_run
    return parent.select("u", F.col("v").alias("root"))


_DRAINED_SCHEMA = "bx long, by long, u long, v long, acc long, term long"


def _drain(u: np.ndarray, v: np.ndarray,
           inflow: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Drain one block's cells ``u`` with downstream cell ids ``v``
    (``v == u`` for a pit) and ``inflow``, the cells other blocks drain
    into each: returns ``acc`` — inflow plus the in-block cells
    upstream, each inflow carried down in-block — and ``term``, each
    cell's in-block terminal: a pit, or the exit cell whose ``v`` is
    not in the block.

    One numpy step per Kahn level for ``acc`` and per pointer-jumping
    round for ``term``, none per cell; the working set is a few arrays
    of the block's size."""
    n = len(u)
    idx = np.arange(n)
    order = np.argsort(u)
    pos = order[np.minimum(np.searchsorted(u, v, sorter=order), n - 1)]
    # the in-block downstream index; pits and exits point at themselves
    down = np.where(u[pos] == v, pos, idx)
    link = down != idx
    indeg = np.bincount(down[link], minlength=n)
    acc = inflow.copy()
    frontier = idx[indeg == 0]
    seen = 0
    while frontier.size:
        seen += frontier.size
        f = frontier[link[frontier]]
        t = down[f]
        np.add.at(acc, t, acc[f] + 1)
        np.subtract.at(indeg, t, 1)
        frontier = np.unique(t[indeg[t] == 0])
    if seen != n:
        raise ValueError("D8 block kernel: the flow directions form a cycle")
    term = down
    while True:
        nxt = term[term]
        if np.array_equal(nxt, term):
            break
        term = nxt
    return acc, u[term]


def _drained(pdf: pd.DataFrame, u, v, inflow) -> pd.DataFrame:
    acc, term = _drain(u, v, inflow)
    n = len(u)
    return pd.DataFrame({
        "bx": np.full(n, pdf["bx"].iloc[0], np.int64),
        "by": np.full(n, pdf["by"].iloc[0], np.int64),
        "u": u, "v": v, "acc": acc, "term": term,
    })


def _drain_window(width: int):
    """Pass one's kernel over a block: ``pdf`` holds the block's own
    cells (gx, gy, elev, own=True) and the one-cell halo of its
    neighbors (own=False). Each own cell takes its D8 direction — the
    same packed arg-max as :func:`d8_directions`, drop²·(3−d²)·8 +
    (7−dir) over the strictly-downhill neighbors, in exact int64, one
    numpy step per direction — and the block drains with no inflow."""
    step = np.array(D8_OFFSETS, np.int64)

    def drain(pdf: pd.DataFrame) -> pd.DataFrame:
        gx = pdf["gx"].to_numpy(np.int64)
        gy = pdf["gy"].to_numpy(np.int64)
        elev = pdf["elev"].to_numpy(np.int64)
        own = pdf["own"].to_numpy(bool)
        # the window's elevations, padded by one so every probe is in
        # range
        ox, oy = gx.min() - 1, gy.min() - 1
        shape = (gy.max() - oy + 2, gx.max() - ox + 2)
        z = np.zeros(shape, np.int64)
        have = np.zeros(shape, bool)
        z[gy - oy, gx - ox] = elev
        have[gy - oy, gx - ox] = True
        cx, cy, ce = gx[own], gy[own], elev[own]
        best = np.full(len(cx), -1, np.int64)
        for d, dx, dy in D8_OFFSETS:
            nx, ny = cx + dx - ox, cy + dy - oy
            drop = ce - z[ny, nx]
            key = drop * drop * (3 - dx * dx - dy * dy) * 8 + (7 - d)
            downhill = have[ny, nx] & (drop > 0)
            best = np.maximum(best, np.where(downhill, key, -1))
        d = np.where(best >= 0, 7 - best % 8, 0)
        u = cy * width + cx
        v = np.where(
            best >= 0, (cy + step[d, 2]) * width + cx + step[d, 1], u
        )
        return _drained(pdf, u, v, np.zeros(len(u), np.int64))

    return drain


def _drain_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pass two over a block: its cells (bx, by, u, v, inflow) drained
    again, now with the inflow the perimeter solve found."""
    return _drained(
        pdf, pdf["u"].to_numpy(np.int64), pdf["v"].to_numpy(np.int64),
        pdf["inflow"].to_numpy(np.int64),
    )


def _per_block(df: DataFrame, kernel) -> DataFrame:
    """One applyInPandas of ``kernel`` per (bx, by) block."""
    from biggis_landuse_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    return df.groupBy("bx", "by").applyInPandas(kernel, schema=_DRAINED_SCHEMA)


def _drain_locally(cells: DataFrame, width: int,
                   block: int) -> tuple[DataFrame, int]:
    """Pass one of the block kernels: every cell of ``cells`` (gx, gy,
    elev) given its D8 direction and drained inside its ``block``²
    block, checkpointed, and the number of exit cells, counted by the
    same job. One exchange: each cell goes to its own block and, as
    halo, to the blocks of its D8 neighbors."""
    cells = _guard_elev(cells)
    gx, gy = F.col("gx"), F.col("gy")
    blocks = F.array_distinct(F.array(*[
        F.struct(
            F.floor((gx + dx) / block).cast("long").alias("bx"),
            F.floor((gy + dy) / block).cast("long").alias("by"),
        )
        for dx in (0, -1, 1) for dy in (0, -1, 1)
    ]))
    window = cells.select(
        "gx", "gy", "elev", F.explode(blocks).alias("b")
    ).select(
        "b.bx", "b.by", "gx", "gy", "elev",
        ((F.col("b.bx") == F.floor(gx / block))
         & (F.col("b.by") == F.floor(gy / block))).alias("own"),
    )
    return _checkpoint_with(
        _per_block(window, _drain_window(width)),
        F.count(F.when(_is_exit(), F.lit(1))),
    )


def _is_exit() -> Column:
    """A drained cell is an exit when it is its own terminal but not a
    pit: its downstream cell lies in another block."""
    return (F.col("term") == F.col("u")) & (F.col("v") != F.col("u"))


def _perimeter_forest(local: DataFrame, n_exits: int) -> DataFrame:
    """(u, dn, v, w) over the exit cells of a drained grid: exit ``u``
    drains into cell ``dn`` of another block, links to ``v``, the
    in-block terminal of ``dn`` (another exit, or a pit), and weighs
    ``w``, the cells whose flow leaves its block through it."""
    exits = local.where(_is_exit()).select(
        "u", F.col("v").alias("dn"), (F.col("acc") + 1).alias("w")
    )
    return local.select(
        F.col("u").alias("dn"), F.col("term").alias("v")
    ).join(_broadcast_if_small(exits, n_exits), "dn")


def block_flow_accumulation(cells: DataFrame, width: int, *,
                            block: int = BLOCK) -> DataFrame:
    """(gx, gy, elev) cells → (u, acc) for EVERY cell (u = gy·width
    + gx): the full-horizon upstream-contributor count, equal to
    :func:`flow_accumulation_full` over ``flow_edges(d8_directions(
    cells), width)`` (0 where no cell drains in).

    Block-local first (Barnes 2017): one :func:`_drain_window` pass
    per ``block``² block, then the perimeter forest of exit cells
    (:func:`_perimeter_forest`), whose weighted :func:`subtree_sums`
    T(x) count the cells leaving each block through exit x. Each entry
    cell takes inflow I = Σ T(x) over the exits draining into it, and
    a second block pass carries that inflow down its block. With no
    exit — the grid fits one block — the first pass is the answer.
    ``block`` exists for tests that force small blocks."""
    local, n_exits = _drain_locally(cells, width, block)
    if n_exits == 0:
        return local.select("u", "acc")
    forest = _perimeter_forest(local, n_exits)
    sums = subtree_sums(forest.select("u", "v", "w"), weight="w")
    inflow = forest.select(
        F.col("u").alias("x"), F.col("dn").alias("entry")
    ).join(
        _broadcast_if_small(sums.select(F.col("v").alias("x"), "t"),
                            2 * n_exits),
        "x",
    ).groupBy("entry").agg(F.sum("t").alias("inflow"))
    entered = local.join(
        _broadcast_if_small(inflow, n_exits),
        F.col("u") == F.col("entry"), "left",
    ).select(
        "bx", "by", "u", "v",
        F.coalesce("inflow", F.lit(0)).cast("long").alias("inflow"),
    )
    return _per_block(entered, _drain_block).select("u", "acc")


def block_watershed_roots(cells: DataFrame, width: int, *,
                          block: int = BLOCK) -> DataFrame:
    """(gx, gy, elev) cells → (u, root) for EVERY cell: the pit its
    flow path ends in, equal to :func:`watershed_roots` over
    ``flow_edges(d8_directions(cells), width)``. One
    :func:`_drain_window` pass gives each cell its in-block terminal;
    a terminal that is a pit is the root, and an exit's root is its
    root in the perimeter forest, doubled by :func:`watershed_roots`
    in exactly as many rounds as cover the longest possible forest
    path — one join, no second block pass.
    ``block`` exists for tests that force small blocks."""
    local, n_exits = _drain_locally(cells, width, block)
    if n_exits == 0:
        return local.select("u", F.col("term").alias("root"))
    forest = _perimeter_forest(local, n_exits).select("u", "v")
    nodes = forest.select("u").unionByName(
        forest.select(F.col("v").alias("u"))
    ).distinct()
    roots = watershed_roots(forest, nodes, rounds=n_exits.bit_length())
    return local.join(
        _broadcast_if_small(
            roots.select(F.col("u").alias("term"), "root"), 2 * n_exits
        ),
        "term", "left",
    ).select("u", F.coalesce("root", "term").alias("root"))


def strahler_orders(edges: DataFrame, cells_ids: DataFrame,
                    rounds: int = 8, early_stop: bool = False,
                    stats: dict | None = None) -> DataFrame:
    """(u, v) strictly-downhill edges + the full cell-id relation →
    (u, o): the Strahler stream order of every cell (headwaters 1; a
    confluence of >= 2 equal-order tributaries increments).

    Monotone fixpoint iteration: every cell starts at 1 and each
    round recomputes order from its tributaries' current orders —
    max, plus one when the max is shared by two or more. Converges
    once information has crossed the longest tributary chain; the
    fixpoint is order-insensitive (max / count-at-max over the
    collected tributary list, never a float or a position), so the
    nondeterministic collect_list order cannot change the result.
    Each round is one hash equi-join + a fan-in-bounded aggregate
    (<= 8 tributaries per cell on a D8 graph) with the per-round
    localCheckpoint discipline. ``rounds`` must cover the deepest
    chain between confluences; tests pin convergence by comparing
    against ``rounds + 2``.

    ``early_stop=True`` adds one cheap changed-row count per round
    (an anti-join of consecutive checkpointed order vectors) and
    breaks at the fixpoint; ``stats`` then receives
    ``{"rounds": r}`` — the measured rounds-to-convergence the scale
    probe records. The oracle-replayed registry query keeps the
    fixed-rounds form (early_stop=False) so DuckDB unrolls the exact
    same number of iterations.
    """
    edges = edges.localCheckpoint(eager=True)
    # the id relation re-enters every round's left join — checkpoint
    # once so its synthesis plan doesn't re-embed per round
    cells_ids = cells_ids.localCheckpoint(eager=True)
    ord_df = cells_ids.select("u", F.lit(1).cast("int").alias("o"))
    rounds_run = 0
    for _ in range(rounds):
        ch = (
            edges.join(
                ord_df.select(
                    F.col("u").alias("cu"), F.col("o").alias("co")
                ),
                edges["u"] == F.col("cu"),
            )
            .groupBy("v")
            .agg(F.collect_list("co").alias("arr"))
        )
        mx = F.array_max("arr")
        bump = (
            F.size(F.filter(F.col("arr"), lambda x: x == F.array_max("arr")))
            >= 2
        ).cast("int")
        prev = ord_df
        ord_df = (
            cells_ids.join(ch, cells_ids["u"] == ch["v"], "left")
            .select(
                cells_ids["u"],
                F.coalesce(mx + bump, F.lit(1)).cast("int").alias("o"),
            )
        )
        # cadence-2 checkpoints in the fixed-rounds form — see
        # watershed_roots; early_stop keeps per-round materialization
        # for its consecutive-rounds convergence probe
        if early_stop or rounds_run % 2 == 1 or rounds_run == rounds - 1:
            ord_df = ord_df.localCheckpoint(eager=True)
        rounds_run += 1
        if early_stop:
            # both sides are checkpointed plain relations, so the
            # changed-row count is one hash join, not a plan replay
            converged = (
                ord_df.join(prev.withColumnRenamed("o", "po"), "u")
                .where(F.col("o") != F.col("po"))
                .isEmpty()
            )
            if converged:
                break
    if stats is not None:
        stats["rounds"] = rounds_run
    return ord_df
