"""Stateful tile reassembly from a pixel stream (SURVEY.md §2.9 —
the streaming equivalent of A4, which the reference fell back to CSV
for, TilePixelingToCSVExample.scala:71-72).

``applyInPandasWithState`` keeps one state entry per in-flight tile:
accumulated (flat_index → value) pairs. A tile emits when complete
(all cols×rows×n_bands cells seen); an optional processing-time
timeout flushes incomplete tiles as partial output once idle —
bounding state size (SURVEY.md §7.5.4: a tile completes only when all
pixels arrive; timeout-based completion + TTL).

Duplicate pixels within the watermark overwrite (last-wins), matching
the batch reassembly semantics (pixeling.pixels_to_tiles) — so batch
and stream produce identical tiles on the same input, which is exactly
what tests/test_streaming.py asserts.

Implementation note — why the UDF emits dense, NULL-FREE (vals, seen)
arrays instead of dense band arrays: PySpark's
applyInPandasWithState Arrow writer mis-encodes missing elements
inside nested array<array<double>> output columns (both None and NaN
arrive as nulls that the JVM state-output reader fails to decode:
"IllegalStateException: Value at index is null" →
EXPRESSION_DECODING_FAILED). The UDF therefore crosses the Arrow
boundary with two flat arrays that contain no nulls and no NaNs — a
dense double array (0.0 placeholder at unseen cells) plus a boolean
seen-mask — and the dense ``bands`` layout is reconstructed JVM-side
as ``CASE WHEN seen[i] THEN vals[i] ELSE NULL END`` over plain column
references. Missing cells in a flushed partial tile are NULL (the
engine's relational NODATA, SURVEY.md §1.2).

The kernel scatters each Arrow batch into a dense numpy array (no
per-pixel Python) and the densify is O(size) column indexing (a
``map_from_arrays(idx, vals)[i]`` form is re-evaluated per element by
Catalyst: O(size²) per tile; measured in SCALING.md). NaN input values
count as NODATA (the cell stays missing) — the relational contract,
and NaN must not cross the Arrow state boundary.

Both sinks run one ``foreachBatch`` body, ``versioned_batch_writer``:
``stream_to_catalog`` on the catalog's store, plus a publish of its
records; each micro-batch commits atomically and exactly once.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

# State crosses the boundary as two PACKED BINARY blobs, not typed
# arrays (r11, VERDICT r10 #2): a 256² tile's state as
# array<double> + array<boolean> round-trips ~130k Python list
# elements per tile per micro-batch (tolist() on update, per-element
# decode on get) — measured as a principal slice of the whole-pipe
# leg's addBatch time. As raw little-endian float64 bytes plus a
# packbits seen-mask it is two buffer copies (~520 KB per 256² tile),
# and at production state sizes the compactness is also what keeps
# the state store small.
STATE_SCHEMA = StructType(
    [
        StructField("vals_blob", BinaryType()),
        StructField("seen_blob", BinaryType()),
    ]
)

# Dense UDF output: no nulls and no NaNs anywhere (see module
# docstring). Densified to `bands` right after, JVM-side.
RAW_OUTPUT_SCHEMA = StructType(
    [
        StructField("tile_col", IntegerType()),
        StructField("tile_row", IntegerType()),
        StructField("complete", BooleanType()),
        StructField("n_pixels", IntegerType()),
        StructField("vals", ArrayType(DoubleType())),
        StructField("seen", ArrayType(BooleanType())),
    ]
)


def _emit(
    key: Tuple[Any, ...], vals, seen, target: int
) -> pd.DataFrame:
    n = int(seen.sum())
    return pd.DataFrame(
        [
            {
                "tile_col": int(key[0]),
                "tile_row": int(key[1]),
                "complete": n >= target,
                "n_pixels": n,
                "vals": vals.tolist(),
                "seen": seen.tolist(),
            }
        ]
    )


def reassemble_tiles_stream(
    pixels: DataFrame,
    cols: int,
    rows: int,
    n_bands: int = 1,
    ts_col: str = "event_ts",
    watermark: str = "10 minutes",
    timeout_ms: int | None = None,
) -> DataFrame:
    """pixel stream (tile_col, tile_row, band, px, py, value, event_ts)
    → tile stream (tile_col, tile_row, complete, n_pixels, bands).

    Emits complete tiles immediately. ``timeout_ms`` enables
    processing-time state timeouts: incomplete tiles flush as partial
    (NULL-filled) output once idle that long, bounding state size.
    Note Spark schedules continuous micro-batches while any
    processing-time timeout is pending — leave it None for finite
    batch-parity runs, set it for long-lived production streams.
    """
    from biggis_landuse_spark.shipping import ensure_package_shipped

    ensure_package_shipped(pixels.sparkSession)
    size = cols * rows
    target = size * n_bands
    use_timeout = timeout_ms is not None

    def assemble(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        def unpack(vb, sb):
            v = np.frombuffer(vb, dtype="<f8").copy()
            s = (
                np.unpackbits(
                    np.frombuffer(sb, dtype=np.uint8), count=target
                )
                .astype(bool)
                .copy()
            )
            return v, s

        if state.hasTimedOut:
            vals, seen = unpack(*state.get)
            state.remove()
            yield _emit(key, vals, seen, target)
            return
        if state.exists:
            vals, seen = unpack(*state.get)
        else:
            vals = np.zeros(target, dtype=np.float64)
            seen = np.zeros(target, dtype=bool)
        for pdf in batches:
            flat = (
                pdf["band"].to_numpy(dtype=np.int64) * size
                + pdf["py"].to_numpy(dtype=np.int64) * cols
                + pdf["px"].to_numpy(dtype=np.int64)
            )
            v = pdf["value"].to_numpy(dtype=np.float64)
            ok = ~np.isnan(v)  # NaN input = NODATA: cell stays missing
            flat, v = flat[ok], v[ok]
            # duplicate pixels → LAST wins, made explicit: reverse +
            # first-unique keeps each index's final occurrence
            # (sequential-order scatter is an implementation detail of
            # numpy fancy assignment, not a contract)
            rev_f, rev_v = flat[::-1], v[::-1]
            uniq, first = np.unique(rev_f, return_index=True)
            vals[uniq] = rev_v[first]
            seen[uniq] = True
        if int(seen.sum()) >= target:
            state.remove()
            yield _emit(key, vals, seen, target)
        else:
            state.update(
                (
                    np.ascontiguousarray(vals, dtype="<f8").tobytes(),
                    np.packbits(seen).tobytes(),
                )
            )
            if use_timeout:
                state.setTimeoutDuration(timeout_ms)

    raw = (
        pixels.withWatermark(ts_col, watermark)
        .groupBy("tile_col", "tile_row")
        .applyInPandasWithState(
            assemble,
            outputStructType=RAW_OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if use_timeout
            else GroupStateTimeout.NoTimeout,
        )
    )
    # JVM-side densify: unseen cells → NULL (NODATA). Plain O(1)
    # column-reference indexing per element — O(size) per tile, vs the
    # r8 map_from_arrays form Catalyst re-built per element (O(size²))
    return raw.select(
        "tile_col",
        "tile_row",
        "complete",
        "n_pixels",
        F.expr(
            f"transform(sequence(0, {n_bands - 1}), b -> "
            f"  transform(sequence(0, {size - 1}), i -> "
            f"    CASE WHEN seen[b * {size} + i] "
            f"         THEN vals[b * {size} + i] "
            f"         ELSE CAST(NULL AS DOUBLE) END))"
        ).alias("bands"),
    )


def reassemble_tiles_batch(
    pixels: DataFrame, cols: int, rows: int, n_bands: int = 1
) -> DataFrame:
    """Batch twin over the same input schema (parity check target)."""
    from biggis_landuse_spark.pixeling import pixels_to_tiles

    keyed = pixels.select(
        F.lit("stream").alias("layer"),
        F.lit(0).alias("zoom"),
        "tile_col",
        "tile_row",
        "band",
        "px",
        "py",
        "value",
    )
    tiles = pixels_to_tiles(keyed, cols=cols, rows=rows, n_bands=n_bands)
    size = cols * rows
    return tiles.select(
        "tile_col",
        "tile_row",
        F.expr(
            "aggregate(flatten(tile.bands), 0, (a, x) -> "
            "a + CASE WHEN x IS NULL THEN 0 ELSE 1 END)"
        ).alias("n_pixels"),
        F.col("tile")["bands"].alias("bands"),
    ).withColumn("complete", F.col("n_pixels") >= size * n_bands).select(
        "tile_col", "tile_row", "complete", "n_pixels", "bands"
    )


def stream_to_catalog(
    tile_stream: DataFrame,
    catalog,
    layer: str,
    cols: int,
    rows: int,
    zoom: int = 0,
    cell_type: str = "float64",
    checkpoint: str | None = None,
    complete_only: bool = True,
    maintain_pyramid_to: int | None = None,
):
    """Streaming layer ingest: the output of ``reassemble_tiles_stream``
    is merged into a :class:`~biggis_landuse_spark.catalog.LayerCatalog`
    layer per micro-batch via ``foreachBatch`` — the end of the
    pipeline the reference planned but never landed (Kafka → pixel
    stream → tiles → catalog layer, TilePixelingExample.scala:74-94 +
    WorkflowExample.scala:153-162).

    Each batch runs :func:`versioned_batch_writer` on the catalog's
    store (so a re-delivered batch is skipped: exactly-once), then
    publishes the layer's metadata record and histogram. The first
    batch creates the layer; later batches MERGE (cell-level coalesce,
    S6 semantics), so partial tiles can be completed by later batches.
    Returns the DataStreamWriter (caller picks trigger/start).

    ``maintain_pyramid_to``: keep the zoom pyramid down to this level
    fresh per micro-batch — built once when levels are missing, then
    INCREMENTALLY maintained (operators.pyramid.update_pyramid: only
    the parents of the batch's tiles recompute, so per-batch pyramid
    cost tracks the batch size, not the layer size — the serving
    story for a continuously-ingested 100 TB layer).
    """

    def published(staged: DataFrame) -> None:
        catalog._publish(layer, zoom)
        if maintain_pyramid_to is not None and zoom > maintain_pyramid_to:
            from biggis_landuse_spark.operators.pyramid import (
                build_pyramid,
                update_pyramid,
            )

            levels = {z for (l, z) in catalog.layer_ids() if l == layer}
            if set(range(maintain_pyramid_to, zoom)) - levels:
                build_pyramid(
                    catalog, layer, from_zoom=zoom, to_zoom=maintain_pyramid_to,
                )
            else:
                update_pyramid(
                    catalog,
                    layer,
                    staged.select("tile_col", "tile_row"),
                    from_zoom=zoom,
                    to_zoom=maintain_pyramid_to,
                )

    return stream_to_versioned(
        tile_stream, catalog.store, layer, cols, rows, zoom, cell_type,
        checkpoint, complete_only, on_commit=published,
    )


def versioned_batch_writer(
    store,
    layer: str,
    cols: int,
    rows: int,
    zoom: int = 0,
    cell_type: str = "float64",
    complete_only: bool = True,
    on_commit=None,
):
    """The foreachBatch function behind :func:`stream_to_versioned` and
    :func:`stream_to_catalog`, exposed so the crash/replay path is
    directly testable. A commit's manifest records its (streaming query
    id, batch id) — the id from the ``sql.streaming.queryId`` local
    property — and a re-delivered pair commits nothing: a query
    restarted from its checkpoint keeps its id, a new query into the
    same layer gets a new one; a call outside a stream (no query id)
    matches the batch id of any query. ``on_commit(tiles)`` runs
    after each commit on the batch's persisted tiles; when it fails,
    the restarted stream re-delivers the batch, which (being the newest
    commit) runs ``on_commit`` again — the catalog's publish and
    pyramid upkeep are idempotent for one batch's keys."""
    from biggis_landuse_spark.pixeling import tile_col_expr

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        vs = store.versions(layer, zoom)
        done = [
            m.get("batch_id") == batch_id
            and query_id in (None, m.get("query_id"))
            for m in (store._read_manifest(layer, zoom, v) for v in vs)
        ]
        replay = any(done)
        if replay and (on_commit is None or not done[-1]):
            return  # re-delivered after crash: already committed
        tiles = batch_df
        if complete_only:
            tiles = tiles.where(F.col("complete"))
        staged = tiles.select(
            "tile_col",
            "tile_row",
            F.lit(None).cast("timestamp").alias("ts"),
            tile_col_expr(cols, rows, cell_type, F.col("bands")).alias("tile"),
        )
        # the emptiness probe, the store write and ``on_commit`` are
        # separate actions, and inside foreachBatch each action replays
        # the whole micro-batch plan (stateful reassembly included) —
        # persist so the batch's tiles materialize once (measured ~2x
        # on the sink stage of the pipeline_scene leg)
        staged = staged.persist()
        try:
            if not staged.take(1):
                return
            if not replay:  # (a replay only re-runs ``on_commit``)
                extra = {"batch_id": batch_id, "query_id": query_id}
                if vs:
                    store.merge(staged, layer, zoom, extra=extra)
                else:
                    store.write(staged, layer, zoom, extra=extra)
            if on_commit is not None:
                on_commit(staged)
        finally:
            staged.unpersist()

    return write_batch


def stream_to_versioned(
    tile_stream: DataFrame,
    store,
    layer: str,
    cols: int,
    rows: int,
    zoom: int = 0,
    cell_type: str = "float64",
    checkpoint: str | None = None,
    complete_only: bool = True,
    on_commit=None,
):
    """Exactly-once streaming ingest into a
    :class:`~biggis_landuse_spark.versioning.VersionedLayerStore`
    (``on_commit``: see :func:`versioned_batch_writer`).

    foreachBatch is at-least-once: after a crash between "batch
    written" and "offsets checkpointed", the SAME batch_id is
    re-delivered. A cell-wise merge would tolerate that; here it is
    exact: every commit manifest records its streaming query id and
    ``batch_id``, and a re-delivered batch whose (query id, batch id)
    is already committed is SKIPPED.
    Atomic-rename commits + transactional batch-id dedup = end-to-end
    exactly-once from a replayable source,
    the guarantee the reference's sketched Kafka pipeline (SURVEY.md
    §2.9) had no story for.
    """
    write_batch = versioned_batch_writer(
        store, layer, cols, rows, zoom, cell_type, complete_only, on_commit
    )
    writer = tile_stream.writeStream.foreachBatch(write_batch).outputMode(
        "append"
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
