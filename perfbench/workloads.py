"""The benchmark's workloads. Each drives the package only through its
public functions and times every call from outside.

A workload function takes a ``Ctx`` and returns a ``Result``: the ops it
ran (warm-up ops included, flagged), the time set-up ended, and the
workload's own per-layer numbers. Every op is independent: it builds its
inputs and outputs fresh and deletes them afterwards.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
from spans import Tracer, percentile

# the query_mix set: the targets of the construction-cost, warp-table
# and sizing-rule roadmap items, plus cheap relational queries.
# ann_ivfpq_topk is left out: at ~5.5 s steady and ~12 s cold it is a
# quarter of a pass and would not fit the run budget (see README.md)
QUERIES = [
    "local_supplier_volume", "pagerank_suppliers", "flow_accumulation_full",
    "bpe_train_merges", "utm_grid", "dedup_minhash", "tfidf_top_terms",
    "kmeans_lloyd", "watershed_basins", "pricing_summary", "ndvi_tile",
    "focal_mean_shape", "stack_join",
]
STREAM_TILES = 16
TILE = 256
STREAM_WAVES = 3
# the first op pays JIT and Python worker start (~2.1x a steady op). The
# second still reads 4-15% above the third, but a second warm-up op adds
# ~10 s to every run, more than the run budget holds
STREAM_WARMUP_OPS = 1
MIN_TIMED_STREAM_OPS = 2
SPOOL_PARTS = 4
STREAM_PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets"]


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str  # scratch directory inside the checkout
    repo: str  # checkout root
    seed: int
    seconds: float
    # seconds of set-up spent in the benchmark's own work (input
    # generation, the oracle side of the checks, canaries): not the
    # program's, so setup_s leaves it out
    overhead_s: float = 0.0


@dataclass
class Op:
    id: int
    name: str
    warmup: bool
    ms: float = 0.0
    ok: bool = False
    rows: int = 0  # rows the op delivered (query_mix) or committed (stream)
    extra: dict = field(default_factory=dict)


@dataclass
class Result:
    ops: list[Op]
    setup_end: float  # perf_counter when warm-up finished
    layers: dict[str, float]  # per-layer metrics (traced runs only)
    rows_span_s: float = 0.0  # Σ first-input → last-commit of timed ops

    @property
    def timed(self) -> list[Op]:
        return [o for o in self.ops if not o.warmup]


def _fail(op: Op, why: str) -> None:
    op.ok = False
    print(f"op {op.id} {op.name} FAILED: {why}", file=sys.stderr, flush=True)


# -- query_mix ---------------------------------------------------------------


def _oracle_compare(repo: str):
    spec = importlib.util.spec_from_file_location(
        "oracle_diff", os.path.join(repo, "tests", "oracle_diff.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class _TimedCollect:
    """The part of a DataFrame the oracle check uses, with its
    ``collect`` timed, so the check's own time can be told apart."""

    def __init__(self, df):
        self.df, self.columns, self.ms = df, df.columns, 0.0

    def collect(self):
        t0 = time.perf_counter()
        rows = self.df.collect()
        self.ms = (time.perf_counter() - t0) * 1000.0
        return rows


def query_mix(ctx: Ctx) -> Result:
    """Op: one registry query built and run to a noop sink, then its
    held caches released. Pass 0 is the warm-up, in which every query's
    result is collected and checked against its DuckDB oracle instead;
    whole timed passes follow while the clock is under ``ctx.seconds``.
    An op's rows are its query's result rows, as the check counted them."""
    from biggis_landuse_spark.queries import bench_queries, release_caches

    spark, tr = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "tables")
    t0 = time.perf_counter()
    gen.write_tables(ctx.seed, sf_dir)
    ctx.overhead_s += time.perf_counter() - t0
    specs = bench_queries()
    compare = _oracle_compare(ctx.repo)
    result_rows: dict[str, int] = {}
    ops: list[Op] = []

    def one(q: str, warmup: bool) -> None:
        op = Op(len(ops), q, warmup, rows=result_rows.get(q, 0))
        ops.append(op)
        try:
            t0 = time.perf_counter()
            with tr.span("op", op.id):
                with tr.span(f"{q}.construct", op.id, count_jobs=True):
                    df = specs[q].spark(spark, sf_dir)
                with tr.span(f"{q}.execute", op.id, count_jobs=True):
                    if warmup:
                        # the check's collect runs the whole plan, so it
                        # warms the same code the timed noop save runs
                        c0 = time.perf_counter()
                        timed_df = _TimedCollect(df)
                        check = compare(timed_df, specs[q].oracle, sf_dir)
                        ctx.overhead_s += (time.perf_counter() - c0
                                           - timed_df.ms / 1000.0)
                        result_rows[q] = op.rows = check["spark_rows"]
                    else:
                        df.write.format("noop").mode("overwrite").save()
            op.ms = (time.perf_counter() - t0) * 1000.0
            op.ok = True
            if warmup and not (check["rowcount_match"] and check["schema_match"]
                               and check["values_match"]):
                _fail(op, f"oracle mismatch {check}")
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            _fail(op, traceback.format_exc())
        finally:
            release_caches()

    for q in gen.query_order(ctx.seed, QUERIES, 0):
        one(q, warmup=True)
    setup_end = time.perf_counter()
    p = 1
    while time.perf_counter() - setup_end < ctx.seconds:
        for q in gen.query_order(ctx.seed, QUERIES, p):
            one(q, warmup=False)
        p += 1
    res = Result(ops, setup_end, {})
    res.rows_span_s = sum(o.ms for o in res.timed) / 1000.0
    if tr.enabled:
        res.layers = _query_layers(tr, res)
    return res


def _query_layers(tr: Tracer, res: Result) -> dict[str, float]:
    first = min((o.id for o in res.timed), default=len(res.ops))
    by_name: dict[str, list] = {}
    for s in tr.spans:
        if s.op >= first and s.name != "op":
            by_name.setdefault(s.name, []).append(s)
    out: dict[str, float] = {}
    total = {"construct": 0.0, "execute": 0.0}
    for name, spans in by_name.items():
        q, phase = name.rsplit(".", 1)
        out[f"{q}.{phase}_ms"] = percentile([s.ms for s in spans], 50)
        out[f"{q}.{phase}_jobs"] = percentile(
            [s.counts.get("jobs", 0) for s in spans], 50)
        total[phase] += sum(s.ms for s in spans)
    out["construct_share"] = total["construct"] / max(sum(total.values()), 1e-9)
    return out


# -- stream_ingest -----------------------------------------------------------


def _stream_op(ctx: Ctx, scene: gen.SceneStream, op: Op, root: str,
               stage: str = "full") -> None:
    """One scene stream into a fresh spool, checkpoint and store. ``stage``
    trims the pipe: ``source`` = spool + decode, ``reassemble`` = + tile
    reassembly, ``full`` = + versioned sink."""
    from pyspark.sql import functions as F

    from biggis_landuse_spark.sources.kafka import decode_stream
    from biggis_landuse_spark.sources.spool import append_messages, atomic_appends
    from biggis_landuse_spark.streaming.pixels import (
        reassemble_tiles_stream,
        stream_to_versioned,
    )
    from biggis_landuse_spark.versioning import VersionedLayerStore

    spark, tr = ctx.spark, ctx.tracer
    spool = os.path.join(root, "spool")
    os.makedirs(spool)
    t0 = time.perf_counter()
    with tr.span("op", op.id):
        with tr.span("start", op.id):
            lines = spark.readStream.format("spool").option("path", spool).load()
            px = decode_stream(lines).select(
                "tile_col", "tile_row", F.col("label").cast("int").alias("band"),
                "px", "py", F.element_at("features", 1).alias("value"),
                F.timestamp_seconds(F.lit(1_700_000_000)).alias("event_ts"),
            )
            out = px if stage == "source" else reassemble_tiles_stream(
                px, cols=TILE, rows=TILE)
            ck = os.path.join(root, "ck")
            if stage == "full":
                store = VersionedLayerStore(spark, os.path.join(root, "store"))
                writer = stream_to_versioned(out, store, "scene", cols=TILE,
                                             rows=TILE, checkpoint=ck)
            else:
                writer = (out.writeStream
                          .foreachBatch(lambda df, _bid: (df.count(), None)[1])
                          .option("checkpointLocation", ck).outputMode("append"))
            q = writer.start()
        start_ms = (time.perf_counter() - t0) * 1000.0
        try:
            waves = []
            first_in = time.perf_counter()
            for wave in scene.waves:
                w0 = time.perf_counter()
                with tr.span("append", op.id):
                    with atomic_appends(spool):
                        for part, msgs in sorted(wave.items()):
                            append_messages(spool, part, msgs)
                with tr.span("drain", op.id):
                    q.processAllAvailable()
                waves.append((time.perf_counter() - w0) * 1000.0)
            last_commit = time.perf_counter()
            progress = q.recentProgress
        finally:
            with tr.span("stop", op.id):
                q.stop()
    op.ms = (time.perf_counter() - t0) * 1000.0
    op.rows = scene.n_messages
    op.extra = {
        "start_ms": start_ms,
        "waves_ms": waves,
        "rows_span_s": last_commit - first_in,
        "triggers": len(progress),
        **{f"trigger.{ph}_ms": float(sum(p.durationMs.get(ph, 0) for p in progress))
           for ph in STREAM_PHASES},
        "state_rows": max((so.numRowsTotal for p in progress
                           for so in p.stateOperators), default=0),
        "state_mem_mb": max((so.memoryUsedBytes for p in progress
                             for so in p.stateOperators), default=0) / 2**20,
    }
    if stage == "full":
        with tr.span("check", op.id):
            _check_store(store, scene, op)
        op.extra["store_mb"] = _du(os.path.join(root, "store")) / 2**20


def _check_store(store, scene: gen.SceneStream, op: Op) -> None:
    """One committed version holding every tile, complete, with the
    generator's value sum."""
    from pyspark.sql import functions as F

    versions = store.versions("scene", 0)
    op.extra["versions"] = len(versions)
    if len(versions) != 1:
        return _fail(op, f"{len(versions)} versions committed, expected 1")
    tiles = store.read("scene", 0)
    got = tiles.select(
        (F.col("tile_row") * scene.grid + F.col("tile_col")).alias("t"),
        F.aggregate(F.flatten("tile.bands"), F.lit(0.0),
                    lambda acc, v: acc + v).alias("total"),
        F.size(F.flatten("tile.bands")).alias("n"),
    ).collect()
    # a NULL (missing) cell makes the tile's total NULL
    tiles_ok = sorted(r["t"] for r in got) == list(range(len(scene.values)))
    cells = sum(r["n"] for r in got)
    total = sum(r["total"] or 0.0 for r in got)
    if not (tiles_ok and all(r["total"] is not None for r in got)
            and cells == scene.n_messages and total == scene.value_sum):
        return _fail(op, f"tiles {sorted(r['t'] for r in got)} cells {cells} "
                         f"sum {total}, expected {len(scene.values)} tiles "
                         f"{scene.n_messages} cells sum {scene.value_sum}")


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def stream_ingest(ctx: Ctx) -> Result:
    """Op: one scene stream (16 tiles of 256² pixel messages in 3 waves)
    through spool → decode → tile reassembly → versioned store, each
    with a fresh spool, checkpoint and store. One warm-up op, then ops
    while the clock is under ``ctx.seconds`` (at least two). Traced runs
    add one ``source`` and one ``reassemble`` trimmed op to split the op
    by stage."""
    from biggis_landuse_spark.shipping import ensure_package_shipped
    from biggis_landuse_spark.sources.spool import register_spool

    spark = ctx.spark
    t0 = time.perf_counter()
    scene = gen.scene_stream(ctx.seed, STREAM_TILES, TILE, STREAM_WAVES,
                             SPOOL_PARTS)
    ctx.overhead_s += time.perf_counter() - t0
    ensure_package_shipped(spark)
    register_spool(spark)
    # one state partition per spool partition, and no empty micro-batches:
    # the reassembly has no watermark or timeout that needs them
    spark.conf.set("spark.sql.shuffle.partitions", str(SPOOL_PARTS))
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ops: list[Op] = []

    def one(warmup: bool, stage: str = "full") -> Op:
        op = Op(len(ops), stage, warmup)
        ops.append(op)
        root = os.path.join(ctx.work, f"stream{op.id}")
        try:
            op.ok = True
            _stream_op(ctx, scene, op, root, stage)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            _fail(op, traceback.format_exc())
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return op

    for _ in range(STREAM_WARMUP_OPS):
        one(warmup=True)
    setup_end = time.perf_counter()
    while (time.perf_counter() - setup_end < ctx.seconds
           or len(ops) < STREAM_WARMUP_OPS + MIN_TIMED_STREAM_OPS):
        one(warmup=False)
    res = Result(ops, setup_end, {})
    res.rows_span_s = sum(o.extra.get("rows_span_s", 0.0) for o in res.timed)
    if ctx.tracer.enabled:
        source = one(warmup=True, stage="source")
        reassemble = one(warmup=True, stage="reassemble")
        res.layers = _stream_layers(res, source, reassemble)
        res.layers.update(scene_layers(ctx, ops))
    return res


def _stream_layers(res: Result, source: Op, reassemble: Op) -> dict[str, float]:
    timed = [o for o in res.timed if o.ok]

    def med(key: str) -> float:
        return percentile([o.extra[key] for o in timed], 50) if timed else 0.0

    full_ms = percentile([o.ms for o in timed], 50) if timed else 0.0
    out = {
        "wave_p50_ms": percentile([w for o in timed for w in o.extra["waves_ms"]], 50)
        if timed else 0.0,
        "start_ms": med("start_ms"),
        **{f"trigger.{ph}_ms": med(f"trigger.{ph}_ms") for ph in STREAM_PHASES},
        "triggers": med("triggers"),
        "state_rows": med("state_rows"),
        "state_mem_mb": med("state_mem_mb"),
        "versions": med("versions"),
        "store_mb": med("store_mb"),
        "source_ms": source.ms,
        "reassemble_ms": reassemble.ms - source.ms,
        "sink_ms": full_ms - reassemble.ms,
    }
    return out


# -- scene: the raster write path, in traced stream_ingest runs -------------

SCENE_SIZE = 512
SCENE_ZOOM = 12
SCENE_LEVELS = 2
SCENE_CHUNK_ROWS = 256
SCENE_CRS = "EPSG:32632"
SCENE_GEOREF = (399960.0, 5300040.0, 30.0, 30.0)  # UTM 32N, 30 m pixels
SCENE_STAGES = ["decode", "warp", "retile"]
SCENE_PHASES = ["ingest", "ndvi", "pyramid", "render"]
NDVI_PALETTE = [0xA50026FF, 0xFDAE61FF, 0xA6D96AFF, 0x006837FF]  # RGBA
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _write_scene(seed: int, root: str) -> dict[str, str]:
    """Encode the seeded scene's bands as tiled deflate GeoTIFFs, one
    directory per band; returns band -> directory."""
    from biggis_landuse_spark.sources.tiff import encode_tiff

    paths = {}
    for name, band in gen.scene_bands(seed, SCENE_SIZE).bands.items():
        paths[name] = os.path.join(root, name)
        os.makedirs(paths[name])
        with open(os.path.join(paths[name], "scene.tif"), "wb") as f:
            f.write(encode_tiff([band], compression="deflate", tile_size=TILE,
                                georef=SCENE_GEOREF))
    return paths


def _scene_stage(spark, paths: dict[str, str], stage: str) -> None:
    """The ingest of every band cut after ``stage`` and run to a noop
    sink, the bands side by side as ``ingest_layers_webmercator`` runs
    them: ``decode`` = chunked GeoTIFF decode, ``warp`` = + reprojection
    to the zoom-12 WebMercator layout, ``retile`` = + reassembly into
    tiles. The full ingest adds the catalog write."""
    from concurrent.futures import ThreadPoolExecutor

    from biggis_landuse_spark.operators.reproject import (
        reproject_pixels_to_webmercator,
    )
    from biggis_landuse_spark.pixeling import pixels_to_tiles
    from biggis_landuse_spark.sources.geotiff import (
        GeoTiffDecoder,
        decode_to_pixels_georef_chunked,
    )

    def one(item: tuple[str, str]) -> None:
        layer, path = item
        df = decode_to_pixels_georef_chunked(spark, path, GeoTiffDecoder(),
                                             chunk_rows=SCENE_CHUNK_ROWS)
        if stage != "decode":
            df = reproject_pixels_to_webmercator(
                df, zoom=SCENE_ZOOM, layer=layer, tile_size=TILE,
                src_crs=SCENE_CRS)
        if stage == "retile":
            df = pixels_to_tiles(df, cols=TILE, rows=TILE)
        df.write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(len(paths)) as ex:
        list(ex.map(one, paths.items()))


def _scene_op(ctx: Ctx, paths: dict[str, str], op: Op, cat) -> None:
    """GeoTIFF ingest of the three bands, cloud-masked NDVI written as
    a layer, a two-level pyramid over it, and a tile server asked for
    every zoom-12 tile over HTTP."""
    import urllib.request

    from pyspark.sql import functions as F

    from biggis_landuse_spark.operators.local import mask_bits, ndvi
    from biggis_landuse_spark.operators.pyramid import build_pyramid
    from biggis_landuse_spark.operators.reproject import ingest_layers_webmercator
    from biggis_landuse_spark.serving import TileServer

    spark, tr, z = ctx.spark, ctx.tracer, SCENE_ZOOM
    keys = ["tile_col", "tile_row"]
    t0 = time.perf_counter()
    with tr.span("op", op.id):
        with tr.span("scene.ingest", op.id, count_jobs=True):
            ingest_layers_webmercator(spark, paths, cat, zoom=z,
                                      src_crs=SCENE_CRS,
                                      chunk_rows=SCENE_CHUNK_ROWS)
        with tr.span("scene.ndvi", op.id, count_jobs=True):
            def band(name: str):
                return cat.read_layer(name, z).select(
                    *keys, F.col("tile").alias(name))

            qa = F.col("qa")
            cat.write_layer(
                band("nir").join(band("red"), keys).join(band("qa"), keys)
                .select(*keys, F.lit(None).cast("timestamp").alias("ts"),
                        ndvi(mask_bits(F.col("nir"), qa, gen.CLOUD_BIT),
                             mask_bits(F.col("red"), qa, gen.CLOUD_BIT))
                        .alias("tile")),
                "ndvi", z)
        with tr.span("scene.pyramid", op.id, count_jobs=True):
            build_pyramid(cat, "ndvi", from_zoom=z, to_zoom=z - SCENE_LEVELS)
        with tr.span("scene.render", op.id, count_jobs=True):
            tiles = sorted(tuple(r) for r in cat.read_layer("ndvi", z)
                           .select(*keys).collect())
            srv = TileServer(cat, "ndvi", breaks=[0.25, 0.5, 0.75],
                             palette=NDVI_PALETTE)
            port = srv.start()
            gets, pngs = [], 0
            try:
                for c, r in tiles:
                    g0 = time.perf_counter()
                    with urllib.request.urlopen(
                            f"http://127.0.0.1:{port}/{z}/{c}/{r}") as resp:
                        pngs += resp.read(8) == PNG_MAGIC
                    gets.append((time.perf_counter() - g0) * 1000.0)
            finally:
                srv.stop()
    op.ms = (time.perf_counter() - t0) * 1000.0
    op.extra = {"tiles": tiles, "pngs": pngs, "gets_ms": gets}


def _check_scene(cat, op: Op) -> None:
    """Each pyramid level holds the parents of the level below, NDVI
    lies in (0, 1) with NODATA under the cloud, and every GET returned
    a PNG."""
    from pyspark.sql import functions as F

    z = SCENE_ZOOM
    level = [set(op.extra["tiles"])]
    for zz in range(z - 1, z - SCENE_LEVELS - 1, -1):
        level.append({tuple(r) for r in cat.read_layer("ndvi", zz)
                      .select("tile_col", "tile_row").collect()})
    op.extra["level_tiles"] = [len(t) for t in level]

    def cells(layer: str):
        return cat.read_layer(layer, z).select(
            F.explode(F.flatten("tile.bands")).alias("v")).agg(
            F.count(F.lit(1)).alias("n"), F.count("v").alias("data"),
            F.min("v").alias("lo"), F.max("v").alias("hi")).first()

    nd, nir = cells("ndvi"), cells("nir")
    if op.extra["pngs"] != len(level[0]) or not level[0]:
        return _fail(op, f"{op.extra['pngs']} PNGs for {len(level[0])} tiles")
    for child, parent in zip(level, level[1:]):
        if parent != {(c // 2, r // 2) for c, r in child}:
            return _fail(op, f"pyramid levels hold {op.extra['level_tiles']} "
                             "tiles, not each the parents of the one below")
    if not (nd["data"] and 0 < nd["lo"] and nd["hi"] < 1):
        return _fail(op, f"NDVI outside (0, 1): {nd}")
    if not (nd["n"] == nir["n"] and nd["data"] < nir["data"]):
        return _fail(op, f"no NODATA under the cloud: ndvi {nd}, nir {nir}")


def scene_layers(ctx: Ctx, ops: list[Op]) -> dict[str, float]:
    """One scene op after the cut ingests that split its ingest by
    stage; every output is written under a fresh catalog that is
    deleted afterwards. Returns the scene's per-layer metrics."""
    from biggis_landuse_spark.catalog import LayerCatalog

    root = os.path.join(ctx.work, "scene")
    paths = _write_scene(ctx.seed, os.path.join(root, "in"))
    stage_ms = {}
    # the first cut ingest pays the decode and warp code's first use
    # (~4x a later decode); it warms them and is not reported
    for name, stage in [("warmup", "retile"), *zip(SCENE_STAGES, SCENE_STAGES)]:
        op = Op(len(ops), f"scene.{name}", warmup=True)
        ops.append(op)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(op.name, op.id, count_jobs=True):
                _scene_stage(ctx.spark, paths, stage)
            op.ok = True
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            _fail(op, traceback.format_exc())
        stage_ms[name] = (time.perf_counter() - t0) * 1000.0
    op = Op(len(ops), "scene", warmup=True)
    ops.append(op)
    cat_dir = os.path.join(root, "catalog")
    try:
        cat = LayerCatalog(ctx.spark, cat_dir)
        _scene_op(ctx, paths, op, cat)
        op.ok = True
        with ctx.tracer.span("check", op.id):
            _check_scene(cat, op)
        catalog_mb = _du(cat_dir) / 2**20
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        _fail(op, traceback.format_exc())
        return {}
    finally:
        shutil.rmtree(root, ignore_errors=True)
    phase = {s.name.split(".", 1)[1]: s for s in ctx.tracer.spans
             if s.op == op.id and s.name.startswith("scene.")}
    gets = op.extra["gets_ms"]
    out = {
        "scene_op_ms": op.ms,
        **{f"{p}_ms": phase[p].ms for p in SCENE_PHASES},
        "scene_unaccounted_ms": op.ms - sum(phase[p].ms for p in SCENE_PHASES),
        "decode_ms": stage_ms["decode"],
        "warp_ms": stage_ms["warp"] - stage_ms["decode"],
        "retile_ms": stage_ms["retile"] - stage_ms["warp"],
        "layer_write_ms": phase["ingest"].ms - stage_ms["retile"],
        # the first GET renders the whole zoom; the rest read the cache
        "first_get_ms": gets[0],
        "tile_get_ms": percentile(gets[1:] or gets, 50),
        "catalog_mb": catalog_mb,
        **{f"tiles_z{SCENE_ZOOM - i}": float(n)
           for i, n in enumerate(op.extra["level_tiles"])},
    }
    for p in SCENE_PHASES:
        out[f"{p}.jobs"] = phase[p].counts["jobs"]
        out[f"{p}.tasks"] = phase[p].counts["tasks"]
    return out


WORKLOADS = {"query_mix": query_mix, "stream_ingest": stream_ingest}
