#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client on
``local[<cores>]``; inputs come from ``--seed``; every op is timed from
outside the package. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones and writes the spans to
``.bench_work/results/<workload>-spans.json``. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit. A traced run prints all of
    them; a layer its workload does not touch reads 0."""
    from workloads import QUERIES, SCENE_LEVELS, SCENE_PHASES, SCENE_ZOOM, STREAM_PHASES

    units: dict[str, str] = {}
    for q in QUERIES:
        units.update({f"{q}.construct_ms": "ms", f"{q}.execute_ms": "ms",
                      f"{q}.construct_jobs": "count",
                      f"{q}.execute_jobs": "count"})
    units["construct_share"] = "ratio"
    units.update({"wave_p50_ms": "ms", "start_ms": "ms"})
    units.update({f"trigger.{ph}_ms": "ms" for ph in STREAM_PHASES})
    units.update({"triggers": "count", "state_rows": "count",
                  "state_mem_mb": "MB", "versions": "count", "store_mb": "MB",
                  "source_ms": "ms", "reassemble_ms": "ms", "sink_ms": "ms"})
    units["scene_op_ms"] = "ms"
    units.update({f"{p}_ms": "ms" for p in SCENE_PHASES})
    units.update({"scene_unaccounted_ms": "ms", "decode_ms": "ms",
                  "warp_ms": "ms", "retile_ms": "ms", "layer_write_ms": "ms",
                  "first_get_ms": "ms", "tile_get_ms": "ms", "catalog_mb": "MB"})
    units.update({f"tiles_z{SCENE_ZOOM - i}": "count"
                  for i in range(SCENE_LEVELS + 1)})
    for p in SCENE_PHASES:
        units.update({f"{p}.jobs": "count", f"{p}.tasks": "count"})
    units.update({"traced_op_p50_ms": "ms", "trace_overhead_ms": "ms",
                  "box.load1_before": "load", "box.load1_after": "load",
                  "box.steal_pct": "%",
                  "canary_before.numpy_ms": "ms", "canary_before.spark_ms": "ms",
                  "canary_after.numpy_ms": "ms", "canary_after.spark_ms": "ms"})
    return units


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size Spark to
    this machine's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the session factory's 8g heap is more than a small shared box
    # should give one run; the heap is left to grow to this cap
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT]


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(d))
    return out


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _children(proc.pid) if proc else []
    spark.stop()
    gw.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in workers:
        os.kill(p, 9)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("biggis_landuse_spark/__init__.py", "tests/oracle_diff.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the "
                  "root of a full checkout", file=sys.stderr)
            return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    results = os.path.join(ROOT, ".bench_work", "results")
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    _prepare_env(work)

    from box import BoxMeter, canary, peak_rss_mb
    from spans import Tracer, layer_table, percentile

    from biggis_landuse_spark.session import get_spark

    meter = BoxMeter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    try:
        c0 = time.perf_counter()
        canary(spark)  # the first Spark job pays JVM class loading
        meter.canary_before = canary(spark)
        tracer = Tracer(bool(args.trace), spark)
        ctx = workloads.Ctx(spark, tracer, work, ROOT, args.seed, args.seconds,
                            overhead_s=time.perf_counter() - c0)
        res = workloads.WORKLOADS[args.workload](ctx)
        meter.canary_after = canary(spark)
        rss = peak_rss_mb(spark)
        box = meter.finish()
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    timed = [o for o in res.timed if o.ok]
    failed = sum(not o.ok for o in res.ops)
    op_p50 = percentile([o.ms for o in timed], 50) if timed else 0.0
    e2e = {
        "setup_s": res.setup_end - T0 - ctx.overhead_s,
        "op_p50_ms": op_p50,
        "ops_per_s": len(timed) / max(sum(o.ms for o in timed) / 1000.0, 1e-9),
        "rows_per_s": sum(o.rows for o in timed) / max(res.rows_span_s, 1e-9),
        "peak_rss_mb": rss,
    }
    record = os.path.join(results, f"{args.workload}-untraced.json")
    if args.trace:
        untraced = None
        if os.path.exists(record):
            with open(record) as f:
                untraced = json.load(f)["op_p50_ms"]
        layers = {k: 0.0 for k in per_layer_units()}
        layers.update(res.layers)
        layers.update(box)
        layers["traced_op_p50_ms"] = op_p50
        layers["trace_overhead_ms"] = op_p50 - untraced if untraced else 0.0
        with open(os.path.join(results, f"{args.workload}-spans.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.dump()}, f)
        print(f"{'span':40s} {'n':>4s} {'total_ms':>10s} {'self_ms':>10s} "
              f"{'p50_ms':>9s}")
        for r in layer_table(tracer.spans):
            print(f"{r['name']:40s} {r['n']:4d} {r['total_ms']:10.1f} "
                  f"{r['self_ms']:10.1f} {r['p50_ms']:9.1f}")
        if untraced is None:
            print("no untraced record in this checkout: trace_overhead_ms "
                  "reads 0")
        metrics, units = layers, per_layer_units()
    else:
        with open(record, "w") as f:
            json.dump({"seed": args.seed, **e2e,
                       "ops": [[o.name, o.warmup, o.ms] for o in res.ops]}, f)
        metrics, units = e2e, END_TO_END
    print(f"box: {json.dumps({k: round(v, 3) for k, v in box.items()})}")
    print(f"ops_attempted {len(res.ops)}  ops_failed {failed}  "
          f"timed_ops {len(res.timed)}")
    for k, v in metrics.items():
        print(f"{k:40s} {v:14.4f} {units[k]}")
    print(json.dumps({
        "correct": failed == 0 and bool(timed),
        "attempted": len(res.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
