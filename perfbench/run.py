#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a ``local[<cores>]`` Spark
session, generates the workload's inputs from ``--seed`` into
``.perfbench_work/`` under the current directory, makes the workload's
warm iteration, then runs its iterations in a closed loop (one client,
serial) until ``--seconds`` have passed and the workload's
``MIN_ITERATIONS`` ran, stopping only at an iteration boundary.
Outputs are checked after the timed region. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``; one extra traced iteration after the untraced ones). The
line before it is a detail record: error rate, the tail percentile used
and its sample count, the contention sentinel before and after, per-layer
self times and (traced) per-query rows. The exit code is 1 when an output
check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Tracer, percentile, tail  # noqa: E402

WORKLOADS = ("backfill", "operators")


def _process_age() -> float:
    """Seconds between process start and now (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


AGE_AT_T0 = _process_age()


def since_start() -> float:
    return AGE_AT_T0 + time.monotonic() - T0


class Ctx:
    """What a workload needs: the session, the seed, the run length, a
    private work directory and the tracer (disabled on untraced runs)."""

    def __init__(self, spark, seed: int, seconds: float, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(None)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def start_session(work: str):
    """``local[<cores>]`` session whose scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    # a fixed 1 GiB heap: the JVM's resident size then follows what the
    # run touches, not how far the heap happened to grow before a GC
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from dbix_batchchunker_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def measure(ctx: Ctx, wl, state) -> dict:
    """Closed loop: iterations back to back until ``ctx.seconds`` passed
    and at least ``wl.MIN_ITERATIONS`` ran. Whole iterations only, so every
    run does the same work and a slow run is not cut short."""
    ops: list = []
    walls: list = []
    items: list = []
    failed = 0
    t0 = time.perf_counter()
    while True:
        ti = time.perf_counter()
        try:
            it_ops, it_items = wl.iteration(ctx, state, len(walls))
            ops += it_ops
        except Exception:  # one failed op; the loop keeps running
            traceback.print_exc()
            failed += 1
            it_items = 0
        walls.append(time.perf_counter() - ti)
        items.append(it_items)
        if time.perf_counter() - t0 >= ctx.seconds and len(walls) >= wl.MIN_ITERATIONS:
            break
    return {
        "ops": ops,
        "items": items,
        "failed": failed,
        "walls": walls,
    }


def traced_iteration(ctx: Ctx, wl, state, k: int) -> dict:
    """One iteration under a live tracer, inside a root span whose self
    time is the benchmark's own code between calls into the program."""
    from chunker_hooks import instrument_chunker

    ctx.tracer = Tracer(ctx.spark, run_id=f"{ctx.seed}-{k}")
    counters: list = []
    gc0 = jvm_gc_s(ctx.spark)
    t0 = time.perf_counter()
    with instrument_chunker(ctx.tracer, counters), ctx.tracer.span("bench.iteration"):
        ops, items = wl.iteration(ctx, state, k)
    wall = time.perf_counter() - t0
    tracer, ctx.tracer = ctx.tracer, Tracer(None)
    return {
        "ops": ops,
        "items": items,
        "wall": wall,
        "gc_s": jvm_gc_s(ctx.spark) - gc0,
        "tracer": tracer,
        "counters": counters,
    }


def end_to_end(setup_s: float, m: dict, rss_mb: float) -> tuple[dict, dict]:
    ops = m["ops"] or [0.0]
    p, tail_v, beyond = tail(ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (statistics.median(n / w for n, w in zip(m["items"], m["walls"])), "1/s"),
        "op_p50_s": (percentile(ops, 50), "s"),
        "op_tail_s": (tail_v, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    detail = {"op_tail_percentile": p, "op_samples": len(m["ops"]), "op_samples_beyond_tail": beyond}
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(1, root)
    import importlib

    wl = importlib.import_module(args.workload)
    from bench import _sentinel_seconds

    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t = time.monotonic()
    spark = start_session(work)
    session_s = time.monotonic() - t
    try:
        ctx = Ctx(spark, args.seed, args.seconds, work)
        state = wl.setup(ctx)
        setup_s = since_start()
        sentinel_before = _sentinel_seconds(spark)
        m = measure(ctx, wl, state)
        traced = traced_iteration(ctx, wl, state, len(m["walls"])) if args.trace else None
        ok, check_detail = wl.check(ctx, state)
        sentinel_after = _sentinel_seconds(spark)
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0 + jvm_hwm_mb(spark)
        attempted = len(m["ops"]) + m["failed"]
        failed = m["failed"] if ok else attempted
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "iterations": len(m["walls"]),
            "iteration_walls_s": m["walls"],
            "op_s": m["ops"],
            "attempted": attempted,
            "error_rate": failed / max(1, attempted),
            "sentinel_before_s": sentinel_before,
            "sentinel_after_s": sentinel_after,
            "check": check_detail,
        }
        if traced is None:
            metrics, d = end_to_end(setup_s, m, rss_mb)
            detail.update(d)
        else:
            from layers import per_layer

            metrics, d = per_layer(ctx, wl, state, traced, m, session_s)
            detail.update(d)
    finally:
        stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": bool(ok and failed == 0),
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if ok and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
