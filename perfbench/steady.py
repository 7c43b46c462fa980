#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads backfill operators --seeds 1-10 [--trace 0]

Run from the repository root. Each run's result line is appended to
``--out`` (JSON lines). For every workload and metric the report gives the
median and the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=".perfbench_work/steady.jsonl")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    results: dict = {}
    for w in args.workloads:
        for s in seeds(args.seeds):
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.monotonic()
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            rec = {
                "workload": w,
                "seed": s,
                "rc": p.returncode,
                "wall_s": wall,
                "result": json.loads(lines[-1]) if p.returncode == 0 else None,
                "detail": json.loads(lines[-2])["detail"] if p.returncode == 0 else None,
            }
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{w} seed={s} rc={p.returncode} wall={wall:.1f}s", flush=True)
            if rec["result"]:
                for k, v in rec["result"]["metrics"].items():
                    results.setdefault((w, k), []).append(v["value"])
                results.setdefault((w, "run_wall_s"), []).append(wall)
    for (w, k), vals in sorted(results.items()):
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{w:13s} {k:28s} median={med:12.4f} spread={spread:6.3f} bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
