#!/usr/bin/env python3
"""Run workloads on several seeds and report each metric's median, its
interquartile spread as a share of the median, and, with ``--sets 2``, how
far the second set's median lies from the first's.

    python3 perfbench/spread.py --workloads ingest_query --seeds 1-10
    python3 perfbench/spread.py --workloads ingest_query,live_update,train_prep \\
        --seeds 1-10 --sets 2

Runs are sequential (one benchmark process at a time) and alternated: for
each seed in turn, every workload runs once per set, so a drift of the
machine's speed falls on all sets alike. Set ``k`` (from 0) uses the seeds
given plus ``100 * k``. The seconds per run come from ``BENCHMARK.json``.
Every run's result line goes to ``.perfbench_traces/spread.jsonl``, its
stderr (phase timings) to ``spread-<workload>-seed<N>.log`` beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(vals: list[float]) -> tuple[float, float]:
    """(median, IQR / median) as the benchmark's acceptance computes it."""
    med = statistics.median(vals)
    if len(vals) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True, help="comma-separated")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    workloads = args.workloads.split(",")
    results: dict[tuple[str, int], list[dict]] = {}
    log = os.path.join(ROOT, ".perfbench_traces", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in seeds(args.seeds):
        for w in workloads:
            for k in range(args.sets):
                s = seed + 100 * k
                cmd = spec["command"] + ["--workload", w, "--seed", str(s),
                                         "--seconds", str(spec["run_seconds"]),
                                         "--trace", str(args.trace)]
                t0 = time.time()
                proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                wall = time.time() - t0
                with open(log.replace(".jsonl", f"-{w}-seed{s}.log"), "w") as f:
                    f.write(proc.stderr)
                if proc.returncode != 0:
                    print(f"{w} seed {s}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                          file=sys.stderr)
                    return 1
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                res["wall_s"] = wall
                results.setdefault((w, k), []).append(res)
                with open(log, "a") as f:
                    f.write(json.dumps({"workload": w, "set": k, "seed": s, **res}) + "\n")
                print(f"{w} set {k} seed {s}: {wall:.1f}s correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']}", flush=True)
    for w in workloads:
        sets = [results[(w, k)] for k in range(args.sets)]
        walls = [r["wall_s"] for rs in sets for r in rs]
        print(f"\n{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s")
        head = "".join(f" {'median ' + str(k):>12s} {'IQR/med ' + str(k):>10s}"
                       for k in range(args.sets))
        print(f"{'metric':34s}{head} {'shift':>7s} {'bound':>6s}")
        for name in sets[0][0]["metrics"]:
            cols, meds = "", []
            for rs in sets:
                med, sp = spread([r["metrics"][name]["value"] for r in rs])
                meds.append(med)
                cols += f" {med:12.4f} {sp:10.3f}"
            shift = f"{(meds[-1] - meds[0]) / meds[0]:+7.3f}" if len(meds) > 1 else ""
            b = bounds.get(name)
            print(f"{name:34s}{cols} {shift:>7s} {b if b is not None else '':>6}")
        for k, rs in enumerate(sets):
            shares = sorted({r["failed"] / r["attempted"] for r in rs})
            print(f"set {k}: failed shares {shares}; all correct "
                  f"{all(r['correct'] for r in rs)}; attempted "
                  f"{sorted(r['attempted'] for r in rs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
