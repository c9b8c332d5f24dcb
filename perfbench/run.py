#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 6 --trace 0

Run from the repository root. ``--trace 0`` reports the end-to-end metrics
of ``BENCHMARK.json``; ``--trace 1`` runs the same workload with spans and
per-layer probes and reports the per-layer metrics (spans are written to
``.perfbench_traces/``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_query", "live_update", "train_prep")
TIME_LIMIT_S = 150  # leaves room for cleanup within the 180 s a run may take


class _Timeout(Exception):
    pass


def _alarm(signum, frame):
    raise _Timeout(f"run exceeded {TIME_LIMIT_S} s")


def exercises(workload, metric: str) -> bool:
    """Whether ``workload`` measures the per-layer ``metric``: its layer (the
    part before the first dot) or the metric itself is in the workload's
    ``LAYERS``; ``spark.*`` and ``op.*`` metrics belong to the operation they
    name, which must be in its ``OPS``."""
    layer, _, rest = metric.partition(".")
    if layer == "spark":
        return rest.rsplit(".", 1)[-1] in workload.OPS
    if layer == "op":
        return rest.removesuffix("_p50_ms") in workload.OPS
    return layer in ("jvm", "trace") or layer in workload.LAYERS or metric in workload.LAYERS


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "jsonify2ai_spark", "__init__.py")):
        print("perfbench: jsonify2ai_spark/ is not in this checkout; nothing to measure",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    from perfbench.harness import Run

    workload = importlib.import_module(f"perfbench.{args.workload}")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(TIME_LIMIT_S)
    try:
        got = workload.run(run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        run.close()

    got.setdefault("jvm.peak_rss_mb", (run.peak_rss_mb, "MB"))
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = (got[m["name"]][0], m["unit"])
        elif args.trace and not exercises(workload, m["name"]):
            # a layer this workload does not exercise did no work
            metrics[m["name"]] = (0.0, m["unit"])
        else:
            print(f"perfbench: {args.workload} did not measure {m['name']}", file=sys.stderr)
            return 1
    run.emit(metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
