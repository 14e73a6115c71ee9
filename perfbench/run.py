#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload fleet_wide --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints every metric by name and unit, one
detail JSON line, and as the last line the result object
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Exits non-zero
when the package is missing, a run fails, or an output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, metrics  # noqa: E402

DEADLINE_S = 170


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not 1 <= args.seconds <= 60:
        ap.error("--seconds must be 1..60")
    return args


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def stop_spark(box: dict) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit (its
    Python worker daemon exits with it)."""
    spark = box.get("spark")
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(common.ROOT, common.PACKAGE, "__init__.py")):
        print(f"package {common.PACKAGE} not found under {common.ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(common.ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    host = common.prepare_env(work)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    box: dict = {}
    started = time.time()
    try:
        if args.workload == "fleet_wide":
            from perfbench import fleet

            res = fleet.run(box, work, args.seed, args.seconds, bool(args.trace))
        else:
            from perfbench import analytics

            res = analytics.run(box, work, args.seed, args.seconds, bool(args.trace))
        host["cpu_probe_ms"] = common.cpu_probe_ms()
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        try:
            stop_spark(box)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if not os.listdir(parent):
                os.rmdir(parent)

    layer = {name: 0.0 for name in metrics.PER_LAYER}
    layer.update(res["layer"])
    layer["host.cores"] = float(host["cores"])
    layer["host.spark_memory_gb"] = float(host["spark_memory_gb"])
    layer["host.cpu_probe_ms"] = host["cpu_probe_ms"]
    unknown = set(layer) - set(metrics.PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    e2e = {name: common.finite(float(res["e2e"][name])) for name in metrics.END_TO_END}
    chosen = layer if args.trace else e2e
    for name, value in list(e2e.items()) + list(layer.items()):
        print(f"# {name} = {value:.6g} {metrics.UNITS[name]}")
    detail = dict(res["detail"], workload=args.workload, seed=args.seed, wall_s=time.time() - started)
    print(json.dumps({"detail": detail}, default=str))
    correct = not res["errors"]
    for err in res["errors"]:
        print(f"INCORRECT: {err}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {
                    name: {"value": float(value), "unit": metrics.UNITS[name]}
                    for name, value in chosen.items()
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
