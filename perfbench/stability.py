#!/usr/bin/env python3
"""Repeat ``run.py`` over several seeds and report each metric's median
and spread (interquartile range over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles).

    python3 perfbench/stability.py --workload kg_api --seeds 1-10

Runs are untraced and sequential, each a fresh process measuring
``run_seconds`` from ``BENCHMARK.json``, as the benchmark is run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        run_seconds = str(json.load(f)["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", run_seconds, "--trace", "0"],
            capture_output=True, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        ctx = json.loads(lines[-2]) if len(lines) > 1 else {}
        cores = [ctx.get(k, {}).get("effective_cores")
                 for k in ("host_before", "host_after")]
        vals = " ".join(f"{k}={m['value']:.4g}"
                        for k, m in res.get("metrics", {}).items())
        print(f"seed {seed}: exit {out.returncode} correct "
              f"{res.get('correct')} failed {res.get('failed')} "
              f"cores {cores} {vals}", flush=True)
        for name, m in res.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _q2, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:24s} median {med:12.4f}  spread {spread:.3f}  "
              f"n {len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
