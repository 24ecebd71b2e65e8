#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at toy size.

    python3 perfbench/smoke.py

Runs every workload with ``--toy`` untraced and traced, and checks that
each run exits 0, passes every output check, and prints exactly the
result keys and the metric names ``BENCHMARK.json`` declares. Then checks
that a directory holding only the benchmark's files makes ``run.py`` exit
non-zero without a result line. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {0: {m["name"] for m in spec["end_to_end"]},
             1: {m["name"] for m in spec["per_layer"]}}
    bad = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            out = run(ROOT, w, trace)
            last = out.stdout.strip().splitlines()[-1:] or ["{}"]
            res = json.loads(last[0])
            ok = (out.returncode == 0 and res.get("correct") is True
                  and set(res) == {"correct", "attempted", "failed",
                                   "metrics"}
                  and set(res["metrics"]) == names[trace])
            print(f"{w} trace={trace}: {'ok' if ok else 'FAIL'}", flush=True)
            if not ok:
                bad.append((w, trace, out.returncode, out.stderr[-2000:]))
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = run(bare, spec["workloads"][0]["name"], 0)
        ok = out.returncode != 0 and not out.stdout.strip()
        print(f"bare directory: {'ok' if ok else 'FAIL'}")
        if not ok:
            bad.append(("bare", 0, out.returncode, out.stdout[-500:]))
    for b in bad:
        print(b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
