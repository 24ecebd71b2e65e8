"""N -> 4N scaling measured THROUGH the spark-submit launch contract.

run_scaling.py evidences the >= 0.8 scaling-efficiency criterion with
in-process bench.py runs; the north rule's letter is "launched via
spark-submit --py-files ... at two cluster sizes". This harness runs the
IDENTICAL e2e workload (scripts/bench_submit.py imports bench.py shipped
via --py-files) as cpu-pinned spark-submit children at 4 and 16 cores and
reports throughput at both plus the pair efficiency — the launch contract
and the scaling criterion in one measurement.

Methodology matches run_scaling.py where it matters:
- taskset pins each child (JVM + Python UDF workers) to exactly N cores —
  unpinned local[N] silently overdraws idle host cores (see run_scaling.py
  module docstring for the measured gap);
- each level is best-of-N fresh-JVM trials, bracketed by bench.py's
  host_calibration probes; a level whose worse probe reads under
  MIN_HEALTH * N is marked unhealthy and the run refuses to overwrite a
  healthy scaling_submit.json with it;
- the measured wall starts after the driver session is up (JVM boot is a
  fixed cost that would flatter small-N scaling).

Usage: python BENCH/run_scaling_submit.py [--repl 10] [--trials 2]
Writes BENCH/scaling_submit.json (or scaling_submit_unhealthy.json).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark  # noqa: E402

from bench import host_calibration  # noqa: E402
from outbreak_kg_spark.session import driver_memory  # noqa: E402

SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__),
                            "bin", "spark-submit")
MIN_HEALTH = 0.72  # same bar as run_scaling.py
LEVELS = (4, 16)


def _build_zip() -> str:
    subprocess.run([sys.executable,
                    os.path.join(REPO, "scripts", "package_pyfiles.py")],
                   check=True, capture_output=True, cwd=REPO)
    return os.path.join(REPO, "dist", "outbreak_kg_spark.zip")


def _submit_once(zip_path: str, cpus: int, sf_dir: str, repl: int) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_HOME")}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT,
        "--master", f"local[{cpus}]",
        # match the in-process session's heap (session.py): spark-submit's
        # 1g local-mode default OOMs the 1.5M-doc corpus at 16 threads
        "--driver-memory", driver_memory(),
        "--conf", f"spark.sql.shuffle.partitions={cpus}",
        "--conf", "spark.ui.enabled=false",
        "--py-files", f"{zip_path},{os.path.join(REPO, 'bench.py')}",
        os.path.join(REPO, "scripts", "bench_submit.py"),
        "--sf-dir", sf_dir, "--repl", str(repl),
    ]
    if cpus < os.cpu_count() and shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, env=env,
                         cwd=REPO, check=True, timeout=1800)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def run_level(zip_path: str, cpus: int, sf_dir: str, repl: int,
              trials: int) -> dict:
    best = None
    for _ in range(trials):
        before = host_calibration(cpus)
        r = _submit_once(zip_path, cpus, sf_dir, repl)
        after = host_calibration(cpus)
        r["host_effective_cores"] = before
        r["host_effective_cores_after"] = after
        r["healthy"] = min(before, after) >= MIN_HEALTH * cpus
        if (best is None
                or (r["healthy"], r["docs_per_sec"])
                > (best["healthy"], best["docs_per_sec"])):
            best = r
        time.sleep(5)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    # repl default matches bench.py's (1.5M docs at sf0.1): a smaller
    # corpus is fixed-cost-dominated and misreads scaling (measured:
    # repl=10 -> 0.32 "efficiency" purely from per-job overheads)
    ap.add_argument("--repl", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_REPL",
                                               "300")))
    ap.add_argument("--trials", type=int, default=2)
    args = ap.parse_args()

    zip_path = _build_zip()
    levels = {c: run_level(zip_path, c, args.sf_dir, args.repl, args.trials)
              for c in LEVELS}
    lo, hi = levels[LEVELS[0]], levels[LEVELS[1]]
    eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / (LEVELS[1] / LEVELS[0])
    result = {
        "launcher": "spark-submit --py-files (cpu-pinned, fresh JVM/trial)",
        "sf_dir": args.sf_dir,
        "n_docs": lo["n_docs"],
        "docs_per_sec": {str(c): levels[c]["docs_per_sec"] for c in LEVELS},
        "wall_sec": {str(c): levels[c]["wall_sec"] for c in LEVELS},
        "host_effective_cores": {
            str(c): levels[c]["host_effective_cores"] for c in LEVELS},
        "host_effective_cores_after": {
            str(c): levels[c]["host_effective_cores_after"] for c in LEVELS},
        "level_healthy": {str(c): levels[c]["healthy"] for c in LEVELS},
        "min_health": MIN_HEALTH,
        "scaling_efficiency_4_to_16": round(eff, 3),
    }
    all_healthy = all(levels[c]["healthy"] for c in LEVELS)
    name = "scaling_submit.json" if all_healthy \
        else "scaling_submit_unhealthy.json"
    path = os.path.join(REPO, "BENCH", name)
    with open(path, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(json.dumps(result))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
