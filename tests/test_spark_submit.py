"""End-to-end proof of the north rule's launch contract: the full pipeline
runs via ``spark-submit --py-files dist/outbreak_kg_spark.zip`` (BASELINE.json
north_rule; reference analog: the three-step shell lifecycle in
/root/reference/README.md build instructions).

The child process is launched from a neutral cwd with the repo stripped from
PYTHONPATH, so ``from outbreak_kg_spark import ...`` inside the driver can
resolve ONLY through the --py-files zip — the same way a real cluster
executor/driver sees the code. A second run against the same --out proves
checkpointed stages resume idempotently through the spark-submit path too.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__),
                            "bin", "spark-submit")


def _submit(zip_path: str, out_dir: str, neutral_cwd: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_HOME")}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "scripts", "run_pipeline.py"),
        "--synth", "120",
        "--out", out_dir,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env,
                          cwd=neutral_cwd, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    stats_lines = [ln for ln in proc.stdout.splitlines()
                   if ln.startswith("{")]
    assert stats_lines, proc.stdout[-2000:]
    return json.loads(stats_lines[-1])


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package_pyfiles.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert zip_path.endswith("outbreak_kg_spark.zip")
    assert os.path.exists(zip_path)

    neutral = tmp_path / "cwd"
    neutral.mkdir()
    out_dir = str(tmp_path / "kg_out")

    stats = _submit(zip_path, out_dir, str(neutral))
    assert stats["nodes"] > 0
    assert stats["edges"] > 0
    assert stats["alerts"] > 0
    assert stats["terms"] > 0

    import duckdb

    def lineage_snapshot():
        return duckdb.sql(
            "SELECT stage, run_id, part_file, rows, bytes FROM "
            f"read_parquet('{out_dir}/_lineage/*.parquet') ORDER BY ALL"
        ).fetchall()

    lineage1 = lineage_snapshot()
    assert lineage1, "run 1 committed no lineage rows"

    # second submit over the same --out: every stage is already committed,
    # so the run resumes from checkpoints and reproduces identical counts
    resumed = _submit(zip_path, out_dir, str(neutral))
    for k in ("nodes", "edges", "alerts", "terms"):
        assert resumed[k] == stats[k]
    # resume must actually skip the build work, not redo it: run 2 appended
    # zero lineage rows (no stage re-ran), byte-for-byte identical history
    assert lineage_snapshot() == lineage1
