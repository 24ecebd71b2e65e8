"""Dump .explain('formatted') for every headline query to a directory.

Usage: python scripts/dump_plans.py <out_dir> [--sf-dir DIR] [--queries a,b]
Plan-only (no execution) except queries whose construction runs actions.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    out_dir = sys.argv[1]
    args = sys.argv[2:]

    def _arg(name, default):
        return args[args.index(name) + 1] if name in args else default

    sf_dir = _arg("--sf-dir", "/root/testdata/sf0.1")
    qlist = _arg("--queries", None)
    os.makedirs(out_dir, exist_ok=True)

    from outbreak_kg_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    from outbreak_kg_spark.entry_queries import (
        all_queries,
        extra_queries,
        headline,
    )

    qs = {**all_queries(), **extra_queries()}
    names = qlist.split(",") if qlist else headline()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print("dumped", name)


if __name__ == "__main__":
    main()
