"""Extra measurement harness for optimization work (guide §1).

NOT the driver contract — bench.py stays frozen. This script times an
arbitrary subset of the declared queries with the same methodology
(warm JVM, noop sink, best-of-N per query, mentions-cache reset before
each kg_ner_mentions sample) so per-query optimization iterations are
cheap, at any scale factor.

Usage:
  python bench_extra.py [--sf-dir DIR] [--cpus N] [--samples K] \
      [--queries name1,name2,...] [--explain-dir DIR]

Prints one JSON line {"queries": {name: best_sec}, "samples": {...},
"sf_dir": ..., "host_effective_cores": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _force(df):
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    args = sys.argv[1:]

    def _arg(name, default):
        return args[args.index(name) + 1] if name in args else default

    cpus = int(_arg("--cpus", os.environ.get("SPARK_GRAFT_CPUS", "32")))
    sf_dir = _arg("--sf-dir", os.environ.get("SPARK_GRAFT_SF_DIR",
                                             "/root/testdata/sf0.1"))
    samples = int(_arg("--samples", "2"))
    explain_dir = _arg("--explain-dir", None)
    qlist = _arg("--queries", None)

    from bench import host_calibration

    effective_cores = host_calibration(min(cpus, 16))

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from outbreak_kg_spark.session import get_spark

    spark = get_spark(app_name=f"bench-extra-{cpus}",
                      master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")

    from outbreak_kg_spark.entry_fixtures import reset_mentions_cache
    from outbreak_kg_spark.entry_queries import (
        all_queries,
        extra_queries,
        headline,
    )

    qs = {**all_queries(), **extra_queries()}
    names = qlist.split(",") if qlist else headline()

    # untimed warmup: same reasoning as bench.py
    spark.sparkContext.setJobDescription("warmup")
    _force(qs[names[0]](spark, sf_dir))

    out_samples: dict[str, list[float]] = {}
    for name in names:
        out_samples[name] = []
        for _ in range(samples):
            if name == "kg_ner_mentions":
                reset_mentions_cache(spark)
            spark.sparkContext.setJobDescription(name)
            t0 = time.monotonic()
            _force(qs[name](spark, sf_dir))
            out_samples[name].append(round(time.monotonic() - t0, 3))
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            plan = qs[name](spark, sf_dir)._sc._jvm.PythonSQLUtils.explainString(
                qs[name](spark, sf_dir)._jdf.queryExecution(), "formatted")
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
    effective_cores_after = host_calibration(min(cpus, 16))

    print(json.dumps({
        "queries": {k: min(v) for k, v in out_samples.items()},
        "samples": out_samples,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "host_effective_cores": effective_cores,
        "host_effective_cores_after": effective_cores_after,
    }))


if __name__ == "__main__":
    main()
