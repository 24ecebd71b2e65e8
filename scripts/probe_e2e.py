"""Stage-decomposition probe for the bench e2e pipeline (guide §1).

Measurement-only (bench.py stays frozen): times each leg of the e2e
pages->terms+counted pipeline separately with noop sinks so the wall can
be attributed: page construction, extraction + NER UDF pass, sets persist
materialization + terms explode, and the pair-expansion count read from
the warm persist.

Usage: python scripts/probe_e2e.py [--sf-dir DIR] [--repl R] [--cpus N]
Prints one JSON line per timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
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
    repl = int(_arg("--repl", "300"))
    samples = int(_arg("--samples", "2"))

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from bench import host_calibration, pipeline_outputs, replicated_pages
    from outbreak_kg_spark.session import get_spark

    pre = host_calibration(min(cpus, 16))
    spark = get_spark(app_name="probe-e2e", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F
    from outbreak_kg_spark import ground
    from outbreak_kg_spark.entry_fixtures import entry_gazetteer_df

    udf = ground.make_extract_ner_udf(
        spark, entry_gazetteer_df(spark), pages=True, terms=True)

    pages, n_docs = replicated_pages(spark, sf_dir, repl)
    out = {"n_docs": n_docs, "host_pre": pre, "legs": {}}

    def leg(name, fn, n=samples):
        best = None
        for _ in range(n):
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out["legs"][name] = round(best, 3)
        print(f"  {name}: {best:.3f}s", file=sys.stderr)

    # warmup: one full e2e
    sets, terms, counted = pipeline_outputs(spark, pages)
    _force(terms)
    _force(counted)
    sets.unpersist()

    # leg 1: page construction only (concat + broadcast crossJoin, JVM)
    spark.sparkContext.setJobDescription("leg: pages only")
    leg("pages_only", lambda: _force(pages))

    # leg 2: pages -> extraction + NER UDF -> x struct, no persist/no
    # downstream
    x = pages.select("url", udf(F.col("text")).alias("x")).filter(
        F.col("x.valid"))
    spark.sparkContext.setJobDescription("leg: extract+ner udf")
    leg("extract_ner_udf", lambda: _force(x))

    # leg 2b: the UDF + the sort_array transform projection (bench's sets
    # shape, but NOT persisted)
    sets_shape = x.select(
        F.col("url").alias("doc_id"),
        F.sort_array(
            F.expr("transform(x.terms, t -> struct("
                   "t.entry_name as entry_name, "
                   "concat(t.ns, ':', t.id) as curie))")).alias("_arr"))
    spark.sparkContext.setJobDescription("leg: sets projection")
    leg("sets_projection", lambda: _force(sets_shape))

    # leg 3: full e2e exactly as bench times it
    def full():
        s, t, c = pipeline_outputs(spark, pages)
        _force(t)
        _force(c)
        s.unpersist()

    spark.sparkContext.setJobDescription("leg: full e2e")
    leg("full_e2e", full)

    # leg 4: counted from a warm persist (the pair leg alone)
    s2, t2, c2 = pipeline_outputs(spark, pages)
    _force(t2)  # materializes persist
    spark.sparkContext.setJobDescription("leg: counted from warm persist")
    leg("counted_warm", lambda: _force(c2))
    spark.sparkContext.setJobDescription("leg: terms from warm persist")
    leg("terms_warm", lambda: _force(t2))
    s2.unpersist()

    out["host_post"] = host_calibration(min(cpus, 16))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
