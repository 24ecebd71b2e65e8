"""Hot-key co-mention probe (round-5 judge ask #4).

BASELINE.md's skew anchor: the reference corpus mentions 'Disease'
80,133 times across 62k alerts (~1.29 occurrences per document — the hot
entity is effectively in EVERY doc). The sf0.1 bench corpus is
near-uniform, so the salted two-phase count paths (skew.salted_count /
grouped_pair_counts) were never exercised against that shape by the
per-round bench. This probe injects a baseline-proportioned hot entity —
the gazetteer token 'join' appended to 100% of documents, making
MESH:D1004 a universal co-mention partner — and times the two pair
queries on the uniform and the hot corpus.

Pass criterion (recorded, not asserted): hot wall within 1.5x of the
uniform wall per query. The NER pass is persisted and forced OUTSIDE the
timed window for both corpora, so the walls isolate the pair-forming +
count stages where skew bites.

Output: one JSON line + BENCH/hotkey.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def _force(df):
    df.write.mode("overwrite").format("noop").save()


def _pairs(m):
    from outbreak_kg_spark.entry_fixtures import _mention_pairs
    from outbreak_kg_spark.skew import salted_count

    p = _mention_pairs(m.select("doc_id", "curie", "name"))
    return salted_count(p, ["a_curie", "b_curie"], salt=16,
                        count_col="n_docs", salt_from=F.col("doc_id"))


def _interesting(m):
    from outbreak_kg_spark.entry_fixtures import _mention_pairs
    from outbreak_kg_spark.skew import salted_count

    pairs = _mention_pairs(m, with_types=True)
    ok = pairs.filter(
        ((F.col("at") == "geoloc") & (F.col("bt") == "pathogen"))
        | ((F.col("bt") == "geoloc") & (F.col("at") == "pathogen"))
        | ((F.col("at") == "disease") & (F.col("bt") == "pathogen"))
        | ((F.col("bt") == "disease") & (F.col("at") == "pathogen"))
        | ((F.col("at") == "geoloc") & (F.col("bt") == "disease"))
        | ((F.col("bt") == "geoloc") & (F.col("at") == "disease"))
    )
    return salted_count(ok, ["a_curie", "b_curie"], salt=16,
                        count_col="n_docs", salt_from=F.col("doc_id"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from bench import host_calibration

    effective_cores = host_calibration(min(cpus, 16))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("hotkey-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from outbreak_kg_spark.entry_fixtures import _docs, mentions_from_docs

    repl = int(os.environ.get("SPARK_GRAFT_HOTKEY_REPL",
                              sys.argv[sys.argv.index("--repl") + 1]
                              if "--repl" in sys.argv else "20"))
    d0 = _docs(spark, sf_dir)
    n0 = d0.count()
    reps = spark.range(0, repl, 1, numPartitions=min(repl, cpus)).select(
        F.col("id").alias("rep")
    )
    d = reps.crossJoin(F.broadcast(d0)).select(
        (F.col("doc_id") + F.col("rep") * n0).alias("doc_id"), "text", "lang"
    )
    corpora = {
        "uniform": d,
        # baseline proportion: hot entity in every document (the anchor's
        # 80,133 mentions / 62k alerts >= 1 per doc)
        "hot": d.withColumn("text", F.concat("text", F.lit(" join"))),
    }
    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "repl": repl,
                 "n_docs": n0 * repl,
                 "host_effective_cores": effective_cores, "queries": {}}
    mframes = {}
    for label, docs in corpora.items():
        m = mentions_from_docs(spark, docs).persist()
        _force(m)  # NER outside the timed window
        mframes[label] = m
    top = (mframes["hot"].groupBy("curie").count()
           .orderBy(F.desc("count")).first())
    out["hot_top_entity"] = {"curie": top["curie"], "n_docs": top["count"]}
    # INTERLEAVED best-of rounds: timing all of corpus A before corpus B
    # hands B every warm-up (codegen, shuffle service) for free and has
    # produced hot < uniform walls on degraded hosts — alternating rounds
    # give both corpora the same share of warm effects
    for _ in range(3):
        for label, m in mframes.items():
            for qname, fn in (("kg_mention_pairs", _pairs),
                              ("kg_interesting_pairs", _interesting)):
                t0 = time.monotonic()
                _force(fn(m))
                w = round(time.monotonic() - t0, 3)
                q = out["queries"].setdefault(qname, {})
                q[label] = min(q.get(label, w), w)
    for m in mframes.values():
        m.unpersist()
    for qname, w in out["queries"].items():
        w["ratio_hot_over_uniform"] = round(w["hot"] / w["uniform"], 3)
    out["pass_1_5x"] = all(
        w["ratio_hot_over_uniform"] <= 1.5 for w in out["queries"].values()
    )
    with open(os.path.join(HERE, "hotkey.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
