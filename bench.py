"""Benchmark harness (driver contract).

Runs the headline registry queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <e2e wall sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ..., "n_docs": ...}

The e2e metric is the BASELINE.json north-rule throughput: pages -> extract
(byte-exact UDF) -> gazetteer NER -> mention edges + co-occurrence counts,
timed to full materialization (noop sink). The documents table is replicated
with distinct doc ids (REPL x) so the run measures steady-state throughput,
not startup.

Usage: python bench.py [--cpus N] [--repl R] [--e2e-only]
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

def _force(df):
    df.write.mode("overwrite").format("noop").save()


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def host_calibration(workers: int) -> float:
    """Measured effective parallelism of this host RIGHT NOW: wall time of
    one CPU-bound burn vs `workers` identical burns in parallel processes
    (effective cores = workers * serial / parallel).

    The sandbox VM advertises 32 vCPUs but the hypervisor intermittently
    backs them with far fewer physical cores (observed: the same pipeline
    run swings 3-7x in wall time with 75-90% system time, and this probe
    reads ~10 effective cores in those windows vs ~26 when healthy). The
    figure is emitted in the bench JSON so wall-time comparisons across
    rounds are interpretable: docs/sec scales with deliverable cores, not
    with the code under test. A ~2 s probe, run BEFORE the Spark JVM starts
    so it measures the host, not the benchmark's own contention.
    """
    import multiprocessing as mp

    n = 3_000_000
    with mp.get_context("spawn").Pool(workers) as pool:
        # warm with a FULL-SIZE untimed parallel run: equal heavy tasks,
        # one per worker, so every worker must finish booting (tiny warm
        # tasks can all be drained by the first few workers to spawn,
        # leaving late workers' interpreter-boot cost inside the timed
        # run — exactly in the degraded windows this probe measures)
        pool.map(_burn, [n] * workers)
        t0 = time.monotonic()
        _burn(n)
        serial = time.monotonic() - t0
        t0 = time.monotonic()
        pool.map(_burn, [n] * workers)
        parallel = time.monotonic() - t0
    return round(workers * serial / max(parallel, 1e-9), 1)


def replicated_pages(spark, sf_dir: str, repl: int):
    """Page-ified documents table replicated repl x with distinct doc ids.

    The STREAMED side of the cross join is a multi-partition range and the
    documents table is broadcast — so page construction is parallel across
    all cores from the start (streaming the single-file parquet side would
    serialize the whole corpus build into one task)."""
    from outbreak_kg_spark.entry_fixtures import _docs

    d = _docs(spark, sf_dir)
    n = d.count()
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    reps = spark.range(0, repl, 1, numPartitions=min(repl, nparts)).select(
        F.col("id").alias("rep")
    )
    big = reps.crossJoin(F.broadcast(d)).select(
        (F.col("doc_id") + F.col("rep") * n).alias("doc_id"), "text", "lang"
    )
    pages = big.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(
            F.lit("Published Date: 2024-03-01 12:00:00 EDT\nSubject: PRO> doc "),
            F.col("doc_id").cast("string"),
            F.lit("\nArchive Number: "),
            F.format_string("%08d", (F.pmod(F.col("doc_id"), F.lit(90000000))
                                     + F.lit(10000000)).cast("int")),
            F.lit("."),
            F.col("doc_id").cast("string"),
            F.lit("\n\nreport "),
            F.col("doc_id").cast("string"),
            F.lit("\n-----------------------------------------\n"),
            F.col("text"),
            F.lit("\n--"),
        ).alias("text"),
        "lang",
    )
    return pages, n * repl


def pipeline_outputs(spark, pages, modular: bool = False):
    """The benchmark pipeline as relations: pages -> (sets, terms, counted).

    Default path is the FUSED operator (fused.make_fused_udf): pages ->
    per-doc distinct term sets in ONE Arrow round trip, no exploded
    section intermediate and — because the UDF already emits the per-doc
    set — no groupBy(doc_id) shuffle either. The modular path
    (extract -> explode sections -> annotate -> collect_group_sets) ships
    section text through Arrow twice and pays one extra exchange; it is
    kept for comparison and for pipelines that checkpoint the intermediate
    artifacts. Path equivalence is pytest-asserted
    (tests/test_bench_paths.py) on top of the operator-level equivalence
    in tests/test_fused.py.
    """
    from outbreak_kg_spark import extract, fused, ground
    from outbreak_kg_spark.entry_fixtures import entry_gazetteer_df
    from outbreak_kg_spark.skew import (
        collect_group_sets,
        expand_pairs,
        salted_count,
    )

    gaz = entry_gazetteer_df(spark)
    if modular:
        udf = ground.make_annotate_udf(spark, gaz)
        ex = extract.extract_pages(pages).filter("valid")
        sections = extract.explode_section_texts(
            ex.select(F.col("url").alias("archive_number"), "sections")
        )
        mentions = ground.annotate_sections(sections, udf)
        # ONE shuffle produces both outputs: the per-doc distinct term sets
        # feed the terms table (explode) and the pair counts (JVM-side
        # expansion). The persisted sets are the checkpointed stage boundary
        # (in the real pipeline this is lineage.run_stage writing parquet).
        sets = collect_group_sets(
            mentions.select(
                "doc_id",
                F.col("entry_name").alias("entry_name"),
                F.concat_ws(":", "ns", "id").alias("curie"),
            ),
            "doc_id", ["entry_name", "curie"],
        ).persist()
    else:
        fudf = fused.make_fused_udf(spark, gaz)
        x = pages.select(
            "url", fudf(F.col("text")).alias("x")
        ).filter(F.col("x.valid"))
        # the UDF output IS the per-doc distinct set — re-sort by
        # (entry_name, curie) so pair orientation matches the modular
        # collect_group_sets path (sort_array on structs is field-order
        # lexicographic), then persist as the stage boundary
        sets = x.select(
            F.col("url").alias("doc_id"),
            F.sort_array(
                F.expr(
                    "transform(x.terms, t -> struct("
                    "t.entry_name as entry_name, "
                    "concat(t.ns, ':', t.id) as curie))"
                )
            ).alias("_arr"),
        ).persist()
    terms = sets.select(
        "doc_id", F.explode("_arr").alias("t")
    ).select("doc_id", "t.entry_name", "t.curie")
    counted = salted_count(
        expand_pairs(sets, ["entry_name", "curie"], carry_cols=["doc_id"]),
        ["a_entry_name", "a_curie", "b_entry_name", "b_curie"],
        salt=32, count_col="n_docs", salt_from=F.col("doc_id"),
    )
    return sets, terms, counted


def e2e_pages_to_triples(spark, sf_dir: str, repl: int,
                         modular: bool = False) -> tuple[float, int]:
    """Full pipeline wall time: extract -> NER -> mentions + salted
    co-occurrence counts, fully materialized."""
    pages, n_docs = replicated_pages(spark, sf_dir, repl)
    t0 = time.monotonic()
    sets, terms, counted = pipeline_outputs(spark, pages, modular=modular)
    _force(terms)
    _force(counted)
    wall = time.monotonic() - t0
    sets.unpersist()
    return wall, n_docs


def e2e_pages_to_cue_triples(spark, sf_dir: str, repl: int) -> tuple[float, int]:
    """North-rule literal: pages -> extract -> NER (offset mentions) ->
    sentence-scoped cue-rule triples (located_in / causes / case_count_of /
    occurred_on), fully materialized. Uses the modular chain (the fused
    UDF emits term sets without offsets, and the cue layer needs offsets
    for sentence placement); the sentence-mention relation is persisted so
    the four cue legs share one annotation pass."""
    from outbreak_kg_spark import extract, ground, triples
    from outbreak_kg_spark.entry_fixtures import entry_gazetteer_df

    gaz = entry_gazetteer_df(spark)
    pages, n_docs = replicated_pages(spark, sf_dir, repl)
    t0 = time.monotonic()
    udf = ground.make_annotate_udf(spark, gaz)
    alerts = extract.dedup_alerts(extract.extract_pages(pages))
    # fresh-annotation composition: sentence placement happens in the same
    # projection as the NER explode (section_sentence_mentions), so there
    # is no mentions<->sections join and sections are scanned once —
    # the at-rest variant (mentions_to_sentences over the checkpointed
    # mentions stage) is what pipeline.build_kg(cue_triples=True) runs
    sections = extract.explode_section_texts(alerts)
    sm = triples.section_sentence_mentions(sections, udf, ground.type_dim(gaz))
    _force(triples.pattern_triples_grouped(sm))
    wall = time.monotonic() - t0
    return wall, n_docs


def main() -> None:
    args = sys.argv[1:]

    def _arg(name, default):
        return (
            args[args.index(name) + 1] if name in args else default
        )

    cpus = int(_arg("--cpus", os.environ.get("SPARK_GRAFT_CPUS", "32")))
    repl = int(_arg("--repl", os.environ.get("SPARK_GRAFT_BENCH_REPL", "300")))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    e2e_only = "--e2e-only" in args
    modular = "--modular" in args
    # 3 = plain bracketed best-of-3 (no retry sleeps — run_scaling drives
    # its own spaced re-passes); the default 6 lets a standalone/driver
    # invocation ride out one multi-minute degraded host window
    max_e2e_samples = max(3, int(_arg("--max-e2e-samples", "6")))

    effective_cores = host_calibration(cpus)

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from outbreak_kg_spark.session import get_spark

    # shuffle partitions = cores (not 2x): AQE re-sizes post-shuffle stages
    # anyway, and at this data scale the extra task-scheduling overhead of
    # 2x-partition stages costs more than any skew headroom buys
    spark = get_spark(app_name=f"bench-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")

    qtimes: dict[str, float] = {}
    if not e2e_only:
        from outbreak_kg_spark.entry_queries import (
            all_queries,
            extra_queries,
            headline,
        )

        qs = {**all_queries(), **extra_queries()}
        names = headline()
        # untimed warmup: spin up the Python worker pool, JIT the Arrow
        # serializers, and page in the parquet inputs once — otherwise the
        # FIRST timed query absorbs the whole JVM/worker cold start and
        # reads several seconds slow regardless of its own plan
        _force(qs[names[0]](spark, sf_dir))
        # best-of-2 per query: this host's wall times are bimodal (see
        # host_calibration) — a single sample taken inside a degraded
        # window reads 3-7x slow and fabricates a per-query regression.
        # Two samples of the same warm plan make the min a stable reading
        # while still charging any real plan cost both times.
        # kg_ner_mentions is the query that MATERIALIZES the memoized
        # mentions persist (entry_fixtures.entry_mentions) — without a
        # reset its second sample would time a cache scan, not the NER
        # pass. Resetting before each sample keeps both samples honest;
        # the final sample leaves the persist warm for the queries that
        # legitimately consume it at rest (same regime as round 2, where
        # every mentions consumer after the first ran against the memo).
        from outbreak_kg_spark.entry_fixtures import reset_mentions_cache

        def _reset_mentions():
            reset_mentions_cache(spark)

        for name in names:
            best = None
            for _ in range(2):
                if name == "kg_ner_mentions":
                    _reset_mentions()
                t0 = time.monotonic()
                _force(qs[name](spark, sf_dir))
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            qtimes[name] = round(best, 3)

    # warm-up (JVM JIT/codegen/python workers), then best-of-3 measured runs
    # in the warm JVM — this host's wall times are bimodal (single samples
    # swing +/-30%, with occasional 3-7x-slower windows at ~80% system
    # time), so the min of three is the stable steady-state reading
    e2e_pages_to_triples(spark, sf_dir, repl=max(1, repl // 10),
                         modular=modular)
    # probe-BRACKETED samples: the host's degraded windows last multiple
    # minutes, so a single window can swallow all three samples while the
    # run-level before/after probes (taken outside it) still read healthy
    # — observed: per-query phase all at record walls, then e2e 127.8 s
    # (vs 11.1 s re-measured minutes later) with 20.0/23.2 bracketing
    # probes. Each sample carries its own adjacent probes; the reading is
    # the min over samples whose bracket stayed healthy, with up to three
    # spaced retries when no sample qualifies. If the host never
    # recovers, fall back to the overall min and say so in the JSON
    # (e2e_window_healthy=false) rather than publishing it silently.
    probe_workers = min(cpus, 16)
    health_bar = 0.72 * probe_workers
    samples = []
    probes = []
    post = host_calibration(probe_workers)
    for attempt in range(max_e2e_samples):
        pre = post
        s = e2e_pages_to_triples(spark, sf_dir, repl=repl, modular=modular)
        post = host_calibration(probe_workers)
        samples.append((s, pre, post))
        probes.append((pre, post))
        if attempt >= 2 and any(min(p, q) >= health_bar
                                for _, p, q in samples):
            break
        if attempt >= 2 and attempt + 1 < max_e2e_samples:
            time.sleep(45)
    healthy = [(w, n) for (w, n), p, q in samples
               if min(p, q) >= health_bar]
    e2e_window_healthy = bool(healthy)
    pool = healthy or [s for s, _, _ in samples]
    n_docs = pool[0][1]
    wall = min(w for w, _ in pool)

    cue = None
    if "--cue-triples" in args:
        # warm, then best-of-2 (same bimodal-host reasoning as above)
        e2e_pages_to_cue_triples(spark, sf_dir, repl=max(1, repl // 10))
        cw = min(e2e_pages_to_cue_triples(spark, sf_dir, repl)[0]
                 for _ in range(2))
        cue = {"wall": round(cw, 3),
               "docs_per_sec": round(n_docs / cw, 1)}

    # second host probe AFTER the timed work: the pre-JVM probe certifies
    # only its own instant, and the hypervisor has been observed degrading
    # BETWEEN a healthy probe and the timed run (a 16-core level probing
    # 22.8 effective cores then walling 3x slow). A consumer that needs the
    # whole measurement window healthy gates on min(before, after).
    effective_cores_after = host_calibration(cpus)

    # sf is advisory metadata — a dir name without a trailing sf<number>
    # must not crash the run after minutes of measurement
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = None
    out = {
        "metric": "e2e_pages_to_triples_wall",
        "value": round(wall, 3),
        "unit": "sec",
        "queries": qtimes,
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / wall, 1),
        "cpus": cpus,
        "host_effective_cores": effective_cores,
        "host_effective_cores_after": effective_cores_after,
        "e2e_sample_probes": [[p, q] for p, q in probes],
        "e2e_probe_workers": probe_workers,
        "e2e_window_healthy": e2e_window_healthy,
        "path": "modular" if modular else "fused",
    }
    if cue is not None:
        out["e2e_cue_triples"] = cue
    print(json.dumps(out))


if __name__ == "__main__":
    main()
