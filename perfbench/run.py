#!/usr/bin/env python3
"""outbreak_kg_spark benchmark: one single-threaded client process against
Spark ``local[nproc]``, timed from outside through the public seams.

    python3 perfbench/run.py --workload kg_api --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``kg_api``: set-up runs ``pipeline.build_kg`` as ``scripts/
  run_pipeline.py --synth --cue-triples`` calls it (every synth side
  input) over a generated page corpus, resuming the checkout's committed
  KG, opens ``api.KgApi`` on the result and sends one untimed request per
  endpoint. The timed phase is a closed loop of fixed-mix request decks,
  drawn from the seed, with no think time.
- ``registry_suite``: set-up generates the registry's test tables from
  the seed. Each timed op runs one ``__spark_entry__``/``entry_queries``
  registry entry to a pandas frame, in a fixed order.

``kg_api`` ops are timed warm: every endpoint has run once before timing
starts, and that warm-up is part of ``setup_s``. ``registry_suite`` ops
are timed cold, as a one-shot ``__spark_entry__`` caller meets them: each
is the first run of its entry in the process. Every op's output is
checked (``checks.py``); a failed check counts as a failed op and makes
``correct`` false and the exit code 1.

The last stdout line is the result: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. The line before it records the run's
context: corpus shape, host load and calibration, failures.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg_api", "registry_suite")

# kg_api corpus: distinct pages, median body size in KB, corpus seed
API_PAGES, API_BODY_KB = 200, 3.0
TOY_PAGES, TOY_BODY_KB = 24, 1.0
KG_SEED = 0
REGISTRY_SCALE = 1

# registry families by query-name prefix; anything else is "table"
FAMILY_BY_PREFIX = {
    "kg": "kg", "canonicalize": "kg", "eidos": "kg",
    "text": "text", "dedup": "text", "similarity": "text", "corpus": "text",
    "ngram": "text", "stats": "text", "curate": "text", "retrieval": "text",
    "web": "web", "graph": "graph", "sample": "sample",
}
FAMILIES = ("kg", "text", "web", "graph", "sample", "table")
LEAVES = ("graph_ppr", "graph_kcore", "graph_labelprop", "retrieval_rrf_fuse",
          "kg_scd2_history", "kg_batch_episodes", "kg_hierarchy_rollup",
          "kg_realism_logsumexp", "dedup_incremental_lsh")
# the timed registry suite, in a fixed run order: one cheap entry (cold,
# about 1 s on 4 cores) of each family without a named leaf, the three
# registry leaves that share the build's UDF layers, then the nine
# carried-over leaves. The first entry also pays the JVM's warm-up, as the
# first query of any new process does. A full 125-entry pass (66-90 s warm
# on 4 cores) does not fit in a run.
SUITE = (
    "window_first_event", "web_html_extract", "sample_stratified",
    "kg_extract_text", "kg_ner_mentions", "kg_pattern_triples",
) + LEAVES
ENDPOINTS = ("autocomplete", "search", "get_alert_text", "text_relations",
             "get_indicators", "get_triples")
BUILD_LAYERS = {
    "extract": ("stage.extracted", "stage.alerts"),
    "ground": ("stage.mentions", "stage.terms"),
    "triples": ("stage.pattern_triples",),
    "closure": ("stage.closure",),
    "builders": ("stage.nodes", "stage.edges"),  # + every builders.* span
}
LAYER_FIELDS = ("wall_s", "exec_cpu_s", "py_cpu_s", "shuffle_mb",
                "spill_mb", "jobs", "tasks", "tasks_failed")


def family(name: str) -> str:
    return FAMILY_BY_PREFIX.get(name.split("_", 1)[0], "table")


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---- host context -----------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_context() -> dict:
    """Context only: never used to drop or pick runs."""
    from multiprocessing import resource_tracker

    import bench

    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    cores = bench.host_calibration(nproc())
    # the calibration's spawn pool starts a resource tracker that would
    # otherwise outlive this process; stop it and wait for it here
    resource_tracker._resource_tracker._stop()
    return {"nproc": nproc(), "loadavg": [float(x) for x in load],
            "effective_cores": cores}


def adopt_orphans() -> None:
    """Become the reaper of orphaned descendants (PR_SET_CHILD_SUBREAPER),
    such as Python workers that outlive the PySpark daemon, so that
    ``end_children`` sees them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def end_children(grace_s: float = 15.0) -> None:
    """Wait until every child process, adopted orphans included, has
    ended; SIGKILL those still running after ``grace_s`` seconds."""
    import tracer as tr

    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for pid, (ppid, _t) in tr._proc_table().items():
                if ppid == os.getpid():
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


# ---- Spark ------------------------------------------------------------------

def start_spark(work: str):
    from outbreak_kg_spark.session import get_spark

    n = nproc()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited: the gateway JVM exits
    when its stdin closes, and stops the Python workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # also when stop() fails, e.g. on a connection a signal cut
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def write_parquet(rows: list[dict], path: str, schema, parts: int = 1):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(rows, schema=schema)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


# ---- kg_api -----------------------------------------------------------------

def _side_inputs(spark) -> dict:
    from outbreak_kg_spark import synth

    return dict(
        pathogen_rels=synth.pathogen_disease_rels_df(spark),
        xref=synth.xref_df(spark),
        phenotype_rels=synth.phenotype_rels_df(spark),
        indicators_dev=synth.indicator_wide_df(spark, "dev"),
        indicators_health=synth.indicator_wide_df(spark, "health"),
        geoname_terms=synth.geoname_terms_df(spark),
        geoname_partof=synth.geoname_partof_df(spark),
        geoname_grounding=synth.geoname_grounding_df(spark),
        location_map=synth.location_map_df(spark),
    )


def _kg_cache_key(n_pages: int, body_kb: float) -> str:
    """Changes with the corpus parameters, the core count (it sets the
    part-file count and shuffle partitions, so the at-rest layout), the
    benchmark's build arguments and generator, and the library."""
    h = hashlib.md5(f"{n_pages}/{body_kb}/{KG_SEED}/{nproc()}".encode())
    files = [os.path.join(HERE, f) for f in ("gen.py", "run.py")] + sorted(
        os.path.join(ROOT, "outbreak_kg_spark", f)
        for f in os.listdir(os.path.join(ROOT, "outbreak_kg_spark"))
        if f.endswith(".py"))
    for path in files:
        with open(path, "rb") as f:
            h.update(path[len(ROOT):].encode() + f.read())
    return h.hexdigest()[:16]


def _kg_cache_root(args) -> str:
    return os.path.join(ROOT, ".perfbench_cache", "kg-" + _kg_cache_key(
        args.n_pages, args.body_kb))


def _kg_cached(args) -> bool:
    return os.path.exists(os.path.join(_kg_cache_root(args), "_done"))


def _open_kg(spark, args, corpus, tracer):
    """Run ``pipeline.build_kg`` on the checkout's KG; return (root, outputs).

    Every run shares one KG per checkout under ``.perfbench_cache``. A
    separate process (``--build-kg-cache``) builds it once, traced, and
    stores the build's per-layer breakdown beside it in
    ``build_trace.json``. Every measuring process, traced or not, resumes
    it the same way, through build_kg's committed-stage path."""
    import pyarrow as pa

    from outbreak_kg_spark import builders, pipeline, synth

    root = _kg_cache_root(args)
    inp = os.path.join(root, "_inputs")
    if args.build_kg_cache:
        shutil.rmtree(root, ignore_errors=True)
        pages_schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()), ("text", pa.string()),
            ("lang", pa.string())])
        ob_schema = pa.schema([
            ("ID", pa.int64()), ("outbreakName", pa.string()),
            ("archiveNumber", pa.string()), ("datePublished", pa.string())])
        # several part files, as a crawl dump has: one file would pin the
        # extraction UDF to a single task
        write_parquet(corpus["pages"], f"{inp}/pages", pages_schema,
                      parts=2 * nproc())
        write_parquet(corpus["outbreaks"], f"{inp}/outbreaks", ob_schema)
        tracer.wrap(pipeline, "run_stage", lambda a, k: "stage." + (
            a[2] if len(a) > 2 else k["name"]))
        tracer.wrap_module(builders, "builders")
    pages = spark.read.parquet(f"{inp}/pages")
    outbreaks = spark.read.parquet(f"{inp}/outbreaks")
    t0 = time.perf_counter()
    out = pipeline.build_kg(
        spark, root, pages, synth.gazetteer_df(spark),
        synth.vocab_isa_df(spark), outbreaks, cue_triples=True,
        **_side_inputs(spark))
    build_s = time.perf_counter() - t0
    if args.build_kg_cache:
        tracer.collect()
        with open(os.path.join(root, "build_trace.json"), "w") as f:
            json.dump({"build_s": build_s,
                       "layers": _build_layers(tracer, root, build_s)}, f)
        open(os.path.join(root, "_done"), "w").close()
    return root, out


def _build_layers(tracer, root: str, build_s: float) -> dict:
    import pyarrow.parquet as pq

    m = {}
    builder_spans = [n for n in tracer.totals if n.startswith("builders.")]
    covered = 0.0
    for layer, spans in BUILD_LAYERS.items():
        names = list(spans) + (builder_spans if layer == "builders" else [])
        acc = tracer.layer(names)
        covered += acc["wall_s"]
        for f in LAYER_FIELDS:
            m[f"{layer}.{f}"] = acc[f]
    m["build.residue_s"] = build_s - covered
    lin = pq.read_table(os.path.join(root, "_lineage")).to_pydict()
    m["lineage.written_mb"] = sum(lin["bytes"]) / 1e6
    m["lineage.files"] = len(lin["part_file"])
    m["lineage.rows_written"] = sum(lin["rows"])
    return m


def _read_stage(root: str, name: str, cols: list[str]) -> list[tuple]:
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(root, name), format="parquet",
                   partitioning="hive").to_table(columns=cols).to_pydict()
    return list(zip(*(t[c] for c in cols)))


def run_kg_api(spark, args, tracer, procs, t_start):
    from outbreak_kg_spark import api, ground, queries, synth

    import checks
    import gen

    corpus = gen.pages(args.n_pages, args.body_kb, KG_SEED)
    t0 = time.perf_counter()
    root, out = _open_kg(spark, args, corpus, tracer)
    kg_s = time.perf_counter() - t0
    with open(os.path.join(root, "build_trace.json")) as f:
        build = json.load(f)
    gaz = synth.gazetteer_df(spark)

    def open_api():
        return api.KgApi(spark, out["nodes"], out["edges"], out["closure"],
                         gaz, extracted=out["extracted"],
                         pattern_triples=out["pattern_triples"])

    t0 = time.perf_counter()
    kg = open_api()
    init_s = time.perf_counter() - t0
    alert_ids = sorted({r[0] for r in _read_stage(
        root, "alerts", ["archive_number"])})
    decks = gen.api_decks(400, alert_ids, args.seed)
    t0 = time.perf_counter()
    warm = {}
    for ep, kw in decks[0]:  # warm-up: each endpoint once, untimed
        warm.setdefault(ep, kw)
    for ep, kw in warm.items():
        getattr(kg, ep)(**kw)
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start

    for ep in ENDPOINTS:
        tracer.wrap(api.KgApi, ep, f"api.{ep}")
    tracer.wrap_module(queries, "queries")
    tracer.wrap(ground, "scan_text", "ground.scan")
    tracer.wrap(ground, "ground_name_in_trie", "ground.scan")

    ops = []  # [endpoint, kwargs, result, error, wall_s, cpu_s]
    procs.reset_rss_peaks()
    rss = 0.0
    t_loop = time.perf_counter()
    for k, deck in enumerate(decks[1:]):
        if k and time.perf_counter() - t_loop >= args.seconds:
            break
        for ep, kw in deck:
            c0 = procs.cpu_s()[0]
            t0 = time.perf_counter()
            try:
                res, err = getattr(kg, ep)(**kw), None
            except Exception as e:  # a raising op is a failed op
                res, err = None, f"{ep}: {e!r}"[:300]
            wall = time.perf_counter() - t0
            ops.append([ep, kw, res, err, wall, procs.cpu_s()[0] - c0])
            tracer.collect()
            rss = max(rss, procs.py_rss_peak_mb())

    # checks, outside every timed window
    orc = checks.BuildOracle(corpus["pages"])
    build_errs = orc.check_extracted(_read_stage(
        root, "extracted", ["url", "valid", "extracted_text"]))
    edges = _read_stage(root, "edges", ["subj", "pred", "obj"])
    terrs, prec, rec = orc.check_triples(edges)
    build_errs += terrs
    orc.read_kg(edges, _read_stage(root, "closure", ["node", "ancestor"]),
                [r[0] for r in _read_stage(root, "nodes", ["curie"])],
                _read_stage(root, "pattern_triples",
                            ["subj", "pred", "obj", "doc_id"]))
    build_errs += orc.check_kg(gen.INDICATOR_PLACES, gen.TRIPLE_PREDS)
    errors = list(build_errs[:5])
    failed = 1 if build_errs else 0
    for op in ops:
        if op[3] is None:
            op[3] = checks.check_api(orc, op[0], op[1], op[2])
        if op[3] is not None:
            failed += 1
            errors.append(op[3])

    context = {"corpus": corpus["shape"],
               "kg_cache_build_s": args.kg_cache_build_s,
               "setup_parts_s": {"spark": round(args.spark_s, 2),
                                 "build_kg": round(kg_s, 2),
                                 "kgapi_init": round(init_s, 2),
                                 "warmup": round(warmup_s, 2)},
               "build_kg_s": round(build["build_s"], 3),
               "build_docs_per_s": round(args.n_pages / build["build_s"], 2),
               "triple_precision": round(prec, 4),
               "triple_recall": round(rec, 4)}
    per_layer = None
    if tracer.enabled:
        per_layer = dict(build["layers"])
        n = len(ops)
        for ep in ENDPOINTS:
            w = [o[4] for o in ops if o[0] == ep]
            per_layer[f"api.{ep}.p50_ms"] = quantile(w, 0.5) * 1e3 if w else 0
        q = tracer.layer([f"api.{ep}" for ep in ENDPOINTS])
        plan = sum(v["wall_s"] for s, v in tracer.totals.items()
                   if s.startswith("queries."))
        per_layer["queries.plan_ms_per_req"] = plan * 1e3 / n
        per_layer["queries.jobs_per_req"] = q["jobs"] / n
        per_layer["queries.tasks_per_req"] = q["tasks"] / n
        per_layer["queries.exec_cpu_ms_per_req"] = q["exec_cpu_s"] * 1e3 / n
        per_layer["ground.scan_ms_per_req"] = tracer.layer(
            ["ground.scan"])["wall_s"] * 1e3 / n
    return ops, 1, failed, setup_s, rss, per_layer, context, errors


# ---- registry_suite ---------------------------------------------------------

def run_registry(spark, args, tracer, procs, t_start):
    import duckdb
    import pyarrow.parquet as pq

    import checks
    import gen
    from outbreak_kg_spark import entry_queries

    sf = os.path.join(args.work, "sf")
    t0 = time.perf_counter()
    os.makedirs(sf)
    for name, table in gen.registry_tables(REGISTRY_SCALE, args.seed).items():
        pq.write_table(table, os.path.join(sf, f"{name}.parquet"))
    gen_s = time.perf_counter() - t0
    registry = {**entry_queries.all_queries(), **entry_queries.extra_queries()}
    oracle_sql = {**entry_queries.all_oracle_sql(),
                  **entry_queries.extra_oracle_sql()}
    setup_s = time.perf_counter() - t_start

    ops = []  # [name, None, digest, error, wall_s, cpu_s]
    procs.reset_rss_peaks()
    rss = 0.0
    t_loop = time.perf_counter()
    passes = 0
    while not passes or time.perf_counter() - t_loop < args.seconds:
        # fixed order: an entry's first-run cost depends on what ran
        # before it in the process, so a shuffled order moves the medians
        for name in SUITE:
            c0 = procs.cpu_s()[0]
            t0 = time.perf_counter()
            try:
                with tracer.span(f"entry.{name}"):
                    pdf, err = registry[name](spark, sf).toPandas(), None
            except Exception as e:
                pdf, err = None, f"{name}: {e!r}"[:300]
            wall = time.perf_counter() - t0
            ops.append([name, None, pdf, err, wall, procs.cpu_s()[0] - c0])
            tracer.collect()
            rss = max(rss, procs.py_rss_peak_mb())
            ops[-1][2] = None if pdf is None else checks.frame_digest(pdf)
        passes += 1

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    want = {}
    for name in SUITE:
        sql = oracle_sql.get(name)
        want[name] = checks.frame_digest(con.sql(sql).df()) if sql else None
    failed, errors = 0, []
    for op in ops:
        if op[3] is None:
            op[3] = checks.check_frame(op[0], op[2], want[op[0]])
        if op[3] is not None:
            failed += 1
            errors.append(op[3])

    context = {"tables_scale": REGISTRY_SCALE, "suite": len(SUITE),
               "passes": passes,
               "setup_parts_s": {"spark": round(args.spark_s, 2),
                                 "inputs": round(gen_s, 2)}}
    per_layer = None
    if tracer.enabled:
        per_layer = {}
        n_pass = passes
        for fam in FAMILIES:
            acc = tracer.layer([f"entry.{n}" for n in SUITE
                                if family(n) == fam])
            for f in ("wall_s", "exec_cpu_s", "py_cpu_s", "jobs",
                      "shuffle_mb"):
                per_layer[f"registry.{fam}.{f}"] = acc[f] / n_pass
        for leaf in LEAVES:
            acc = tracer.layer([f"entry.{leaf}"])
            calls = sum(1 for o in ops if o[0] == leaf)
            per_layer[f"leaf.{leaf}.wall_s"] = acc["wall_s"] / calls
            per_layer[f"leaf.{leaf}.jobs"] = acc["jobs"] / calls
    return ops, 0, failed, setup_s, rss, per_layer, context, errors


# ---- result -----------------------------------------------------------------

def metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def build_kg_cache(args) -> None:
    """Build the checkout's KG, traced; the first kg_api run in a checkout
    spawns this in its own process before starting its Spark session."""
    import gen
    import tracer as tr

    spark = start_spark(args.work)
    try:
        tracer = tr.Tracer(spark, tr.ProcTree(tr.jvm_pid(spark)),
                           enabled=True)
        _open_kg(spark, args, gen.pages(args.n_pages, args.body_kb, KG_SEED),
                 tracer)
        tracer.close()
    finally:
        stop_spark(spark)


def run(args) -> tuple[dict, dict]:
    import tracer as tr

    e2e_units, layer_units = metric_specs()
    before = host_context()
    args.kg_cache_build_s = None
    if args.workload == "kg_api" and not _kg_cached(args):
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", "kg_api", "--build-kg-cache"]
                       + ["--toy"] * args.toy, check=True,
                       stdout=subprocess.DEVNULL)
        args.kg_cache_build_s = round(time.perf_counter() - t0, 2)
    t_start = time.perf_counter()
    spark = start_spark(args.work)
    args.spark_s = time.perf_counter() - t_start
    try:
        procs = tr.ProcTree(tr.jvm_pid(spark))
        tracer = tr.Tracer(spark, procs, enabled=bool(args.trace))
        fn = run_kg_api if args.workload == "kg_api" else run_registry
        ops, extra, failed, setup_s, rss, per_layer, context, errors = fn(
            spark, args, tracer, procs, t_start)
        tracer.close()
    finally:
        stop_spark(spark)
    after = host_context()

    attempted = len(ops) + extra
    walls = [o[4] for o in ops]
    e2e = {
        "setup_s": setup_s,
        "wall_p50_ms": quantile(walls, 0.5) * 1e3,
        "wall_p90_ms": quantile(walls, 0.9) * 1e3,
        "ops_per_s": len(walls) / sum(walls),
        "cpu_s_per_op": sum(o[5] for o in ops) / len(ops),
        "py_rss_peak_mb": rss,
    }
    by_op = {}
    for o in ops:
        by_op.setdefault(o[0], []).append(o[4])
    detail = {"workload": args.workload, "seed": args.seed,
              "ops": len(ops), "fail_share": failed / attempted,
              "op_p50_ms": {k: round(quantile(v, 0.5) * 1e3, 1)
                            for k, v in sorted(by_op.items())},
              "errors": errors[:5], "host_before": before,
              "host_after": after, **context}
    if args.trace:
        # against wall_p50_ms of untraced runs this gives the overhead
        per_layer["trace.wall_p50_ms"] = e2e["wall_p50_ms"]
        metrics = {k: {"value": per_layer.get(k, 0), "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in e2e_units.items()}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return detail, result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="tiny corpus: exercises every metric and check")
    p.add_argument("--build-kg-cache", action="store_true",
                   help="only build the checkout's kg_api KG, then exit")
    args = p.parse_args()
    args.n_pages, args.body_kb = (TOY_PAGES, TOY_BODY_KB) if args.toy else (
        API_PAGES, API_BODY_KB)
    for need in ("outbreak_kg_spark", "tests/oracle/reference_impl.py",
                 "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "full checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    args.work = os.path.join(ROOT, ".perfbench_work",
                             f"{args.workload}-{os.getpid()}")
    # a SIGTERM unwinds through the finally clauses below, which stop
    # Spark and wait for every process this run started
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))
    adopt_orphans()
    try:
        if args.build_kg_cache:
            build_kg_cache(args)
            return 0
        detail, result = run(args)
    finally:
        end_children()
        shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
