"""Fixtures shared by the registry's query families (entry_queries.py).

The KG entries run over a deterministic page-ification of the driver's
``documents`` table with a small embedded gazetteer (single-token terms, so
greedy-longest-match == word-boundary containment, which SQL can express).
This module holds that gazetteer and its is-a edges, the scale-adaptive
parquet scans every family reads through, the UTC pin, and the memoized
entry-trie mentions relation with its oracle SQL and pair-forming self-join.
"""

from __future__ import annotations

import weakref

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import _list_part_files


ENTRY_GAZ = [
    # (curie, token, node_type)
    ("MESH:D0001", "slow", "disease"),
    ("MESH:D0002", "dup", "disease"),
    ("MESH:D0003", "stream", "disease"),
    ("MESH:D1001", "hash", "pathogen"),
    ("MESH:D1002", "spark", "pathogen"),
    ("MESH:D1003", "vector", "pathogen"),
    ("MESH:D1004", "join", "pathogen"),  # hot key: ~16% of all tokens
    ("MESH:D2001", "table", "geoloc"),
    ("MESH:D2002", "window", "geoloc"),
    ("MESH:D2003", "batch", "geoloc"),
]
ENTRY_ISA = [
    ("MESH:D0001", "MESH:D0000"),
    ("MESH:D0002", "MESH:D0000"),
    ("MESH:D0003", "MESH:D0001"),
    ("MESH:D1001", "MESH:D1000"),
    ("MESH:D1002", "MESH:D1001"),
    ("MESH:D1003", "MESH:D1001"),
    ("MESH:D1004", "MESH:D1000"),
    ("MESH:D2002", "MESH:D2001"),
    ("MESH:D2003", "MESH:D2002"),
]


def _sql_values_gaz() -> str:
    return ", ".join(f"('{c}', '{t}', '{ty}')" for c, t, ty in ENTRY_GAZ)


def _spread_partitions(spark: SparkSession, path: str) -> int:
    """Scale-adaptive scan parallelization decision (guide §2.5 "input
    skew": one small/unsplittable file ⇒ one scan task).

    The driver's test tables are single parquet files with ONE row group
    (verified: documents/events/embeddings at every sf), and Spark can
    only parallelize a parquet file across row groups — so every
    expression/UDF chain above such a scan runs in ONE task regardless
    of cluster size. Returns the partition count to spread the scan
    over when the input is too small to occupy the cluster on its own,
    else 0 (at 100 TB the scan splits naturally into thousands of
    tasks and a repartition here would only add a full-data exchange).

    The threshold is derived from the input size, not a local constant:
    spread only when total bytes < defaultParallelism x 16 MB, i.e.
    when even generously sized splits could not keep every core busy.
    Sizes come from the Hadoop FS listing lineage uses, so file://,
    hdfs:// and s3a:// inputs spread exactly like bare local paths.
    """
    try:
        sizes = [n for _path, n in _list_part_files(spark, path)[3]]
    except Py4JJavaError:
        return 0
    par = spark.sparkContext.defaultParallelism
    total = sum(sizes)
    if len(sizes) >= par or total >= par * (16 << 20):
        return 0
    # scale the partition count with the input instead of always using
    # every core: at tiny inputs (sf0.1's 0.6 MB documents) 32 near-empty
    # partitions cost more in per-stage task scheduling than the
    # parallelism buys (measured: web_line_dedup 0.46s -> 0.93s at
    # sf0.1), while ~128 KB per partition keeps the Python-heavy chains
    # saturated at every tested size
    return max(4, min(par, total // (128 << 10)))


def _read_spread(spark: SparkSession, path: str,
                 spread: bool = True) -> DataFrame:
    df = spark.read.parquet(path)
    if not spread:
        return df
    n = _spread_partitions(spark, path)
    return df.repartition(n) if n else df


def _docs(spark: SparkSession, sf_dir: str,
          spread: bool = True) -> DataFrame:
    """documents scan. spread defaults ON: nearly every consumer runs
    text-heavy per-row work (NER/Arrow UDFs, per-n-gram md5 chains,
    regex extraction) where 32-way parallelism dominates the tiny
    exchange. Consumers that only read doc_id arithmetic (synthetic
    graph/sketch fixtures) pass spread=False — measured SLOWER with the
    exchange (bench_extra r6: graph_triangles 1.5s -> 3.6s and friends),
    because their per-row work is too cheap to amortize an extra stage."""
    return _read_spread(spark, f"{sf_dir}/documents.parquet", spread)


def _tbl(spark: SparkSession, sf_dir: str, name: str,
         spread: bool = False) -> DataFrame:
    """Star-schema scan. spread defaults OFF: lineitem/orders/events
    consumers are cheap JVM scans + aggs where the repartition exchange
    measurably regressed them (bench_extra r6: agg_pricing 1.4s -> 2.1s,
    events windows ~2x). Opted IN per call site where per-row work is
    heavy enough to win (embeddings vector math, the Expand-amplified
    orders profile)."""
    return _read_spread(spark, f"{sf_dir}/{name}.parquet", spread)


# Ambiguous DECOY surfaces exercising the scored trie resolution
# (ground.compile_gazetteer; gilda-style ranking — promed_ner.py:143-150).
# Each decoy collides with an ENTRY_GAZ token and would WIN the old
# (ns, id) lexicographic tie-break (A0xxx < D0003/D2003), but loses the
# scored one — 'stream' by corpus prior, 'batch' by curated-name status.
# The kg_ner_mentions oracle lists only ENTRY_GAZ winners, so a scoring
# regression flips curies and fails the value-hash gate.
ENTRY_GAZ_DECOYS = [
    # (ns, id, entry_name, synonym, prior)
    ("MESH", "A0001", "stream", "stream", 0.5),  # same name-status: prior decides
    ("MESH", "A0002", "Batch Processing", "batch", None),
]
_ENTRY_GAZ_PRIORS = {"stream": 3.0}  # winner-side priors (default 0.0)


def entry_gazetteer_df(spark: SparkSession) -> DataFrame:
    rows = [
        {"ns": c.split(":")[0], "id": c.split(":")[1], "entry_name": t,
         "synonym": t, "node_type": ty,
         "prior": _ENTRY_GAZ_PRIORS.get(t, 0.0)}
        for c, t, ty in ENTRY_GAZ
    ] + [
        {"ns": ns, "id": i, "entry_name": en, "synonym": syn,
         "node_type": "disease", "prior": pr}
        for ns, i, en, syn, pr in ENTRY_GAZ_DECOYS
    ]
    from .schemas import GAZETTEER
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(GAZETTEER.fields
                        + [StructField("prior", DoubleType(), True)])
    return spark.createDataFrame(rows, schema)


_MENTIONS_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def reset_mentions_cache(spark: SparkSession) -> None:
    """Unpersist and drop this session's memoized mentions frames.

    Public seam for benchmarks/tests that need the NER pass to re-run
    (bench.py times kg_ner_mentions; without a reset its second sample
    would time a cache scan). Keeping callers off _MENTIONS_CACHE means a
    cache refactor can't silently break them."""
    per_session = _MENTIONS_CACHE.get(spark)
    if per_session:
        for cached in per_session.values():
            cached.unpersist()
        per_session.clear()


def _utc(spark: SparkSession) -> None:
    """Pin timestamp rendering to UTC for this session (entry contract).

    The driver compares collected Spark rows against DuckDB reading the
    same parquet as NAIVE timestamps, so every query that RETURNS
    timestamps — or strings derived from them (date_format, window
    buckets) — must render in UTC regardless of the caller session's
    zone. Deliberately a session-level set (session.py and scripts/
    already build UTC sessions); an app embedding these queries should
    not share its session with zone-sensitive rendering elsewhere."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, curie, name, node_type) distinct — documents annotated with
    the broadcast entry trie (operator N1/N3).

    Persisted + memoized per (session, sf_dir): most KG entries reference
    the mentions relation several times (query_graph touches it SIX times
    via nodes/edges/self-join), and without a cache boundary Catalyst
    re-evaluates the NER UDF for every occurrence — six full corpus
    annotation passes at 100 TB. One persist makes it one pass.

    The cache is a WeakKeyDictionary keyed by the session OBJECT (never
    id(): a GC'd session's id can be reused, handing a new session a
    DataFrame bound to a dead one), with a per-session sf_dir map inside.
    Concurrent live sessions each keep their own persisted copy — no
    cross-session unpersist/thrash — and a garbage-collected session's
    entry vanishes with it (its cached blocks die with its context)."""
    per_session = _MENTIONS_CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _MENTIONS_CACHE[spark] = per_session
    df = per_session.get(sf_dir)
    if df is None:
        df = _entry_mentions_plan(spark, sf_dir).persist()
        per_session[sf_dir] = df
    return df


def _entry_mentions_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-cached mentions plan (plan-shape tests target this)."""
    return mentions_from_docs(spark, _docs(spark, sf_dir))


def mentions_from_docs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Entry-trie NER over an arbitrary (doc_id, text) frame — the same
    plan _entry_mentions_plan builds from parquet; public so bench probes
    (BENCH/run_hotkey.py) can feed transformed corpora (e.g. an injected
    hot entity) without touching the test data on disk.

    Precondition: ``doc_id`` is unique in ``docs``. The extraction + NER
    operator (ground.make_extract_ner_udf, ``terms`` only) emits each
    row's distinct (ns, id, entry_name) set, so the output is a distinct
    (doc_id, curie) relation only when no doc_id repeats; two rows with
    one doc_id yield duplicate mention rows. Not asserted here: a check
    would cost one more job on every call.
    """
    from .ground import make_extract_ner_udf

    udf = make_extract_ner_udf(spark, entry_gazetteer_df(spark), terms=True)
    m = docs.select("doc_id", F.explode(udf(F.col("text")).terms).alias("a"))
    return (
        m.select(
            "doc_id",
            F.concat_ws(":", "a.ns", "a.id").alias("curie"),
            F.col("a.entry_name").alias("name"),
        )
        .join(
            F.broadcast(
                spark.createDataFrame(
                    [{"curie": c, "node_type": ty} for c, _t, ty in ENTRY_GAZ]
                )
            ),
            "curie",
        )
        .select("doc_id", "curie", "name", "node_type")
    )


_SQL_MENTIONS = f"""
    SELECT DISTINCT d.doc_id, g.curie, g.name, g.node_type
    FROM documents d
    JOIN (VALUES {_sql_values_gaz()}) g(curie, name, node_type)
      ON list_contains(string_split(d.text, ' '), g.name)
"""


def _mention_pairs(m: DataFrame, with_types: bool = False,
                   a_name: str = "a_curie", b_name: str = "b_curie",
                   ordered: bool = True) -> DataFrame:
    """Within-doc co-mention pairs — the ONE definition of the pair-forming
    self-join (canonical `an < bn` NAME order, the reference's sorted-tuple
    convention, kg/build.py:85-88). Six entry queries build on this;
    changing the canonicalization here changes them all together with the
    oracles' matching `a.name < b.name` condition. ordered=False returns
    both orientations (for typed-direction rules applied downstream)."""
    extra_a = [F.col("node_type").alias("at")] if with_types else []
    extra_b = [F.col("node_type").alias("bt")] if with_types else []
    a = m.select("doc_id", F.col("curie").alias(a_name),
                 F.col("name").alias("an"), *extra_a)
    b = m.select("doc_id", F.col("curie").alias(b_name),
                 F.col("name").alias("bn"), *extra_b)
    out = a.join(b, "doc_id")
    return out.filter(F.col("an") < F.col("bn")) if ordered else out
