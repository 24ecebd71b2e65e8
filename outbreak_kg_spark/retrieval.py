"""Lexical retrieval over the corpus — BM25 top-k per query, the operator a
RAG / attribution / decontamination pipeline runs against the training set
("which training documents does this eval question retrieve?").

Spark-first shape: the query set is tiny (a dimension) and the corpus is the
fact side, so EVERYTHING narrows at the earliest possible point — exploded
tokens are semi-joined against the broadcast query vocabulary before any
aggregation, meaning the per-(doc, term) tf agg, the df agg, and the scoring
join all run over query-vocabulary postings only, never the corpus vocab.
Document length (the one signal needing unmatched tokens) is a narrow
`size(tokens)` projection, not an agg. Top-k per query is TWO-PHASE: a
handful of query keys would otherwise funnel every matched posting of a
query through one window partition — rank within (query, md5-salt bucket)
first, then rank the <= buckets*k survivors globally (every global top-k row
is in its bucket's top-k, so the phases are exact, not approximate).

All hashing/rounding is engine-portable (md5-48 salt, round-6 scores ranked
AFTER rounding with doc-id tie-break), so a DuckDB oracle replays the exact
ranked output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _md5_48
from .textstats import tokens_col


def bm25_topk(docs: DataFrame, queries: DataFrame,
              text_col: str = "text", id_col: str = "doc_id",
              query_id_col: str = "query_id",
              query_text_col: str = "query_text",
              k: int = 10, k1: float = 1.2, b: float = 0.75,
              salt_buckets: int = 32) -> DataFrame:
    """BM25 (Robertson idf, ln(1 + (N-df+0.5)/(df+0.5)) — always
    positive) top-k docs per query. Query term sets are DISTINCT per
    query (standard for short queries: query-side tf ignored). Output:
    (query_id, doc_id, n_terms_matched, score_r, rank), rank 1..k by
    score_r desc then doc_id asc; queries matching nothing emit no rows.

    df is computed AFTER the query-vocabulary semi join — a term's
    document frequency over docs containing it is unchanged by the
    filter, and the corpus-vocabulary agg never runs. N and avgdl ride a
    1-row broadcast crossJoin (no collect). Document length rides the
    filtered posting rows into the tf agg (no separate dl relation or
    doc_id join — r6). Scores are rounded to 6 BEFORE ranking so
    rank boundaries are identical cross-engine.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    the filtered tf postings) and truncates lineage: lost executor blocks
    fail later jobs instead of recomputing."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("_toks")
    )
    # N/avgdl leg counts tokens WITHOUT building the token array a second
    # time (r6, guide §2.3 "shuffle fewer bytes" applied to the scan):
    # size(filter(split(lower(t), '\\s+'), x != '')) is exactly the number
    # of non-whitespace runs, so regexp_count(t, '\\S+') — no lower(), no
    # array allocation, no lambda — computes the identical length. NULL
    # texts yield NULL under both forms and avg() skips them either way.
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg(F.regexp_count(F.col(text_col), F.lit(r"\S+"))
              .cast("double")).alias("_avgdl"),
    )
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens_col(query_text_col)))
        .alias("term"),
    )
    qvocab = qterms.select("term").distinct()
    tf = (
        # outer + null filter dodges the inferred size()>0 filter that
        # would re-tokenize every doc a second time (dedup.passage_dedup).
        # _dl (doc length) RIDES the posting rows into the tf agg instead
        # of joining a separate corpus-sized dl relation later (r6, guide
        # §2.4): that join cost two exchanges on doc_id plus a third full
        # tokenization scan; carrying 8 bytes per surviving posting is
        # free by comparison because postings are already query-vocabulary
        # filtered.
        base.select("doc_id", F.size("_toks").cast("double").alias("_dl"),
                    F.explode_outer("_toks").alias("term"))
        .filter(F.col("term").isNotNull())
        .join(F.broadcast(qvocab), "term", "left_semi")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"),
             F.max("_dl").alias("_dl"))
    )
    # tf feeds BOTH the df aggregate and the scoring join, and Catalyst
    # shares nothing across branches — without this the corpus
    # tokenize+explode+semi-join+agg ran twice per call. The
    # materialized relation is the query-vocabulary-filtered posting
    # table (bounded by |matched postings|, never corpus text).
    # Measured ~25% on the 10x bench leg.
    tf = tf.localCheckpoint(eager=True)
    dfreq = (
        tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term", "_n", "_avgdl",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ).alias("_idf"),
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .select(
            "query_id", "doc_id",
            (
                F.col("_idf") * F.col("_tf") * (k1 + 1.0)
                / (
                    F.col("_tf")
                    + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
            F.round(F.sum("_s"), 6).alias("score_r"),
        )
    )
    return _two_phase_topk(scored, k, salt_buckets).select(
        "query_id", "doc_id", "n_terms_matched", "score_r", "rank")


def _two_phase_topk(scored: DataFrame, k: int, salt_buckets: int,
                    order_col: str = "score_r") -> DataFrame:
    """Exact top-k per query over few query keys: rank within
    (query, md5-salt bucket) first — every global top-k row is in its
    bucket's top-k — then rank the <= buckets*k survivors. Ordering is
    (order_col desc, doc_id asc) on an already-rounded column so rank
    boundaries are engine-portable."""
    salt = F.pmod(_md5_48(F.col("doc_id").cast("string")),
                  F.lit(salt_buckets))
    w1 = Window.partitionBy("query_id", "_salt").orderBy(
        F.col(order_col).desc(), F.col("doc_id").asc())
    w2 = Window.partitionBy("query_id").orderBy(
        F.col(order_col).desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("_salt", "_r1")
    )


def rrf_fuse(*ranked: DataFrame, k: int = 10, c: int = 60,
             salt_buckets: int = 32) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists (the standard hybrid-
    retrieval combiner for BM25 + embedding top-k): fused score =
    sum over systems of 1/(c + rank), docs absent from a system
    contribute nothing. Inputs need (query_id, doc_id, rank); ties in
    the fused score break by doc_id asc.

    RRF is rank-only by design — it never compares raw scores across
    systems (BM25 logs vs cosine in [-1,1] aren't commensurable), which
    is also what makes it exactly engine-portable: 1/(c+rank) sums of
    small rationals, rounded once at 9 (fused deltas are >=1e-7 for any
    rank pair under ~3000, so round-9 never merges genuinely distinct
    scores but kills summation-order ulps).

    Scale shape: one unionAll (narrow) + one partial-combined
    (query, doc) sum + the exact two-phase top-k; input lists are
    already <= k' rows per query, so everything downstream of the union
    is list-sized, not corpus-sized."""
    if not ranked:
        raise ValueError("need at least one ranked input")
    parts = [r.select("query_id", "doc_id", "rank") for r in ranked]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    scored = (
        u.groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_systems"),
            F.round(F.sum(1.0 / (F.lit(float(c)) + F.col("rank"))), 9)
            .alias("rrf_r"),
        )
    )
    return _two_phase_topk(scored, k, salt_buckets, order_col="rrf_r")
