"""Sentence-scoped pattern triple extraction — the cue-rule layer between
gazetteer NER and the co-occurrence edge builders.

The reference emits outbreak relations from document-level co-mention plus
typed rules (kg/build.py:70-97); its north-star form is *pattern* triple
extraction: relations asserted only when an explicit lexical cue connects
two grounded mentions inside one sentence ("120 cases of cholera", "X
causes Y", "cholera in Nairobi", "on 2024-03-01"). This module adds that
layer over the per-sentence mention groups of the extraction + NER
operator (ground.make_extract_ner_udf with ``groups=True``), emitting the
four outbreak predicates the rule names: ``located_in``, ``causes``,
``case_count_of``, ``occurred_on``.

Scale shape (the whole point of doing this sentence-scoped):

- The ONLY Python in the plan is the NER UDF the pipeline already pays
  for: it places each mention in its sentence (bisect over the boundary
  offsets) and groups the sentence's mentions in the same pass, so there
  is no per-mention sentence math, no join back to the text and no
  grouping exchange.
- Cue checks are case-folded `contains` via higher-order `exists` over the
  per-mention surface arrays, plus static-pattern `regexp_extract` — all
  Column expressions inside the sentence row, never per-row Python.
- A sentence group is bounded by sentence length, so the within-group pair
  expansion is O(len^2) on a ~40-token string, not O(corpus), and a hot
  entity ("COVID-19" in 10^9 docs) makes no hot key: the final distinct
  is the single wide exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# static extraction patterns (foldable — Catalyst compiles the regex once)
CASES_RE = "([0-9]+) cases of "
DATE_RE = " on ([0-9]{4}-[0-9]{2}-[0-9]{2})"


def explode_groups(df: DataFrame) -> DataFrame:
    """(doc_id, groups: the ground.make_extract_ner_udf field) -> one row
    per sentence group, the triples_from_sentence_groups input."""
    return df.select("doc_id", F.explode("groups").alias("g")).select(
        "doc_id", "g.*")


def triples_from_sentence_groups(
    g: DataFrame,
    id_col: str = "doc_id",
    cases_re: str = CASES_RE,
    date_re: str = DATE_RE,
) -> DataFrame:
    """Cue-rule triples over a per-(doc, sentence) grouped relation ``g``
    with columns (id_col, sentence, ms: array<struct curie, node_type,
    surfaces>) — explode_groups of the operator's ``groups`` field.

    Emits (id_col, subj, pred, obj, n_cases) distinct, with four rules:

    - located_in:  disease a + geoloc b co-sentential AND the sentence
      contains the literal cue ``" in <b surface>"`` -> (a, located_in, b)
    - causes:      pathogen a + disease b co-sentential AND the sentence
      contains ``"<a surface> causes <b surface>"`` -> (a, causes, b)
    - case_count_of: disease mention whose sentence contains
      ``" cases of <surface>"`` and a count captured by cases_re
      -> (disease, case_count_of, doc:<id>), n_cases = that count
    - occurred_on: disease mention co-sentential with a date matched by
      date_re -> (disease, occurred_on, <date>)

    Cue gates test the matched SURFACES, case-folded (a synonym-grounded
    mention appears in text as the synonym, never as its entry name).
    n_cases is NULL off the case_count_of leg. Every rule runs as
    higher-order array expressions inside the sentence row; the final
    distinct is the one exchange."""
    low = F.lower(F.col("sentence"))

    def typed(t):
        return F.filter("ms", lambda m: m["node_type"] == F.lit(t))

    def cued(arr, prefix):
        return F.filter(
            arr,
            lambda m: F.exists(
                m["surfaces"],
                lambda s: F.contains(
                    low, F.concat(F.lit(prefix), F.lower(s)))),
        )

    def tri(subj, pred, obj, n_cases):
        return F.struct(
            subj.alias("subj"), F.lit(pred).alias("pred"),
            obj.alias("obj"), n_cases.alias("n_cases"))

    null_l = F.lit(None).cast("long")
    dis = typed("disease")
    located = F.flatten(F.transform(
        dis,
        lambda a: F.transform(
            cued(typed("geoloc"), " in "),
            lambda b: tri(a["curie"], "located_in", b["curie"], null_l)),
    ))
    causes = F.flatten(F.transform(
        typed("pathogen"),
        lambda a: F.transform(
            F.filter(
                dis,
                lambda b: F.exists(
                    a["surfaces"],
                    lambda sa: F.exists(
                        b["surfaces"],
                        lambda sb: F.contains(
                            low,
                            F.concat(F.lower(sa), F.lit(" causes "),
                                     F.lower(sb)))))),
            lambda b: tri(a["curie"], "causes", b["curie"], null_l)),
    ))
    n_capture = F.regexp_extract(F.col("sentence"), cases_re, 1)
    case_count = F.when(n_capture != "", F.transform(
        cued(dis, " cases of "),
        lambda a: tri(
            a["curie"], "case_count_of",
            F.concat(F.lit("doc:"), F.col(id_col).cast("string")),
            n_capture.cast("long")),
    )).otherwise(F.array().cast(
        "array<struct<subj:string,pred:string,obj:string,n_cases:bigint>>"))
    date = F.regexp_extract(F.col("sentence"), date_re, 1)
    occurred = F.when(date != "", F.transform(
        dis, lambda a: tri(a["curie"], "occurred_on", date, null_l)
    )).otherwise(F.array().cast(
        "array<struct<subj:string,pred:string,obj:string,n_cases:bigint>>"))
    return (
        g.select(
            id_col,
            F.explode(
                F.concat(located, causes, case_count, occurred)).alias("t"),
        )
        .select(id_col, "t.subj", "t.pred", "t.obj", "t.n_cases")
        .dropDuplicates([id_col, "subj", "pred", "obj"])
    )


def triples_to_edges(pt: DataFrame) -> DataFrame:
    """Per-doc cue triples -> the at-rest edge form: (subj, pred, obj,
    count) with count = number of supporting documents (the cue triples
    output is distinct per doc-triple, so a plain count aggregates doc
    support). One partial+final agg; hot triples combine map-side."""
    return pt.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("count"))


def pattern_triple_delta(old_pt: DataFrame, new_pt: DataFrame) -> DataFrame:
    """Signed at-rest delta for a crawl refresh (the crawl.
    cooccurrence_count_delta pattern applied to cue triples): ``old_pt`` =
    triples of the PREVIOUS build for docs whose pages changed or vanished
    (subtracted), ``new_pt`` = freshly extracted triples for added/changed
    docs (added). Both sides run the SAME triples_to_edges aggregation as
    a full build, so refresh can never drift from rebuild semantics;
    incremental.upsert_edges applies the result (zero-count edges vanish
    from the rewritten partition exactly as a rebuild would never emit
    them)."""
    neg = triples_to_edges(old_pt).withColumn("count", -F.col("count"))
    return neg.unionByName(triples_to_edges(new_pt))


def triple_provenance(pt: DataFrame, id_col: str = "doc_id",
                      max_docs: int = 5) -> DataFrame:
    """Evidence table for extracted triples: (subj, pred, obj, n_docs,
    sample_docs) where sample_docs is a deterministic capped sample of
    supporting document ids (sorted, first max_docs) — what a reviewer or
    a downstream UI needs to audit WHY an edge exists without dragging
    the full posting list around.

    Scale shape: one partial+final agg; the doc-id set is capped at the
    FINAL step, but collect_set still gathers all ids per triple first —
    for triples supported by 10^7 docs, cap earlier by pre-sampling
    (e.g. filter on a 48-bit md5 of the doc id) before this agg; the
    count stays exact either way when taken from the uncapped count()."""
    return (
        pt.groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.slice(F.sort_array(F.collect_set(F.col(id_col))),
                    1, max_docs).alias("sample_docs"),
        )
    )
