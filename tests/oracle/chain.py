"""The declarative offset chain — the test oracle of
ground.make_extract_ner_udf.

An offset-only pandas annotator (scan_text per text, nothing else in
Python) feeds plain Spark relations: section explode, exploded mentions,
surface exclusion + per-doc dedup, sentence placement by offset
arithmetic, and the cue rules as four self-join legs or one grouped pass.
Each step is an independent spelling of what the library operator does in
one Python pass, so equal outputs check the operator's terms, mentions and
groups fields and the pattern_triples built from them.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from outbreak_kg_spark.ground import (
    NER_EXCLUDE_TOKENS,
    _gaz_rows,
    compile_gazetteer,
    scan_text,
)
from outbreak_kg_spark.triples import CASES_RE, DATE_RE

_MATCH_ARR = ArrayType(StructType(
    [StructField(n, t) for n, t in (
        ("text", StringType()), ("start", IntegerType()),
        ("end", IntegerType()), ("ns", StringType()), ("id", StringType()),
        ("entry_name", StringType()))]))


def make_annotate_udf(spark, gazetteer: DataFrame):
    """text -> array<struct text, start, end, ns, id, entry_name>."""
    bc = spark.sparkContext.broadcast(
        compile_gazetteer(_gaz_rows(gazetteer)))

    @pandas_udf(_MATCH_ARR)
    def annotate(texts: pd.Series) -> pd.Series:
        t = bc.value
        return texts.map(lambda x: scan_text(x, t) if x is not None else [])

    return annotate


def explode_section_texts(alerts: DataFrame) -> DataFrame:
    """One row per (doc, section, field) with the text to annotate."""
    sec = alerts.select(
        F.col("archive_number").alias("doc_id"),
        F.posexplode_outer("sections").alias("section_idx", "sec"),
    )
    return sec.select(
        "doc_id", "section_idx",
        F.explode(F.array(
            F.struct(F.lit("title").alias("field"),
                     F.col("sec.title").alias("text")),
            F.struct(F.lit("content").alias("field"),
                     F.col("sec.content").alias("text")),
        )).alias("ft"),
    ).select("doc_id", "section_idx", "ft.field", "ft.text")


def annotate_sections(section_texts: DataFrame, annotate_udf) -> DataFrame:
    """(doc_id, section_idx, field, text) -> exploded MENTIONS rows."""
    m = section_texts.select(
        "doc_id", "section_idx", "field",
        F.explode(annotate_udf(F.col("text"))).alias("a"),
    )
    return m.select(
        "doc_id", "section_idx", "field",
        "a.text", "a.start", "a.end", "a.ns", "a.id", "a.entry_name",
    )


def terms_by_alert(mentions: DataFrame,
                   exclude_tokens: set = NER_EXCLUDE_TOKENS) -> DataFrame:
    """Distinct grounded terms per document (operator N3)."""
    out = mentions
    if exclude_tokens:
        out = out.filter(~F.col("text").isin(list(exclude_tokens)))
    return out.select("doc_id", "ns", "id", "entry_name").dropDuplicates(
        ["doc_id", "ns", "id"])


def _boundary_class(boundary: str) -> str:
    return "[" + re.escape(boundary) + "]"


def _boundary_count(prefix_col, boundary: str):
    """#boundary chars in the prefix = the mention's sentence index."""
    return F.length(
        F.regexp_replace(prefix_col, "[^" + re.escape(boundary) + "]", ""))


def _group_surfaces(rows: DataFrame, id_col: str) -> DataFrame:
    """(.., surface) mention rows -> one row per (doc, sentence, curie)
    with the sorted distinct surface set."""
    return rows.groupBy(id_col, "sent_idx", "curie").agg(
        F.max("sentence").alias("sentence"),
        F.max("name").alias("name"),
        F.sort_array(F.collect_set("surface")).alias("surfaces"),
    )


def _typed(rows: DataFrame, id_col: str, type_dim: DataFrame) -> DataFrame:
    return _group_surfaces(rows, id_col).join(
        F.broadcast(type_dim), "curie"
    ).select(id_col, "sent_idx", "sentence", "curie", "name", "surfaces",
             "node_type")


def sentence_mentions(docs: DataFrame, annotate_udf, type_dim: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      boundary: str = ".") -> DataFrame:
    """(id_col, sent_idx, sentence, curie, name, surfaces, node_type), one
    row per (doc, sentence, curie); sent_idx = #boundary chars before the
    mention's start offset."""
    a = docs.select(id_col, text_col,
                    F.explode(annotate_udf(F.col(text_col))).alias("a"))
    pre = F.col(text_col).substr(F.lit(1), F.col("a.start"))
    sent_idx = _boundary_count(pre, boundary).cast("int")
    sent_arr = F.split(F.col(text_col), _boundary_class(boundary), -1)
    rows = a.select(
        id_col,
        sent_idx.alias("sent_idx"),
        F.element_at(sent_arr, sent_idx + F.lit(1)).alias("sentence"),
        F.concat_ws(":", "a.ns", "a.id").alias("curie"),
        F.col("a.entry_name").alias("name"),
        F.col("a.text").alias("surface"),
    )
    return _typed(rows, id_col, type_dim)


def _sent_key(kcols, within):
    """(section_idx, field, sentence-within-unit) folded into one string
    sent_idx, so pair joins on (doc_id, sent_idx) never cross sections."""
    return F.concat_ws(
        "#",
        F.col(kcols[1]).cast("string") if len(kcols) > 1 else F.lit("0"),
        F.col(kcols[2]).cast("string") if len(kcols) > 2 else F.lit("0"),
        within.cast("string"),
    )


def mentions_to_sentences(mentions: DataFrame, section_texts: DataFrame,
                          type_dim: DataFrame,
                          keys: tuple = ("doc_id", "section_idx", "field"),
                          text_col: str = "text",
                          boundary: str = ".") -> DataFrame:
    """Sentence-place materialized offset mentions by joining them back to
    their section texts; sent_idx is the "section#field#within" key."""
    kcols = list(keys)
    m = mentions.select(
        *kcols, "start",
        F.concat_ws(":", "ns", "id").alias("curie"),
        F.col("entry_name").alias("name"),
        F.col("text").alias("surface"),
    )
    st = section_texts.select(*kcols, F.col(text_col).alias("_sectext"))
    j = m.join(st, kcols)
    pre = F.col("_sectext").substr(F.lit(1), F.col("start"))
    within = _boundary_count(pre, boundary).cast("int")
    sent_arr = F.split(F.col("_sectext"), _boundary_class(boundary), -1)
    rows = j.select(
        F.col(kcols[0]).alias("doc_id"),
        _sent_key(kcols, within).alias("sent_idx"),
        F.element_at(sent_arr, within + F.lit(1)).alias("sentence"),
        "curie", "name", "surface",
    )
    return _typed(rows, "doc_id", type_dim)


def section_sentence_mentions(section_texts: DataFrame, annotate_udf,
                              type_dim: DataFrame,
                              keys: tuple = ("doc_id", "section_idx", "field"),
                              text_col: str = "text",
                              boundary: str = ".") -> DataFrame:
    """mentions_to_sentences' relation from a fresh annotation pass: the
    section text is still in scope, so no join back."""
    kcols = list(keys)
    a = section_texts.select(
        *kcols, text_col,
        F.explode(annotate_udf(F.col(text_col))).alias("a"))
    pre = F.col(text_col).substr(F.lit(1), F.col("a.start"))
    within = _boundary_count(pre, boundary).cast("int")
    sent_arr = F.split(F.col(text_col), _boundary_class(boundary), -1)
    rows = a.select(
        F.col(kcols[0]).alias("doc_id"),
        _sent_key(kcols, within).alias("sent_idx"),
        F.element_at(sent_arr, within + F.lit(1)).alias("sentence"),
        F.concat_ws(":", "a.ns", "a.id").alias("curie"),
        F.col("a.entry_name").alias("name"),
        F.col("a.text").alias("surface"),
    )
    return _typed(rows, "doc_id", type_dim)


def pattern_triples(sm: DataFrame, id_col: str = "doc_id",
                    cases_re: str = CASES_RE,
                    date_re: str = DATE_RE) -> DataFrame:
    """The four cue rules as relational legs (self-joins on (doc,
    sentence)) over sentence mentions; (id_col, subj, pred, obj, n_cases)
    distinct."""
    a = sm.alias("a")
    b = sm.drop("sentence").alias("b")
    on = [F.col(f"a.{id_col}") == F.col(f"b.{id_col}"),
          F.col("a.sent_idx") == F.col("b.sent_idx")]
    null_cases = F.lit(None).cast("long").alias("n_cases")

    def _any_surface(sentence, surfaces, prefix):
        return F.exists(surfaces, lambda s: F.contains(
            F.lower(sentence), F.concat(F.lit(prefix), F.lower(s))))

    def _leg(df, pred):
        return df.select(F.col(f"a.{id_col}").alias(id_col),
                         F.col("a.curie").alias("subj"),
                         F.lit(pred).alias("pred"),
                         F.col("b.curie").alias("obj"), null_cases)

    located = _leg(
        a.filter(F.col("node_type") == "disease")
        .join(b.filter(F.col("node_type") == "geoloc"), on)
        .filter(_any_surface(F.col("a.sentence"), F.col("b.surfaces"),
                             " in ")),
        "located_in")
    causes = _leg(
        a.filter(F.col("node_type") == "pathogen")
        .join(b.filter(F.col("node_type") == "disease"), on)
        .filter(F.exists(
            F.col("a.surfaces"),
            lambda sa: F.exists(
                F.col("b.surfaces"),
                lambda sb: F.contains(
                    F.lower(F.col("a.sentence")),
                    F.concat(F.lower(sa), F.lit(" causes "), F.lower(sb)))),
        )),
        "causes")
    case_count = sm.filter(
        (F.col("node_type") == "disease")
        & _any_surface(F.col("sentence"), F.col("surfaces"), " cases of ")
        & (F.regexp_extract("sentence", cases_re, 1) != "")
    ).select(
        id_col, F.col("curie").alias("subj"),
        F.lit("case_count_of").alias("pred"),
        F.concat(F.lit("doc:"), F.col(id_col).cast("string")).alias("obj"),
        F.regexp_extract("sentence", cases_re, 1).cast("long")
        .alias("n_cases"))
    occurred = sm.select(
        id_col, "curie", "node_type",
        F.regexp_extract("sentence", date_re, 1).alias("_d"),
    ).filter((F.col("node_type") == "disease") & (F.col("_d") != "")).select(
        id_col, F.col("curie").alias("subj"),
        F.lit("occurred_on").alias("pred"), F.col("_d").alias("obj"),
        null_cases)
    return (
        located.unionByName(causes).unionByName(case_count)
        .unionByName(occurred)
        .dropDuplicates([id_col, "subj", "pred", "obj"])
    )


def pattern_triples_grouped(sm: DataFrame, id_col: str = "doc_id",
                            cases_re: str = CASES_RE,
                            date_re: str = DATE_RE) -> DataFrame:
    """pattern_triples' relation through a (doc, sentence) collect_list
    group and the library's in-row cue rules."""
    from outbreak_kg_spark.triples import triples_from_sentence_groups

    g = sm.groupBy(id_col, "sent_idx").agg(
        F.max("sentence").alias("sentence"),
        F.collect_list(F.struct("curie", "node_type", "surfaces")).alias("ms"),
    )
    return triples_from_sentence_groups(g, id_col, cases_re, date_re)
