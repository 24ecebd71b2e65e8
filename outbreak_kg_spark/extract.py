"""Stage 1 — boilerplate-stripped text extraction (operators T1-T4,
SURVEY.md §2.2).

One Arrow-batched scalar pandas UDF runs the exact extraction semantics from
textproc.py over the raw page text and returns a struct; everything else
(validity filter, column layout, first-wins dedup by crawl time) is
declarative so Catalyst prunes/pushes down around it.

Scale notes: the UDF is a narrow map — no shuffle; the only shuffle in this
stage is the per-url dedup window, which partitions by url (uniformly
distributed key, no skew). At 10^12 docs the dedup uses the same plan with
more shuffle partitions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .schemas import SECTIONS
from .textproc import extract_alert

_EXTRACT_STRUCT = StructType(
    [
        StructField("archive_number", StringType(), True),
        StructField("subject", StringType(), True),
        StructField("published_ts", TimestampType(), True),
        StructField("sections", SECTIONS, True),
        StructField("extracted_text", StringType(), True),
        StructField("valid", BooleanType(), False),
    ]
)


@pandas_udf(_EXTRACT_STRUCT)
def _extract_udf_impl(text: pd.Series) -> pd.DataFrame:
    # Arrow batch in, Arrow batch out. The state machine itself is inherently
    # sequential per document (byte-identity forbids vectorized
    # approximations — SURVEY.md §4.3.6), but it runs inside the Arrow batch,
    # not as a row-at-a-time Spark Python UDF.
    recs = [extract_alert(t if t is not None else "") for t in text]
    df = pd.DataFrame.from_records(recs)
    df["sections"] = df["sections"].map(
        lambda secs: [(s["title"], s["content"]) for s in secs]
    )
    return df


# asNondeterministic (guide §4.4): every consumer filters on the computed
# struct's `valid` field, and filter pushdown otherwise clones the whole
# extraction — one ArrowEvalPython below the pushed filter (BEFORE any
# spread exchange, i.e. on the unsplit scan) and a second above it, so
# each page paid the state machine twice and the first pass ran with no
# parallelism. The function is pure; the flag only stops the optimizer
# from cloning/reordering it.
_extract_udf = _extract_udf_impl.asNondeterministic()


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> EXTRACTED-schema DataFrame.

    Invalid records (empty header / no date / no archive number — the
    reference's skip conditions, promed_ner.py:124-129) are retained with
    valid=false so lineage can count them; downstream stages filter.
    """
    e = pages.select(
        "url",
        "warc_ts",
        "lang",
        _extract_udf(F.col("text")).alias("x"),
    )
    return e.select(
        "url",
        "warc_ts",
        "lang",
        "x.archive_number",
        "x.subject",
        "x.published_ts",
        "x.sections",
        "x.extracted_text",
        "x.valid",
    )


def dedup_alerts(extracted: DataFrame) -> DataFrame:
    """First-wins dedup of repeated archive numbers by crawl time.

    Archive numbers are NOT unique in the wild (promed_ner.py:113-118 keeps
    an index of the duplicates); the engine's explicit policy (SURVEY.md
    §7.4) is earliest warc_ts wins, ties broken by url for determinism.
    """
    w = Window.partitionBy("archive_number").orderBy(
        F.col("warc_ts").asc_nulls_last(), F.col("url").asc()
    )
    return (
        extracted.filter(F.col("valid"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def explode_section_texts(alerts: DataFrame) -> DataFrame:
    """One row per (doc, section, field) with the text to annotate.

    The reference annotates each section's title and content separately
    (promed_ner.py:145-150); exploding here keeps the NER stage a narrow map
    over many small strings instead of few huge ones (better Arrow batch
    shape, better executor balance).
    """
    sec = alerts.select(
        F.col("archive_number").alias("doc_id"),
        F.posexplode_outer("sections").alias("section_idx", "sec"),
    )
    return sec.select(
        "doc_id",
        "section_idx",
        F.explode(
            F.array(
                F.struct(F.lit("title").alias("field"), F.col("sec.title").alias("text")),
                F.struct(F.lit("content").alias("field"), F.col("sec.content").alias("text")),
            )
        ).alias("ft"),
    ).select("doc_id", "section_idx", "ft.field", "ft.text")
