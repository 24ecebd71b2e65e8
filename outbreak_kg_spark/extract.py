"""Stage 1 — boilerplate-stripped text extraction (operators T1-T4,
SURVEY.md §2.2).

The exact extraction semantics from textproc.py run inside the one Arrow
UDF of the library (ground.make_extract_ner_udf with ``pages=True``),
which can also ground the extracted sections in the same pass; everything
else (validity filter, column layout, first-wins dedup by crawl time) is
declarative so Catalyst prunes/pushes down around it.

Scale notes: the UDF is a narrow map — no shuffle; the only shuffle in this
stage is the per-archive-number dedup window (uniformly distributed key, no
skew). At 10^12 docs the dedup uses the same plan with more shuffle
partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ground import make_extract_ner_udf


def extract_pages(pages: DataFrame, udf=None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> EXTRACTED-schema DataFrame,
    plus whatever NER fields ``udf`` (a ``pages=True``
    ground.make_extract_ner_udf; default: extraction only) adds after
    ``valid``.

    Invalid records (empty header / no date / no archive number — the
    reference's skip conditions, promed_ner.py:124-129) are retained with
    valid=false so lineage can count them; downstream stages filter.
    """
    if udf is None:
        udf = make_extract_ner_udf(pages.sparkSession, pages=True)
    return pages.select(
        "url", "warc_ts", "lang", udf(F.col("text")).alias("x")
    ).select("url", "warc_ts", "lang", "x.*")


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
