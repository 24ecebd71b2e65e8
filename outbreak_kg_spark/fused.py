"""Operator fusion: pages -> grounded terms in ONE Arrow round trip.

The modular pipeline (extract.extract_pages -> explode_section_texts ->
ground.annotate_sections) ships every section's text through the Arrow
channel twice — once out of the extraction UDF, once into the NER UDF. When
the intermediate artifacts (canonical text, per-section spans) are not being
checkpointed, fusing the two Python stages halves the Arrow traffic and
removes one exploded intermediate relation. Results are identical to the
modular path (equivalence-tested in tests/test_fused.py); byte-identity of
the canonical text remains covered by the modular stage and its tests.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from .ground import (
    DEFAULT_NS_PRIORITY,
    TextMemo,
    _gaz_rows,
    compile_gazetteer,
    multi_token_heads,
    scan_distinct_terms,
    scan_text,
)
from .textproc import extract_alert

_FUSED_STRUCT = StructType(
    [
        StructField("archive_number", StringType(), True),
        StructField("valid", BooleanType(), False),
        StructField(
            "terms",
            ArrayType(
                StructType(
                    [
                        StructField("ns", StringType()),
                        StructField("id", StringType()),
                        StructField("entry_name", StringType()),
                    ]
                )
            ),
            True,
        ),
    ]
)


def make_fused_udf(spark: SparkSession, gazetteer: DataFrame,
                   ns_priority=DEFAULT_NS_PRIORITY,
                   exclude_tokens: frozenset | set = frozenset()):
    rows = _gaz_rows(gazetteer)  # carries the optional scoring prior
    trie = compile_gazetteer(rows, ns_priority)
    # multi-token head set computed ONCE here: it gates the distinct-scan
    # set fast path per document (ground.scan_distinct_terms)
    bc = spark.sparkContext.broadcast(
        (trie, multi_token_heads(trie), frozenset(exclude_tokens)))

    @pandas_udf(_FUSED_STRUCT)
    def fused(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        t, mheads, excl = bc.value

        # Per-TASK memo of field-text -> distinct grounding set (guide
        # §4.5: heavyweight state once per task). Real corpora repeat
        # section text constantly (site boilerplate, syndicated alerts,
        # re-crawls), and tokenization dominates the scan cost, so
        # scanning each distinct field text once and unioning cached
        # frozensets turns the duplicate-heavy case into a dict probe.
        # The memo lives only for the task (iterator scope): nothing
        # persists across tasks, jobs, or runs. Byte-capped so a
        # pathological all-unique partition cannot grow without bound.
        def scan_one(field_text: str) -> frozenset:
            if excl:
                # surface-form exclusion needs the original-case
                # surface — use the offset-carrying scan
                return frozenset(
                    (ns, id_, name)
                    for (surf, _a, _b, ns, id_, name) in scan_text(
                        field_text, t)
                    if surf not in excl
                )
            return frozenset(scan_distinct_terms(field_text, t, mheads))

        memo = TextMemo(scan_one)

        def field_terms(field_text: str) -> frozenset:
            # short fields (section titles, one-line headers) are cheaper
            # to scan than to memoize — and they are frequently unique
            # (numbered titles), which would bloat the memo for zero hits
            if len(field_text) < 64:
                return scan_one(field_text)
            return memo(field_text)

        for texts in batches:
            out = []
            for page in texts:
                # the fused consumer never reads the canonical rendering
                # (it scans title/content directly), so skip building it
                ex = extract_alert(page if page is not None else "",
                                   with_canonical=False)
                if not ex["valid"]:
                    out.append((None, False, []))
                    continue
                terms = set()
                for sec in ex["sections"]:
                    terms |= field_terms(sec["title"])
                    terms |= field_terms(sec["content"])
                out.append((ex["archive_number"], True, sorted(terms)))
            yield pd.DataFrame(
                out, columns=["archive_number", "valid", "terms"])

    # asNondeterministic (guide §4.4): consumers filter on the UDF-computed
    # struct (`.filter("x.valid")`), and the optimizer's filter pushdown
    # otherwise duplicates the whole extract+NER evaluation — one
    # ArrowEvalPython below the pushed filter and a second in the
    # projection — so every page paid the UDF twice (confirmed with the
    # UDF profiler: 2x extract_alert calls per input row). The function is
    # pure; the flag only forbids the optimizer to clone or reorder it.
    return fused.asNondeterministic()


def fused_page_terms(pages: DataFrame, fused_udf) -> DataFrame:
    """pages -> one row per kept alert: (doc_id, terms array<struct>).

    The whole extract+NER chain runs in ONE Arrow pass, then the first-wins
    archive-number dedup (earliest warc_ts, tie by url — the same policy as
    extract.dedup_alerts, SURVEY.md §7.4) is applied to the LIGHTWEIGHT
    per-page terms relation: the window shuffles (doc_id, warc_ts, url,
    terms) rows of a few hundred bytes instead of full alert texts. Trade:
    duplicate pages pay a redundant NER scan (dup rates are single-digit
    percent in the wild — promed_ner.py:113-118), in exchange for never
    shipping the corpus text through a shuffle or a second Arrow hop.
    """
    x = pages.select(
        "url", "warc_ts", fused_udf(F.col("text")).alias("x")
    ).filter(F.col("x.valid"))
    w = Window.partitionBy("x.archive_number").orderBy(
        F.col("warc_ts").asc_nulls_last(), F.col("url").asc()
    )
    return (
        x.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("x.archive_number").alias("doc_id"),
            F.col("x.terms").alias("terms"),
        )
    )


def page_terms_to_alert_terms(page_terms: DataFrame) -> DataFrame:
    """(doc_id, terms array) -> the exploded (doc_id, ns, id, entry_name)
    relation ground.terms_by_alert produces from the modular path. The
    surface-token exclusion already happened inside the fused UDF
    (exclude_tokens), so only the (ns, id) dedup remains."""
    return (
        page_terms.select("doc_id", F.explode("terms").alias("t"))
        .select("doc_id", "t.ns", "t.id", "t.entry_name")
        .dropDuplicates(["doc_id", "ns", "id"])
    )


def fused_terms(pages: DataFrame, fused_udf) -> DataFrame:
    """pages -> (doc_id, ns, id, entry_name) distinct per doc — the same
    relation the modular path (dedup_alerts -> terms_by_alert) produces,
    INCLUDING the first-wins archive dedup (earliest warc_ts, url tiebreak).
    A dedup-free variant would silently union term sets across re-crawls of
    the same archive number — a different graph than the modular path."""
    return page_terms_to_alert_terms(fused_page_terms(pages, fused_udf))
