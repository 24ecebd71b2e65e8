"""bench.py's e2e relations equal the declarative oracle chain: the same
per-doc term sets and pair counts, pairs in the canonical (entry_name,
curie) orientation."""

import sys
from collections import Counter
from itertools import combinations
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import pipeline_outputs, replicated_pages  # noqa: E402
from outbreak_kg_spark import extract  # noqa: E402
from outbreak_kg_spark.entry_fixtures import entry_gazetteer_df  # noqa: E402
from tests.oracle import chain  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_bench_path_matches_oracle(spark):
    pages, _n = replicated_pages(spark, SF, repl=2)
    sets, terms, counted = pipeline_outputs(spark, pages)
    try:
        got_terms = sorted(tuple(r) for r in terms.collect())
        got_pairs = sorted(tuple(r) for r in counted.collect())
    finally:
        sets.unpersist()

    valid = extract.extract_pages(pages).filter("valid").select(
        F.col("url").alias("archive_number"), "sections")
    want_df = chain.terms_by_alert(chain.annotate_sections(
        chain.explode_section_texts(valid),
        chain.make_annotate_udf(spark, entry_gazetteer_df(spark))),
        exclude_tokens=set())
    per_doc: dict = {}
    for r in want_df.collect():
        per_doc.setdefault(r.doc_id, set()).add(
            (r.entry_name, f"{r.ns}:{r.id}"))
    want_terms = sorted((d, en, c) for d, ts in per_doc.items()
                        for en, c in ts)
    pairs = Counter(a + b for ts in per_doc.values()
                    for a, b in combinations(sorted(ts), 2))
    want_pairs = sorted(k + (n,) for k, n in pairs.items())
    assert got_terms == want_terms
    assert got_pairs == want_pairs and len(want_pairs) > 0
