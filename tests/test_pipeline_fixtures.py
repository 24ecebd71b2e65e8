"""Fixture-graph P/R tests (SURVEY.md §5.1-5.2): the full Spark pipeline on
the deterministic synthetic corpus vs the independent single-process oracle.

Targets: byte-identical extracted text per url; triple P/R >= 0.95 per
predicate (we assert equality, P = R = 1.0, at fixture scale)."""

import pytest

from outbreak_kg_spark import builders, extract, ground, synth
from outbreak_kg_spark.ground import BUILD_EXCLUDE_NAMES, NER_EXCLUDE_TOKENS
from tests.oracle import reference_impl as oracle

N_DOCS = 150


@pytest.fixture(scope="module")
def corpus():
    return synth.generate_corpus(N_DOCS)


@pytest.fixture(scope="module")
def spark_terms(spark, corpus):
    from pyspark.sql import functions as F

    pages = synth.pages_df(spark, N_DOCS)
    udf = ground.make_extract_ner_udf(
        spark, synth.gazetteer_df(spark), pages=True, terms=True,
        exclude_tokens=NER_EXCLUDE_TOKENS)
    alerts = extract.dedup_alerts(extract.extract_pages(pages, udf)).cache()
    terms = alerts.select(
        F.col("archive_number").alias("doc_id"), F.explode("terms").alias("t")
    ).select("doc_id", "t.*").cache()
    return alerts, terms


@pytest.fixture(scope="module")
def oracle_state(corpus):
    terms, extracts = oracle.oracle_terms_by_alert(
        corpus["pages"], synth.gazetteer_rows(), NER_EXCLUDE_TOKENS
    )
    return terms, extracts


def _types():
    return {f"MESH:{i}": t for i, _n, t, _p, _s in synth.MESH_VOCAB} | {
        f"geonames:{g}": "geoloc" for g, _n, _p, _m in synth.GEONAME_VOCAB
    }


def test_extracted_text_byte_identical(spark, corpus, oracle_state):
    _, extracts = oracle_state
    pages = synth.pages_df(spark, N_DOCS)
    got_rows = (
        extract.dedup_alerts(extract.extract_pages(pages))
        .select("archive_number", "extracted_text")
        .collect()
    )
    got = {r.archive_number: r.extracted_text for r in got_rows}
    want = {k: ex["text"] for k, ex in extracts.items()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], f"byte mismatch for {k}"


def test_terms_by_alert_match_oracle(spark_terms, oracle_state):
    _, terms_df = spark_terms
    got = {}
    for r in terms_df.collect():
        got.setdefault(r.doc_id, set()).add((r.ns, r.id, r.entry_name))
    want = {k: set(v) for k, v in oracle_state[0].items() if v}
    got = {k: v for k, v in got.items() if v}
    assert got == want


def test_mentions_edges_pr(spark, spark_terms, oracle_state):
    _, terms_df = spark_terms
    tdim = ground.type_dim(synth.gazetteer_df(spark))
    _nodes, edges = builders.build_alert_nodes_and_mentions(
        terms_df, synth.outbreaks_df(spark, N_DOCS), tdim
    )
    got = {(r.subj, r.pred, r.obj) for r in edges.collect()}
    want = oracle.oracle_mentions_edges(
        oracle_state[0], _types(), BUILD_EXCLUDE_NAMES
    )
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    assert precision >= 0.95 and recall >= 0.95
    assert got == want  # exact at fixture scale


def test_cooccurrence_counts_match_oracle(spark, spark_terms, oracle_state):
    _, terms_df = spark_terms
    tdim = ground.type_dim(synth.gazetteer_df(spark))
    _nodes, edges = builders.build_cooccurrence(terms_df, tdim, salt=8)
    got = {(r.subj, r.pred, r.obj): r["count"] for r in edges.collect()}
    want = oracle.oracle_cooccurrence(
        oracle_state[0], _types(), BUILD_EXCLUDE_NAMES
    )
    assert got == want


def test_alert_nodes_timestamps(spark, spark_terms, oracle_state):
    from pyspark.sql import functions as F

    alerts_df, terms_df = spark_terms
    tdim = ground.type_dim(synth.gazetteer_df(spark))
    ob = synth.outbreaks_df(spark, N_DOCS)
    nodes, _ = builders.build_alert_nodes_and_mentions(
        terms_df, ob, tdim,
        alert_ids=alerts_df.select(F.col("archive_number").alias("doc_id")),
    )
    rows = {r.curie: r.timestamp for r in nodes.collect()}
    # every alert with terms gets a node; timestamp from outbreaks or ''
    import re

    clean = {}
    for r in synth.generate_corpus(N_DOCS)["outbreaks"]:
        an = re.sub('"', "", r["archiveNumber"])
        clean.setdefault(an, set()).add(r["datePublished"])
    for k in oracle_state[0]:
        assert f"promed:{k}" in rows
        ts = rows[f"promed:{k}"]
        if k in clean:
            assert ts in clean[k]
        else:
            assert ts == ""
