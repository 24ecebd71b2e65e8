"""ground.make_extract_ner_udf, field by field: each output field of the
one extraction + NER operator against an independent reference — the
driver-side textproc/scan functions or the declarative oracle chain
(tests/oracle/chain.py)."""

import pytest
from pyspark.sql import functions as F

from outbreak_kg_spark import extract, ground, synth
from outbreak_kg_spark.ground import NER_EXCLUDE_TOKENS, make_extract_ner_udf
from outbreak_kg_spark.textproc import extract_alert
from tests.oracle import chain


@pytest.fixture(scope="module")
def gaz(spark):
    return synth.gazetteer_df(spark)


@pytest.fixture(scope="module")
def pages(spark):
    p = synth.pages_df(spark, 40)
    odd = spark.createDataFrame(
        [("bad://1", None, None, "no header here", "en"),
         ("bad://2", None, None, None, "en")], p.schema)
    return p.unionByName(odd).cache()


def _valid(x):
    return x.filter("valid")


def test_page_fields_match_extract_alert(spark, pages):
    want = {}
    for r in pages.select("url", "text").collect():
        ex = extract_alert(r.text or "")
        ts = ex["published_ts"]
        want[r.url] = (
            ex["archive_number"], ex["subject"],
            ts.strftime("%Y-%m-%d %H:%M:%S") if ts else None,
            [(s["title"], s["content"]) for s in ex["sections"]],
            ex["extracted_text"], ex["valid"])
    prev = spark.conf.get("spark.sql.session.timeZone")
    # published_ts keeps the header's wall-clock time in any session zone
    for tz in ("UTC", "America/New_York"):
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            got = {
                r.url: (r.archive_number, r.subject, r.ts,
                        [tuple(s) for s in r.sections], r.extracted_text,
                        r.valid)
                for r in extract.extract_pages(pages).select(
                    "url", "archive_number", "subject",
                    F.date_format("published_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("ts"),
                    "sections", "extracted_text", "valid").collect()}
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)
        assert got == want, tz
    assert sum(v[-1] for v in want.values()) >= 30
    assert not want["bad://1"][-1] and not want["bad://2"][-1]


def test_terms_field_matches_oracle(spark, pages, gaz):
    udf = make_extract_ner_udf(spark, gaz, pages=True, terms=True,
                               exclude_tokens=NER_EXCLUDE_TOKENS)
    alerts = extract.dedup_alerts(extract.extract_pages(pages, udf))
    got = sorted(
        (r.archive_number, *t) for r in alerts.collect() for t in r.terms)
    want = sorted(tuple(r) for r in chain.terms_by_alert(
        chain.annotate_sections(chain.explode_section_texts(alerts),
                                chain.make_annotate_udf(spark, gaz)),
    ).collect())
    assert got == want and want

    # text mode, no exclusion: the distinct-set scan of each text
    trie = ground.compile_gazetteer(ground._gaz_rows(gaz))
    texts = [r.extracted_text for r in alerts.collect()][:20] + [None, ""]
    docs = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    tudf = make_extract_ner_udf(spark, gaz, terms=True)
    got = {r.i: [tuple(t) for t in r.terms] for r in docs.select(
        "i", tudf(F.col("text")).terms.alias("terms")).collect()}
    for i, t in enumerate(texts):
        scan = {(ns, id_, en) for _s, _a, _b, ns, id_, en
                in ground.scan_text(t, trie)} if t else set()
        assert got[i] == sorted(scan)


def _mention_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mentions_field_matches_oracle(spark, pages, gaz):
    udf = make_extract_ner_udf(spark, gaz, pages=True, offsets=True)
    ex = _valid(extract.extract_pages(pages, udf))
    got = _mention_rows(ex.select(
        F.col("archive_number").alias("doc_id"),
        F.explode("mentions").alias("m")).select("doc_id", "m.*"))
    want = _mention_rows(chain.annotate_sections(
        chain.explode_section_texts(ex), chain.make_annotate_udf(spark, gaz)))
    assert got == want and want

    # text mode: offsets into the text itself, no section coordinates
    docs = ex.select(F.col("extracted_text").alias("text")).limit(10)
    tudf = make_extract_ner_udf(spark, gaz, offsets=True)
    trie = ground.compile_gazetteer(ground._gaz_rows(gaz))
    for r in docs.select("text", tudf(F.col("text")).mentions.alias("m")) \
            .collect():
        assert [tuple(m) for m in r.m] == ground.scan_text(r.text, trie)


def test_groups_field_matches_oracle(spark, pages, gaz):
    udf = make_extract_ner_udf(spark, gaz, pages=True, groups=True)
    ex = _valid(extract.extract_pages(pages, udf))
    got = {
        (r.archive_number, f"{g.section_idx}#{g.field}#{g.sent_idx}",
         g.sentence, m.curie, tuple(m.surfaces), m.node_type)
        for r in ex.collect() for g in r.groups for m in g.ms}
    want = {
        (r.doc_id, r.sent_idx, r.sentence, r.curie, tuple(r.surfaces),
         r.node_type)
        for r in chain.section_sentence_mentions(
            chain.explode_section_texts(ex),
            chain.make_annotate_udf(spark, gaz), ground.type_dim(gaz),
        ).collect()}
    assert got == want and want


def test_struct_carries_only_requested_fields(spark, gaz):
    def names(**kw):
        udf = make_extract_ner_udf(spark, gaz, **kw)
        return spark.range(1).select(
            udf(F.lit("x")).alias("x")).schema["x"].dataType.names

    page = ["archive_number", "subject", "published_ts", "sections",
            "extracted_text", "valid"]
    assert names(pages=True) == page
    assert names(terms=True) == ["terms"]
    assert names(pages=True, terms=True, offsets=True, groups=True) == \
        page + ["terms", "mentions", "groups"]
    with pytest.raises(ValueError):
        make_extract_ner_udf(spark, gaz)
    with pytest.raises(ValueError):
        make_extract_ner_udf(spark, None, terms=True)
    with pytest.raises(ValueError):
        make_extract_ner_udf(spark, gaz.drop("node_type"), groups=True)
