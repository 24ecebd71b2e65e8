"""Sentence-scoped cue triples: sentence placement of the extraction + NER
operator's mention groups, the four outbreak cue rules over them, and the
declarative oracle chain (tests/oracle/chain.py) they must equal."""

import pytest
from pyspark.sql import functions as F

from outbreak_kg_spark import triples
from outbreak_kg_spark.ground import make_extract_ner_udf, type_dim
from tests.oracle import chain


GAZ_ROWS = [
    ("MESH", "D01", "cholera", "cholera", "disease"),
    ("MESH", "D02", "measles", "measles", "disease"),
    ("MESH", "P01", "vibrio", "vibrio", "pathogen"),
    ("geonames", "G01", "nairobi", "nairobi", "geoloc"),
    ("geonames", "G02", "lagos", "lagos", "geoloc"),
]


@pytest.fixture(scope="module")
def gaz(spark):
    return spark.createDataFrame(
        GAZ_ROWS, ["ns", "id", "entry_name", "synonym", "node_type"])


@pytest.fixture(scope="module")
def udf(spark, gaz):
    return chain.make_annotate_udf(spark, gaz)


@pytest.fixture(scope="module")
def op(spark, gaz):
    return make_extract_ner_udf(spark, gaz, groups=True)


@pytest.fixture(scope="module")
def tdim(gaz):
    return type_dim(gaz)


def _sm(spark, udf, tdim, rows):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    return chain.sentence_mentions(docs, udf, tdim)


def _groups(spark, op, rows):
    """The operator's sentence groups of (doc_id, text) rows, exploded."""
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    return triples.explode_groups(
        docs.select("doc_id", op(F.col("text")).groups.alias("groups")))


def _group_rows(df):
    """Group rows -> (doc_id, sent_idx, sentence, curie, surfaces,
    node_type), the oracle's sentence-mention shape less the name."""
    return {(r["doc_id"], r["sent_idx"], r["sentence"], m["curie"],
             tuple(m["surfaces"]), m["node_type"])
            for r in df.collect() for m in r["ms"]}


def _pt(spark, op, rows):
    """Cue triples of (doc_id, text) rows through the operator's groups —
    the library path."""
    return triples.triples_from_sentence_groups(_groups(spark, op, rows))


def _triples(spark, op, udf, tdim, rows, boundary="."):
    """_pt, after checking it equal to the relational oracle over the same
    rows."""
    got = _pt(spark, op, rows)
    want = chain.pattern_triples(chain.sentence_mentions(
        spark.createDataFrame(rows, ["doc_id", "text"]), udf, tdim,
        boundary=boundary))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    return got


def test_sentence_assignment_by_offset(spark, op):
    text = "cholera here . now measles . and vibrio in nairobi"
    out = {(c, si) for _d, si, _s, c, _f, _t
           in _group_rows(_groups(spark, op, [(1, text)]))}
    assert out == {
        ("MESH:D01", 0),
        ("MESH:D02", 1),
        ("MESH:P01", 2),
        ("geonames:G01", 2),
    }


def test_sentence_text_matches_index(spark, op):
    text = "a cholera b . c measles d"
    got = {c: sent for _d, _si, sent, c, _f, _t
           in _group_rows(_groups(spark, op, [(1, text)]))}
    assert got["MESH:D01"] == "a cholera b "
    assert got["MESH:D02"] == " c measles d"


def test_located_in_requires_cue_and_same_sentence(spark, op, udf, tdim):
    rows = [
        (1, "cholera spreading in nairobi today"),          # cue present
        (2, "cholera spreading . meanwhile in nairobi"),    # cross-sentence
        (3, "cholera and nairobi mentioned with no cue"),   # no " in <geo>"
    ]
    out = _triples(spark, op, udf, tdim, rows)
    got = {(r["doc_id"], r["subj"], r["pred"], r["obj"])
           for r in out.filter("pred = 'located_in'").collect()}
    assert got == {(1, "MESH:D01", "located_in", "geonames:G01")}


def test_causes_directional_cue(spark, op, udf, tdim):
    rows = [
        (1, "vibrio causes cholera"),
        (2, "cholera causes vibrio"),   # wrong direction: disease causes pathogen
        (3, "vibrio and cholera"),      # no cue
    ]
    out = _triples(spark, op, udf, tdim, rows)
    got = {(r["doc_id"], r["subj"], r["obj"])
           for r in out.filter("pred = 'causes'").collect()}
    assert got == {(1, "MESH:P01", "MESH:D01")}


def test_case_count_and_occurred_on(spark, op, udf, tdim):
    rows = [
        (1, "saw 120 cases of cholera in nairobi on 2024-03-05 today"),
        (2, "no counts of measles here on some day"),
    ]
    out = _triples(spark, op, udf, tdim, rows)
    cc = {(r["doc_id"], r["subj"], r["obj"], r["n_cases"])
          for r in out.filter("pred = 'case_count_of'").collect()}
    oo = {(r["doc_id"], r["subj"], r["obj"])
          for r in out.filter("pred = 'occurred_on'").collect()}
    assert cc == {(1, "MESH:D01", "doc:1", 120)}
    assert oo == {(1, "MESH:D01", "2024-03-05")}
    # the located_in leg fires off the same sentence too
    li = {(r["subj"], r["obj"])
          for r in out.filter("pred = 'located_in'").collect()}
    assert li == {("MESH:D01", "geonames:G01")}


def test_n_cases_null_off_leg_and_distinct(spark, op, udf, tdim):
    # the same triple asserted in two sentences of one doc collapses to one
    rows = [(1, "vibrio causes cholera . again vibrio causes cholera")]
    out = _triples(spark, op, udf, tdim, rows).collect()
    assert len(out) == 1
    assert out[0]["pred"] == "causes" and out[0]["n_cases"] is None


def test_no_python_udf_below_pair_join(spark, op):
    # everything above the NER UDF is codegen: the cue rules and the
    # distinct add no Python eval, and the UDF runs once
    import re

    pt = _pt(spark, op, [(1, "vibrio causes cholera in nairobi")])
    plan = pt._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_synonym_surface_fires_cue(spark):
    # mention grounded through a SYNONYM: the sentence contains "ebola",
    # the entry name is "Ebolavirus Disease" — the cue must test the
    # matched surface, not the entry name, and case-fold
    gaz = spark.createDataFrame(
        [("MESH", "D03", "Ebolavirus Disease", "ebola", "disease"),
         ("MESH", "D03", "Ebolavirus Disease", "Ebolavirus Disease",
          "disease"),
         ("geonames", "G01", "Nairobi", "Nairobi", "geoloc")],
        ["ns", "id", "entry_name", "synonym", "node_type"])
    out = {(r["subj"], r["pred"], r["obj"])
           for r in _triples(spark, make_extract_ner_udf(spark, gaz, groups=True),
                             chain.make_annotate_udf(spark, gaz),
                             type_dim(gaz),
                             [(1, "an ebola outbreak in Nairobi today")])
           .collect()}
    assert ("MESH:D03", "located_in", "geonames:G01") in out


def test_mentions_to_sentences_matches_direct_path(spark, udf, tdim, gaz):
    # the production composition (materialized mentions joined back to
    # section texts) computes the same relation as the one-shot path on
    # single-section docs
    rows = [
        (1, "cholera spreading in nairobi . vibrio causes cholera"),
        (2, "saw 9 cases of measles in lagos on 2024-05-05 ."),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    direct = chain.sentence_mentions(docs, udf, tdim)

    sections = docs.select(
        "doc_id", F.lit(0).alias("section_idx"),
        F.lit("content").alias("field"), "text")
    m = chain.annotate_sections(sections, udf)
    composed = chain.mentions_to_sentences(m, sections, tdim)

    def norm(df, strip_section):
        out = set()
        for r in df.collect():
            si = r["sent_idx"]
            if strip_section:
                si = int(str(si).split("#")[-1])
            out.add((r["doc_id"], si, r["sentence"], r["curie"],
                     tuple(r["surfaces"]), r["node_type"]))
        return out

    assert norm(direct, False) == norm(composed, True)
    # and the triples agree end-to-end
    t_direct = {(r["doc_id"], r["subj"], r["pred"], r["obj"], r["n_cases"])
                for r in chain.pattern_triples(direct).collect()}
    t_comp = {(r["doc_id"], r["subj"], r["pred"], r["obj"], r["n_cases"])
              for r in chain.pattern_triples(composed).collect()}
    assert t_direct == t_comp and len(t_direct) >= 4


def test_grouped_plan_equals_relational(spark, udf, tdim):
    # same relation from the one-pass grouped plan and the join plan,
    # across all four rules incl. multi-sentence docs and negatives
    rows = [
        (1, "saw 120 cases of cholera in nairobi on 2024-03-05 today"),
        (2, "vibrio causes cholera . again vibrio causes cholera"),
        (3, "cholera spreading . meanwhile in nairobi"),
        (4, "measles and lagos with no cue . 7 cases of measles in lagos"),
        (5, "nothing relevant here"),
    ]
    sm = _sm(spark, udf, tdim, rows).persist()
    rel = {tuple(r) for r in chain.pattern_triples(sm).collect()}
    grp = {tuple(r) for r in chain.pattern_triples_grouped(sm).collect()}
    sm.unpersist()
    assert rel == grp and len(rel) >= 6


def test_grouped_plan_has_no_join(spark, op):
    pt = _pt(spark, op, [(1, "vibrio causes cholera in nairobi")])
    plan = pt._jdf.queryExecution().executedPlan().toString()
    # the operator types and groups mentions itself: no join anywhere
    # (the oracle's relational plan pays four plus a type-dim join)
    assert "Join" not in plan


def test_section_path_equals_join_path(spark, udf, tdim):
    # the fresh-annotation no-join composition computes the same relation
    # as annotate-then-join-back
    rows = [(1, "cholera spreading in nairobi . vibrio causes cholera"),
            (2, "saw 9 cases of measles in lagos on 2024-05-05 .")]
    sections = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id", F.lit(0).alias("section_idx"),
        F.lit("content").alias("field"), "text")
    direct = chain.section_sentence_mentions(sections, udf, tdim)
    joined = chain.mentions_to_sentences(
        chain.annotate_sections(sections, udf), sections, tdim)

    def rows_of(df):
        return {(r["doc_id"], r["sent_idx"], r["sentence"], r["curie"],
                 r["name"], tuple(r["surfaces"]), r["node_type"])
                for r in df.collect()}

    assert rows_of(direct) == rows_of(joined)


def test_grouped_plan_hot_sentence_bounded(spark, tdim):
    # pathological sentence: one sentence mentioning EVERY vocab entry,
    # many times — the grouped row stays one row, pair expansion is
    # |disease|x|geoloc| within it, and results stay exact
    n = 60
    gaz_rows = (
        [("MESH", f"D{i:03d}", f"dis{i}", f"dis{i}", "disease")
         for i in range(n)]
        + [("geonames", f"G{i:03d}", f"geo{i}", f"geo{i}", "geoloc")
           for i in range(n)])
    gaz = spark.createDataFrame(
        gaz_rows, ["ns", "id", "entry_name", "synonym", "node_type"])
    u = make_extract_ner_udf(spark, gaz, groups=True)
    # every disease co-sentential with every geoloc, cue " in geoK" for all
    text = " ".join(f"dis{i}" for i in range(n)) + " all seen in " + \
        " in ".join(f"geo{i}" for i in range(n))
    out = triples.triples_from_sentence_groups(
        _groups(spark, u, [(1, text)])).filter("pred = 'located_in'")
    # every geoloc except geo0 (no " in geo0" — it follows "in " only via
    # the joined separator) is cued; all diseases pair with each
    rows = out.collect()
    objs = {r["obj"] for r in rows}
    assert len(rows) == n * len(objs) and len(objs) in (n, n - 1)


def test_entry_runs_ner_once(spark):
    # the grouped entry plan needs no persist: exactly ONE Arrow NER eval
    import re
    from outbreak_kg_spark.entry_kg import q_kg_pattern_triples

    df = q_kg_pattern_triples(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1


def test_triple_refresh_matches_rebuild(spark, op, tmp_path):
    # crawl-refresh composition: apply a signed cue-triple delta onto the
    # at-rest edge table and land exactly where a full rebuild lands
    from outbreak_kg_spark.incremental import upsert_edges

    def triples_of(rows):
        return _pt(spark, op, rows)

    v1 = [
        (1, "12 cases of cholera in nairobi on 2024-01-01"),
        (2, "vibrio causes cholera . measles in lagos"),
        (3, "measles in lagos again"),
    ]
    # doc 2 changes (its triples differ), doc 3 vanishes, doc 4 is new
    v2 = [
        (1, "12 cases of cholera in nairobi on 2024-01-01"),
        (2, "cholera in lagos now"),
        (4, "vibrio causes cholera"),
    ]
    root = str(tmp_path / "triples_at_rest")
    upsert_edges(spark, root, triples.triples_to_edges(triples_of(v1)))

    old_slice = triples_of([r for r in v1 if r[0] in (2, 3)])
    new_slice = triples_of([r for r in v2 if r[0] in (2, 4)])
    upsert_edges(spark, root,
                 triples.pattern_triple_delta(old_slice, new_slice))

    refreshed = {(r.subj, r.pred, r.obj, r["count"])
                 for r in spark.read.parquet(root).collect()}
    rebuilt = {(r.subj, r.pred, r.obj, r["count"])
               for r in triples.triples_to_edges(triples_of(v2)).collect()}
    assert refreshed == rebuilt
    # the vanished doc-3-only edge is physically gone, not zero-count
    assert all(c > 0 for *_e, c in refreshed)


def test_multichar_boundary_class(spark, gaz, udf, tdim):
    # '.!?' boundary class: each punctuation splits; rules stay sentence-
    # scoped across all three
    text = "cholera here ! now in nairobi ? cholera in lagos . end"
    op = make_extract_ner_udf(spark, gaz, groups=True, boundary=".!?")
    idx = {(c, si) for _d, si, _s, c, _f, _t
           in _group_rows(_groups(spark, op, [(1, text)]))}
    assert idx == {("MESH:D01", 0), ("geonames:G01", 1),
                   ("MESH:D01", 2), ("geonames:G02", 2)}
    out = {(r["subj"], r["pred"], r["obj"])
           for r in _triples(spark, op, udf, tdim, [(1, text)],
                             boundary=".!?").collect()}
    assert out == {("MESH:D01", "located_in", "geonames:G02")}


def test_digitless_case_cue_asserts_nothing(spark, op, udf, tdim):
    # "no new cases of cholera" must NOT emit a case_count_of triple
    rows = [(1, "no new cases of cholera were reported"),
            (2, "exactly 0 cases of cholera were reported")]
    cc = {(r["doc_id"], r["n_cases"])
          for r in _triples(spark, op, udf, tdim, rows)
          .filter("pred = 'case_count_of'").collect()}
    assert cc == {(2, 0)}


def test_sentence_placement_fuzz_python_reference(spark, op, udf, tdim):
    # random texts with random boundary placement: the operator's groups
    # and the oracle's offset arithmetic (substr/length/element_at) must
    # both agree with a pure-Python recomputation from scan_text offsets
    import random

    from outbreak_kg_spark.ground import compile_gazetteer, scan_text

    trie = compile_gazetteer(
        [{"ns": ns, "id": i, "entry_name": en, "synonym": syn}
         for ns, i, en, syn, _t in GAZ_ROWS])
    types = {f"{ns}:{i}": t for ns, i, _en, _syn, t in GAZ_ROWS}
    vocab = ["cholera", "measles", "vibrio", "nairobi", "lagos",
             "and", "the", "x", ".", ". .", "!"]
    rng = random.Random(11)
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(0, 25))))
            for i in range(40)]

    def python_rows(doc_id, text):
        out = {}
        for surface, start, _end, ns, i, en in scan_text(text, trie):
            idx = text[:start].count(".")
            sent = text.split(".")[idx]
            key = (doc_id, idx, sent, f"{ns}:{i}", en)
            out.setdefault(key, set()).add(surface)
        return {k + (tuple(sorted(v)),) for k, v in out.items()}

    want = set()
    for d, t in rows:
        want |= python_rows(d, t)
    got = {
        (r["doc_id"], r["sent_idx"], r["sentence"], r["curie"], r["name"],
         tuple(r["surfaces"]))
        for r in chain.sentence_mentions(
            spark.createDataFrame(rows, ["doc_id", "text"]), udf, tdim
        ).collect()
    }
    assert got == want
    assert _group_rows(_groups(spark, op, rows)) == {
        (d, si, sent, c, surfs, types[c])
        for d, si, sent, c, _en, surfs in want}


def test_triple_provenance(spark, op):
    rows = [(i, "vibrio causes cholera") for i in range(1, 9)] + \
           [(9, "cholera in nairobi")]
    pt = _pt(spark, op, rows)
    got = {(r.subj, r.pred, r.obj): (r.n_docs, r.sample_docs)
           for r in triples.triple_provenance(pt, max_docs=5).collect()}
    causes = got[("MESH:P01", "causes", "MESH:D01")]
    assert causes == (8, [1, 2, 3, 4, 5])  # count exact, sample capped
    assert got[("MESH:D01", "located_in", "geonames:G01")] == (1, [9])


def test_fused_sentence_groups_equals_declarative(spark, op, udf, tdim):
    """The operator's groups field, one Arrow pass, equals the oracle's
    sentence mentions (offset arithmetic + grouping + type join) row for
    row, and the cue triples over it equal the grouped oracle plan, over
    all four rules, multi-sentence docs and negatives."""
    rows = [
        (1, "saw 120 cases of cholera in nairobi on 2024-03-05 today"),
        (2, "vibrio causes cholera . again vibrio causes cholera"),
        (3, "cholera spreading . meanwhile in nairobi"),
        (4, "measles and lagos with no cue . 7 cases of measles in lagos"),
        (5, "nothing relevant here"),
        (6, "9 cases of cholera . cholera in lagos on 2024-01-02 ."),
        (7, ""),
    ]
    sm = _sm(spark, udf, tdim, rows)
    assert _group_rows(_groups(spark, op, rows)) == {
        (r["doc_id"], r["sent_idx"], r["sentence"], r["curie"],
         tuple(r["surfaces"]), r["node_type"]) for r in sm.collect()}
    want = {tuple(r) for r in chain.pattern_triples_grouped(sm).collect()}
    got = {tuple(r) for r in triples.triples_from_sentence_groups(
        _groups(spark, op, rows)).collect()}
    assert got == want and len(want) >= 6
