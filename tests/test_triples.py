"""triples.sentence_mentions / pattern_triples: sentence assignment from
char offsets, the four outbreak cue rules, and composition through the
real broadcast-trie annotator."""

import pytest
from pyspark.sql import functions as F

from outbreak_kg_spark import triples
from outbreak_kg_spark.ground import make_annotate_udf, type_dim


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
    return make_annotate_udf(spark, gaz)


@pytest.fixture(scope="module")
def tdim(gaz):
    return type_dim(gaz)


def _sm(spark, udf, tdim, rows):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    return triples.sentence_mentions(docs, udf, tdim)


def test_sentence_assignment_by_offset(spark, udf, tdim):
    text = "cholera here . now measles . and vibrio in nairobi"
    out = {
        (r["curie"], r["sent_idx"])
        for r in _sm(spark, udf, tdim, [(1, text)]).collect()
    }
    assert out == {
        ("MESH:D01", 0),
        ("MESH:D02", 1),
        ("MESH:P01", 2),
        ("geonames:G01", 2),
    }


def test_sentence_text_matches_index(spark, udf, tdim):
    text = "a cholera b . c measles d"
    got = {
        r["curie"]: r["sentence"]
        for r in _sm(spark, udf, tdim, [(1, text)]).collect()
    }
    assert got["MESH:D01"] == "a cholera b "
    assert got["MESH:D02"] == " c measles d"


def test_located_in_requires_cue_and_same_sentence(spark, udf, tdim):
    rows = [
        (1, "cholera spreading in nairobi today"),          # cue present
        (2, "cholera spreading . meanwhile in nairobi"),    # cross-sentence
        (3, "cholera and nairobi mentioned with no cue"),   # no " in <geo>"
    ]
    out = triples.pattern_triples(_sm(spark, udf, tdim, rows))
    got = {(r["doc_id"], r["subj"], r["pred"], r["obj"])
           for r in out.filter("pred = 'located_in'").collect()}
    assert got == {(1, "MESH:D01", "located_in", "geonames:G01")}


def test_causes_directional_cue(spark, udf, tdim):
    rows = [
        (1, "vibrio causes cholera"),
        (2, "cholera causes vibrio"),   # wrong direction: disease causes pathogen
        (3, "vibrio and cholera"),      # no cue
    ]
    out = triples.pattern_triples(_sm(spark, udf, tdim, rows))
    got = {(r["doc_id"], r["subj"], r["obj"])
           for r in out.filter("pred = 'causes'").collect()}
    assert got == {(1, "MESH:P01", "MESH:D01")}


def test_case_count_and_occurred_on(spark, udf, tdim):
    rows = [
        (1, "saw 120 cases of cholera in nairobi on 2024-03-05 today"),
        (2, "no counts of measles here on some day"),
    ]
    out = triples.pattern_triples(_sm(spark, udf, tdim, rows))
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


def test_n_cases_null_off_leg_and_distinct(spark, udf, tdim):
    # the same triple asserted in two sentences of one doc collapses to one
    rows = [(1, "vibrio causes cholera . again vibrio causes cholera")]
    out = triples.pattern_triples(_sm(spark, udf, tdim, rows)).collect()
    assert len(out) == 1
    assert out[0]["pred"] == "causes" and out[0]["n_cases"] is None


def test_no_python_udf_below_pair_join(spark, udf, tdim):
    # everything above the NER explode is codegen: the pair join, cue
    # filters, and distinct must not add Python evals
    sm = _sm(spark, udf, tdim, [(1, "vibrio causes cholera in nairobi")])
    plan = triples.pattern_triples(sm)._jdf.queryExecution().executedPlan().toString()
    # exactly the NER UDF evals (one per union leg re-read), nothing else
    import re
    ops = re.findall(r"(\w*PythonUDF|ArrowEval\w*|BatchEval\w*)", plan)
    assert all("Arrow" in o or "PythonUDF" in o for o in ops)
    assert "FlatMapGroupsInPandas" not in plan


def test_synonym_surface_fires_cue(spark, tdim):
    # mention grounded through a SYNONYM: the sentence contains "ebola",
    # the entry name is "Ebolavirus Disease" — the cue must test the
    # matched surface, not the entry name, and case-fold
    gaz = spark.createDataFrame(
        [("MESH", "D03", "Ebolavirus Disease", "ebola", "disease"),
         ("MESH", "D03", "Ebolavirus Disease", "Ebolavirus Disease",
          "disease"),
         ("geonames", "G01", "Nairobi", "Nairobi", "geoloc")],
        ["ns", "id", "entry_name", "synonym", "node_type"])
    from outbreak_kg_spark.ground import make_annotate_udf, type_dim as td
    u = make_annotate_udf(spark, gaz)
    docs = spark.createDataFrame(
        [(1, "an ebola outbreak in Nairobi today")], ["doc_id", "text"])
    sm = triples.sentence_mentions(docs, u, td(gaz))
    out = {(r["subj"], r["pred"], r["obj"])
           for r in triples.pattern_triples(sm).collect()}
    assert ("MESH:D03", "located_in", "geonames:G01") in out


def test_mentions_to_sentences_matches_direct_path(spark, udf, tdim, gaz):
    # the production composition (materialized mentions joined back to
    # section texts) computes the same relation as the one-shot path on
    # single-section docs
    from outbreak_kg_spark.ground import annotate_sections

    rows = [
        (1, "cholera spreading in nairobi . vibrio causes cholera"),
        (2, "saw 9 cases of measles in lagos on 2024-05-05 ."),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    direct = triples.sentence_mentions(docs, udf, tdim)

    sections = docs.select(
        "doc_id", F.lit(0).alias("section_idx"),
        F.lit("content").alias("field"), "text")
    m = annotate_sections(sections, udf)
    composed = triples.mentions_to_sentences(m, sections, tdim)

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
                for r in triples.pattern_triples(direct).collect()}
    t_comp = {(r["doc_id"], r["subj"], r["pred"], r["obj"], r["n_cases"])
              for r in triples.pattern_triples(composed).collect()}
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
    rel = {tuple(r) for r in triples.pattern_triples(sm).collect()}
    grp = {tuple(r) for r in triples.pattern_triples_grouped(sm).collect()}
    sm.unpersist()
    assert rel == grp and len(rel) >= 6


def test_grouped_plan_has_no_join(spark, udf, tdim):
    sm = _sm(spark, udf, tdim, [(1, "vibrio causes cholera in nairobi")])
    plan = triples.pattern_triples_grouped(sm)._jdf.queryExecution() \
        .executedPlan().toString()
    # the only join anywhere is sentence_mentions' broadcast type-dim;
    # the rule layer itself adds none (vs the relational plan's four)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_section_path_equals_join_path(spark, udf, tdim):
    # the fresh-annotation no-join composition computes the same relation
    # as annotate-then-join-back
    from outbreak_kg_spark.ground import annotate_sections

    rows = [(1, "cholera spreading in nairobi . vibrio causes cholera"),
            (2, "saw 9 cases of measles in lagos on 2024-05-05 .")]
    sections = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id", F.lit(0).alias("section_idx"),
        F.lit("content").alias("field"), "text")
    direct = triples.section_sentence_mentions(sections, udf, tdim)
    joined = triples.mentions_to_sentences(
        annotate_sections(sections, udf), sections, tdim)

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
    from outbreak_kg_spark.ground import make_annotate_udf, type_dim as td
    u = make_annotate_udf(spark, gaz)
    # every disease co-sentential with every geoloc, cue " in geoK" for all
    text = " ".join(f"dis{i}" for i in range(n)) + " all seen in " + \
        " in ".join(f"geo{i}" for i in range(n))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    sm = triples.sentence_mentions(docs, u, td(gaz))
    out = triples.pattern_triples_grouped(sm).filter("pred = 'located_in'")
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


def test_triple_refresh_matches_rebuild(spark, udf, tdim, tmp_path):
    # crawl-refresh composition: apply a signed cue-triple delta onto the
    # at-rest edge table and land exactly where a full rebuild lands
    from outbreak_kg_spark.incremental import upsert_edges

    def triples_of(rows):
        return triples.pattern_triples_grouped(_sm(spark, udf, tdim, rows))

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


def test_multichar_boundary_class(spark, udf, tdim):
    # '.!?' boundary class: each punctuation splits; rules stay sentence-
    # scoped across all three
    text = "cholera here ! now in nairobi ? cholera in lagos . end"
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    sm = triples.sentence_mentions(docs, udf, tdim, boundary=".!?")
    idx = {(r["curie"], r["sent_idx"]) for r in sm.collect()}
    assert idx == {("MESH:D01", 0), ("geonames:G01", 1),
                   ("MESH:D01", 2), ("geonames:G02", 2)}
    out = {(r["subj"], r["pred"], r["obj"])
           for r in triples.pattern_triples_grouped(sm).collect()}
    assert out == {("MESH:D01", "located_in", "geonames:G02")}


def test_digitless_case_cue_asserts_nothing(spark, udf, tdim):
    # "no new cases of cholera" must NOT emit a case_count_of triple
    rows = [(1, "no new cases of cholera were reported"),
            (2, "exactly 0 cases of cholera were reported")]
    sm = _sm(spark, udf, tdim, rows).persist()
    for plan in (triples.pattern_triples, triples.pattern_triples_grouped):
        cc = {(r["doc_id"], r["n_cases"])
              for r in plan(sm).filter("pred = 'case_count_of'").collect()}
        assert cc == {(2, 0)}, plan.__name__
    sm.unpersist()


def test_sentence_placement_fuzz_python_reference(spark, udf, tdim):
    # random texts with random boundary placement: Spark's offset
    # arithmetic (substr/length/element_at) must agree with a pure-Python
    # recomputation from the same scan_text offsets
    import random

    from outbreak_kg_spark.ground import compile_gazetteer, scan_text

    trie = compile_gazetteer(
        [{"ns": ns, "id": i, "entry_name": en, "synonym": syn}
         for ns, i, en, syn, _t in GAZ_ROWS])
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
        for r in triples.sentence_mentions(
            spark.createDataFrame(rows, ["doc_id", "text"]), udf, tdim
        ).collect()
    }
    assert got == want


def test_triple_provenance(spark, udf, tdim):
    rows = [(i, "vibrio causes cholera") for i in range(1, 9)] + \
           [(9, "cholera in nairobi")]
    pt = triples.pattern_triples_grouped(_sm(spark, udf, tdim, rows))
    got = {(r.subj, r.pred, r.obj): (r.n_docs, r.sample_docs)
           for r in triples.triple_provenance(pt, max_docs=5).collect()}
    causes = got[("MESH:P01", "causes", "MESH:D01")]
    assert causes == (8, [1, 2, 3, 4, 5])  # count exact, sample capped
    assert got[("MESH:D01", "located_in", "geonames:G01")] == (1, [9])


def test_fused_sentence_groups_equals_declarative(spark, udf, tdim, gaz):
    """r6 fused path: make_sentence_groups_udf + triples_from_sentence_groups
    computes the SAME triple relation as sentence_mentions ->
    pattern_triples_grouped, over all four rules, multi-sentence docs,
    synonym surfaces and negatives."""
    rows = [
        (1, "saw 120 cases of cholera in nairobi on 2024-03-05 today"),
        (2, "vibrio causes cholera . again vibrio causes cholera"),
        (3, "cholera spreading . meanwhile in nairobi"),
        (4, "measles and lagos with no cue . 7 cases of measles in lagos"),
        (5, "nothing relevant here"),
        (6, "9 cases of cholera . cholera in lagos on 2024-01-02 ."),
        (7, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sm = triples.sentence_mentions(docs, udf, tdim)
    want = {tuple(r) for r in triples.pattern_triples_grouped(sm).collect()}
    tmap = {f"{ns}:{i}": ty for ns, i, _e, _s, ty in
            [(r[0], r[1], r[2], r[3], r[4]) for r in
             gaz.select("ns", "id", "entry_name", "synonym",
                        "node_type").collect()]}
    gudf = triples.make_sentence_groups_udf(spark, gaz, tmap)
    got = {tuple(r) for r in triples.triples_from_sentence_groups(
        triples.sentence_mention_groups(docs, gudf)).collect()}
    assert got == want and len(want) >= 6
