"""Checkpoint/lineage/resume tests (SURVEY.md §5.6) + full build_kg E2E."""

import os

from pyspark.sql import functions as F

from outbreak_kg_spark import extract, ground, synth
from outbreak_kg_spark.lineage import read_lineage, run_stage, stage_done
from outbreak_kg_spark.pipeline import build_kg, symptom_closure
from outbreak_kg_spark.queries import query_graph
from tests.oracle import chain


def test_run_stage_skips_committed(spark, tmp_path):
    root = str(tmp_path)
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).select(F.col("id"))

    df1 = run_stage(spark, root, "s1", build)
    assert df1.count() == 10 and stage_done(root, "s1")
    df2 = run_stage(spark, root, "s1", build)  # resume: no rebuild
    assert df2.count() == 10
    assert len(calls) == 1
    lin = read_lineage(spark, root)
    rows = lin.filter("stage = 's1'").collect()
    assert sum(r.rows for r in rows) == 10
    assert all(r.bytes > 0 and r.wall_ms >= 0 for r in rows)


def test_run_stage_force_rebuilds(spark, tmp_path):
    root = str(tmp_path)
    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    run_stage(spark, root, "s2", build)
    run_stage(spark, root, "s2", build, force=True)
    assert len(calls) == 2


def test_build_kg_end_to_end_and_resume(spark, tmp_path):
    root = str(tmp_path / "kg")
    kw = dict(
        pages=synth.pages_df(spark, 80),
        gazetteer=synth.gazetteer_df(spark),
        vocab_isa=synth.vocab_isa_df(spark),
        outbreaks=synth.outbreaks_df(spark, 80),
        pathogen_rels=synth.pathogen_disease_rels_df(spark),
        xref=synth.xref_df(spark),
        phenotype_rels=synth.phenotype_rels_df(spark),
        indicators_dev=synth.indicator_wide_df(spark, "dev"),
        indicators_health=synth.indicator_wide_df(spark, "health"),
        geoname_terms=synth.geoname_terms_df(spark),
        geoname_partof=synth.geoname_partof_df(spark),
        geoname_grounding=synth.geoname_grounding_df(spark),
        location_map=synth.location_map_df(spark),
    )
    out = build_kg(spark, root, **kw)
    nodes, edges = out["nodes"], out["edges"]
    preds = {r.pred for r in edges.select("pred").distinct().collect()}
    assert {"mentions", "has_outbreak", "isa", "has_pathogen",
            "has_phenotype", "has_indicator", "occurs_with"} <= preds
    # edge integrity: both endpoints exist (finalize semantics)
    curies = {r.curie for r in nodes.collect()}
    for r in edges.collect():
        assert r.subj in curies and r.obj in curies
    # indicators carry native year maps
    ind = edges.filter("pred = 'has_indicator'").first()
    assert ind.years_data and all(len(k) == 4 for k in ind.years_data)
    # partitioned-by-pred layout on disk (partition pruning for queries)
    assert os.path.isdir(os.path.join(root, "edges", "pred=mentions"))

    # flagship query: alerts mentioning anything under Virus Diseases in
    # Western Africa
    res = query_graph(
        nodes, edges, out["closure"],
        disease_curie="MESH:D0101", geolocation_curie="MESH:D0302",
    )
    rows = res.collect()
    assert rows
    assert all(r.disease_isa == "MESH:D0101" for r in rows)

    # symptom constraint path (has_phenotype|isa*)
    sc = symptom_closure(edges)
    res2 = query_graph(nodes, edges, out["closure"], symptom_closure=sc,
                       symptom_curie="MESH:D0111")
    assert res2.count() > 0

    # resume: rerunning is a no-op (same outputs, one lineage run per stage)
    before = {(r.subj, r.pred, r.obj) for r in edges.collect()}
    out2 = build_kg(spark, root, **kw)
    after = {(r.subj, r.pred, r.obj) for r in out2["edges"].collect()}
    assert before == after
    lin = read_lineage(spark, root)
    n_runs = (
        lin.select("stage", "run_id").distinct()
        .groupBy("stage").count().collect()
    )
    assert all(r["count"] == 1 for r in n_runs)


def test_partial_failure_rebuilds_only_broken_stage(spark, tmp_path):
    """Simulated mid-pipeline crash: a stage directory without _SUCCESS
    (interrupted write) is rebuilt; committed stages are left untouched."""
    import os

    root = str(tmp_path)
    built = []

    def mk(name, n):
        def build():
            built.append(name)
            return spark.range(n)
        return build

    run_stage(spark, root, "a", mk("a", 5))
    run_stage(spark, root, "b", mk("b", 7))
    # crash simulation: b lost its commit marker
    os.remove(os.path.join(root, "b", "_SUCCESS"))
    built.clear()
    df_a = run_stage(spark, root, "a", mk("a", 5))
    df_b = run_stage(spark, root, "b", mk("b", 7))
    assert built == ["b"]  # only the broken stage re-ran
    assert df_a.count() == 5 and df_b.count() == 7


def _oracle_kg(spark, pages, gazetteer):
    """build_kg's terms and cue triples from the declarative chain."""
    alerts = extract.dedup_alerts(extract.extract_pages(pages))
    sections = chain.explode_section_texts(alerts)
    udf = chain.make_annotate_udf(spark, gazetteer)
    terms = chain.terms_by_alert(chain.annotate_sections(sections, udf))
    pt = chain.pattern_triples(chain.mentions_to_sentences(
        chain.annotate_sections(sections, udf), sections,
        ground.type_dim(gazetteer)))
    return _rows(terms), _rows(pt)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_kg_matches_oracle_chain(spark, tmp_path):
    """build_kg(cue_triples=True) — ONE Arrow pass in the extracted stage,
    no mentions stage — emits the terms, mention/co-occurrence edges and
    pattern triples of the declarative oracle chain, including the
    first-wins archive dedup: a duplicate page with a LATER warc_ts and
    different text must lose."""
    import datetime

    pages = synth.pages_df(spark, 50)
    first = pages.orderBy("url").first()
    intruder = spark.createDataFrame(
        [{
            "url": first.url + "/zzz-later-dup",
            "warc_ts": first.warc_ts + datetime.timedelta(days=3),
            "html": first.html,
            "text": first.text.replace(
                "-----------------------------------------",
                "-----------------------------------------\nPlague in Narnia",
                1,
            ),
            "lang": first.lang,
        }],
        pages.schema,
    )
    pages = pages.unionByName(intruder)
    gaz = synth.gazetteer_df(spark)
    root = str(tmp_path / "kg")
    out = build_kg(spark, root, pages=pages, gazetteer=gaz,
                   vocab_isa=synth.vocab_isa_df(spark),
                   outbreaks=synth.outbreaks_df(spark, 50), cue_triples=True)
    assert out["mentions"] is None
    assert not os.path.exists(os.path.join(root, "mentions"))

    want_terms, want_pt = _oracle_kg(spark, pages, gaz)
    assert _rows(out["terms"]) == want_terms and want_terms
    assert _rows(out["pattern_triples"]) == want_pt and want_pt

    # mention and co-occurrence edges from the oracle's terms
    from outbreak_kg_spark import builders

    tdim = ground.type_dim(gaz)
    oterms = spark.createDataFrame(
        want_terms, "doc_id string, ns string, id string, entry_name string")
    _n, me = builders.build_alert_nodes_and_mentions(
        oterms, synth.outbreaks_df(spark, 50), tdim)
    _n, co = builders.build_cooccurrence(oterms, tdim)
    want_edges = sorted(
        (r.subj, r.pred, r.obj, r["count"]) for r in
        me.select("subj", "pred", "obj", F.lit(None).cast("long")
                  .alias("count"))
        .unionByName(co.select("subj", "pred", "obj", "count")).collect())
    got_edges = sorted(
        (r.subj, r.pred, r.obj,
         r["count"] if r.pred == "occurs_with" else None)
        for r in out["edges"].filter(
            F.col("pred").isin("mentions", "occurs_with")).collect())
    assert got_edges == want_edges and want_edges


def test_bucketed_stages_join_without_scan_exchange(spark, tmp_path):
    """Round-2 verdict Next #4: the at-rest edges come back through the
    session catalog WITH their bucket spec — the recurring subj-keyed
    joins (co-mention self-join, query_graph constraint joins) read
    pre-distributed data, so no Exchange sits above the edges scans. Also
    covers the fresh-session resume: dropping the catalog entry (what a
    new session's empty in-memory metastore looks like) re-registers the
    external table over the committed files without a rewrite."""
    root = str(tmp_path / "kg")
    kw = dict(
        pages=synth.pages_df(spark, 60),
        gazetteer=synth.gazetteer_df(spark),
        vocab_isa=synth.vocab_isa_df(spark),
        outbreaks=synth.outbreaks_df(spark, 60),
    )
    out = build_kg(spark, root, **kw)
    edges = out["edges"]

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m = edges.filter("pred = 'mentions'").select("subj", "obj")
        self_join = m.join(m.withColumnRenamed("obj", "obj2"), "subj")
        plan = self_join._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert self_join.count() > 0

        # control: a plain parquet read of the same files loses the spec
        raw = spark.read.parquet(os.path.join(root, "edges")).filter(
            "pred = 'mentions'"
        ).select("subj", "obj")
        raw_plan = (
            raw.join(raw.withColumnRenamed("obj", "obj2"), "subj")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning" in raw_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # query_graph over the at-rest tables: the broadcast constraint joins
    # plus bucketed scans leave no exchange over the mentions legs — every
    # remaining exchange belongs to the final DISTINCT, not the joins
    res = query_graph(out["nodes"], edges, out["closure"],
                      disease_curie="MESH:D0101")
    qplan = res._jdf.queryExecution().executedPlan().toString()
    import re as _re

    joins = _re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                        qplan)
    assert joins and res.count() > 0

    # fresh-session resume: lose the catalog entry, read again through
    # run_stage — re-registered from the committed files, bucket spec back
    from outbreak_kg_spark.lineage import _stage_table_name

    tbl = _stage_table_name(root, "edges")
    assert spark.catalog.tableExists(tbl)
    spark.sql(f"DROP TABLE {tbl}")
    out2 = build_kg(spark, root, **kw)  # resume: no stage re-runs
    assert spark.catalog.tableExists(tbl)
    e2 = out2["edges"].filter("pred = 'mentions'").select("subj", "obj")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan2 = (
            e2.join(e2.withColumnRenamed("obj", "obj2"), "subj")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning" not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert {tuple(r) for r in e2.collect()} == \
        {tuple(r) for r in m.collect()}


def test_bucketed_resume_over_plain_parquet_files(spark, tmp_path):
    """A stage committed by a PRE-bucketing run (plain parquet, no bucket
    marker) must resume cleanly when the caller now requests bucket_by:
    registering CLUSTERED BY DDL over non-bucket-written files throws
    [INVALID_BUCKET_FILE] on scan (or silently drops join rows if the
    file-name bucket ids happen to parse) — the marker-gated reader falls
    back to a plain read instead."""
    from outbreak_kg_spark.lineage import _stage_table_name

    root = str(tmp_path / "kg")
    df = spark.range(100).withColumnRenamed("id", "subj")

    # round-2-style commit: plain parquet, no marker
    first = run_stage(spark, root, "edges", lambda: df)
    assert first.count() == 100
    tbl = _stage_table_name(root, "edges")
    assert not spark.catalog.tableExists(tbl)

    # round-3 caller requests bucketing on the already-committed stage
    resumed = run_stage(spark, root, "edges", lambda: df,
                        bucket_by=("subj", 4))
    assert resumed.count() == 100  # plain fallback, not INVALID_BUCKET_FILE
    assert not spark.catalog.tableExists(tbl)  # no bucket DDL was claimed

    # force-rebuild writes bucketed + marker; a caller with a DRIFTED
    # bucket count then gets the COMMITTED files' spec, not its request
    run_stage(spark, root, "edges", lambda: df, bucket_by=("subj", 4),
              force=True)
    spark.sql(f"DROP TABLE {tbl}")  # fresh-session metastore
    drifted = run_stage(spark, root, "edges", lambda: df,
                        bucket_by=("subj", 16))
    assert drifted.count() == 100
    desc = spark.sql(f"DESCRIBE FORMATTED {tbl}").collect()
    n_buckets = [r.data_type for r in desc if r.col_name == "Num Buckets"]
    assert n_buckets == ["4"]


def test_plain_force_rewrite_drops_stale_bucket_table(spark, tmp_path):
    """A bucketed run registers a stage table; a later plain-parquet
    force-rewrite of the same stage deletes the bucket marker but (before
    the fix) left the catalog entry, so a subsequent bucketed resume in
    the SAME session served CLUSTERED BY metadata over non-bucketed
    files. The plain branch must drop the stale table."""
    from outbreak_kg_spark.lineage import _stage_table_name

    root = str(tmp_path / "kg")
    df = spark.range(50).withColumnRenamed("id", "subj")
    tbl = _stage_table_name(root, "edges")

    run_stage(spark, root, "edges", lambda: df, bucket_by=("subj", 4))
    assert spark.catalog.tableExists(tbl)

    run_stage(spark, root, "edges", lambda: df, force=True)  # plain
    assert not spark.catalog.tableExists(tbl)

    # bucketed read over the now-plain files: marker is gone, falls back
    resumed = run_stage(spark, root, "edges", lambda: df,
                        bucket_by=("subj", 4))
    assert resumed.count() == 50


def test_bucketed_resume_partition_spec_from_marker(spark, tmp_path):
    """Resume trusts the at-rest partition spec, not the caller's: a
    stage committed WITHOUT partition_by must not be re-registered
    PARTITIONED BY in a fresh session (MSCK over files with no partition
    dirs resolves zero partitions -> silently empty table)."""
    from outbreak_kg_spark.lineage import _stage_table_name

    root = str(tmp_path / "kg")
    df = (spark.range(40).withColumnRenamed("id", "subj")
          .withColumn("pred", (F.col("subj") % 2).cast("string")))

    run_stage(spark, root, "edges", lambda: df, bucket_by=("subj", 4))
    tbl = _stage_table_name(root, "edges")
    spark.sql(f"DROP TABLE {tbl}")  # simulate fresh-session metastore

    # drifted caller now passes partition_by that the files don't have
    resumed = run_stage(spark, root, "edges", lambda: df,
                        partition_by=["pred"], bucket_by=("subj", 4))
    assert resumed.count() == 40  # not silently empty


def test_plain_partitioned_dynamic_overwrite_drops_stale_marker(spark, tmp_path):
    """Round-3 advice: under partitionOverwriteMode=dynamic a partitioned
    plain overwrite replaces only the touched partition dirs, so the
    top-level bucket marker from an earlier bucketed run would survive and
    a later bucketed resume would register CLUSTERED BY DDL over
    non-bucket-written files. The plain branch deletes the marker
    explicitly."""
    from outbreak_kg_spark.lineage import _BUCKET_MARKER, _read_bucket_marker

    root = str(tmp_path / "kg")
    df = (spark.range(40).withColumnRenamed("id", "subj")
          .withColumn("pred", (F.col("subj") % 2).cast("string")))

    run_stage(spark, root, "edges", lambda: df, bucket_by=("subj", 4))
    assert _read_bucket_marker(spark, f"{root}/edges") is not None

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        run_stage(spark, root, "edges", lambda: df, force=True,
                  partition_by=["pred"])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    assert _read_bucket_marker(spark, f"{root}/edges") is None

    resumed = run_stage(spark, root, "edges", lambda: df,
                        bucket_by=("subj", 4))
    assert resumed.count() == 40


def test_build_kg_cue_triples_stage_and_resume(spark, tmp_path):
    """cue_triples=True adds the pattern_triples stage: cue-gated
    sentence-level outbreak relations built from the sentence groups the
    extracted stage already carries (no second NER pass), checkpointed
    and resumable."""
    import datetime

    root = str(tmp_path / "kg")
    body = ("A cholera situation report\n"
            + "-" * 41 + "\n"
            "there were 12 cases of cholera in Guinea on 2024-02-02 . "
            "Vibrio cholerae causes cholera .\n--")
    header = ("Published Date: 2024-02-03 10:00:00 EDT\n"
              "Subject: PRO/AH/EDR> Cholera - Guinea (01): update\n"
              "Archive Number: 20240203.500001")
    pages = spark.createDataFrame(
        [{
            "url": "promed://20240203.500001/0",
            "warc_ts": datetime.datetime(2024, 2, 3),
            "html": b"",
            "text": f"{header}\n\n{body}",
            "lang": "en",
        }],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    kw = dict(
        pages=pages,
        gazetteer=synth.gazetteer_df(spark),
        vocab_isa=synth.vocab_isa_df(spark),
        outbreaks=synth.outbreaks_df(spark, 5),
        cue_triples=True,
    )
    out = build_kg(spark, root, **kw)
    got = {(r.subj, r.pred, r.obj, r.n_cases)
           for r in out["pattern_triples"].collect()}
    assert ("MESH:D0108", "located_in", "MESH:D0303", None) in got
    assert ("MESH:D0206", "causes", "MESH:D0108", None) in got
    assert ("MESH:D0108", "case_count_of", "doc:20240203.500001", 12) in got
    assert ("MESH:D0108", "occurred_on", "2024-02-02", None) in got
    assert stage_done(root, "pattern_triples")

    # resume: committed stage is read back, not recomputed
    out2 = build_kg(spark, root, **kw)
    got2 = {(r.subj, r.pred, r.obj, r.n_cases)
            for r in out2["pattern_triples"].collect()}
    assert got2 == got
    lin = read_lineage(spark, root)
    runs = (lin.filter("stage = 'pattern_triples'")
            .select("run_id").distinct().count())
    assert runs == 1

    # the same terms and triples as the declarative oracle chain
    want_terms, want_pt = _oracle_kg(spark, pages, kw["gazetteer"])
    assert _rows(out2["terms"]) == want_terms and want_terms
    assert _rows(out2["pattern_triples"]) == want_pt
