"""Structured Streaming tests: file-source pages stream -> mentions, with
availableNow triggers and restart idempotence of the foreachBatch sink."""

import pytest
from pyspark.sql import functions as F

from outbreak_kg_spark import ground, streaming, synth
from tests.oracle import chain


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    pages = synth.pages_df(spark, 60)
    # two separate drops to get multiple micro-batches
    pages.filter(F.col("url").substr(-1, 1).isin("0", "2", "4", "6", "8")) \
        .coalesce(1).write.mode("overwrite").parquet(str(root / "in" / "d1"))
    pages.filter(~F.col("url").substr(-1, 1).isin("0", "2", "4", "6", "8")) \
        .coalesce(1).write.mode("append").parquet(str(root / "in" / "d1"))
    return root, pages


def test_streaming_mentions_match_batch(spark, staged):
    root, pages = staged
    gaz = synth.gazetteer_df(spark)
    stream = streaming.read_pages_stream(spark, str(root / "in" / "d1"),
                                         max_files_per_trigger=1)
    mstream = streaming.streaming_mentions(stream, gaz)
    q = streaming.start_kg_append(
        mstream, str(root / "out"), str(root / "ckpt")
    )
    q.awaitTermination(120)
    got = {
        (r.subj, r.obj)
        for r in spark.read.parquet(str(root / "out")).collect()
    }
    # batch reference: the declarative oracle chain over the same pages
    from outbreak_kg_spark import extract

    alerts = extract.dedup_alerts(
        extract.extract_pages(spark.read.parquet(str(root / "in" / "d1")))
    )
    m = chain.annotate_sections(chain.explode_section_texts(alerts),
                                chain.make_annotate_udf(spark, gaz))
    want = {
        (f"promed:{r.doc_id}", f"{r.ns}:{r.id}")
        for r in m.collect()
    }
    assert got == want


def test_streaming_restart_is_idempotent(spark, staged):
    root, _ = staged
    gaz = synth.gazetteer_df(spark)
    before = spark.read.parquet(str(root / "out")).count()
    # restart with the same checkpoint: no new input -> no duplicate output
    stream = streaming.read_pages_stream(spark, str(root / "in" / "d1"))
    q = streaming.start_kg_append(
        streaming.streaming_mentions(stream, gaz),
        str(root / "out"), str(root / "ckpt"),
    )
    q.awaitTermination(120)
    after = spark.read.parquet(str(root / "out")).count()
    assert after == before


def test_streaming_crash_replay_is_exactly_once(spark, staged):
    """The advisor's failure mode: a crash BETWEEN the parquet write and the
    checkpoint commit makes Structured Streaming replay the batch. Simulated
    by deleting the commit marker for batch 0 (offsets remain) — the replayed
    batch must overwrite its batch_id directory, not append duplicates."""
    import time
    from pathlib import Path

    root, _ = staged
    # drain any still-active availableNow query from the prior tests — two
    # queries may not share one checkpoint
    deadline = time.time() + 60
    while spark.streams.active and time.time() < deadline:
        time.sleep(0.5)
    assert not spark.streams.active
    gaz = synth.gazetteer_df(spark)
    before = spark.read.parquet(str(root / "out")).count()
    # truncate the checkpoint so the newest DATA batch has its offsets entry
    # but no commit marker — exactly the crash window. Replay must then
    # rewrite that batch's directory. (Verified against the old append sink:
    # same scenario duplicates the batch's part files and rows.)
    offsets = sorted(Path(root / "ckpt" / "offsets").glob("[0-9]*"),
                     key=lambda p: int(p.name))
    commits = sorted(Path(root / "ckpt" / "commits").glob("[0-9]*"),
                     key=lambda p: int(p.name))
    assert len(commits) >= 2, "expected committed batches from the prior run"
    keep = int(commits[0].name)  # keep only the first commit
    for p in commits + offsets:
        if int(p.name) > keep and (p in commits or int(p.name) > keep + 1):
            crc = p.parent / f".{p.name}.crc"
            p.unlink()
            if crc.exists():
                crc.unlink()
    stream = streaming.read_pages_stream(spark, str(root / "in" / "d1"))
    q = streaming.start_kg_append(
        streaming.streaming_mentions(stream, gaz),
        str(root / "out"), str(root / "ckpt"),
    )
    q.awaitTermination(120)
    after = spark.read.parquet(str(root / "out")).count()
    assert after == before  # replay replaced, did not duplicate


def test_mention_rate_window(spark, staged):
    root, _ = staged
    stream = streaming.read_pages_stream(spark, str(root / "in" / "d1"))
    rate = streaming.mention_rate(stream, synth.gazetteer_df(spark),
                                  window="1 hour")
    q = (
        rate.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(root / "rate"))
        .option("checkpointLocation", str(root / "rate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; with a bounded
    # file source the final watermark closes all but the last window(s) —
    # just assert schema + non-negative counts and window alignment
    rows = spark.read.parquet(str(root / "rate")).collect()
    for r in rows:
        assert r.mentions > 0 and r.window_end > r.window_start


def test_entity_episodes_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: two bursts of mentions of the
    same entity separated by > gap become two episodes; the first closes
    once the watermark passes."""
    import datetime

    base = datetime.datetime(2020, 1, 1)
    rows = []
    # burst 1: days 0-2 (5 mentions)
    for i in range(5):
        rows.append({"curie": "MESH:D0103",
                     "warc_ts": base + datetime.timedelta(hours=10 * i),
                     "doc_id": f"a{i}"})
    # burst 2: days 30-31
    for i in range(3):
        rows.append({"curie": "MESH:D0103",
                     "warc_ts": base + datetime.timedelta(days=30, hours=6 * i),
                     "doc_id": f"b{i}"})
    # a far-future row of another entity drives the watermark forward so
    # burst 1's timeout fires
    rows.append({"curie": "MESH:D9999",
                 "warc_ts": base + datetime.timedelta(days=365),
                 "doc_id": "z"})
    src = str(tmp_path / "in")
    # two drops so the watermark advances between micro-batches
    spark.createDataFrame(rows[:5]).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows[5:]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("curie string, warc_ts timestamp, doc_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    episodes = __import__("outbreak_kg_spark.streaming",
                          fromlist=["streaming"]).entity_episodes(
        stream, gap="7 days", watermark="1 hour"
    )
    q = (
        episodes.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out")).collect()
    eps = {(r.curie, r.n_mentions, r.n_docs) for r in got}
    # burst 1 must have closed as one episode with 5 mentions / 5 docs
    assert ("MESH:D0103", 5, 5) in eps


def test_entity_episodes_late_data(spark, tmp_path):
    """A late-but-within-watermark mention must extend the EARLIER run it
    belongs to, not be swallowed into the newest run; episodes close only
    when the watermark passes end + gap. (Pre-rewrite behavior emitted all
    but the latest run immediately and merged any earlier-timestamped late
    row into the live run via a negative gap difference.)"""
    import datetime

    base = datetime.datetime(2020, 1, 1)
    d = datetime.timedelta
    b1 = [
        {"curie": "MESH:D1", "warc_ts": base, "doc_id": "a0"},
        {"curie": "MESH:D1", "warc_ts": base + d(days=20), "doc_id": "c0"},
    ]
    # batch 2: day 5 arrives LATE (after day 20 was seen) but inside the
    # generous watermark — it belongs to the day-0 episode (0->5 <= 7d gap),
    # NOT to the day-20 one (5->20 > 7d). A watermark-driver row closes both.
    b2 = [
        {"curie": "MESH:D1", "warc_ts": base + d(days=5), "doc_id": "a1"},
        {"curie": "MESH:D9", "warc_ts": base + d(days=365), "doc_id": "z"},
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("curie string, warc_ts timestamp, doc_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    episodes = streaming.entity_episodes(
        stream, gap="7 days", watermark="30 days"
    )
    q = (
        episodes.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out")).collect()
    eps = {
        (r.curie, r.episode_start, r.episode_end, r.n_mentions, r.n_docs)
        for r in got
    }
    assert ("MESH:D1", base, base + d(days=5), 2, 2) in eps
    assert ("MESH:D1", base + d(days=20), base + d(days=20), 1, 1) in eps


def test_entity_episodes_state_cap(spark, tmp_path):
    """Flood one entity past max_tracked_docs and observe the cap from the
    OUTSIDE: occurrences of an id that fell beyond the tracked set count
    as overflow (no dedup), occurrences of a tracked id still dedup — so
    the emitted n_docs proves the distinct-set stopped growing at the cap
    (an unbounded-state implementation would dedup everything and report
    the exact distinct count)."""
    import datetime

    base = datetime.datetime(2020, 1, 1)
    d = datetime.timedelta
    rows = []
    # 200 distinct docs, chronological -> tracked set = first 50 (d000..d049)
    for i in range(200):
        rows.append({"curie": "MESH:HOT", "warc_ts": base + d(minutes=i),
                     "doc_id": f"d{i:03d}"})
    # duplicate of a TRACKED doc: dedups, adds nothing
    rows.append({"curie": "MESH:HOT", "warc_ts": base + d(minutes=200),
                 "doc_id": "d000"})
    # two duplicates of an UNTRACKED doc: each counts as overflow
    for j in range(2):
        rows.append({"curie": "MESH:HOT",
                     "warc_ts": base + d(minutes=201 + j),
                     "doc_id": "d100"})
    # watermark driver on another key
    late = [{"curie": "MESH:D9999", "warc_ts": base + d(days=365),
             "doc_id": "z"}]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(late).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("curie string, warc_ts timestamp, doc_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    episodes = streaming.entity_episodes(
        stream, gap="7 days", watermark="1 hour", max_tracked_docs=50
    )
    q = (
        episodes.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.curie, r.n_mentions, r.n_docs)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    # 203 mentions; n_docs = 50 tracked + 150 untracked-first-occurrences
    # + 2 untracked repeats = 202 (exact distinct is 200; the +2 is the
    # documented upper-bound degradation that PROVES the cap held)
    assert ("MESH:HOT", 203, 202) in got


def test_streaming_triples_compact_to_batch_parity(spark, tmp_path):
    """pages stream -> per-batch cue-triple deltas -> snapshot compaction
    == the batch pipeline's triples_to_edges over the same pages."""
    from outbreak_kg_spark import extract, triples
    from outbreak_kg_spark.incremental import (
        compact_edge_deltas,
        read_current_edges,
    )

    # ProMED-format pages with cue sentences (cholera/Guinea/Vibrio from
    # the synth vocab); two drops -> multiple micro-batches
    import datetime

    def page(i, body_sentence):
        header = (f"Published Date: 2024-02-0{i % 9 + 1} 10:00:00 EDT\n"
                  f"Subject: PRO/AH/EDR> Cholera update ({i:02d})\n"
                  f"Archive Number: 2024020{i % 9 + 1}.60000{i}")
        body = ("A cholera situation report\n" + "-" * 41 + "\n"
                + body_sentence + "\n--")
        return {
            "url": f"promed://2024020{i % 9 + 1}.60000{i}/{i}",
            "warc_ts": datetime.datetime(2024, 2, 1 + i % 9),
            "html": b"",
            "text": f"{header}\n\n{body}",
            "lang": "en",
        }

    rows = [
        page(0, "there were 12 cases of cholera in Guinea on 2024-02-02 ."),
        page(1, "Vibrio cholerae causes cholera in Guinea ."),
        page(2, "measles in Bulgaria . 4 cases of measles in Bulgaria"),
        page(3, "anthrax in Vietnam on 2024-02-05 ."),
    ]
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    pages = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    pages.filter("url like '%/0' or url like '%/1'").coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)
    pages.filter("url like '%/2' or url like '%/3'").coalesce(1) \
        .write.mode("append").parquet(in_dir)

    gaz = synth.gazetteer_df(spark)
    stream = streaming.read_pages_stream(spark, in_dir,
                                         max_files_per_trigger=1)
    delta_dir = str(tmp_path / "deltas")
    q = streaming.start_triple_deltas(
        stream, delta_dir, str(tmp_path / "ckpt"), gaz)
    q.awaitTermination(120)

    base = str(tmp_path / "at_rest")
    info = compact_edge_deltas(spark, delta_dir, base)
    assert info["n_batches"] >= 1
    got = {(r.subj, r.pred, r.obj, r["count"])
           for r in read_current_edges(spark, base)
           .select("subj", "pred", "obj", "count").collect()}

    # batch reference: the declarative oracle chain over the same pages
    alerts = extract.dedup_alerts(
        extract.extract_pages(spark.read.parquet(in_dir)))
    sm = chain.section_sentence_mentions(
        chain.explode_section_texts(alerts),
        chain.make_annotate_udf(spark, gaz), ground.type_dim(gaz))
    want = {(r.subj, r.pred, r.obj, r["count"])
            for r in triples.triples_to_edges(
                chain.pattern_triples(sm)).collect()}
    assert got == want and len(want) >= 5
    # re-compaction with no new batches is a no-op at the same version
    info2 = compact_edge_deltas(spark, delta_dir, base)
    assert info2["n_batches"] == 0 and info2["version"] == info["version"]


def test_batch_episodes_agrees_with_streaming_fixture(spark):
    """batch_episodes is the relational twin of entity_episodes: on the
    exact fixture test_entity_episodes_stateful streams, the batch build
    must produce burst 1 as the SAME closed episode the stateful operator
    emits — (5 mentions, 5 docs, start day 0, end day 0+40h) — plus the
    episodes the stream still holds open (burst 2 and the watermark
    driver), since batch recomputation sees the whole log."""
    import datetime

    from outbreak_kg_spark.streaming import batch_episodes

    base = datetime.datetime(2020, 1, 1)
    rows = []
    for i in range(5):
        rows.append({"curie": "MESH:D0103",
                     "warc_ts": base + datetime.timedelta(hours=10 * i),
                     "doc_id": f"a{i}"})
    for i in range(3):
        rows.append({"curie": "MESH:D0103",
                     "warc_ts": base + datetime.timedelta(days=30, hours=6 * i),
                     "doc_id": f"b{i}"})
    rows.append({"curie": "MESH:D9999",
                 "warc_ts": base + datetime.timedelta(days=365),
                 "doc_id": "z"})
    out = batch_episodes(
        spark.createDataFrame(rows), key_col="curie", ts_col="warc_ts",
        doc_col="doc_id", gap="7 days").collect()
    eps = {(r.curie, r.episode_start, r.episode_end, r.n_events, r.n_docs)
           for r in out}
    assert eps == {
        ("MESH:D0103", base, base + datetime.timedelta(hours=40), 5, 5),
        ("MESH:D0103", base + datetime.timedelta(days=30),
         base + datetime.timedelta(days=30, hours=12), 3, 3),
        ("MESH:D9999", base + datetime.timedelta(days=365),
         base + datetime.timedelta(days=365), 1, 1),
    }


def test_batch_episodes_gap_boundary(spark):
    """An inter-event gap of EXACTLY the threshold does not break the
    episode (the streaming operator merges runs with gap <= threshold;
    strict > breaks) — and a one-microsecond overshoot does."""
    import datetime

    from outbreak_kg_spark.streaming import batch_episodes

    base = datetime.datetime(2020, 1, 1)
    rows = [
        {"curie": "x", "warc_ts": base, "doc_id": "a"},
        {"curie": "x", "warc_ts": base + datetime.timedelta(days=7),
         "doc_id": "b"},
        {"curie": "x",
         "warc_ts": base + datetime.timedelta(days=14,
                                              microseconds=1),
         "doc_id": "c"},
    ]
    out = batch_episodes(
        spark.createDataFrame(rows), key_col="curie", ts_col="warc_ts",
        doc_col="doc_id", gap="7 days").collect()
    assert sorted((r.n_events, r.n_docs) for r in out) == [(1, 1), (2, 2)]
