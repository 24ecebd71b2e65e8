"""Structured Streaming ingest (engine extension).

The reference is strictly batch (SURVEY.md §2.10 — static dumps, timestamps
carried as data); its checkpoint/resume requirement is stage-level batch
restart (lineage.py). This module is the forward-looking streaming face of
the same pipeline: a pages stream (e.g. a WARC drop directory / Kafka topic
in prod; a file source here) flows through the *identical* extraction and
NER operator (ground.make_extract_ner_udf), with event-time watermarking
for late crawls and an idempotent foreachBatch KG append.

Everything stateful is expressed with built-in streaming operators
(watermark + window aggregation + dropDuplicatesWithinWatermark); the UDF
is the same Arrow-batched one the batch path uses — no separate codepath
to keep correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import extract, ground
from .schemas import PAGES


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream of pages parquet drops (stand-in for the prod
    Kafka/object-store source)."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _grounded_pages(pages_stream: DataFrame, gazetteer: DataFrame,
                    watermark: str, **fields) -> DataFrame:
    """pages stream -> valid extracted pages carrying the requested NER
    ``fields`` (make_extract_ner_udf flags), re-crawls of one archive
    number within the watermark dropped."""
    udf = ground.make_extract_ner_udf(
        pages_stream.sparkSession, gazetteer, pages=True, **fields)
    ex = extract.extract_pages(pages_stream, udf).filter(F.col("valid"))
    return ex.withWatermark("warc_ts", watermark) \
        .dropDuplicatesWithinWatermark(["archive_number"])


def streaming_mentions(pages_stream: DataFrame, gazetteer: DataFrame,
                       watermark: str = "1 hour") -> DataFrame:
    """pages stream -> exploded mention rows (doc_id, section_idx, field,
    text, start, end, ns, id, entry_name), with late-crawl dedup.

    Duplicate archive numbers within the watermark are dropped with
    streaming state (dropDuplicatesWithinWatermark). NOTE the semantic
    difference vs the batch path: streaming keeps the first-ARRIVED page
    (emitting immediately; an already-emitted row cannot be retracted when
    an earlier-warc_ts crawl shows up late), while extract.dedup_alerts
    keeps the earliest-warc_ts page (url tiebreak). The two agree whenever
    crawls arrive in event-time order — the common case — and the batch
    pipeline over the at-rest data is the reconciliation path when they
    don't. Re-crawls older than the watermark are handled by the
    idempotent batch sink (MERGE semantics in Iceberg / dropDuplicates on
    append here)."""
    ex = _grounded_pages(pages_stream, gazetteer, watermark, offsets=True)
    return ex.select(
        F.col("archive_number").alias("doc_id"),
        F.explode("mentions").alias("m"),
    ).select("doc_id", "m.*")


def mention_rate(pages_stream: DataFrame, gazetteer: DataFrame,
                 window: str = "10 minutes",
                 watermark: str = "1 hour") -> DataFrame:
    """Windowed per-entity mention counts with late-data handling — the
    streaming counterpart of the count-ordered stats artifacts
    (promed_ner.py:183-189). Same re-crawl dedup as streaming_mentions:
    without it a page crawled 3x within a window counts its mentions 3x,
    where the batch stats artifact counts each alert once. Title and
    content are scanned as separate units, exactly like the batch path
    (promed_ner.py:145-150)."""
    ex = _grounded_pages(pages_stream, gazetteer, watermark, offsets=True)
    m = ex.select("warc_ts", F.explode("mentions").alias("a"))
    return (
        m.groupBy(
            F.window("warc_ts", window).alias("w"),
            F.col("a.ns").alias("ns"),
            F.col("a.id").alias("id"),
        )
        .agg(F.count(F.lit(1)).alias("mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "ns", "id", "mentions",
        )
    )


def entity_episodes(mentions_with_ts: DataFrame, gap: str = "7 days",
                    watermark: str = "1 hour",
                    max_tracked_docs: int = 50_000) -> DataFrame:
    """Custom stateful operator: merge an entity's mention stream into
    outbreak *episodes* — maximal runs of mentions with no gap larger than
    ``gap`` — via applyInPandasWithState (the engine's example of a stateful
    op Structured Streaming lacks natively; session windows exist but we
    also carry per-episode mention counts and doc lists).

    Input: (curie, warc_ts, doc_id). Output, emitted when an episode closes
    (watermark passes its end + gap): (curie, episode_start, episode_end,
    n_mentions, n_docs).

    Correctness under late / out-of-order data: applyInPandasWithState does
    NOT drop watermark-late rows for us, so this operator (a) drops input
    rows older than the current watermark (the same policy built-in
    stateful operators apply), (b) keeps ALL still-open runs in state — not
    just the latest — merging them interval-wise with gap tolerance, and
    (c) emits a run only once ``end + gap < watermark``, at which point no
    surviving row can ever extend it. Emitting "all but the latest run"
    immediately would mis-close episodes that a late-but-valid mention
    (within the watermark) could still bridge.

    State growth is bounded in BOTH dimensions (the per-key state ceiling,
    asserted in tests/test_streaming.py::test_entity_episodes_state_cap):

    - **docs per run**: tracked as a DISTINCT set capped at
      ``max_tracked_docs``; beyond the cap, ids not in the tracked set
      increment an overflow counter, so n_docs degrades to an upper-bound
      approximation for pathological hot entities (the 'COVID-19' skew
      case) instead of state growing without bound. Bytes per run <=
      max_tracked_docs * (max id length + 1) for the doc string plus four
      longs.
    - **runs per key**: live runs are pairwise separated by more than
      ``gap`` and each has ``end >= watermark - gap``, while no end can
      exceed the newest event seen (~ watermark + watermark delay). Ends
      therefore fit in an interval of length gap + delay with > gap
      spacing: at most ``2 + watermark_delay/gap`` live runs per key,
      independent of input volume. With the defaults (1 h delay, 7 d gap)
      that is 2-3 runs.

    Keys themselves are entity curies — a bounded vocabulary (~86k in the
    reference's gazetteer), so total state <= |vocabulary| * the per-key
    ceiling above."""
    import datetime

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = _duration_ms(gap)
    # Arrow hands warc_ts to pandas as tz-NAIVE wall time in the SESSION
    # timezone, while state.getCurrentWatermarkMs() is true epoch — mixing
    # them shifts timeout timing by the zone offset (and inconsistently
    # across DST). Capture the session zone once and localize to true
    # epoch inside the UDF; output wall times are rendered back in the
    # same zone so the emitted timestamps read correctly downstream.
    session_tz = mentions_with_ts.sparkSession.conf.get(
        "spark.sql.session.timeZone"
    )

    def _epoch_ms(series: "pd.Series") -> list[int]:
        if session_tz not in ("UTC", "Etc/UTC", "GMT"):
            series = series.dt.tz_localize(
                session_tz, ambiguous=True, nonexistent="shift_forward"
            )
        return (series.astype("int64") // 10**6).tolist()

    def _wall(ms: float) -> "datetime.datetime":
        if session_tz in ("UTC", "Etc/UTC", "GMT"):
            return datetime.datetime.utcfromtimestamp(ms / 1e3)
        from zoneinfo import ZoneInfo

        return datetime.datetime.fromtimestamp(
            ms / 1e3, ZoneInfo(session_tz)
        ).replace(tzinfo=None)

    def _row(curie, run):
        start, end, n, docset, extra = run
        return {
            "curie": curie,
            "episode_start": _wall(start),
            "episode_end": _wall(end),
            "n_mentions": n,
            "n_docs": len(docset) + extra,
        }

    def _merge_docs(aset, aextra, bset, bextra):
        # distinct-set union under the cap; overflow ids count into extra
        # (sorted iteration keeps the kept-subset deterministic)
        s, extra = set(aset), aextra + bextra
        for d in sorted(bset):
            if d in s:
                continue
            if len(s) < max_tracked_docs:
                s.add(d)
            else:
                extra += 1
        return s, extra

    def _merge_runs(runs):
        # interval merge with gap tolerance over runs sorted by start —
        # handles late singletons that bridge two previously-separate runs
        runs.sort(key=lambda r: (r[0], r[1]))
        out = []
        for r in runs:
            if out and r[0] - out[-1][1] <= gap_ms:
                s0, e0, n0, d0, x0 = out[-1]
                s1, e1, n1, d1, x1 = r
                ds, dx = _merge_docs(d0, x0, d1, x1)
                out[-1] = (min(s0, s1), max(e0, e1), n0 + n1, ds, dx)
            else:
                out.append(r)
        return out

    def update(key, pdfs, state: GroupState):
        (curie,) = key
        wm = state.getCurrentWatermarkMs()
        runs = []
        if state.exists:
            starts, ends, ns, docs, extras = state.get
            for s, e, n, d, x in zip(starts, ends, ns, docs, extras):
                runs.append((s, e, n,
                             set(d.split("\x00")) if d else set(), x))
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs))
            for t, d in zip(_epoch_ms(rows["warc_ts"]),
                            rows["doc_id"].astype(str).tolist()):
                if t < wm:
                    # watermark-late row: dropped, same policy as built-in
                    # stateful ops (applyInPandasWithState doesn't do this
                    # for us; keeping it could extend an already-emitted
                    # episode)
                    continue
                runs.append((t, t, 1, {d}, 0))
        runs = _merge_runs(runs)
        # a run is closed only when NO surviving future row can extend it:
        # every kept row has t >= wm, so end + gap < wm is the safe bound
        closed = [r for r in runs if r[1] + gap_ms < wm]
        live = [r for r in runs if r[1] + gap_ms >= wm]
        if live:
            state.update((
                [r[0] for r in live],
                [r[1] for r in live],
                [r[2] for r in live],
                ["\x00".join(sorted(r[3])) for r in live],
                [r[4] for r in live],
            ))
            # wake when the earliest-closing run becomes closable; must be
            # strictly later than the current watermark
            state.setTimeoutTimestamp(
                max(min(r[1] for r in live) + gap_ms + 1, wm + 1)
            )
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame([_row(curie, r) for r in closed])

    return (
        mentions_with_ts.withWatermark("warc_ts", watermark)
        .groupBy("curie")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "curie string, episode_start timestamp, "
                "episode_end timestamp, n_mentions long, n_docs long"
            ),
            stateStructType=(
                "starts array<long>, ends array<long>, ns array<long>, "
                "docs array<string>, extras array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def batch_episodes(df: DataFrame, key_col: str = "curie",
                   ts_col: str = "warc_ts", doc_col: str = "doc_id",
                   gap: str = "7 days") -> DataFrame:
    """Batch twin of :func:`entity_episodes` — the SAME episode
    definition (maximal runs of events with no inter-event gap larger
    than ``gap``) computed relationally over an at-rest table, for
    backfill/replay: the streaming operator maintains live state on the
    incoming crawl, this one recomputes history after a bulk load or a
    definition change, and the two must agree on closed episodes.

    Output: (key, episode_start, episode_end, n_events, n_docs) — every
    episode, including the still-open last one per key (a streaming
    reconciliation compares only episodes the watermark has closed).

    Scale shape: gaps-and-islands on ONE per-key exchange — the gap lag
    and the island running sum share the (key, (ts, doc)) window sort —
    then one (key, island) hash agg; n_docs is an exact count(DISTINCT)
    inside that agg (two-phase under the hood: Spark plans partial
    dedup before the final). Per-key state is never collected; the
    'COVID-19' hot key streams through the window like any other, and
    the agg's island sub-key keeps even a hot key's groups bounded by
    its episode count."""
    from pyspark.sql import Window

    gap_us = _duration_ms(gap) * 1000
    w = Window.partitionBy(key_col).orderBy(ts_col, doc_col)
    isl = (
        df.select(key_col, ts_col, doc_col)
        .withColumn(
            "_brk",
            F.when(
                # exact integer microseconds — no float round-trip, so
                # the DuckDB oracle (epoch_us) replays it bit-for-bit.
                # The cast lifts TIMESTAMP_NTZ inputs (parquet default)
                # into the session zone; the DIFFERENCE cancels the
                # offset, so the gap test is zone-invariant
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                - F.unix_micros(F.lag(ts_col).over(w).cast("timestamp"))
                > gap_us,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("_isl", F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return (
        isl.groupBy(key_col, "_isl")
        .agg(
            F.min(ts_col).alias("episode_start"),
            F.max(ts_col).alias("episode_end"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.countDistinct(doc_col).cast("int").alias("n_docs"),
        )
        .drop("_isl")
    )


def _duration_ms(s: str) -> int:
    n, unit = s.split()
    mult = {"second": 1000, "seconds": 1000, "minute": 60000,
            "minutes": 60000, "hour": 3600000, "hours": 3600000,
            "day": 86400000, "days": 86400000}[unit]
    return int(n) * mult


def start_kg_append(mentions_stream: DataFrame, out_dir: str,
                    checkpoint_dir: str, trigger_available_now: bool = True):
    """foreachBatch sink: distinct mention edges per micro-batch, written to
    a per-batch-id directory with mode('overwrite'). Overwrite — not append —
    is what makes the sink exactly-once: Structured Streaming replays the
    last micro-batch after a crash between the parquet write and the
    checkpoint commit, and a replayed append would lay duplicate part files
    alongside the partial output; the replayed overwrite replaces it."""

    def write_batch(batch_df: DataFrame, batch_id: int):
        (
            batch_df.select(
                F.concat(F.lit("promed:"), "doc_id").alias("subj"),
                F.lit("mentions").alias("pred"),
                F.concat_ws(":", "ns", "id").alias("obj"),
            )
            .dropDuplicates(["subj", "pred", "obj"])
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    w = mentions_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_triple_deltas(pages_stream: DataFrame, delta_dir: str,
                        checkpoint_dir: str, gazetteer: DataFrame,
                        watermark: str = "1 hour",
                        trigger_available_now: bool = True):
    """Streaming cue-triple maintenance, the exactly-once way: each
    micro-batch of pages carries its per-sentence mention groups out of
    the extraction + NER operator, runs the cue rules
    (triples.triples_from_sentence_groups) and lands its PER-DOC triples
    as an immutable delta at ``delta_dir/batch_id=K`` with
    mode('overwrite') — the same replay-safe contract as start_kg_append
    (a crash between parquet write and checkpoint commit replays the
    batch; the overwrite replaces the partial output instead of
    duplicating beside it).

    The at-rest triple table is then advanced OUT-OF-BAND by
    incremental.compact_edge_deltas: it folds batches newer than the live
    snapshot's watermark into a new version (count = per-doc support rows,
    exactly triples_to_edges' aggregation) and commits via the
    meta-written-last snapshot protocol, so a crash anywhere leaves either
    the old version live or the new one — never a half-merged table.
    Late re-crawls inside the watermark dedup in-stream
    (dropDuplicatesWithinWatermark on archive_number, as
    streaming_mentions); older ones reconcile through the batch path
    (triples.pattern_triple_delta + upsert_edges)."""
    from . import triples as triples_mod

    ex = _grounded_pages(pages_stream, gazetteer, watermark, groups=True)

    def write_batch(batch_df: DataFrame, batch_id: int):
        groups = triples_mod.explode_groups(batch_df.select(
            F.col("archive_number").alias("doc_id"), "groups"))
        (
            triples_mod.triples_from_sentence_groups(groups)
            .write.mode("overwrite")
            .parquet(f"{delta_dir}/batch_id={batch_id}")
        )

    w = ex.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
