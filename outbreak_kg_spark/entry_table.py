"""Relational registry entries over the star-schema and events tables:
aggregates, joins and set operations, windows, temporal joins, streaming
episodes, multimodal plans, layout keys and column profiles, each with its
DuckDB oracle SQL."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .entry_fixtures import _docs, _tbl, _utc


# scratch dirs registered for atexit removal (q_streaming_episodes); the
# set prevents stacking duplicate atexit handlers on repeated calls
_EPISODE_SCRATCH_DIRS: set[str] = set()


def q_agg_pricing_summary(spark, sf_dir):
    """A1/A7-class partial+final hash agg; exact integer-cents money math."""
    l = _tbl(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(cents) / 100.0).alias("sum_base_price"),
            (F.sum(cents * (100 - disc)) / 10000.0).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_AGG_PRICING = """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
           sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS sum_base_price,
           sum(round(l_extendedprice * 100)::BIGINT
               * (100 - round(l_discount * 100)::BIGINT)) / 10000.0
             AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem GROUP BY 1, 2
"""


def q_join_star_topk(spark, sf_dir):
    """J1-class broadcast-dim star join + top-k revenue by brand."""
    l = _tbl(spark, sf_dir, "lineitem")
    p = _tbl(spark, sf_dir, "part")
    s = _tbl(spark, sf_dir, "supplier")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .groupBy("p_brand")
        .agg(
            (F.sum(cents * (100 - disc)) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_brand"))
        .limit(10)
    )


SQL_JOIN_STAR_TOPK = """
    SELECT p_brand,
           sum(round(l_extendedprice * 100)::BIGINT
               * (100 - round(l_discount * 100)::BIGINT)) / 10000.0 AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1 ORDER BY revenue DESC, p_brand ASC LIMIT 10
"""


def q_anti_join_customers(spark, sf_dir):
    """U2/A10-class set difference as left_anti join."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_semi_join_parts(spark, sf_dir):
    """P5/J6-class semi join: parts with any 2000+ shipment."""
    p = _tbl(spark, sf_dir, "part")
    l = _tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "2000-01-01"
    )
    return p.join(
        l, p["p_partkey"] == l["l_partkey"], "left_semi"
    ).select("p_partkey", "p_name")


SQL_SEMI_JOIN = """
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (
        SELECT l_partkey FROM lineitem WHERE l_shipdate >= '2000-01-01')
"""


def q_union_distinct_users(spark, sf_dir):
    """U1: UNION-distinct of two filtered sets."""
    e = _tbl(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "error").select("user_id")
    b = e.filter(F.col("event_type") == "signup").select("user_id")
    return a.union(b).dropDuplicates()


SQL_UNION_DISTINCT = """
    SELECT user_id FROM events WHERE event_type = 'error'
    UNION
    SELECT user_id FROM events WHERE event_type = 'signup'
"""


def q_window_first_event(spark, sf_dir):
    """N2-class priority resolution: row_number over (user) ordered by
    (ts, event_id), keep first."""
    e = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


SQL_WINDOW_FIRST = """
    SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS rn
        FROM events) WHERE rn = 1
"""


def q_year_month_map(spark, sf_dir):
    """A11/P9: pivot per-user month counts into a sorted JSON map string
    (years_data semantics, kg/build.py:288-297)."""
    _utc(spark)
    e = _tbl(spark, sf_dir, "events")
    per = e.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM").alias("month")
    ).agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("user_id").agg(
        F.concat(
            F.lit("{"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("month", "c"))),
                    lambda x: F.concat(
                        F.lit('"'), x["month"], F.lit('":'),
                        x["c"].cast("string"),
                    ),
                ),
                ",",
            ),
            F.lit("}"),
        ).alias("years_data")
    )


SQL_YEAR_MONTH_MAP = """
    WITH per AS (
        SELECT user_id, strftime(ts, '%Y-%m') AS month, count(*) AS c
        FROM events GROUP BY 1, 2)
    SELECT user_id,
           '{' || string_agg('"' || month || '":' || c, ',' ORDER BY month) || '}'
             AS years_data
    FROM per GROUP BY user_id
"""


def q_json_extract_props(spark, sf_dir):
    """P12/S4: nested-JSON field extraction with explicit schema."""
    e = _tbl(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


SQL_JSON_EXTRACT = """
    SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events
"""


def q_set_ops(spark, sf_dir):
    """U1/U2/A10/J6 set-operation composite in long form: anti-join
    (customers with no orders), semi-join (parts with a 2000+ shipment),
    union-distinct (error∪signup users), tagged by an `op` column.
    Consolidates the former anti_join_customers / semi_join_parts /
    union_distinct_users gates at full row-level evidence."""
    a = q_anti_join_customers(spark, sf_dir).select(
        F.lit("anti").alias("op"),
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
    )
    s = q_semi_join_parts(spark, sf_dir).select(
        F.lit("semi").alias("op"),
        F.col("p_partkey").alias("key"),
        F.col("p_name").alias("name"),
    )
    u = q_union_distinct_users(spark, sf_dir).select(
        F.lit("union").alias("op"),
        F.col("user_id").alias("key"),
        F.lit(None).cast("string").alias("name"),
    )
    return a.unionByName(s).unionByName(u)


SQL_SET_OPS = f"""
    SELECT 'anti' AS op, c_custkey AS key, c_name AS name
    FROM ({SQL_ANTI_JOIN})
    UNION ALL
    SELECT 'semi' AS op, p_partkey AS key, p_name AS name
    FROM ({SQL_SEMI_JOIN})
    UNION ALL
    SELECT 'union' AS op, user_id AS key, NULL::VARCHAR AS name
    FROM ({SQL_UNION_DISTINCT})
"""


def q_asof_join_events(spark, sf_dir):
    """As-of join: each click event picks up the latest at-or-before
    purchase of the same user (temporal.asof_join — single-shuffle
    union+window plan, no inequality join). Right side is unique per
    (user_id, ts) in the events table (asserted by the oracle's ASOF
    semantics: DuckDB errors on ambiguous matches only at runtime; the
    generator emits unique event times per user/type)."""
    _utc(spark)
    from .temporal import asof_join

    ev = _tbl(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round("value", 6).alias("purchase_value")
    )
    return asof_join(
        clicks, purchases, ["user_id"],
        right_value_cols=["purchase_value"],
    ).select("user_id", "event_id", "ts", "ts_asof", "purchase_value_asof")


SQL_ASOF_JOIN_EVENTS = """
    SELECT l.user_id, l.event_id, l.ts, r.ts AS ts_asof,
           round(r.value, 6) AS purchase_value_asof
    FROM (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND r.ts <= l.ts
"""


def q_range_join_events(spark, sf_dir):
    """Bounded range join: (click, error) pairs of the same user with the
    error 0..600s after the click (temporal.range_join — bucketed
    equi-join on (user, time-cell), no nested loop)."""
    from .temporal import range_join

    ev = _tbl(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    return range_join(
        clicks, errors, ["user_id"], delta_seconds=600.0
    ).select(
        "user_id",
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("error_id"),
        F.round("dt_seconds", 6).alias("dt_seconds"),
    )


SQL_RANGE_JOIN_EVENTS = """
    SELECT l.user_id, l.event_id AS click_id, r.event_id AS error_id,
           round(epoch(r.ts) - epoch(l.ts), 6) AS dt_seconds
    FROM (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'click') l
    JOIN (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'error') r
      ON l.user_id = r.user_id
     AND epoch(r.ts) - epoch(l.ts) BETWEEN 0 AND 600
"""


NATION_NAME_FIXES = [
    # (n_nationkey, fixed display name) — J2's name-map-with-coalesce shape
    (0, "DZ"), (3, "CA"), (8, "IN"), (14, "KE"), (23, "GB"),
]


def q_join_name_coalesce(spark, sf_dir):
    """J2: broadcast name-map join + coalesce fallback (builders'
    geonames name-fix join, kg/build.py:373-381 shape)."""
    nation = _tbl(spark, sf_dir, "nation")
    region = _tbl(spark, sf_dir, "region")
    fixes = F.broadcast(
        spark.createDataFrame(
            NATION_NAME_FIXES, "n_nationkey int, fixed_name string"
        )
    )
    return (
        nation.join(fixes, "n_nationkey", "left")
        .join(F.broadcast(region),
              nation.n_regionkey == region.r_regionkey)
        .select(
            "n_nationkey",
            F.coalesce("fixed_name", "n_name").alias("display_name"),
            F.col("r_name").alias("region_name"),
        )
    )


SQL_JOIN_NAME_COALESCE = f"""
    SELECT n.n_nationkey,
           coalesce(f.fixed_name, n.n_name) AS display_name,
           r.r_name AS region_name
    FROM nation n
    LEFT JOIN (VALUES {", ".join(f"({k}, '{v}')" for k, v in NATION_NAME_FIXES)})
         f(n_nationkey, fixed_name) ON n.n_nationkey = f.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
"""


def q_events_rollup(spark, sf_dir):
    """Hypertable-style tumbling-window rollup: per (user, 1h bucket)
    count/sum — the batch analog of the streaming windowed agg
    (streaming.windowed_event_counts). Map-side partial agg absorbs hot
    users; the bucket key is derivable from the sort order so at rest this
    rolls up partition-locally on a time-partitioned table."""
    _utc(spark)
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.window("ts", "1 hour").start.alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


SQL_EVENTS_ROLLUP = """
    SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
           count(*) AS n_events, round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark, sf_dir):
    """Batch sessionization: a session breaks after a >30min gap per user
    (lag + running sum of break flags — the scalable one-shuffle
    formulation; streaming's applyInPandasWithState twin is
    streaming.sessionize_episodes). Output: one row per session with its
    bounds and size."""
    _utc(spark)
    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id",
        (
            F.col("ts").cast("timestamp").cast("double")
            - F.lag(F.col("ts").cast("timestamp").cast("double"), 1, None).over(w)
            > 1800.0
        ).cast("int").alias("_brk"),
    ).withColumn(
        "session_id",
        F.sum(F.coalesce("_brk", F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_EVENTS_SESSIONIZE = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ), s AS (
        SELECT user_id, ts,
               (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events
    FROM s GROUP BY 1, 2
"""


def q_streaming_episodes(spark, sf_dir):
    """Driver gate for the custom stateful streaming operator
    (streaming.entity_episodes, applyInPandasWithState): batch-replay the
    events table through a REAL Structured Streaming run and return the
    episodes that closed.

    Determinism by construction: the source is written as ONE parquet
    file, so the single data micro-batch runs at watermark 0 (no
    late-row drops can depend on batch boundaries), and the trailing
    no-data micro-batch fires every event-time timeout at the final
    watermark max(ts) - 1h — the emitted set is exactly the gap-merged
    runs with end + gap < that watermark, which the DuckDB oracle
    computes with window SQL. Timestamps are second-truncated before
    streaming so the operator's millisecond state arithmetic is exact in
    the oracle's epoch-seconds arithmetic."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    from .streaming import entity_episodes

    _utc(spark)
    # deterministic per-(input, process) scratch dir, cleared up front:
    # repeated runs in one process reuse (not accumulate) the space, a
    # stale checkpoint can never be resumed against the fresh source (an
    # availableNow restart over an old checkpoint would emit nothing and
    # silently fail the gate), and the pid keeps a concurrent process from
    # rmtree-ing this one's live checkpoint/sink
    import os

    tmp = (f"{tempfile.gettempdir()}/kg_episodes_"
           f"{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}_{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    # the returned DataFrame lazily reads {tmp}/out, so the dir must
    # outlive this call — but not the process: without this, every new
    # process leaked one scratch copy of the events table + checkpoint
    # until the OS pruned /tmp (round-4 advice)
    if tmp not in _EPISODE_SCRATCH_DIRS:
        _EPISODE_SCRATCH_DIRS.add(tmp)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src = (
        # raw read, no _tbl spread: the source is deliberately written as
        # ONE file (coalesce(1) below) so the replay is single-batch
        # deterministic — a repartition here would only add an exchange
        # and permute the file's row order for zero parallelism gain
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.concat_ws(
                "|", F.col("event_type"), (F.col("user_id") % 10)
            ).alias("curie"),
            F.date_trunc("second", F.col("ts")).alias("warc_ts"),
            F.col("user_id").cast("string").alias("doc_id"),
        )
    )
    src.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(
        "curie string, warc_ts timestamp, doc_id string"
    ).parquet(f"{tmp}/in")
    eps = entity_episodes(stream, gap="8 hours", watermark="1 hour")
    q = (
        eps.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    # a timeout must be an ERROR, not a partial read: proceeding while the
    # sink is still writing (or before the no-data timeout batch ran) would
    # hand the correctness gate a frame missing closed episodes
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "streaming_episodes: availableNow run did not terminate in 600s"
        )
    return spark.read.schema(
        "curie string, episode_start timestamp, episode_end timestamp, "
        "n_mentions long, n_docs long"
    ).parquet(f"{tmp}/out")


SQL_STREAMING_EPISODES = """
    WITH m AS (
        SELECT event_type || '|' || (user_id % 10)::VARCHAR AS curie,
               date_trunc('second', ts) AS ts,
               user_id::VARCHAR AS doc
        FROM events),
    f AS (
        SELECT curie, ts, doc,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                    (PARTITION BY curie ORDER BY ts)) > 28800
                    THEN 1 ELSE 0 END AS brk
        FROM m),
    s AS (
        SELECT curie, ts, doc,
               (sum(brk) OVER (PARTITION BY curie ORDER BY ts
                               ROWS UNBOUNDED PRECEDING))::BIGINT AS ep
        FROM f),
    e AS (
        SELECT curie, ep, min(ts) AS episode_start, max(ts) AS episode_end,
               count(*)::BIGINT AS n_mentions,
               count(DISTINCT doc)::BIGINT AS n_docs
        FROM s GROUP BY 1, 2),
    wm AS (SELECT max(date_trunc('second', ts)) - INTERVAL 1 HOUR AS w
           FROM events)
    SELECT curie, episode_start, episode_end, n_mentions, n_docs
    FROM e, wm WHERE episode_end + INTERVAL 8 HOUR < w
"""


def _entry_media(spark, sf_dir):
    """Deterministic media table derived from documents: every doc yields a
    fake image (content = utf-8 bytes of its text) and a fake video
    (duration = n_chars * 10 ms) — the multimodal plumbing runs on real
    binary columns without external data."""
    from .multimodal import MEDIA

    d = _docs(spark, sf_dir, spread=False)
    imgs = d.select(
        F.concat(F.lit("i"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("image/png").alias("mime"),
        F.lit(64).alias("width"), F.lit(64).alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    vids = d.select(
        F.concat(F.lit("v"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("content"),
        F.lit("video/mp4").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )
    auds = d.select(
        F.concat(F.lit("a"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit(None).cast("binary").alias("content"),
        F.lit("audio/wav").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars") * 7).cast("long").alias("duration_ms"),
    )
    return imgs.unionByName(vids).unionByName(auds)


def q_multimodal_frame_plan(spark, sf_dir):
    """Video frame-sampling plan (multimodal.frame_sample_plan): sequence +
    explode per video, JVM-only. The codec half of frame sampling is the
    honest stub; THIS half — the distributed expansion a decoder would
    consume — is fully oracle-checkable."""
    from .multimodal import frame_sample_plan

    return frame_sample_plan(_entry_media(spark, sf_dir), every_ms=1000)


SQL_MULTIMODAL_FRAME_PLAN = """
    SELECT 'v' || doc_id AS media_id,
           unnest(generate_series(0, n_chars * 10, 1000)) AS frame_ts_ms
    FROM documents
"""


def q_multimodal_audio_windows(spark, sf_dir):
    """Audio analysis-window plan (multimodal.audio_window_plan): the
    overlapping-window twin of the video frame plan — JVM-only expansion a
    feature extractor would consume, codec honestly stubbed. Clips shorter
    than one window emit nothing (the oracle's WHERE mirrors the gate)."""
    from .multimodal import audio_window_plan

    return audio_window_plan(_entry_media(spark, sf_dir),
                             window_ms=2000, hop_ms=500)


SQL_MULTIMODAL_AUDIO_WINDOWS = """
    SELECT 'a' || doc_id AS media_id,
           unnest(generate_series(0, n_chars * 7 - 2000, 500))
               AS win_start_ms,
           unnest(generate_series(0, n_chars * 7 - 2000, 500)) + 2000
               AS win_end_ms
    FROM documents WHERE n_chars * 7 >= 2000
"""


def q_multimodal_image_bytes(spark, sf_dir):
    """image_features' mapInPandas plumbing end to end (Arrow binary
    batches -> per-image rows), projected to the engine-independent columns
    (byte length); the pseudo-pixel stats ride the same rows but are
    pytest-verified (the fake decode is not SQL-expressible)."""
    from .multimodal import image_features

    feats = image_features(_entry_media(spark, sf_dir), decode="fake")
    return feats.select("media_id", "n_bytes")


SQL_MULTIMODAL_IMAGE_BYTES = """
    SELECT 'i' || doc_id AS media_id, strlen(text)::BIGINT AS n_bytes
    FROM documents
"""


def q_layout_zorder(spark, sf_dir):
    """Z-order layout key (layout.zorder_key2, the OPTIMIZE ZORDER
    primitive): Morton interleave of (o_custkey, o_orderkey) low 16
    bits — the clustering key that makes parquet row-group min/max
    stats tight on BOTH columns so either-key point lookups skip. The
    key is a pure shift/and/or codegen expression; the oracle replays
    the identical 32-term bit arithmetic. (The clustering itself —
    repartitionByRange + sortWithinPartitions in layout.cluster_zorder
    — is a physical layout with no row-content signature, so its
    locality property is pytest-gated in test_layout instead.)"""
    from . import layout

    o = _tbl(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_custkey",
        layout.zorder_key2(
            F.col("o_custkey"), F.col("o_orderkey"), bits=16
        ).alias("zkey"),
    )


def _sql_layout_zorder(bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(((o_custkey >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((o_orderkey >> {i}) & 1) << {2 * i})")
    expr = " | ".join(terms)
    return f"""
        SELECT o_orderkey, o_custkey, ({expr})::BIGINT AS zkey
        FROM orders
    """


def q_table_profile(spark, sf_dir):
    """Column-level data-quality profile (catalog.profile_table, the
    dbt/DataHub-style input audit): one scan over orders, one row per
    column with null count, exact cardinality, and a type-appropriate
    round-6 range (numeric min/max; string LENGTH min/max — renderings
    of raw floats/timestamps are not engine-portable, lengths are;
    timestamp columns report range nulls). The oracle computes each
    column's row independently and unions — same numbers, different
    plan, which is the point of the contract."""
    from .catalog import profile_table

    return profile_table(_tbl(spark, sf_dir, "orders", spread=True))


def _sql_table_profile() -> str:
    def num(c):
        return (f"SELECT '{c}' AS \"column\", count(*) AS n_rows, "
                f"count(*) - count({c}) AS n_null, "
                f"count(DISTINCT {c}) AS n_distinct, "
                f"round(min({c})::DOUBLE, 6) AS min_d, "
                f"round(max({c})::DOUBLE, 6) AS max_d FROM orders")

    def strl(c):
        return (f"SELECT '{c}', count(*), count(*) - count({c}), "
                f"count(DISTINCT {c}), "
                f"round(min(length({c}))::DOUBLE, 6), "
                f"round(max(length({c}))::DOUBLE, 6) FROM orders")

    def other(c):
        return (f"SELECT '{c}', count(*), count(*) - count({c}), "
                f"count(DISTINCT {c}), NULL::DOUBLE, NULL::DOUBLE "
                f"FROM orders")

    return " UNION ALL ".join([
        num("o_orderkey"), num("o_custkey"), strl("o_orderstatus"),
        num("o_totalprice"), other("o_orderdate"),
        strl("o_orderpriority"),
    ])


def q_events_rolling_counts(spark, sf_dir):
    """Trailing-window rate features (temporal.rolling_counts): per
    user, events and value mass in the trailing 6 hours inclusive —
    burst detection over the at-rest log, the batch twin of the
    streaming tumbling rates. RANGE frame over integer epoch seconds,
    so equal timestamps are full peers and the result is independent
    of within-timestamp order; DuckDB replays the identical frame."""
    from .temporal import rolling_counts

    ev = _tbl(spark, sf_dir, "events")
    return rolling_counts(ev, "user_id", "ts", 6 * 3600, "value").select(
        "event_id", "user_id", "ts", "n_window", "sum_window")


def _sql_events_rolling_counts(window_s: int = 6 * 3600) -> str:
    return f"""
        SELECT event_id, user_id, ts,
               (count(*) OVER w)::INT AS n_window,
               round(sum(value) OVER w, 6) AS sum_window
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)::BIGINT
                     RANGE BETWEEN {window_s} PRECEDING AND CURRENT ROW)
    """


def q_table_histogram(spark, sf_dir):
    """Equi-width histogram (catalog.column_histogram) of
    orders.o_totalprice in 8 bins — the profiler's shape drill-down:
    observed-range width, right-closed last bin, nulls excluded, empty
    bins absent. The oracle replays the two-scan recipe (global
    min/max, then floor-binning) with identical IEEE division."""
    from .catalog import column_histogram

    return column_histogram(
        _tbl(spark, sf_dir, "orders"),
        "o_totalprice", bins=8)


def _sql_table_histogram(bins: int = 8) -> str:
    return f"""
        WITH v AS (
            SELECT o_totalprice::DOUBLE AS v FROM orders
            WHERE o_totalprice IS NOT NULL),
        mm AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
        b AS (
            SELECT CASE WHEN mm.hi = mm.lo THEN 0
                        ELSE least(floor((v.v - mm.lo)
                                         / ((mm.hi - mm.lo) / {bins})),
                                   {bins} - 1) END::INT AS bin,
                   mm.lo AS lo0, mm.hi AS hi0
            FROM v, mm)
        SELECT bin,
               round(lo0 + bin * ((hi0 - lo0) / {bins}), 6) AS lo,
               round(lo0 + (bin + 1) * ((hi0 - lo0) / {bins}), 6) AS hi,
               count(*)::BIGINT AS n
        FROM b GROUP BY bin, lo0, hi0
    """
