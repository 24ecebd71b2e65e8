"""KG registry entries over a built or changing KG: edge merge and diff,
SCD-2 attribute history, batch episodes, hierarchy rollup, as-of attributes,
join-key skew, negative samples, name canonicalization and the Eidos
context payload, each with its DuckDB oracle SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import eidos, sampling
from .entry_fixtures import (
    ENTRY_ISA,
    _SQL_MENTIONS,
    _docs,
    entry_mentions,
    _tbl,
)


_NEG_SPAN = (1 << 48) // 8 + 1


def q_kg_negative_samples(spark, sf_dir):
    """Filtered-protocol negative sampling for KG-embedding training
    (sampling.negative_triples): nearest-hash entity lookup via
    asof_join in 48-bit md5 space with bucket/global wrap, parity-split
    head/tail corruption, no-op and true-edge negatives removed. The
    oracle replays the identical hashes with DuckDB's native ASOF JOIN
    plus the same coalesce chain and anti-join."""
    d = _docs(spark, sf_dir)
    edges = d.select(
        F.concat(F.lit("E"), F.pmod("doc_id", F.lit(50)).cast("string"))
        .alias("subj"),
        F.concat(F.lit("r"), F.pmod("doc_id", F.lit(3)).cast("string"))
        .alias("pred"),
        F.concat(F.lit("E"),
                 (F.lit(50) + F.pmod("doc_id", F.lit(40))).cast("string"))
        .alias("obj"),
    ).distinct()
    out = sampling.negative_triples(edges, n_per_pos=2, n_buckets=8)
    return out.select("subj", "pred", "obj", "side",
                      F.col("sample_idx").cast("int").alias("sample_idx"))


def _sql_kg_negative_samples() -> str:
    return f"""
        WITH edges AS (
            SELECT DISTINCT 'E' || (doc_id % 50) AS subj,
                   'r' || (doc_id % 3) AS pred,
                   'E' || (50 + doc_id % 40) AS obj
            FROM documents),
        ents AS (
            SELECT entity,
                   ('0x' || substr(md5('neg-v1:e:' || entity), 1, 12))
                     ::BIGINT AS he
            FROM (SELECT subj AS entity FROM edges
                  UNION SELECT obj FROM edges)),
        entsb AS (SELECT *, he // {_NEG_SPAN} AS bucket FROM ents),
        probes AS (
            SELECT subj, pred, obj, j AS sample_idx,
                   ('0x' || substr(md5('neg-v1:p' || chr(0) || subj
                        || chr(0) || pred || chr(0) || obj || chr(0)
                        || j), 1, 12))::BIGINT AS hp
            FROM edges, unnest([0, 1]) t(j)),
        probesb AS (SELECT *, hp // {_NEG_SPAN} AS bucket FROM probes),
        m AS (
            SELECT p.*, e.entity AS entity_asof
            FROM probesb p ASOF LEFT JOIN entsb e
              ON p.bucket = e.bucket AND p.hp >= e.he),
        bmax AS (SELECT bucket, max_by(entity, he) AS bmax
                 FROM entsb GROUP BY bucket),
        gmax AS (SELECT max_by(entity, he) AS gmax FROM entsb),
        c AS (
            SELECT m.subj AS osubj, m.pred, m.obj AS oobj, m.sample_idx,
                   coalesce(m.entity_asof, b.bmax, g.gmax) AS neg,
                   CASE WHEN m.sample_idx % 2 = 0
                        THEN 'tail' ELSE 'head' END AS side
            FROM m LEFT JOIN bmax b USING (bucket), gmax g),
        neg AS (
            SELECT CASE WHEN side = 'head' THEN neg ELSE osubj END AS subj,
                   pred,
                   CASE WHEN side = 'tail' THEN neg ELSE oobj END AS obj,
                   side, sample_idx::INT AS sample_idx
            FROM c
            WHERE neg <> CASE WHEN side = 'head' THEN osubj ELSE oobj END)
        SELECT n.* FROM neg n
        WHERE NOT EXISTS (
            SELECT 1 FROM edges t
            WHERE t.subj = n.subj AND t.pred = n.pred AND t.obj = n.obj)
    """


def q_eidos_context(spark, sf_dir):
    """S6/P12/K4 gate: an Eidos-JSON-LD-shaped nested payload is derived
    deterministically from the documents table (two sentences per doc:
    one with a timex carrying an interval + a geoloc, one with an
    empty-interval timex + a second geoloc), parsed with the explicit
    EIDOS_SCHEMA via from_json (schema projection IS the @type/@id key
    filter), exploded by eidos.eidos_context, and aggregated by
    eidos.geoloc_stats / eidos.timex_stats — returned long-form with a
    `kind` tag. Gates the same explode/projection/stats machinery that
    read_eidos_dir feeds from real *.jsonld files."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    did = F.col("doc_id").cast("string")
    payload = F.concat(
        F.lit('{"documents":[{"sentences":['),
        F.lit('{"timexes":[{"text":"T'), did,
        F.lit('","intervals":[{"start":'), did,
        F.lit(',"end":'), (F.col("doc_id") + 5).cast("string"),
        F.lit('}]}],"geolocs":[{"text":"G'),
        F.pmod("doc_id", F.lit(7)).cast("string"),
        F.lit('","geoID":"geo:'),
        F.pmod("doc_id", F.lit(7)).cast("string"),
        F.lit('"}]},'),
        F.lit('{"timexes":[{"text":"E","intervals":[]}],'),
        F.lit('"geolocs":[{"text":"G'),
        F.pmod("doc_id", F.lit(3)).cast("string"),
        F.lit('","geoID":"geo:'),
        F.pmod("doc_id", F.lit(3)).cast("string"),
        F.lit('"}]}]}]}'),
    )
    parsed = d.select(
        did.alias("archive_number"),
        F.from_json(payload, eidos.EIDOS_SCHEMA).alias("j"),
    )
    geolocs, timexes = eidos.eidos_context(parsed)
    g = eidos.geoloc_stats(geolocs).select(
        F.lit("geoloc").alias("kind"), "text",
        F.col("geoid").alias("meta"), F.col("count").alias("n"),
    )
    t = eidos.timex_stats(timexes).select(
        F.lit("timex").alias("kind"), "text",
        F.col("intervals").alias("meta"), F.col("count").alias("n"),
    )
    return g.unionByName(t)


SQL_EIDOS_CONTEXT = """
    WITH base AS (SELECT doc_id FROM documents WHERE doc_id < 300),
    g AS (
        SELECT 'G' || (doc_id % 7) AS text, 'geo:' || (doc_id % 7) AS meta
        FROM base
        UNION ALL
        SELECT 'G' || (doc_id % 3), 'geo:' || (doc_id % 3) FROM base),
    t AS (
        SELECT 'T' || doc_id AS text,
               '[(' || doc_id || ', ' || (doc_id + 5) || ')]' AS meta
        FROM base
        UNION ALL
        SELECT 'E', '' FROM base)
    SELECT 'geoloc' AS kind, text, meta, count(*) AS n FROM g GROUP BY 2, 3
    UNION ALL
    SELECT 'timex' AS kind, text, meta, count(*) AS n FROM t GROUP BY 2, 3
"""


def q_canonicalize_assignments(spark, sf_dir):
    """N6 at scale, fully oracle-gated end to end: name canonicalization
    (char-shingle MinHash-LSH blocking -> exact Jaccard verify -> connected
    components -> ns-priority canonical election). Input: two namespaces
    over the part names — GEONAMES names differ only by punctuation, which
    normalization erases, so each (MESH:k, GEONAMES:k) pair must merge;
    cross-key merges happen wherever TPC-H color-word names are
    shingle-close, identically in both engines (md5 family)."""
    from .canonicalize import canonical_assignments

    part = _tbl(spark, sf_dir, "part").filter(F.col("p_partkey") < 150)
    nodes = part.select(
        F.concat(F.lit("MESH:"), F.col("p_partkey").cast("string")).alias("curie"),
        F.col("p_name").alias("name"),
        F.lit("disease").alias("node_type"),
    ).unionByName(
        part.select(
            F.concat(F.lit("GEONAMES:"),
                     F.col("p_partkey").cast("string")).alias("curie"),
            F.regexp_replace("p_name", " ", "-").alias("name"),
            F.lit("disease").alias("node_type"),
        )
    )
    return canonical_assignments(
        nodes, ns_priority=("MESH", "GEONAMES"), threshold=0.7,
        num_hashes=12, bands=6,
    )


SQL_CANONICALIZE = """
    WITH RECURSIVE names AS (
        SELECT 'MESH:' || p_partkey AS curie, p_name AS name
        FROM part WHERE p_partkey < 150
        UNION ALL
        SELECT 'GEONAMES:' || p_partkey, replace(p_name, ' ', '-')
        FROM part WHERE p_partkey < 150),
    norm AS (
        SELECT curie,
               ' ' || trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g'))
               || ' ' AS p
        FROM names),
    sh AS (
        SELECT DISTINCT curie, substr(p, i + 1, 3) AS shingle
        FROM norm, unnest(range(0, greatest(len(p) - 2, 0))) u(i)
        WHERE len(p) >= 3),
    hv AS (
        SELECT curie, i AS hash_idx,
               ('0x' || substr(md5(i || ':' || shingle), 1, 12))::BIGINT AS v
        FROM sh, unnest(range(0, 12)) h(i)),
    sig AS (SELECT curie, hash_idx, min(v) AS minhash FROM hv GROUP BY 1, 2),
    bands AS (
        SELECT curie, hash_idx % 6 AS band,
               string_agg(minhash, ',' ORDER BY hash_idx) AS key
        FROM sig GROUP BY 1, 2),
    cand AS (
        SELECT DISTINCT x.curie AS a, y.curie AS b
        FROM bands x JOIN bands y USING (band, key)
        WHERE x.curie < y.curie),
    sz AS (SELECT curie, count(*) AS s FROM sh GROUP BY 1),
    inter AS (
        SELECT c.a, c.b, count(*) AS ni
        FROM cand c
        JOIN sh sa ON sa.curie = c.a
        JOIN sh sb ON sb.curie = c.b AND sb.shingle = sa.shingle
        GROUP BY 1, 2),
    ver AS (
        SELECT i.a, i.b FROM inter i
        JOIN sz za ON za.curie = i.a
        JOIN sz zb ON zb.curie = i.b
        WHERE ni * 1.0 / (za.s + zb.s - ni) >= 0.7),
    sym AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    vnodes AS (SELECT a AS n FROM sym UNION SELECT b FROM sym),
    comp AS (
        SELECT n AS curie, least(n, min(r.b)) AS component
        FROM vnodes LEFT JOIN reach r ON r.a = n GROUP BY n),
    ranked AS (
        SELECT curie, component,
               CASE split_part(curie, ':', 1)
                    WHEN 'MESH' THEN 0 WHEN 'GEONAMES' THEN 1 ELSE 2
               END AS p
        FROM comp),
    canon AS (
        SELECT component, curie AS canonical_curie FROM (
            SELECT component, curie,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY p, curie) AS rn
            FROM ranked) WHERE rn = 1),
    assigned AS (
        SELECT r.curie, c.canonical_curie
        FROM ranked r JOIN canon c USING (component))
    SELECT n.curie,
           coalesce(a.canonical_curie, n.curie) AS canonical_curie
    FROM (SELECT DISTINCT curie FROM names) n
    LEFT JOIN assigned a USING (curie)
"""


def q_kg_edge_merge(spark, sf_dir):
    """Incremental KG maintenance (incremental.merge_edge_counts): a
    counted edge relation built from 2/3 of the events stream merged with
    a delta built from the remaining 1/3 — counts add, payload columns
    first-wins (existing beats delta)."""
    from . import incremental

    ev = _tbl(spark, sf_dir, "events")

    def edgeify(d, prov):
        return (
            d.groupBy(
                F.concat(F.lit("user:"),
                         F.col("user_id").cast("string")).alias("subj"),
                F.col("event_type").alias("pred"),
                F.concat(F.lit("bucket:"),
                         (F.col("user_id") % 7).cast("string")).alias("obj"),
            )
            .agg(F.count(F.lit(1)).alias("count"))
            .withColumn("provenance", F.lit(prov))
        )

    base = edgeify(ev.filter(F.col("event_id") % 3 != 0), "base")
    delta = edgeify(ev.filter(F.col("event_id") % 3 == 0), "delta")
    out = incremental.merge_edge_counts(base, delta)
    return out.select("subj", "pred", "obj", "count", "provenance")


SQL_KG_EDGE_MERGE = """
    WITH base AS (
        SELECT 'user:' || user_id AS subj, event_type AS pred,
               'bucket:' || (user_id % 7) AS obj,
               count(*) AS cnt, 'base' AS provenance
        FROM events WHERE event_id % 3 <> 0 GROUP BY 1, 2, 3),
    delta AS (
        SELECT 'user:' || user_id AS subj, event_type AS pred,
               'bucket:' || (user_id % 7) AS obj,
               count(*) AS cnt, 'delta' AS provenance
        FROM events WHERE event_id % 3 = 0 GROUP BY 1, 2, 3),
    u AS (
        SELECT *, 0 AS src FROM base
        UNION ALL
        SELECT *, 1 AS src FROM delta)
    SELECT subj, pred, obj, sum(cnt)::BIGINT AS "count",
           arg_min(provenance, src) AS provenance
    FROM u GROUP BY 1, 2, 3
"""


def q_kg_scd2_history(spark, sf_dir):
    """Type-2 SCD attribute history (incremental.scd2_history): the
    events change log compressed into per-user event_type validity
    intervals — consecutive identical values collapse, each surviving
    change opens [effective_from, effective_to) closed by the next one,
    latest open-ended + flagged current, per-key version numbering,
    (ts, event_id) tie-break. One exchange: the change-detection lag,
    the interval-closing lead, and the version row_number all ride the
    same (key, order) window spec. The oracle replays both window
    passes and the null-safe change filter exactly."""
    from . import incremental

    ev = _tbl(spark, sf_dir, "events")
    return incremental.scd2_history(
        ev, key_col="user_id", attr_col="event_type",
        ts_col="ts", tiebreak_col="event_id")


def _sql_kg_scd2_history() -> str:
    return """
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER w AS prev,
                   row_number() OVER w AS rn
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        changed AS (
            SELECT user_id, event_type, ts, event_id
            FROM ordered
            WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        SELECT user_id,
               event_type AS attr_value,
               ts AS effective_from,
               lead(ts) OVER w2 AS effective_to,
               (row_number() OVER w2)::INT AS version,
               lead(ts) OVER w2 IS NULL AS is_current
        FROM changed
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


def q_kg_batch_episodes(spark, sf_dir):
    """Batch episode sessionization (streaming.batch_episodes — the
    relational twin of the stateful streaming_episodes operator, same
    episode definition): per-user maximal event runs with no gap over
    12 hours, from the events change log. Gaps-and-islands on one
    per-key exchange (lag + running sum share the window sort), then
    one (key, island) agg with exact distinct-doc counts. The oracle
    replays the integer-microsecond gap test (epoch_us vs unix_micros —
    no float round-trip) and both window passes exactly."""
    from . import streaming as streaming_mod

    ev = _tbl(spark, sf_dir, "events")
    return streaming_mod.batch_episodes(
        ev, key_col="user_id", ts_col="ts", doc_col="event_id",
        gap="12 hours")


def _sql_kg_batch_episodes() -> str:
    gap_us = 12 * 3600 * 1000 * 1000
    return f"""
        WITH brk AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts)
                             - epoch_us(lag(ts) OVER w) > {gap_us}
                        THEN 1 ELSE 0 END AS b
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        isl AS (
            SELECT user_id, ts, event_id,
                   sum(b) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS g
            FROM brk)
        SELECT user_id,
               min(ts) AS episode_start,
               max(ts) AS episode_end,
               count(*)::INT AS n_events,
               count(DISTINCT event_id)::INT AS n_docs
        FROM isl GROUP BY user_id, g
    """


def q_kg_hierarchy_rollup(spark, sf_dir):
    """Ontology rollup (closure.hierarchy_rollup): real NER mention
    counts per curie aggregated up the ENTRY_ISA hierarchy — every
    ancestor reports its subtree's distinct weighted nodes and total
    mention mass (self included), the 'mentions per MeSH subtree'
    analytic. The oracle rebuilds the closure recursively, adds the
    depth-0 self rows for every hierarchy node, and replays the
    mention-count join + rollup agg."""
    from .closure import hierarchy_rollup

    edges = spark.createDataFrame(ENTRY_ISA, "subj string, obj string")
    w = (entry_mentions(spark, sf_dir)
         .groupBy("curie").agg(F.count(F.lit(1)).alias("n")))
    return hierarchy_rollup(edges, w, node_col="curie", weight_col="n")


def _sql_kg_hierarchy_rollup() -> str:
    vals = ", ".join(f"('{s}', '{o}')" for s, o in ENTRY_ISA)
    return f"""
        WITH RECURSIVE e(subj, obj) AS (VALUES {vals}),
        c AS (
            SELECT subj AS node, obj AS ancestor FROM e
            UNION
            SELECT c.node, e.obj FROM c JOIN e ON c.ancestor = e.subj),
        cs AS (
            -- explicit DISTINCT: inside a WITH RECURSIVE clause DuckDB
            -- does not set-dedupe a plain UNION chain in a non-recursive
            -- member, so self rows already discovered by c would double
            SELECT DISTINCT node, ancestor FROM (
                SELECT node, ancestor FROM c
                UNION ALL SELECT subj, subj FROM e
                UNION ALL SELECT obj, obj FROM e)),
        m AS ({_SQL_MENTIONS}),
        w AS (SELECT curie, count(*) AS n FROM m GROUP BY curie)
        SELECT cs.ancestor, count(*)::INT AS n_nodes,
               sum(w.n)::BIGINT AS total
        FROM cs JOIN w ON cs.node = w.curie
        GROUP BY 1
    """


def q_kg_attr_asof(spark, sf_dir):
    """Point-in-time attribute lookup — the SCD-2 history table IN USE:
    'what was each user's event_type on Jan 15 / Jan 25?' answered by
    an as-of join (temporal.asof_join, single-shuffle union+window)
    against incremental.scd2_history's validity intervals; probes
    before a user's first change report null. Composes three session
    operators (history build, asof, the tiling guarantee: greatest
    effective_from <= t IS the valid version). The oracle nests the
    full SCD-2 replay and resolves each probe with a max-effective_from
    join."""
    from . import incremental
    from .temporal import asof_join

    ev = _tbl(spark, sf_dir, "events")
    hist = incremental.scd2_history(
        ev, key_col="user_id", attr_col="event_type",
        ts_col="ts", tiebreak_col="event_id")
    probes = ev.select("user_id").distinct().crossJoin(
        spark.createDataFrame(
            [("2024-01-15 00:00:00",), ("2024-01-25 00:00:00",)],
            "t string"
        ).select(F.col("t").cast("timestamp_ntz").alias("probe_ts"))
    )
    out = asof_join(
        probes,
        hist.select("user_id", "effective_from", "attr_value"),
        ["user_id"], left_ts="probe_ts", right_ts="effective_from",
        right_value_cols=["attr_value"],
    )
    return out.select(
        "user_id", "probe_ts",
        F.col("attr_value_asof").alias("attr_value"),
        F.col("effective_from_asof").alias("valid_from"),
    )


def _sql_kg_attr_asof() -> str:
    return f"""
        WITH hist AS ({_sql_kg_scd2_history()}),
        probes AS (
            SELECT DISTINCT user_id, t.ts AS probe_ts
            FROM events, (VALUES (TIMESTAMP '2024-01-15'),
                                 (TIMESTAMP '2024-01-25')) t(ts)),
        m AS (
            SELECT p.user_id, p.probe_ts,
                   max(h.effective_from) AS valid_from
            FROM probes p LEFT JOIN hist h
              ON h.user_id = p.user_id AND h.effective_from <= p.probe_ts
            GROUP BY 1, 2)
        SELECT m.user_id, m.probe_ts, h.attr_value, m.valid_from
        FROM m LEFT JOIN hist h
          ON h.user_id = m.user_id AND h.effective_from = m.valid_from
    """


def q_kg_edge_diff(spark, sf_dir):
    """Edge snapshot diff (incremental.edge_diff): two counted edge
    relations derived from the documents table under DIFFERENT residue
    exclusions (%17 vs %13 — so some edges lose all support on one
    side, some change count, some hold), classified
    added/removed/changed/unchanged per (subj, pred, obj) — what a
    recurring KG build audits between compaction versions. The oracle
    replays both snapshot aggs and the presence-flag full-outer CASE."""
    from .incremental import edge_diff

    d = _docs(spark, sf_dir, spread=False)

    def snap(excl):
        return (
            d.filter(F.col("doc_id") % excl != 0)
            .select(
                F.pmod("doc_id", F.lit(41)).cast("string").alias("subj"),
                F.lit("occurs_with").alias("pred"),
                F.pmod(F.col("doc_id") * 3, F.lit(43)).cast("string")
                .alias("obj"),
            )
            .groupBy("subj", "pred", "obj")
            .agg(F.count(F.lit(1)).alias("count"))
        )

    return edge_diff(snap(17), snap(13))


def _sql_kg_edge_diff() -> str:
    def snap(excl):
        return f"""
            SELECT (doc_id % 41)::VARCHAR AS subj,
                   'occurs_with' AS pred,
                   ((doc_id * 3) % 43)::VARCHAR AS obj,
                   count(*) AS cnt
            FROM documents WHERE doc_id % {excl} != 0
            GROUP BY 1, 2, 3"""

    return f"""
        WITH o AS ({snap(17)}), n AS ({snap(13)}),
        j AS (
            SELECT coalesce(o.subj, n.subj) AS subj,
                   coalesce(o.pred, n.pred) AS pred,
                   coalesce(o.obj, n.obj) AS obj,
                   o.cnt AS old_count, n.cnt AS new_count,
                   o.subj IS NOT NULL AS in_old,
                   n.subj IS NOT NULL AS in_new
            FROM o FULL OUTER JOIN n
              ON o.subj = n.subj AND o.pred = n.pred AND o.obj = n.obj)
        SELECT subj, pred, obj, old_count, new_count,
               CASE WHEN NOT in_old THEN 'added'
                    WHEN NOT in_new THEN 'removed'
                    WHEN old_count IS DISTINCT FROM new_count
                         THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM j
    """


def q_kg_key_skew(spark, sf_dir):
    """Join-key skew advisor (skew.key_skew_profile): the real NER
    mention stream profiled on its curie key — top-10 heaviest
    entities with row share and the salt flag at n_partitions=32 (the
    'Disease'-at-80k-mentions read the salted operators in skew.py
    exist for, taken BEFORE the job instead of after the straggler).
    The oracle replays the count, share, threshold, and (count desc,
    key) rank."""
    from .skew import key_skew_profile

    m = entry_mentions(spark, sf_dir)
    return key_skew_profile(m, ["curie"], top_k=10, n_partitions=32)


def _sql_kg_key_skew(top_k: int = 10, n_partitions: int = 32) -> str:
    return f"""
        WITH m AS ({_SQL_MENTIONS}),
        c AS (SELECT curie, count(*)::BIGINT AS n_rows
              FROM m GROUP BY 1),
        t AS (SELECT sum(n_rows)::DOUBLE AS t FROM c),
        r AS (
            SELECT row_number() OVER (ORDER BY n_rows DESC, curie)::INT
                       AS rank,
                   curie, n_rows,
                   round(n_rows / t.t, 6) AS share_r,
                   n_rows / t.t > 1.0 / {n_partitions}
                       AS salt_recommended
            FROM c, t)
        SELECT rank, curie, n_rows, share_r, salt_recommended
        FROM r WHERE rank <= {top_k}
    """
