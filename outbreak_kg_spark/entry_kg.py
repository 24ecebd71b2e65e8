"""KG registry entries: page extraction, entry-trie NER, co-mention pairs,
the is-a closure, the conjunctive alert query, realism and literature
scores, pattern triples and the reference endpoints' queries, each with its
DuckDB oracle SQL."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .closure import transitive_closure
from .entry_fixtures import (
    ENTRY_GAZ,
    ENTRY_ISA,
    _SQL_MENTIONS,
    _docs,
    entry_gazetteer_df,
    entry_mentions,
    _mention_pairs,
    _sql_values_gaz,
    _tbl,
    _utc,
)
from .extract import extract_pages
from .skew import salted_count


LIT_QUERY_TERMS = ["MESH:D0001", "MESH:D1001", "MESH:D2001"]  # slow, hash, table


def _entry_closure_pairs() -> list[tuple[str, str]]:
    """Reachability pairs (node, ancestor) of ENTRY_ISA incl. depth-0 self
    rows — computed here once so the SQL literal and any test share it."""
    parents: dict[str, set] = {}
    nodes = set()
    for c, p in ENTRY_ISA:
        parents.setdefault(c, set()).add(p)
        nodes |= {c, p}
    out = {(n, n) for n in nodes}
    for n in nodes:
        seen, stack = set(), [n]
        while stack:
            for p in parents.get(stack.pop(), ()):
                if p not in seen:
                    seen.add(p)
                    stack.append(p)
        out |= {(n, a) for a in seen}
    return sorted(out)


def _sql_values_closure() -> str:
    return ", ".join(f"('{n}', '{a}')" for n, a in _entry_closure_pairs())


def q_kg_extract_text(spark, sf_dir):
    """T1-T4: page-ify documents, run the real extraction state machine UDF,
    return the canonical text. Oracle computes the expected bytes directly."""
    d = _docs(spark, sf_dir)
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(
            F.lit("Published Date: 2024-03-01 12:00:00 EDT\nSubject: PRO> doc "),
            F.col("doc_id").cast("string"),
            F.lit("\nArchive Number: "),
            F.format_string("%08d", (F.col("doc_id") + F.lit(20000000)).cast("int")),
            F.lit("."),
            F.col("doc_id").cast("string"),
            F.lit("\n\nreport "),
            F.col("doc_id").cast("string"),
            F.lit("\n-----------------------------------------\n"),
            F.col("text"),
            F.lit("\n--"),
        ).alias("text"),
        F.col("lang"),
    )
    ex = extract_pages(pages)
    return ex.filter("valid").select("url", "extracted_text")


SQL_KG_EXTRACT_TEXT = """
    SELECT 'doc://' || doc_id AS url,
           'PRO> doc ' || doc_id || chr(10) || chr(10) ||
           'report ' || doc_id || chr(10) || chr(10) ||
           trim(text) || chr(10) || chr(10) AS extracted_text
    FROM documents
"""


def q_kg_ner_mentions(spark, sf_dir):
    return entry_mentions(spark, sf_dir)


def q_kg_terms_per_doc(spark, sf_dir):
    return (
        entry_mentions(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count_distinct("curie").alias("n_terms"))
    )


def q_kg_mention_pairs(spark, sf_dir):
    """A1/A3/J5: within-doc canonical pairs + salted two-phase count."""
    m = entry_mentions(spark, sf_dir).select("doc_id", "curie", "name")
    pairs = _mention_pairs(m)
    return salted_count(pairs, ["a_curie", "b_curie"], salt=16,
                        count_col="n_docs", salt_from=F.col("doc_id"))


SQL_KG_MENTION_PAIRS = f"""
    WITH m AS ({_SQL_MENTIONS})
    SELECT a.curie AS a_curie, b.curie AS b_curie, count(*) AS n_docs
    FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.name < b.name
    GROUP BY 1, 2
"""


def q_kg_mention_pairs_grouped(spark, sf_dir):
    """A3 one-shuffle plan: per-doc distinct sets collected once, pairs
    expanded JVM-side (skew.grouped_pair_counts). Same oracle as
    kg_mention_pairs — the correctness gate proves the two physical plans
    compute the same relation."""
    from .skew import grouped_pair_counts

    m = entry_mentions(spark, sf_dir).select("doc_id", "curie", "name")
    out = grouped_pair_counts(
        m, group_col="doc_id", struct_cols=["name", "curie"],
        salt=16, count_col="n_docs",
    )
    return out.select(
        F.col("a_curie").alias("a_curie"),
        F.col("b_curie").alias("b_curie"),
        "n_docs",
    )


def q_kg_interesting_pairs(spark, sf_dir):
    """A4: typed-pair relation-extraction rule on the pair table."""
    m = entry_mentions(spark, sf_dir)
    pairs = _mention_pairs(m, with_types=True)
    ok = pairs.filter(
        ((F.col("at") == "geoloc") & (F.col("bt") == "pathogen"))
        | ((F.col("bt") == "geoloc") & (F.col("at") == "pathogen"))
        | ((F.col("at") == "disease") & (F.col("bt") == "pathogen"))
        | ((F.col("bt") == "disease") & (F.col("at") == "pathogen"))
        | ((F.col("at") == "geoloc") & (F.col("bt") == "disease"))
        | ((F.col("bt") == "geoloc") & (F.col("at") == "disease"))
    )
    return salted_count(ok, ["a_curie", "b_curie"], salt=16,
                        count_col="n_docs", salt_from=F.col("doc_id"))


SQL_KG_INTERESTING_PAIRS = f"""
    WITH m AS ({_SQL_MENTIONS})
    SELECT a.curie AS a_curie, b.curie AS b_curie, count(*) AS n_docs
    FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.name < b.name
    WHERE (a.node_type, b.node_type) IN (
        ('geoloc','pathogen'), ('pathogen','geoloc'),
        ('disease','pathogen'), ('pathogen','disease'),
        ('geoloc','disease'), ('disease','geoloc'))
    GROUP BY 1, 2
"""


def q_kg_isa_closure(spark, sf_dir):
    """J7: transitive closure over the part-key binary tree; oracle is a
    recursive CTE.

    The edge relation is the FUNCTION graph p -> floor(p/2), so each node
    has exactly one parent chain and its depth-k ancestor is p >> k. The
    closure is therefore a single codegen projection — explode the
    filtered (p >> k, k) sequence — with zero joins and zero iterations
    (the generic filtered-doubling loop needs ~5 rounds, each a union +
    groupBy + eager checkpoint + stats action). Chains reach 1 exactly
    while p >> k >= 1, every intermediate value is itself a part key
    (partkeys are contiguous from 1), and min-depth is trivially unique on
    a single path. Each row's sequence runs to its key's bit length
    (``length(bin(p))``), so every bigint key gets its whole chain; the
    filter drops the last, zero, shift. The generic transitive_closure
    operator stays driver-gated through kg_typed_subtree and
    kg_mixed_path."""
    part = _tbl(spark, sf_dir, "part", spread=True)
    ancs = F.expr(
        "filter(transform("
        "sequence(1, length(bin(cast(p_partkey as bigint)))), k -> "
        "struct(shiftright(cast(p_partkey as bigint), k) as ancestor, "
        "k as depth)), s -> s.ancestor >= 1 "
        "and s.ancestor != cast(p_partkey as bigint))"
    )
    return (
        part.select(F.col("p_partkey").cast("long").alias("node"),
                    F.explode(ancs).alias("a"))
        .select(
            "node",
            F.col("a.ancestor").cast("long").alias("ancestor"),
            F.col("a.depth").cast("int").alias("depth"),
        )
    )


SQL_KG_ISA_CLOSURE = """
    WITH RECURSIVE e AS (
        SELECT p_partkey AS node, p_partkey // 2 AS parent FROM part
        WHERE p_partkey // 2 >= 1 AND p_partkey // 2 <> p_partkey
    ), c AS (
        SELECT node, parent AS ancestor, 1 AS depth FROM e
        UNION
        SELECT c.node, e.parent, c.depth + 1 FROM c JOIN e ON c.ancestor = e.node
    )
    SELECT node::BIGINT AS node, ancestor::BIGINT AS ancestor,
           min(depth)::INT AS depth
    FROM c GROUP BY 1, 2
"""


def q_kg_query_graph(spark, sf_dir):
    """J9 flagship: conjunctive alert query through the closure table —
    docs mentioning a disease reaching MESH:D0000 AND a geoloc reaching
    MESH:D2001, one row per matched entity combination."""
    from .queries import query_graph

    m = entry_mentions(spark, sf_dir)
    nodes = (
        m.select(
            F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("curie"),
            F.col("doc_id").cast("string").alias("name"),
            F.array(F.lit("alert")).alias("labels"),
            F.lit("alert").alias("node_type"),
            F.lit("").alias("timestamp"),
        )
        .dropDuplicates(["curie"])
        .unionByName(
            spark.createDataFrame(
                [(c, t, [ty, "entity"], ty, None) for c, t, ty in ENTRY_GAZ],
                "curie string, name string, labels array<string>, "
                "node_type string, timestamp string",
            )
        )
    )
    edges = m.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("curie").alias("obj"),
    )
    closure = spark.createDataFrame(
        [{"node": n, "ancestor": a, "depth": 0} for n, a in _entry_closure_pairs()]
    )
    res = query_graph(
        nodes, edges, closure,
        disease_curie="MESH:D0000", geolocation_curie="MESH:D2001",
    )
    return res.select(
        "alert_curie", "disease", "disease_isa", "geolocation", "geolocation_isa"
    )


SQL_KG_QUERY_GRAPH = f"""
    WITH m AS ({_SQL_MENTIONS}),
    cl(node, ancestor) AS (VALUES {_sql_values_closure()})
    SELECT DISTINCT 'doc:' || m1.doc_id AS alert_curie,
           m1.curie AS disease, 'MESH:D0000' AS disease_isa,
           m2.curie AS geolocation, 'MESH:D2001' AS geolocation_isa
    FROM m m1
    JOIN cl c1 ON m1.curie = c1.node AND c1.ancestor = 'MESH:D0000'
    JOIN m m2 ON m2.doc_id = m1.doc_id
    JOIN cl c2 ON m2.curie = c2.node AND c2.ancestor = 'MESH:D2001'
    WHERE m1.node_type = 'disease' AND m2.node_type = 'geoloc'
"""


def q_kg_predicate_rename(spark, sf_dir):
    """North-rule vocabulary view (SURVEY.md §1.1; views.predicate_rename_view):
    builds a graph from the entry mentions — isa hierarchy, occurs_with pair
    counts, has_pathogen(disease -> pathogen) co-mentions, alert timestamps —
    and emits the renamed edges (located_in / case_count_of / causes /
    occurred_on)."""
    _utc(spark)
    from .views import predicate_rename_view

    m = entry_mentions(spark, sf_dir)
    alerts = (
        m.select(
            F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("curie"),
            F.lit("alert").alias("node_type"),
            F.format_string(
                "2024-%02d-01", (F.col("doc_id") % 12 + 1).cast("int")
            ).alias("timestamp"),
        )
        .dropDuplicates(["curie"])
    )
    entities = spark.createDataFrame(
        [(c, ty, None) for c, _t, ty in ENTRY_GAZ],
        "curie string, node_type string, timestamp string",
    )
    nodes = alerts.unionByName(entities)

    isa = spark.createDataFrame(
        [(s, "isa", o, None) for s, o in ENTRY_ISA],
        "subj string, pred string, obj string, count long",
    )
    co = _mention_pairs(m, with_types=True, ordered=False)
    occurs = (
        salted_count(co.filter(F.col("an") < F.col("bn")),
                     ["a_curie", "b_curie"], salt=16, count_col="count",
                     salt_from=F.col("doc_id"))
        .select(F.col("a_curie").alias("subj"),
                F.lit("occurs_with").alias("pred"),
                F.col("b_curie").alias("obj"), "count")
    )
    has_pathogen = (
        co.filter((F.col("at") == "disease") & (F.col("bt") == "pathogen"))
        .select(F.col("a_curie").alias("subj"),
                F.lit("has_pathogen").alias("pred"),
                F.col("b_curie").alias("obj"))
        .dropDuplicates()
        .withColumn("count", F.lit(None).cast("long"))
    )
    edges = isa.unionByName(occurs).unionByName(has_pathogen)
    return predicate_rename_view(nodes, edges).select(
        "subj", "pred", "obj", "count"
    )


SQL_KG_PREDICATE_RENAME = f"""
    WITH m AS ({_SQL_MENTIONS}),
    isa(subj, obj) AS (VALUES {", ".join(f"('{s}', '{o}')" for s, o in ENTRY_ISA)}),
    gaz(curie, name, node_type) AS (VALUES {_sql_values_gaz()}),
    geo AS (SELECT curie FROM gaz WHERE node_type = 'geoloc')
    SELECT subj, 'located_in' AS pred, obj, NULL::BIGINT AS count
    FROM isa WHERE subj IN (SELECT curie FROM geo)
               AND obj IN (SELECT curie FROM geo)
    UNION ALL
    SELECT DISTINCT b.curie AS subj, 'causes' AS pred, a.curie AS obj,
           NULL::BIGINT AS count
    FROM m a JOIN m b ON a.doc_id = b.doc_id
    WHERE a.node_type = 'disease' AND b.node_type = 'pathogen'
    UNION ALL
    SELECT a.curie AS subj, 'case_count_of' AS pred, b.curie AS obj,
           count(*) AS count
    FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.name < b.name
    GROUP BY 1, 3
    UNION ALL
    SELECT DISTINCT 'doc:' || doc_id AS subj, 'occurred_on' AS pred,
           printf('2024-%02d-01', (doc_id % 12 + 1)::INT) AS obj,
           NULL::BIGINT AS count
    FROM m
"""


def q_kg_top_alerts(spark, sf_dir):
    """A16/O4: docs ranked by distinct mentioned entities, deterministic
    top-50 (TakeOrderedAndProject)."""
    m = entry_mentions(spark, sf_dir)
    return (
        m.groupBy("doc_id")
        .agg(F.count_distinct("curie").alias("n_entities"))
        .orderBy(F.desc("n_entities"), F.asc("doc_id"))
        .limit(50)
    )


SQL_KG_TOP_ALERTS = f"""
    WITH m AS ({_SQL_MENTIONS})
    SELECT doc_id, count(DISTINCT curie) AS n_entities
    FROM m GROUP BY doc_id
    ORDER BY n_entities DESC, doc_id ASC LIMIT 50
"""


def q_kg_first_timestamp_lookup(spark, sf_dir):
    """P10: first matching timestamp else '' (alert timestamp semantics,
    kg/build.py:165-170), over customer/orders."""
    _utc(spark)
    cust = _tbl(spark, sf_dir, "customer")
    orders = _tbl(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("ts")
    )
    return cust.join(
        first, cust["c_custkey"] == first["o_custkey"], "left"
    ).select(
        "c_custkey", F.coalesce("ts", F.lit("")).alias("first_order_ts")
    )


SQL_KG_FIRST_TIMESTAMP = """
    SELECT c.c_custkey,
           coalesce(strftime(o.ts, '%Y-%m-%d %H:%M:%S'), '') AS first_order_ts
    FROM customer c
    LEFT JOIN (SELECT o_custkey, min(o_orderdate) AS ts FROM orders GROUP BY 1) o
      ON c.c_custkey = o.o_custkey
"""


def q_kg_cooccur_scores(spark, sf_dir):
    """A5: log-normalized co-occurrence scores (kg/realism_score.py:70-72),
    rounded for cross-engine float stability. The doc total rides along as a
    broadcast 1-row frame — one job, no driver-side count() re-running the
    NER pass (round-1 flaw #4)."""
    m = entry_mentions(spark, sf_dir)
    n_docs = F.broadcast(m.agg(F.count_distinct("doc_id").alias("_nd")))
    pairs = _mention_pairs(m)
    return (
        pairs.groupBy("a_curie", "b_curie")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .crossJoin(n_docs)
        .select(
            "a_curie", "b_curie", "n_co",
            F.round(F.log("n_co") - F.log(F.col("_nd").cast("double")), 6)
            .alias("score_r"),
        )
    )


SQL_KG_COOCCUR_SCORES = f"""
    WITH m AS ({_SQL_MENTIONS}),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM m)
    SELECT a.curie AS a_curie, b.curie AS b_curie, count(*) AS n_co,
           round(ln(count(*)) - ln((SELECT n_docs FROM n)::DOUBLE), 6) AS score_r
    FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.name < b.name
    GROUP BY 1, 2
"""


def q_kg_realism_logsumexp(spark, sf_dir):
    """A6+P11: stable logsumexp over all pair scores + threshold
    classification (kg/client.py:269-281)."""
    m = entry_mentions(spark, sf_dir)
    n_docs = F.broadcast(m.agg(F.count_distinct("doc_id").alias("_nd")))
    pair_scores = (
        _mention_pairs(m)
        .groupBy("a_curie", "b_curie")
        .agg(F.count(F.lit(1)).alias("_nc"))
        .crossJoin(n_docs)
        .select((F.log("_nc") - F.log(F.col("_nd").cast("double"))).alias("s"))
    )
    mx = pair_scores.agg(F.max("s").alias("_m"))
    lse = (
        pair_scores.crossJoin(F.broadcast(mx))
        .agg(
            F.first("_m").alias("_m"),
            F.sum(F.exp(F.col("s") - F.col("_m"))).alias("_sum"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .select(
            F.round(F.col("_m") + F.log("_sum"), 4).alias("score_sum_r"),
            "n_pairs",
        )
    )
    return lse.select(
        "score_sum_r", "n_pairs",
        F.when(F.col("score_sum_r") > -4.5, "high")
        .when(F.col("score_sum_r") > -7.0, "medium")
        .otherwise("low")
        .alias("classification"),
    )


SQL_KG_REALISM_LSE = f"""
    WITH m AS ({_SQL_MENTIONS}),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM m),
    ps AS (
        SELECT a.curie ac, b.curie bc,
               ln(count(*)) - ln((SELECT n_docs FROM n)::DOUBLE) AS s
        FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.name < b.name
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT round(max(s) + ln(sum(exp(s - mx))), 4) AS score_sum_r,
               count(*) AS n_pairs
        FROM ps, (SELECT max(s) AS mx FROM ps)
    )
    SELECT score_sum_r, n_pairs,
           CASE WHEN score_sum_r > -4.5 THEN 'high'
                WHEN score_sum_r > -7.0 THEN 'medium'
                ELSE 'low' END AS classification
    FROM agg
"""


def q_kg_literature_candidates(spark, sf_dir):
    """A13: per-'pmid' query-term counting with threshold (mesh_pmids stand
    -in = the mentions table)."""
    from .queries import literature_candidates

    m = entry_mentions(spark, sf_dir).select(
        F.col("curie").alias("mesh_id"), F.col("doc_id").alias("pmid")
    )
    cand, _q = literature_candidates(m, LIT_QUERY_TERMS, exclude=set())
    return cand.select("pmid", "n_query_terms")


SQL_KG_LIT_CANDIDATES = f"""
    WITH m AS ({_SQL_MENTIONS})
    SELECT doc_id AS pmid, count(DISTINCT curie) AS n_query_terms
    FROM m WHERE curie IN ('{LIT_QUERY_TERMS[0]}', '{LIT_QUERY_TERMS[1]}',
                           '{LIT_QUERY_TERMS[2]}')
    GROUP BY doc_id HAVING count(DISTINCT curie) >= 2
"""


def q_kg_literature_contingency(spark, sf_dir):
    """A14's 2x2 contingency cells per candidate pmid (the Fisher p-value on
    top of these is scipy inside applyInPandas — pytest-verified; the cells
    are the SQL-checkable part)."""
    from .queries import total_mesh_terms

    m = entry_mentions(spark, sf_dir).select(
        F.col("curie").alias("mesh_id"), F.col("doc_id").alias("pmid")
    )
    total = F.broadcast(total_mesh_terms(m))
    nq = len(LIT_QUERY_TERMS)
    cand = (
        m.filter(F.col("mesh_id").isin(LIT_QUERY_TERMS))
        .groupBy("pmid")
        .agg(F.count_distinct("mesh_id").alias("n_overlap"))
        .filter(F.col("n_overlap") >= 2)
    )
    tgt = m.groupBy("pmid").agg(F.count_distinct("mesh_id").alias("n_target"))
    return cand.join(tgt, "pmid").crossJoin(total).select(
        "pmid", "n_overlap", "n_target",
        (F.lit(nq) - F.col("n_overlap")).alias("q_minus_t"),
        (F.col("n_target") - F.col("n_overlap")).alias("t_minus_q"),
        (F.col("total_terms") - (F.lit(nq) + F.col("n_target") - F.col("n_overlap")))
        .alias("neither"),
    )


SQL_KG_LIT_CONTINGENCY = f"""
    WITH m AS ({_SQL_MENTIONS}),
    tot AS (SELECT count(DISTINCT curie) AS t FROM m),
    cand AS (
        SELECT doc_id AS pmid, count(DISTINCT curie) AS n_overlap
        FROM m WHERE curie IN ('{LIT_QUERY_TERMS[0]}', '{LIT_QUERY_TERMS[1]}',
                               '{LIT_QUERY_TERMS[2]}')
        GROUP BY doc_id HAVING count(DISTINCT curie) >= 2
    ),
    tgt AS (SELECT doc_id AS pmid, count(DISTINCT curie) AS n_target FROM m GROUP BY 1)
    SELECT c.pmid, c.n_overlap, t.n_target,
           3 - c.n_overlap AS q_minus_t,
           t.n_target - c.n_overlap AS t_minus_q,
           (SELECT t FROM tot) - (3 + t.n_target - c.n_overlap) AS neither
    FROM cand c JOIN tgt t USING (pmid)
"""


def q_kg_literature_pvalues(spark, sf_dir):
    """A14 full: vectorized Fisher exact inside applyInPandas, now fully
    oracle-gated: the overlap set is projected to a comma-joined string (the
    driver's rows-only canonicalizer can't sort array cells — round-1 ERR)
    and the p-value is rounded so the DuckDB lgamma tail sum matches."""
    from .queries import literature_pvalues

    m = entry_mentions(spark, sf_dir).select(
        F.col("curie").alias("mesh_id"), F.col("doc_id").alias("pmid")
    )
    types = spark.createDataFrame(
        [{"mesh_id": c, "node_type": ty} for c, _t, ty in ENTRY_GAZ]
    )
    out = literature_pvalues(m, types, LIT_QUERY_TERMS, exclude=set(), limit=20)
    return out.select(
        "pmid", "n_target", "n_overlap",
        F.array_join("overlap", ",").alias("overlap_csv"),
        "overlap_coverage", "overlap_coverage_relevant",
        F.round("pval", 6).alias("pval_r"),
    )


def _sql_lit_pvalues() -> str:
    """Fisher tail sum in SQL: P(X >= a) for X ~ Hypergeom(M=total, K=row1,
    N=col1) via lgamma, summed over k = a..min(row1, col1) with a correlated
    range subquery — exactly fisher_exact_greater's formula."""
    types_vals = ", ".join(f"('{c}', '{ty}')" for c, _t, ty in ENTRY_GAZ)
    q_in = ", ".join(f"'{t}'" for t in LIT_QUERY_TERMS)
    nq = len(LIT_QUERY_TERMS)
    return f"""
    WITH m0 AS ({_SQL_MENTIONS}),
    m AS (SELECT DISTINCT curie AS mesh_id, doc_id AS pmid FROM m0),
    tot AS (SELECT count(DISTINCT mesh_id) AS total_terms FROM m),
    cand AS (
        SELECT pmid, count(DISTINCT mesh_id) AS n_overlap
        FROM m WHERE mesh_id IN ({q_in})
        GROUP BY pmid HAVING count(DISTINCT mesh_id) >= {nq - 1}),
    typed AS (
        SELECT m.pmid, m.mesh_id, t.node_type
        FROM m JOIN cand USING (pmid)
        LEFT JOIN (VALUES {types_vals}) t(mesh_id, node_type) USING (mesh_id)),
    per AS (
        SELECT pmid,
               count(*) AS n_target,
               count(DISTINCT CASE WHEN mesh_id IN ({q_in})
                                   THEN mesh_id END) AS n_overlap,
               string_agg(DISTINCT CASE WHEN mesh_id IN ({q_in})
                                        THEN mesh_id END, ','
                          ORDER BY CASE WHEN mesh_id IN ({q_in})
                                        THEN mesh_id END) AS overlap_csv,
               count(DISTINCT CASE WHEN mesh_id IN ({q_in})
                                   THEN node_type END) AS overlap_coverage,
               count(DISTINCT CASE WHEN mesh_id IN ({q_in})
                         AND node_type IN ('geoloc', 'disease', 'pathogen')
                                   THEN node_type END)
                 AS overlap_coverage_relevant
        FROM typed GROUP BY pmid),
    cells AS (
        SELECT per.*,
               n_overlap AS a4,
               {nq} AS row1,
               n_target AS col1,
               (SELECT total_terms FROM tot) AS m4
        FROM per),
    pv AS (
        -- k <= row1 = n_query, so an uncorrelated 0..n_query range joined on
        -- BETWEEN replaces the (unsupported) correlated generate_series
        SELECT c.pmid, c.n_target, c.n_overlap, c.overlap_csv,
               c.overlap_coverage, c.overlap_coverage_relevant,
               least(1.0, sum(exp(
                   (lgamma(c.row1 + 1) - lgamma(s.k + 1)
                    - lgamma(c.row1 - s.k + 1))
                   + (lgamma(c.m4 - c.row1 + 1) - lgamma(c.col1 - s.k + 1)
                      - lgamma(c.m4 - c.row1 - c.col1 + s.k + 1))
                   - (lgamma(c.m4 + 1) - lgamma(c.col1 + 1)
                      - lgamma(c.m4 - c.col1 + 1))))) AS pval
        FROM cells c
        JOIN generate_series(0, {nq}) s(k)
          ON s.k BETWEEN c.a4 AND least(c.row1, c.col1)
        GROUP BY ALL)
    SELECT pmid::VARCHAR AS pmid, n_target, n_overlap, overlap_csv,
           overlap_coverage, overlap_coverage_relevant,
           round(pval, 6) AS pval_r
    FROM pv
    ORDER BY overlap_coverage_relevant DESC, overlap_coverage DESC,
             pval ASC, pmid::VARCHAR ASC
    LIMIT 20
"""


def q_kg_autocomplete(spark, sf_dir):
    """O5: capped case-insensitive prefix search (kg/nodes_trie.py:23-39)
    over part names."""
    part = _tbl(spark, sf_dir, "part")
    return (
        part.filter(F.lower("p_name").startswith("s"))
        .select("p_partkey", "p_name")
        .orderBy(F.lower("p_name"), "p_partkey")
        .limit(100)
    )


SQL_KG_AUTOCOMPLETE = """
    SELECT p_partkey, p_name FROM part
    WHERE lower(p_name) LIKE 's%'
    ORDER BY lower(p_name), p_partkey LIMIT 100
"""


_PT_DIS = ["slow", "dup", "stream"]
_PT_GEO = ["table", "window", "batch"]
_PT_PAT = ["hash", "spark", "vector", "join"]


def q_kg_pattern_triples(spark, sf_dir):
    """Sentence-scoped pattern triple extraction (triples.py) — the north
    rule's literal ask: outbreak relations asserted only where a lexical
    cue connects grounded mentions inside ONE sentence. Each document gets
    a deterministic two-sentence outbreak tail ("<n> cases of <disease> in
    <geo> on <date>", "<pathogen> causes <disease>") appended so all four
    predicates fire; the original text (dot-free, cue-free) forms sentence
    0 and contributes mentions but no triples — cue gating, not bare
    co-occurrence, is what the oracle checks."""
    from .ground import make_extract_ner_udf
    from .triples import explode_groups, triples_from_sentence_groups

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    arr = lambda xs: F.array(*[F.lit(x) for x in xs])  # noqa: E731
    pick = lambda xs, k: F.element_at(arr(xs), (k % len(xs)).cast("int") + 1)  # noqa: E731
    tail = F.concat(
        F.lit(" . update : "), (i % 900 + 10).cast("string"),
        F.lit(" cases of "), pick(_PT_DIS, i),
        F.lit(" in "), pick(_PT_GEO, i + 1),
        F.lit(" on "),
        F.date_format(
            F.date_add(F.to_date(F.lit("2024-01-01")), (i % 365).cast("int")),
            "yyyy-MM-dd"),
        F.lit(" . "), pick(_PT_PAT, i),
        F.lit(" causes "), pick(_PT_DIS, i + 1),
        F.lit(" ."),
    )
    docs = d.select("doc_id", F.concat("text", tail).alias("text"))
    # ONE Arrow pass builds the per-(doc, sentence) mention groups
    # directly (the operator's groups field): no per-mention sentence
    # math and no grouping exchange; the cue rules run over the groups
    udf = make_extract_ner_udf(spark, entry_gazetteer_df(spark), groups=True)
    return triples_from_sentence_groups(explode_groups(
        docs.select("doc_id", udf(F.col("text")).groups.alias("groups"))))


def _sql_pattern_triples() -> str:
    def _pick(xs, off):
        lst = "[" + ", ".join(f"'{x}'" for x in xs) + "]"
        shift = f"(doc_id + {off})" if off else "doc_id"
        return f"list_extract({lst}, ({shift} % {len(xs)})::INT + 1)"

    return f"""
    WITH gaz(curie, name, node_type) AS (VALUES {_sql_values_gaz()}),
    p AS (
        SELECT doc_id,
               text || ' . update : ' || (doc_id % 900 + 10)::VARCHAR
                    || ' cases of ' || {_pick(_PT_DIS, 0)}
                    || ' in ' || {_pick(_PT_GEO, 1)}
                    || ' on ' || strftime(DATE '2024-01-01'
                                          + ((doc_id % 365)::INT), '%Y-%m-%d')
                    || ' . ' || {_pick(_PT_PAT, 0)}
                    || ' causes ' || {_pick(_PT_DIS, 1)} || ' .' AS text
        FROM documents),
    sent AS (
        SELECT doc_id, l[u.i] AS sentence, u.i - 1 AS sent_idx
        FROM (SELECT doc_id, string_split(text, '.') AS l FROM p),
             unnest(range(1, len(l) + 1)) u(i)),
    m AS (
        SELECT DISTINCT doc_id, sent_idx, sentence, g.curie, g.name,
                        g.node_type
        FROM sent
        JOIN gaz g ON list_contains(string_split(sentence, ' '), g.name)),
    legs AS (
        SELECT a.doc_id, a.curie AS subj, 'located_in' AS pred,
               b.curie AS obj, NULL::BIGINT AS n_cases
        FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.sent_idx = b.sent_idx
        WHERE a.node_type = 'disease' AND b.node_type = 'geoloc'
          AND contains(a.sentence, ' in ' || b.name)
        UNION ALL
        SELECT a.doc_id, a.curie, 'causes', b.curie, NULL::BIGINT
        FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.sent_idx = b.sent_idx
        WHERE a.node_type = 'pathogen' AND b.node_type = 'disease'
          AND contains(a.sentence, a.name || ' causes ' || b.name)
        UNION ALL
        SELECT doc_id, curie, 'case_count_of', 'doc:' || doc_id,
               regexp_extract(sentence, '([0-9]+) cases of ', 1)::BIGINT
        FROM m WHERE node_type = 'disease'
          AND contains(sentence, ' cases of ' || name)
          AND regexp_extract(sentence, '([0-9]+) cases of ', 1) <> ''
        UNION ALL
        SELECT doc_id, curie, 'occurred_on',
               regexp_extract(sentence,
                              ' on ([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})', 1),
               NULL::BIGINT
        FROM m WHERE node_type = 'disease'
          AND regexp_matches(sentence,
                             ' on [0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}'))
    SELECT DISTINCT doc_id, subj, pred, obj, n_cases FROM legs
    """


def q_kg_triple_provenance(spark, sf_dir):
    """Evidence table over the pattern-triple fixture (triples.
    triple_provenance): per (subj, pred, obj) the exact supporting-doc
    count plus a deterministic capped sample of doc ids — the audit hook a
    KG reviewer needs. Rides the same corpus as kg_pattern_triples."""
    from .triples import triple_provenance

    return triple_provenance(q_kg_pattern_triples(spark, sf_dir),
                             max_docs=5)


def _sql_triple_provenance() -> str:
    return f"""
    WITH pt AS ({_sql_pattern_triples()})
    SELECT subj, pred, obj, count(*)::BIGINT AS n_docs,
           (list_sort(list(DISTINCT doc_id)))[1:5] AS sample_docs
    FROM pt GROUP BY subj, pred, obj
    """


ENTRY_XREF = [
    # (mesh curie, external curie) — J4's xref shape (pathogen_disease join)
    ("MESH:D1001", "NCBITAXON:1001"),
    ("MESH:D1002", "NCBITAXON:1002"),
    ("MESH:D0001", "DOID:0001"),
]


def q_kg_xref_join(spark, sf_dir):
    """J4: xref broadcast join over the mention vocabulary — map each
    mentioned curie to its external id (fallback: itself), with per-curie
    doc counts."""
    m = entry_mentions(spark, sf_dir)
    xref = F.broadcast(
        spark.createDataFrame(ENTRY_XREF, "curie string, ext_curie string")
    )
    return (
        m.join(xref, "curie", "left")
        .groupBy(
            "curie", F.coalesce("ext_curie", "curie").alias("ext_curie")
        )
        .agg(F.count_distinct("doc_id").alias("n_docs"))
    )


SQL_KG_XREF_JOIN = f"""
    WITH m AS ({{mentions}}),
    x(curie, ext_curie) AS (VALUES {", ".join(
        f"('{a}', '{b}')" for a, b in ENTRY_XREF)})
    SELECT m.curie, coalesce(x.ext_curie, m.curie) AS ext_curie,
           count(DISTINCT m.doc_id) AS n_docs
    FROM m LEFT JOIN x ON m.curie = x.curie
    GROUP BY 1, 2
"""


ENTRY_PHENO = [
    # has_phenotype edges for the J8 mixed-predicate path
    ("MESH:D0001", "MESH:D3001"),
    ("MESH:D0002", "MESH:D3002"),
    ("MESH:D3001", "MESH:D3000"),
]


def q_kg_mixed_path(spark, sf_dir):
    """J8: `[:has_phenotype|isa*0..]` mixed-predicate closure
    (pipeline.symptom_closure) over the entry isa edges plus embedded
    has_phenotype edges."""
    from .pipeline import symptom_closure

    edges = spark.createDataFrame(
        [(s, "isa", o) for s, o in ENTRY_ISA]
        + [(s, "has_phenotype", o) for s, o in ENTRY_PHENO],
        "subj string, pred string, obj string",
    )
    return symptom_closure(edges).select(
        F.col("node").alias("node"),
        F.col("ancestor").alias("ancestor"),
        F.col("depth").cast("int").alias("depth"),
    )


def _sql_mixed_path() -> str:
    edges = ", ".join(
        f"('{s}', '{o}')" for s, o in list(ENTRY_ISA) + ENTRY_PHENO
    )
    return f"""
        WITH RECURSIVE e(subj, obj) AS (VALUES {edges}),
        c AS (
            SELECT subj AS node, obj AS ancestor, 1 AS depth FROM e
            UNION
            SELECT c.node, e.obj, c.depth + 1
            FROM c JOIN e ON c.ancestor = e.subj
        ),
        n(v) AS (SELECT DISTINCT v FROM
                 (SELECT subj AS v FROM e UNION ALL SELECT obj AS v FROM e))
        SELECT node, ancestor, min(depth)::INT AS depth FROM c GROUP BY 1, 2
        UNION ALL
        SELECT v, v, 0 FROM n
    """


def q_kg_coverage_metrics(spark, sf_dir):
    """A15: per-candidate overlap coverage metrics — how many distinct
    node types (and 'relevant' types) the query-term overlap spans
    (kg/client.py:143-151 semantics, the ordering keys of
    find_literature)."""
    m = entry_mentions(spark, sf_dir)
    cand = (
        m.filter(F.col("curie").isin(LIT_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.count_distinct("curie").alias("n_overlap"))
        .filter(F.col("n_overlap") >= 2)
        .select("doc_id")
    )
    overlap = m.join(cand, "doc_id", "left_semi").filter(
        F.col("curie").isin(LIT_QUERY_TERMS)
    )
    return overlap.groupBy(F.col("doc_id").alias("pmid")).agg(
        F.count_distinct("node_type").alias("overlap_coverage"),
        F.count_distinct(
            F.when(
                F.col("node_type").isin("geoloc", "disease", "pathogen"),
                F.col("node_type"),
            )
        ).alias("overlap_coverage_relevant"),
    )


SQL_KG_COVERAGE_METRICS = f"""
    WITH m AS ({{mentions}}),
    cand AS (
        SELECT doc_id FROM m
        WHERE curie IN ('{LIT_QUERY_TERMS[0]}', '{LIT_QUERY_TERMS[1]}',
                        '{LIT_QUERY_TERMS[2]}')
        GROUP BY doc_id HAVING count(DISTINCT curie) >= 2
    )
    SELECT m.doc_id AS pmid,
           count(DISTINCT m.node_type) AS overlap_coverage,
           count(DISTINCT CASE WHEN m.node_type IN
                 ('geoloc', 'disease', 'pathogen') THEN m.node_type END)
               AS overlap_coverage_relevant
    FROM m JOIN cand USING (doc_id)
    WHERE m.curie IN ('{LIT_QUERY_TERMS[0]}', '{LIT_QUERY_TERMS[1]}',
                      '{LIT_QUERY_TERMS[2]}')
    GROUP BY 1
"""


def q_kg_typed_subtree(spark, sf_dir):
    """A17: typed vocabulary subtree — every descendant of MESH:D1000
    (the pathogen root) with its gazetteer name/type, via the REAL
    transitive-closure operator (builders.build_vocab_hierarchy shape,
    kg/build.py:215-230)."""
    edges = spark.createDataFrame(ENTRY_ISA, "subj string, obj string")
    cl = transitive_closure(edges, "subj", "obj", include_self=False)
    gaz = spark.createDataFrame(
        [(c, t, ty) for c, t, ty in ENTRY_GAZ],
        "curie string, name string, node_type string",
    )
    return (
        cl.filter(F.col("ancestor") == "MESH:D1000")
        .select(F.col("node").alias("curie"), F.col("depth").cast("int").alias("depth"))
        .join(F.broadcast(gaz), "curie")
        .select("curie", "name", "node_type", "depth")
    )


SQL_KG_TYPED_SUBTREE = f"""
    WITH RECURSIVE e(subj, obj) AS (VALUES {{isa_edges}}),
    c AS (
        SELECT subj AS node, obj AS ancestor, 1 AS depth FROM e
        UNION
        SELECT c.node, e.obj, c.depth + 1 FROM c JOIN e ON c.ancestor = e.subj
    ),
    g(curie, name, node_type) AS (VALUES {{gaz}})
    SELECT c.node AS curie, g.name, g.node_type, min(c.depth)::INT AS depth
    FROM c JOIN g ON c.node = g.curie
    WHERE c.ancestor = 'MESH:D1000'
    GROUP BY 1, 2, 3
"""


def q_kg_tsv_node_rows(spark, sf_dir):
    """K1: the sorted TSV node sink as a relation — one tab-joined line
    per distinct node in the reference's neo4j-import column order, with
    rank encoding the total sort order (the driver's compare sorts rows,
    so the rank column is what makes the ORDER itself checkable)."""
    m = entry_mentions(spark, sf_dir)
    nodes = m.select(
        "curie", "name", F.concat(F.col("node_type"), F.lit(";entity")).alias("labels")
    ).dropDuplicates(["curie"])
    line = F.concat_ws("\t", "curie", "name", "labels")
    w = Window.orderBy("curie")
    return nodes.select(
        F.row_number().over(w).alias("rank"), line.alias("line")
    )


SQL_KG_TSV_NODE_ROWS = f"""
    WITH m AS ({{mentions}}),
    n AS (SELECT DISTINCT curie, name, node_type || ';entity' AS labels FROM m)
    SELECT row_number() OVER (ORDER BY curie) AS rank,
           curie || chr(9) || name || chr(9) || labels AS line
    FROM n
"""


def q_kg_query_indicators(spark, sf_dir):
    """The reference's second endpoint query (kg/client.py:76-116,
    queries.query_indicators): indicators attached to the anchor
    geolocation, its ancestors, OR its descendants (bidirectional isa*0..),
    with name joins and the years_data map payload. Indicator edges are
    derived from events (per-geo per-type monthly integer-cent totals — a
    WDI-shaped table); map values stay integers so the oracle is exact.
    The map rides through the operator and is exploded for comparison."""
    _utc(spark)
    from .queries import query_indicators

    ev = _tbl(spark, sf_dir, "events")
    geo = (
        F.when(F.pmod("user_id", F.lit(3)) == 0, F.lit("MESH:D2001"))
        .when(F.pmod("user_id", F.lit(3)) == 1, F.lit("MESH:D2002"))
        .otherwise(F.lit("MESH:D2003"))
    )
    monthly = (
        ev.select(
            geo.alias("subj"),
            F.concat(F.lit("WDI:"), "event_type").alias("obj"),
            F.date_format("ts", "yyyy-MM").alias("ym"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("subj", "obj", "ym")
        .agg(F.sum("cents").alias("v"))
    )
    edges = monthly.groupBy("subj", "obj").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("ym", "v")))
        ).alias("years_data")
    ).select("subj", F.lit("has_indicator").alias("pred"), "obj", "years_data")
    nodes = spark.createDataFrame(
        [(c, t) for c, t, ty in ENTRY_GAZ], "curie string, name string"
    ).unionByName(
        ev.select(
            F.concat(F.lit("WDI:"), "event_type").alias("curie"),
            F.concat(F.lit("indicator "), "event_type").alias("name"),
        ).dropDuplicates()
    )
    closure = spark.createDataFrame(
        [{"node": n, "ancestor": a} for n, a in _entry_closure_pairs()]
    )
    out = query_indicators(nodes, edges, closure, "MESH:D2002")
    return out.select(
        "indicator_curie", "indicator_name", "geo_curie", "geo_name",
        F.explode("years_data").alias("ym", "cents"),
    )


SQL_KG_QUERY_INDICATORS = f"""
    WITH ev AS (
        SELECT CASE user_id % 3 WHEN 0 THEN 'MESH:D2001'
                                WHEN 1 THEN 'MESH:D2002'
                                ELSE 'MESH:D2003' END AS geo_curie,
               'WDI:' || event_type AS indicator_curie,
               'indicator ' || event_type AS indicator_name,
               strftime(ts, '%Y-%m') AS ym,
               round(value * 100)::BIGINT AS cents
        FROM events),
    agg AS (
        SELECT geo_curie, indicator_curie, indicator_name, ym,
               sum(cents)::BIGINT AS cents
        FROM ev GROUP BY 1, 2, 3, 4),
    cl(node, ancestor) AS (VALUES {{closure}}),
    related AS (
        SELECT node AS geo_curie FROM cl WHERE ancestor = 'MESH:D2002'
        UNION
        SELECT ancestor FROM cl WHERE node = 'MESH:D2002'),
    g(curie, name) AS (VALUES {{gaz}})
    SELECT a.indicator_curie, a.indicator_name,
           a.geo_curie, g.name AS geo_name, a.ym, a.cents
    FROM agg a
    JOIN related r USING (geo_curie)
    JOIN g ON g.curie = a.geo_curie
"""


DIRECT_REL_CURIES = ["MESH:D0001", "MESH:D1004", "MESH:D2001"]


def q_kg_direct_relations(spark, sf_dir):
    """text_relations endpoint (kg/client.py:222-227,
    queries.direct_relations): edges whose BOTH endpoints lie in the given
    curie set, over the occurs_with edge table built from mention pairs."""
    from .queries import direct_relations

    m = entry_mentions(spark, sf_dir).select("doc_id", "curie", "name")
    pairs = _mention_pairs(m, a_name="subj", b_name="obj")
    edges = salted_count(
        pairs, ["subj", "obj"], salt=16, count_col="count",
        salt_from=F.col("doc_id"),
    ).withColumn("pred", F.lit("occurs_with"))
    return direct_relations(edges, DIRECT_REL_CURIES).select(
        "subj", "pred", "obj", "count"
    )


SQL_KG_DIRECT_RELATIONS = f"""
    WITH m AS ({_SQL_MENTIONS}),
    e AS (
        SELECT a.curie AS subj, b.curie AS obj, count(*) AS count
        FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.name < b.name
        GROUP BY 1, 2)
    SELECT subj, 'occurs_with' AS pred, obj, count
    FROM e
    WHERE subj IN ('{DIRECT_REL_CURIES[0]}', '{DIRECT_REL_CURIES[1]}',
                   '{DIRECT_REL_CURIES[2]}')
      AND obj IN ('{DIRECT_REL_CURIES[0]}', '{DIRECT_REL_CURIES[1]}',
                  '{DIRECT_REL_CURIES[2]}')
"""


GROUND_QUERY_NAMES = [
    "  Slow ", "DUP", "ha-sh", "MESH:D9999", "zzz", "Join", "ta-ble",
]


def q_kg_ground_names(spark, sf_dir):
    """N4 / api.get_curie endpoint (kg/client.py:367-378): name -> CURIE
    grounding through the same compiled gazetteer as NER. Driver-side by
    design — the query side grounds a handful of user-typed names, a
    dimension-sized op (the reference calls gilda per name). Curie-shaped
    inputs pass through; ungroundable names map to null."""
    from .ground import ground_names

    out = ground_names(spark, entry_gazetteer_df(spark), GROUND_QUERY_NAMES)
    return spark.createDataFrame(
        [(k, out[k]) for k in GROUND_QUERY_NAMES],
        "name string, curie string",
    )


SQL_KG_GROUND_NAMES = f"""
    WITH q(name) AS (VALUES {", ".join(f"('{n}')" for n in GROUND_QUERY_NAMES)}),
    g(curie, tok) AS (VALUES {", ".join(
        f"('{c}', '{t}')" for c, t, _ty in ENTRY_GAZ)}),
    norm AS (
        SELECT name,
               trim(regexp_replace(regexp_replace(lower(name), '-', ' ', 'g'),
                                   '\\s+', ' ', 'g')) AS n
        FROM q)
    SELECT norm.name,
           CASE WHEN norm.name LIKE '%:%' THEN norm.name ELSE g.curie END
               AS curie
    FROM norm LEFT JOIN g ON g.tok = norm.n AND norm.name NOT LIKE '%:%'
"""


# oracle SQL composed from the templates above and the shared fixtures;
# whitespace included, the text is pinned by tests/test_registry.py
ORACLE_KG_TERMS_PER_DOC = f"""
            WITH m AS ({_SQL_MENTIONS})
            SELECT doc_id, count(DISTINCT curie) AS n_terms FROM m GROUP BY 1
        """
ORACLE_KG_TSV_NODE_ROWS = SQL_KG_TSV_NODE_ROWS.format(mentions=_SQL_MENTIONS)
ORACLE_KG_QUERY_INDICATORS = SQL_KG_QUERY_INDICATORS.format(
    closure=_sql_values_closure(),
    gaz=", ".join(f"('{c}', '{t}')" for c, t, _ty in ENTRY_GAZ),
)
ORACLE_KG_XREF_JOIN = SQL_KG_XREF_JOIN.format(mentions=_SQL_MENTIONS)
ORACLE_KG_COVERAGE_METRICS = SQL_KG_COVERAGE_METRICS.format(
    mentions=_SQL_MENTIONS
)
ORACLE_KG_TYPED_SUBTREE = SQL_KG_TYPED_SUBTREE.format(
    isa_edges=", ".join(f"('{s}', '{o}')" for s, o in ENTRY_ISA),
    gaz=_sql_values_gaz(),
)
