"""Graph registry entries over synthetic link graphs derived from the
documents table: components, PageRank and personalized PageRank, label
propagation, k-core, triangles, random walks, skip-gram pairs and degree
profiles, each with its DuckDB oracle SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from .entry_fixtures import _docs


def q_graph_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient
    (graphrank.triangle_counts, compact-forward oriented) over a
    deterministic 3-family modular link graph on the documents table —
    community density for link-ring / template-farm detection."""
    from .graphrank import triangle_counts

    d = _docs(spark, sf_dir, spread=False)
    fams = [(7, 3), (13, 5), (3, 11)]
    edges = None
    for a, c in fams:
        e = d.select(
            (F.col("doc_id") % 101).alias("src"),
            ((F.col("doc_id") * a + c) % 101).alias("dst"),
        )
        edges = e if edges is None else edges.unionAll(e)
    return triangle_counts(edges)


def _sql_graph_triangles() -> str:
    return """
        WITH raw AS (
            SELECT doc_id % 101 AS src, (doc_id*7+3) % 101 AS dst
            FROM documents
            UNION ALL
            SELECT doc_id % 101, (doc_id*13+5) % 101 FROM documents
            UNION ALL
            SELECT doc_id % 101, (doc_id*3+11) % 101 FROM documents),
        und AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM raw WHERE src <> dst),
        deg AS (
            SELECT node, count(*) AS degree FROM (
                SELECT u AS node FROM und
                UNION ALL SELECT v FROM und) GROUP BY 1),
        ed AS (
            SELECT und.u, und.v, du.degree AS du, dv.degree AS dv
            FROM und
            JOIN deg du ON du.node = und.u
            JOIN deg dv ON dv.node = und.v),
        oriented AS (
            SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS s,
                   CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS t
            FROM ed),
        wedges AS (
            SELECT e1.s AS x, e1.t AS y, e2.t AS z
            FROM oriented e1
            JOIN oriented e2 ON e1.s = e2.s AND e1.t < e2.t),
        tri AS (SELECT x, y, z FROM wedges JOIN und ON y = u AND z = v),
        pn AS (
            SELECT node, count(*) AS triangles FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri) GROUP BY 1)
        SELECT deg.node,
               deg.degree::INT AS degree,
               coalesce(pn.triangles, 0)::INT AS triangles,
               round(CASE WHEN deg.degree >= 2
                          THEN 2.0 * coalesce(pn.triangles, 0)
                               / (deg.degree * (deg.degree - 1.0))
                          ELSE 0.0 END, 6) AS clustering_r
        FROM deg LEFT JOIN pn USING (node)
    """


def q_graph_pagerank(spark, sf_dir):
    """Fixed-iteration damped PageRank (graphrank.pagerank) over a
    deterministic link graph derived from the documents table, with
    dangling nodes present by construction (src residues divisible by 10
    are excluded, so those nodes appear only as link targets). The webtext
    use is crawl prioritization: rank domains by the link graph so the
    recrawl budget (crawl.crawl_delta) lands where it matters."""
    from .graphrank import pagerank

    d = _docs(spark, sf_dir)
    edges = d.select(
        (F.col("doc_id") % 101).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 101).alias("dst"),
    ).filter(F.col("src") % 10 != 0)
    out = pagerank(edges, iterations=10)
    return out.select("node", F.round("rank", 8).alias("rank_r"))


def _sql_graph_pagerank(iterations: int = 10,
                        damping: float = 0.85) -> str:
    """The identical recurrence unrolled as chained CTEs (DuckDB's
    recursive term may reference the working table only once, but each
    iteration needs it twice: contribution join + dangling mass)."""
    its = []
    for k in range(1, iterations + 1):
        # MATERIALIZED is load-bearing: each iteration references its
        # predecessor twice (contribution join + dangling mass), and
        # DuckDB's default CTE inlining then copies the whole chain per
        # reference — 2^iterations plans (measured: 10 iters ~700 s,
        # 7 iters 11 s). Materialization makes it linear (10 iters <1 s).
        its.append(f"""
        it{k} AS MATERIALIZED (
          SELECT n.node,
                 (1-{damping})/c.n + {damping}*(
                     coalesce(ct.contrib, 0) + dm.mass/c.n) AS r
          FROM nodes n
          CROSS JOIN cnt c
          CROSS JOIN (SELECT coalesce(sum(p.r), 0) AS mass FROM it{k-1} p
                      WHERE p.node NOT IN (SELECT src FROM outdeg)) dm
          LEFT JOIN (SELECT e.dst AS node, sum(p.r/od.deg) AS contrib
                     FROM it{k-1} p JOIN edges e ON p.node = e.src
                     JOIN outdeg od ON od.src = p.node
                     GROUP BY e.dst) ct USING (node)
        )""")
    return f"""
    WITH edges AS (
        SELECT DISTINCT doc_id % 101 AS src, (doc_id*7 + 3) % 101 AS dst
        FROM documents WHERE (doc_id % 101) % 10 <> 0
    ),
    nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
    outdeg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src),
    cnt AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    it0 AS (SELECT node, 1.0/(SELECT n FROM cnt) AS r FROM nodes),
    {",".join(its)}
    SELECT node, round(r, 8) AS rank_r FROM it{iterations}
    """


def q_graph_components(spark, sf_dir):
    """Connected components (iterative hash-min self-join) over a derived
    chain graph; oracle = reachability via recursive CTE + min-id."""
    from .closure import connected_components

    d = _docs(spark, sf_dir)
    max_id = d.agg(F.max("doc_id")).first()[0]
    edges = d.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 3).alias("dst")
    ).filter((F.col("doc_id") % 7 != 4) & (F.col("doc_id") + 3 <= max_id))
    return connected_components(edges, "src", "dst")


SQL_GRAPH_COMPONENTS = """
    WITH RECURSIVE e AS (
        SELECT doc_id AS a, doc_id + 3 AS b FROM documents
        WHERE doc_id % 7 <> 4
          AND doc_id + 3 <= (SELECT max(doc_id) FROM documents)),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    nodes AS (SELECT a AS n FROM sym UNION SELECT b FROM sym)
    SELECT n AS node, least(n, min(r.b)) AS component
    FROM nodes LEFT JOIN reach r ON r.a = n
    GROUP BY n
"""


def q_graph_labelprop(spark, sf_dir):
    """Deterministic synchronous label propagation (graphrank.
    label_propagation) over a planted-community link graph derived from
    the documents table: ten six-node blocks wired densely inside each
    block plus sparse deterministic bridges. Webtext use: grouping mirror
    networks / template farms that are densely interlinked without being
    fully reachable inside the round budget (one level softer than
    graph_components); the DuckDB oracle replays the exact synchronous
    recurrence round by round as materialized chained CTEs."""
    from .graphrank import label_propagation

    d = _docs(spark, sf_dir, spread=False)
    base = F.col("doc_id") % 60
    blk = base - base % 6
    intra = d.select(
        base.alias("src"),
        (blk + (F.col("doc_id") * 7 + 1) % 6).alias("dst"),
    )
    bridge = d.filter(F.col("doc_id") % 31 == 0).select(
        blk.alias("src"), ((blk + 6) % 60).alias("dst")
    )
    return label_propagation(intra.unionByName(bridge), rounds=4)


def _sql_graph_labelprop(rounds: int = 4) -> str:
    """The identical synchronous min-tie LPA recurrence unrolled as
    chained CTEs. MATERIALIZED is load-bearing for the same reason as
    _sql_graph_pagerank: every round references its predecessor twice
    (neighbor-label count + keep-own fallback), so default inlining would
    copy the chain 2^rounds times."""
    its = []
    for k in range(1, rounds + 1):
        its.append(f"""
        c{k} AS MATERIALIZED (
          SELECT s.node, p.label AS nl, count(*) AS c
          FROM sym s JOIN l{k - 1} p ON p.node = s.nbr
          GROUP BY 1, 2),
        l{k} AS MATERIALIZED (
          SELECT p.node, coalesce(k{k}.nl, p.label) AS label
          FROM l{k - 1} p
          LEFT JOIN (
            SELECT node, nl FROM (
              SELECT node, nl,
                     row_number() OVER (PARTITION BY node
                                        ORDER BY c DESC, nl ASC) AS rn
              FROM c{k}) WHERE rn = 1) k{k} USING (node))""")
    return f"""
    WITH raw AS (
        SELECT doc_id % 60 AS src,
               (doc_id % 60) - (doc_id % 60) % 6 + (doc_id*7 + 1) % 6 AS dst
        FROM documents
        UNION ALL
        SELECT (doc_id % 60) - (doc_id % 60) % 6,
               ((doc_id % 60) - (doc_id % 60) % 6 + 6) % 60
        FROM documents WHERE doc_id % 31 = 0),
    und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM raw WHERE src <> dst),
    sym AS (SELECT u AS node, v AS nbr FROM und
            UNION ALL SELECT v AS node, u AS nbr FROM und),
    l0 AS (SELECT DISTINCT node, node AS label FROM sym),
    {",".join(its)}
    SELECT node, label FROM l{rounds}
    """


def q_graph_kcore(spark, sf_dir):
    """k-core decomposition (graphrank.k_core, k=4) over a deterministic
    documents-derived graph: blocks of ten nodes wired by three modular
    generators (dense enough that most of each block survives k=4) plus a
    block-end chain edge that peels. Webtext use: dense-backbone
    extraction — spam/template link farms are high-k cores of the link
    graph. The DuckDB oracle unrolls the peeling as materialized chained
    CTEs (10 rounds — past the fixture's fixpoint; extra rounds are
    no-ops once stable, and if 10 were NOT enough the value-hash gate
    would catch the unconverged oracle)."""
    from .graphrank import k_core

    d = _docs(spark, sf_dir, spread=False)
    i = F.col("doc_id")
    blk = i - i % 10
    legs = [
        d.select(i.alias("src"),
                 (blk + (i * j + j) % 10).alias("dst"))
        for j in (1, 2, 3)
    ]
    chain = d.filter((i % 10 == 9)).select(
        i.alias("src"), (blk + 10).alias("dst"))
    edges = legs[0].unionByName(legs[1]).unionByName(legs[2]) \
        .unionByName(chain)
    return k_core(edges, k=4).select(
        F.col("node").cast("long").alias("node"),
        F.col("degree").cast("long").alias("degree"))


def _sql_graph_kcore(k: int = 4, rounds: int = 10) -> str:
    parts = ["""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM (
            SELECT doc_id AS src,
                   (doc_id - doc_id % 10) + (doc_id * 1 + 1) % 10 AS dst
            FROM documents
            UNION ALL
            SELECT doc_id,
                   (doc_id - doc_id % 10) + (doc_id * 2 + 2) % 10
            FROM documents
            UNION ALL
            SELECT doc_id,
                   (doc_id - doc_id % 10) + (doc_id * 3 + 3) % 10
            FROM documents
            UNION ALL
            SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 10 = 9
        ) WHERE src <> dst)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    k{r} AS MATERIALIZED (
        SELECT node FROM (
            SELECT u AS node FROM e{r - 1}
            UNION ALL SELECT v FROM e{r - 1}
        ) GROUP BY node HAVING count(*) >= {k}),
    e{r} AS MATERIALIZED (
        SELECT u, v FROM e{r - 1}
        WHERE u IN (SELECT node FROM k{r})
          AND v IN (SELECT node FROM k{r}))""")
    parts.append(f"""
    SELECT node::BIGINT AS node, count(*)::BIGINT AS degree
    FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
    GROUP BY node
    """)
    return "".join(parts)


def q_graph_walks(spark, sf_dir):
    """DeepWalk random-walk corpus (graphrank.random_walks) over the
    same deterministic doc-derived link graph the pagerank entry uses
    (dangling targets present by construction, so truncation is
    exercised): 2 walks per source node, up to 5 nodes each, every
    step md5-driven into the sorted neighbor array. The oracle unrolls
    all four steps as chained CTEs replaying the identical hash, mod,
    and 1-based list indexing."""
    from .graphrank import random_walks

    d = _docs(spark, sf_dir, spread=False)
    edges = d.select(
        (F.col("doc_id") % 101).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 101).alias("dst"),
    ).filter(F.col("src") % 10 != 0)
    return random_walks(edges, walks_per_node=2, walk_len=5)


def _sql_graph_walks(walks_per_node: int = 2, walk_len: int = 5,
                     salt: str = "walk-v1") -> str:
    steps = []
    prev = "w"
    for step in range(walk_len - 1):
        h = (f"('0x' || substr(md5('{salt}:' "
             f"|| CAST(start_node AS VARCHAR) || ':' "
             f"|| CAST(walk_ix AS VARCHAR) || ':{step}'), 1, 12))::BIGINT")
        steps.append(f"""
        s{step} AS (
            SELECT start_node, walk_ix,
                   CASE WHEN a.nbrs IS NOT NULL
                        THEN a.nbrs[({h} % len(a.nbrs))::INT + 1]
                        END AS cur,
                   CASE WHEN a.nbrs IS NOT NULL
                        THEN {prev}.walk || ' ' || CAST(
                            a.nbrs[({h} % len(a.nbrs))::INT + 1]
                            AS VARCHAR)
                        ELSE {prev}.walk END AS walk
            FROM {prev} LEFT JOIN adj a ON a.n = {prev}.cur)""")
        prev = f"s{step}"
    return f"""
        WITH edges AS (
            SELECT doc_id % 101 AS src, (doc_id * 7 + 3) % 101 AS dst
            FROM documents WHERE (doc_id % 101) % 10 != 0),
        adj AS (
            SELECT src AS n, list_sort(list(DISTINCT dst)) AS nbrs
            FROM edges GROUP BY src),
        w AS (
            SELECT n AS start_node, r.walk_ix::INT AS walk_ix, n AS cur,
                   CAST(n AS VARCHAR) AS walk
            FROM adj, range({walks_per_node}) r(walk_ix)),
        {",".join(steps)}
        SELECT start_node, walk_ix, walk FROM {prev}
    """


def q_graph_skipgram(spark, sf_dir):
    """Skip-gram pair extraction (graphrank.skipgram_pairs) composed
    over the graph_walks corpus: every (center, context) pair within
    +-2 positions of each walk, counted — the word2vec/GloVe input
    relation. The pair expansion is ONE nested-HOF projection per walk
    row (never a self-join); the only exchange is the count agg. The
    oracle nests the full walks replay and expands pairs with chained
    laterals over the same clipped window."""
    from .graphrank import random_walks, skipgram_pairs

    d = _docs(spark, sf_dir, spread=False)
    edges = d.select(
        (F.col("doc_id") % 101).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 101).alias("dst"),
    ).filter(F.col("src") % 10 != 0)
    return skipgram_pairs(
        random_walks(edges, walks_per_node=2, walk_len=5), window=2)


def _sql_graph_skipgram(window: int = 2) -> str:
    return f"""
        WITH walks AS ({_sql_graph_walks()}),
        toks AS (SELECT string_split(walk, ' ') AS t FROM walks),
        p AS (
            SELECT t[u.i + 1]::BIGINT AS center,
                   t[v.j + 1]::BIGINT AS context
            FROM toks,
                 LATERAL unnest(range(len(t))) u(i),
                 LATERAL unnest(range(greatest(u.i - {window}, 0),
                                      least(u.i + {window + 1},
                                            len(t)))) v(j)
            WHERE v.j != u.i)
        SELECT center, context, count(*)::INT AS pair_count
        FROM p GROUP BY 1, 2
    """


def q_graph_degree_profile(spark, sf_dir):
    """Degree-distribution audit (graphrank.degree_profile) over a
    doc-derived multigraph (two generator rules per doc so out-degrees
    spread): per-degree node counts + the log-log least-squares slope
    carried on every row — the power-law sanity read a KG build checks
    before trusting its extractor. The oracle replays the two-level
    agg and the closed-form slope with identical double arithmetic."""
    from .graphrank import degree_profile

    d = _docs(spark, sf_dir, spread=False)
    edges = d.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 101).alias("dst"),
    ).union(d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") % 31).alias("src"),
        ((F.col("doc_id") * 11 + 5) % 101).alias("dst"),
    ))
    return degree_profile(edges)


def _sql_graph_degree_profile() -> str:
    return """
        WITH e AS (
            SELECT doc_id % 97 AS src, (doc_id * 7 + 3) % 101 AS dst
            FROM documents
            UNION ALL
            SELECT doc_id % 31 AS src, (doc_id * 11 + 5) % 101 AS dst
            FROM documents WHERE doc_id % 3 = 0),
        deg AS (SELECT src, count(*) AS degree FROM e GROUP BY src),
        hist AS (
            SELECT degree, count(*)::BIGINT AS n_nodes
            FROM deg GROUP BY degree),
        pts AS (
            SELECT degree, n_nodes,
                   log2(degree::DOUBLE) AS x,
                   log2(n_nodes::DOUBLE) AS y
            FROM hist),
        s AS (
            SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM pts)
        SELECT pts.degree::INT AS degree, pts.n_nodes,
               round(CASE WHEN s.n * s.sxx - s.sx * s.sx != 0
                          THEN (s.n * s.sxy - s.sx * s.sy)
                               / (s.n * s.sxx - s.sx * s.sx)
                          ELSE 0.0 END, 6) AS slope_r
        FROM pts, s
    """


def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank (graphrank.personalized_pagerank;
    Haveliwala 2002) over the shared pagerank link graph with seed set
    {1, 2, 3}: ranks measure relatedness to the seeds (global hubs no
    longer dominate), dangling mass returns to the seeds. 6 iterations
    at damping 0.85; the oracle unrolls the identical recurrence as
    MATERIALIZED CTEs (the same 2^k-inlining trap the pagerank oracle
    documents)."""
    from .graphrank import personalized_pagerank

    d = _docs(spark, sf_dir, spread=False)
    edges = d.select(
        (F.col("doc_id") % 101).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 101).alias("dst"),
    ).filter(F.col("src") % 10 != 0)
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    out = personalized_pagerank(edges, seeds, iterations=6)
    return out.select("node", F.round("rank", 8).alias("rank_r"))


def _sql_graph_ppr(iterations: int = 6, damping: float = 0.85) -> str:
    its = []
    for k in range(1, iterations + 1):
        its.append(f"""
        it{k} AS MATERIALIZED (
          SELECT n.node,
                 (1-{damping}) * n.tele + {damping}*(
                     coalesce(ct.contrib, 0) + dm.mass * n.tele) AS r
          FROM nodes n
          CROSS JOIN (SELECT coalesce(sum(p.r), 0) AS mass FROM it{k-1} p
                      WHERE p.node NOT IN (SELECT src FROM edges)) dm
          LEFT JOIN (SELECT e.dst AS node, sum(p.r/od.deg) AS contrib
                     FROM it{k-1} p JOIN edges e ON p.node = e.src
                     JOIN outdeg od ON od.src = p.node
                     GROUP BY e.dst) ct USING (node)
        )""")
    return f"""
    WITH edges AS (
        SELECT DISTINCT doc_id % 101 AS src, (doc_id*7 + 3) % 101 AS dst
        FROM documents WHERE (doc_id % 101) % 10 <> 0
    ),
    nodes AS (
        SELECT node,
               CASE WHEN node IN (1, 2, 3) THEN 1.0/3 ELSE 0.0 END
                   AS tele
        FROM (SELECT DISTINCT node FROM
              (SELECT src AS node FROM edges
               UNION SELECT dst FROM edges))),
    outdeg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src),
    it0 AS (SELECT node, tele AS r FROM nodes),
    {",".join(its)}
    SELECT node, round(r, 8) AS rank_r FROM it{iterations}
    """
