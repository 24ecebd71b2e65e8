"""PageRank over DataFrame edge lists — node salience for web-scale KG work.

Two uses this engine needs it for:

- **Crawl prioritization** (webtext axis): rank registered domains by the
  link graph so the recrawl budget (see crawl.crawl_delta) lands on the
  domains whose content moves the corpus most — the classic webgraph use.
- **Entity salience** in the KG: rank canonical entities by the occurs_with
  / isa edge structure to drive autocomplete ordering and low-value-node
  pruning, complementing raw count ordering (reference orders purely by
  count, kg/build.py stats sinks; count and structural salience diverge on
  hub-adjacent rare entities).

Standard damped PageRank with explicit dangling-mass redistribution
(nodes without out-edges donate their rank uniformly), fixed-iteration so
the result is deterministic and engine-reproducible (the DuckDB oracle
unrolls the same recurrence; convergence-threshold stopping would tie the
row values to float tolerance ordering).

Scale shape: per iteration, ONE exchange keyed on src for the
contribution join (ranks are produced grouped by dst = next iteration's
join key is node again; Spark reuses the groupBy(dst) partitioning when
node=dst aligns), one partial+final aggregation for the contribution sum,
and a singleton aggregate for the dangling mass carried as a 1-row
crossJoin — never a driver collect. Each iteration is localCheckpoint-ed
(eager): lineage stays O(1) instead of O(iterations), the same regime as
closure.transitive_closure. Edges and out-degrees are computed once and
persisted; at 10^10-edge webgraph scale both sides of the per-iteration
join are hash-partitioned on the same key, so AQE coalesces rather than
re-plans. Hot dst nodes (every page links to google.com) are a sum-agg,
not a collect: partial aggregation absorbs the skew map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, iterations: int = 10) -> DataFrame:
    """Fixed-iteration damped PageRank; returns (node, rank).

    ``edges`` is a directed edge list; parallel duplicate edges count
    once (they are collapsed) so the rank depends on the graph, not on
    upstream emission multiplicity. Node set = src ∪ dst.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    the ranks) and truncates lineage: lost executor blocks fail later jobs
    instead of recomputing."""
    e = edges.select(F.col(src).alias("src"),
                     F.col(dst).alias("dst")).distinct()
    nodes = (e.select(F.col("src").alias("node"))
              .union(e.select(F.col("dst").alias("node")))
              .distinct())
    outdeg = e.groupBy("src").agg(
        F.count("*").cast("double").alias("deg"))
    # edges pre-joined with the source's out-degree: the per-iteration
    # join then carries exactly (src, dst, deg) — computed once, reused
    # every round
    e_deg = e.join(outdeg, "src").persist()
    nodes = nodes.persist()
    n_nodes = nodes.count()  # also materializes the persist
    e_deg.count()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    # persisted: the per-iteration dangling anti-join must probe a cached
    # node set, not re-run the out-degree aggregation from the edge source
    # ten times (at webgraph scale that is ten extra full edge scans)
    src_nodes = (e_deg.select(F.col("src").alias("node"))
                 .distinct().persist())
    src_nodes.count()
    for i in range(iterations):
        # dangling mass: rank held by nodes with no out-edges, donated
        # uniformly. A 1-row frame cross-joined in — stays distributed.
        dangling = (ranks.join(src_nodes, "node", "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("_mass")))
        contrib = (ranks.join(e_deg, ranks.node == e_deg.src)
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum(F.col("rank") / F.col("deg"))
                        .alias("_contrib")))
        ranks = (nodes.join(contrib, "node", "left")
                 .crossJoin(dangling)
                 .select(
                     "node",
                     (F.lit((1.0 - damping) / n_nodes)
                      + F.lit(damping)
                      * (F.coalesce(F.col("_contrib"), F.lit(0.0))
                         + F.col("_mass") / F.lit(float(n_nodes)))
                      ).alias("rank")))
        # eager: truncates lineage AND executes the round, keeping the
        # plan O(1)-deep across arbitrary iteration counts
        ranks = ranks.localCheckpoint(eager=True)
    e_deg.unpersist()
    nodes.unpersist()
    src_nodes.unpersist()
    return ranks


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    edge list treated as an UNDIRECTED simple graph (direction and
    duplicate/self edges dropped) — community density for the web link
    graph (template farms and link rings score near-cliques) and for KG
    co-occurrence neighborhoods.

    Output: (node, degree, triangles, clustering_r) with
    clustering_r = 2*triangles / (degree*(degree-1)), round-6, 0 for
    degree < 2. Every node incident to an edge emits a row.

    Scale shape — the compact-forward orientation is the whole story:
    each undirected edge is oriented from its (degree, id)-SMALLER
    endpoint to its larger one, making the oriented out-degree of every
    node O(sqrt(|E|)) regardless of raw degree, so the wedge self-join
    (the one quadratic-per-key step) is bounded on hubs: a 10^6-degree
    portal contributes wedges only from edges where it is the smaller
    endpoint — at most ~sqrt(|E|) of them — instead of 10^12 pairs. The
    closing-edge check is a semi-ish inner join on the oriented edge
    set (unique keys, no expansion), then one explode(3 nodes)/agg to
    attribute each triangle to its corners exactly once. Three shuffles
    total (degree agg, wedge join, closing join) — the textbook
    distributed-triangle plan; everything engine-portable for the
    DuckDB oracle.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    the edge sets) and truncates lineage: lost executor blocks fail later
    jobs instead of recomputing."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"),
                F.greatest("a", "b").alias("v"))
        .distinct()
        # materialized ONCE (eager localCheckpoint): und feeds four
        # branches (both degree legs, the orientation join, the closing
        # join) and Catalyst has no cross-branch sharing, so without
        # this the upstream edge construction ran four times per call
        # (measured 2x wall on the 10x fixture). The edge list is the
        # operator's inherent working set — every distributed triangle
        # plan materializes it.
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
        # |V|-sized; read by the two orientation legs and the final join
        .localCheckpoint(eager=True)
    )
    # orient from (degree, id)-smaller endpoint to larger
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("_dv"))
    ed = und.join(du, "u").join(dv, "v")
    fwd = F.struct("_du", "u") < F.struct("_dv", "v")
    oriented = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    e1 = oriented.select(F.col("s").alias("x"), F.col("t").alias("y"))
    e2 = oriented.select(F.col("s").alias("x"), F.col("t").alias("z"))
    # each triangle closes exactly once: its (degree,id)-smallest vertex
    # is the only one with oriented out-edges to both others, and the
    # y<z filter picks one of the two symmetric wedge renderings. The
    # closing check is a pure EQUI-join against the id-ordered
    # undirected set (y<z matches u<v directly) — an orientation-aware
    # OR condition here would degrade to a nested-loop join.
    wedges = e1.join(e2, "x").filter(F.col("y") < F.col("z"))
    tri = wedges.join(
        und,
        (F.col("y") == F.col("u")) & (F.col("z") == F.col("v")),
        "inner",
    ).select("x", "y", "z")
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("degree").cast("int").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("int")
            .alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1.0)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_r"),
        )
    )


def label_propagation(edges: DataFrame, src: str = "src", dst: str = "dst",
                      rounds: int = 4) -> DataFrame:
    """Deterministic synchronous label propagation over the undirected
    simple graph; returns (node, label). Community detection one level
    softer than connected components: mirror networks / template farms on
    the web link graph, topic clusters in the KG co-occurrence graph —
    groups that are densely linked without needing to be fully reachable
    before the round budget.

    Update rule (the deterministic LPA variant): every node starts
    labeled with its own id; each round, synchronously, a node adopts the
    label most frequent among its neighbors' previous-round labels, ties
    broken by SMALLEST label; a node with no neighbors keeps its label.
    Fixed rounds + synchronous updates + total tie order make the result
    a pure function of the graph — reproducible across engines (the
    DuckDB oracle replays the identical recurrence as materialized
    chained CTEs), unlike classic asynchronous random-order LPA.

    Scale shape, per round: labels join onto the symmetrized edge list on
    the UNIQUE node key (probe-side skew on hubs causes no expansion),
    one partial+final (node, label) count whose hot keys compress
    map-side, then one partial+final min-struct agg per node for the
    (count desc, label asc) argmax — min is combinable, so even a
    10^6-degree hub's per-label rows collapse before the exchange. Each
    round is eagerly localCheckpoint-ed: lineage stays O(1) in rounds,
    the transitive_closure / pagerank regime.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    each round) and truncates lineage: lost executor blocks fail later jobs
    instead of recomputing."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"),
                F.greatest("a", "b").alias("v"))
        .distinct()
    )
    sym = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(und.select(F.col("v").alias("node"),
                             F.col("u").alias("nbr")))
        .persist()
    )
    sym.count()
    labels = (
        sym.select("node").distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        nbr_labels = labels.select(F.col("node").alias("nbr"),
                                   F.col("label").alias("_nl"))
        cnt = (
            sym.join(nbr_labels, "nbr")
            .groupBy("node", "_nl")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        pick = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("_c")).alias("nc"),
                             F.col("_nl").alias("l"))
                )["l"].alias("_new")
            )
        )
        labels = (
            labels.join(pick, "node", "left")
            .select("node",
                    F.coalesce("_new", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    return labels


def k_core(edges: DataFrame, k: int, src: str = "src",
           dst: str = "dst") -> DataFrame:
    """k-core decomposition for a fixed k: iteratively peel nodes of
    degree < k (over the UNDIRECTED simple graph — direction, duplicate
    and self edges dropped) until the remaining subgraph is stable.
    Returns (node, degree) for the survivors, degree measured INSIDE the
    core. The dense-backbone extractor the graph family was missing:
    spam/template link farms on the web graph are high-k cores, and the
    KG co-occurrence backbone (terms that co-occur with many mutually
    co-occurring terms) is exactly a k-core survivor set.

    Scale shape: each round is one partial+final degree agg (combinable
    — a 10^6-degree hub's edge rows collapse map-side) and two
    LEFT SEMI joins restricting the edge set to surviving endpoints
    (unique build keys, no expansion under probe skew). The edge frame
    is eagerly localCheckpoint-ed per round — the pagerank/closure/LPA
    regime — so lineage stays O(1) over arbitrary peeling depth.
    Convergence = edge count unchanged (each round's count rides the
    checkpoint materialization it needs anyway). Rounds are bounded by
    the peeling depth of the graph, not |V|: every round removes EVERY
    currently-under-k node at once, so a chain peels from both ends and
    a bushy web graph converges in a handful of rounds.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    each round) and truncates lineage: lost executor blocks fail later jobs
    instead of recomputing.
    """
    cur = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"),
                F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = cur.count()
    while n_edges:
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        if n_next == n_edges:
            cur = nxt
            break
        cur, n_edges = nxt, n_next
    return (
        cur.select(F.col("u").alias("node"))
        .unionAll(cur.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    )


def random_walks(edges: DataFrame, src: str = "src", dst: str = "dst",
                 walks_per_node: int = 2, walk_len: int = 4,
                 salt: str = "walk-v1") -> DataFrame:
    """DeepWalk/node2vec(p=q=1)-style random-walk corpus generation —
    the graph-to-sequence step that turns a KG edge list into skip-gram
    training data (Perozzi et al. 2014). Every node with out-degree >= 1
    starts ``walks_per_node`` walks of up to ``walk_len`` nodes; each
    step moves to a uniformly-pseudo-random out-neighbor. Walks reaching
    a dangling node truncate (DeepWalk's behavior on directed graphs).

    Determinism contract: step choices are md5-driven —
    hash(salt:start:walk_ix:step) mod out-degree indexes into the
    node's SORTED DISTINCT neighbor array — so the corpus is a pure
    function of (edges, salt): stable across runs, partitionings, and
    engines (the DuckDB oracle replays every choice), and re-saltable
    for fresh epochs, the same reproducibility contract as the
    hash-threshold samplers in sampling.py.

    Output: (start_node, walk_ix, walk) with the walk space-joined.

    Scale shape: ONE adjacency agg (collect_set per src — bounded by
    out-degree; sort_array makes indexing deterministic), then
    walk_len-1 equi-joins of the live walk frontier against that
    adjacency relation. The frontier is (nodes x walks_per_node) rows
    with a ~walk_len-string payload — never exploded per edge — and a
    hot node (every walk passes through 'COVID-19') costs linear probe
    hits on the build side, never pairs. For vocabulary-sized KGs the
    adjacency side broadcasts (Catalyst's estimate decides; the agg
    output is degree-bounded); web-scale graphs fall back to a shuffled
    hash join under AQE like any fact-fact join. Paths are carried as a
    single growing string column, NOT a per-step row explosion: the
    total state is walks x walk_len node ids, the theoretical minimum
    for materializing the corpus."""
    adj = (
        edges.groupBy(F.col(src).alias("_n"))
        .agg(F.sort_array(F.collect_set(F.col(dst))).alias("_nbrs"))
    )
    starts = adj.select("_n").crossJoin(
        F.broadcast(
            edges.sparkSession.range(walks_per_node)
            .select(F.col("id").cast("int").alias("walk_ix"))
        )
    )
    state = starts.select(
        F.col("_n").alias("start_node"),
        "walk_ix",
        F.col("_n").alias("_cur"),
        F.col("_n").cast("string").alias("walk"),
    )
    for step in range(walk_len - 1):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    ":", F.lit(salt), F.col("start_node").cast("string"),
                    F.col("walk_ix").cast("string"), F.lit(str(step)))),
                1, 12),
            16, 10,
        ).cast("long")
        state = (
            state.join(adj, state["_cur"] == adj["_n"], "left")
            .select(
                "start_node", "walk_ix",
                F.element_at(
                    "_nbrs",
                    (F.pmod(h, F.size("_nbrs")) + 1).cast("int"),
                ).alias("_next"),
                "walk",
            )
            .select(
                "start_node", "walk_ix",
                F.col("_next").alias("_cur"),
                F.when(
                    F.col("_next").isNotNull(),
                    F.concat_ws(" ", "walk", F.col("_next").cast("string")),
                ).otherwise(F.col("walk")).alias("walk"),
            )
        )
    return state.select("start_node", "walk_ix", "walk")


def skipgram_pairs(walks: DataFrame, walk_col: str = "walk",
                   window: int = 2) -> DataFrame:
    """Skip-gram training pairs from a random-walk corpus (the word2vec
    consumption side of :func:`random_walks`): every (center, context)
    node pair within +-``window`` positions inside a walk, aggregated to
    counted pairs — the co-occurrence relation that embedding trainers
    (and GloVe-style factorizations) consume.

    NOT a self-join: each walk row emits its <= L * 2*window pairs from
    ONE higher-order-function projection (nested transform/filter over
    the split walk, flattened), so the only exchange is the final
    (center, context) count agg — whose hot pairs (every walk crosses
    the 'COVID-19' hub) collapse in the map-side partial. Window
    clipping at walk edges matches word2vec's sentence-boundary
    behavior.

    Output: (center, context, pair_count), nodes as BIGINT.
    """
    t = F.split(F.col(walk_col), " ")
    n = F.size(t)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.transform(
                F.filter(
                    F.sequence(F.greatest(i - window, F.lit(0)),
                               F.least(i + window, n - 1)),
                    lambda j: j != i,
                ),
                lambda j: F.struct(
                    F.element_at(t, (i + 1).cast("int"))
                    .cast("long").alias("center"),
                    F.element_at(t, (j + 1).cast("int"))
                    .cast("long").alias("context"),
                ),
            ),
        )
    )
    return (
        walks.select(F.explode(pairs).alias("_p"))
        .select("_p.center", "_p.context")
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("int").alias("pair_count"))
    )


def degree_profile(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Degree-distribution audit of an edge list: per OUT-degree k, how
    many nodes have it, plus a least-squares slope of log2(count) on
    log2(k) over the whole distribution — the quick power-law read
    (web/KG graphs run alpha ~ 2-3; a slope near 0 means the generator
    or extraction produced something suspiciously uniform, a common
    pipeline-bug signature).

    Output: (degree, n_nodes, slope_r) — slope_r identical on every row
    (a distribution-level scalar carried alongside, so one relation
    serves both the histogram plot and the scalar check).

    Scale shape: one partial-combined agg per level (node -> degree,
    degree -> count); the slope is a closed-form least-squares over the
    DISTINCT-degree rows (hundreds at any corpus size — degree counts,
    not nodes), computed with window-free global aggregates on that
    tiny frame and broadcast back by a cross join."""
    deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))
    pts = hist.select(
        "degree", "n_nodes",
        F.log2(F.col("degree").cast("double")).alias("_x"),
        F.log2(F.col("n_nodes").cast("double")).alias("_y"),
    )
    stats = pts.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    ).select(
        F.when(
            F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx") != 0,
            (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
            / (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")),
        ).otherwise(F.lit(0.0)).alias("_slope")
    )
    return pts.crossJoin(F.broadcast(stats)).select(
        F.col("degree").cast("int").alias("degree"),
        "n_nodes",
        F.round("_slope", 6).alias("slope_r"),
    )


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          src: str = "src", dst: str = "dst",
                          seed_col: str = "node",
                          damping: float = 0.85,
                          iterations: int = 10) -> DataFrame:
    """Personalized (topic-sensitive) PageRank (Haveliwala 2002): the
    teleport vector concentrates on a SEED set instead of spreading
    uniformly, so ranks measure relatedness TO THE SEEDS — the KG
    query behind 'entities most associated with this outbreak/topic'
    that global pagerank cannot answer (it rewards global hubs).
    Dangling mass also returns to the seeds (the standard PPR closure,
    keeping total rank at 1).

    Same fixed-iteration machinery and scale shape as :func:`pagerank`
    (edges pre-joined with out-degree once; per-round contribution agg
    + 1-row dangling frame; eager localCheckpoint keeps the plan
    O(1)-deep); the only addition is a broadcast seed-membership join
    baked into the node frame before the loop. Returns (node, rank);
    non-seed nodes unreachable from any seed report rank 0.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    the ranks) and truncates lineage: lost executor blocks fail later jobs
    instead of recomputing."""
    e = edges.select(F.col(src).alias("src"),
                     F.col(dst).alias("dst")).distinct()
    nodes = (e.select(F.col("src").alias("node"))
              .union(e.select(F.col("dst").alias("node")))
              .distinct())
    outdeg = e.groupBy("src").agg(
        F.count("*").cast("double").alias("deg"))
    e_deg = e.join(outdeg, "src").persist()
    s = seeds.select(F.col(seed_col).alias("node")).distinct()
    n_seeds = s.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs >= 1 seed")
    nodes = nodes.join(
        F.broadcast(s.withColumn("_seed", F.lit(True))), "node", "left"
    ).select(
        "node",
        F.when(F.col("_seed"), F.lit(1.0 / n_seeds))
        .otherwise(F.lit(0.0)).alias("tele"),
    ).persist()
    nodes.count()
    e_deg.count()
    src_nodes = (e_deg.select(F.col("src").alias("node"))
                 .distinct().persist())
    src_nodes.count()
    ranks = nodes.select("node", F.col("tele").alias("rank"))
    for i in range(iterations):
        dangling = (ranks.join(src_nodes, "node", "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("_mass")))
        contrib = (ranks.join(e_deg, ranks.node == e_deg.src)
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum(F.col("rank") / F.col("deg"))
                        .alias("_contrib")))
        ranks = (nodes.join(contrib, "node", "left")
                 .crossJoin(dangling)
                 .select(
                     "node",
                     (F.lit(1.0 - damping) * F.col("tele")
                      + F.lit(damping)
                      * (F.coalesce(F.col("_contrib"), F.lit(0.0))
                         + F.col("_mass") * F.col("tele"))
                      ).alias("rank")))
        ranks = ranks.localCheckpoint(eager=True)
    e_deg.unpersist()
    nodes.unpersist()
    src_nodes.unpersist()
    return ranks
