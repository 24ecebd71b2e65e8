"""Iterative graph primitives Catalyst lacks (SURVEY.md §4.3.1-2):
transitive closure over isa-style DAGs, and connected components.

Both are frontier loops of equi-joins with ``localCheckpoint`` per round to
truncate lineage. The closure table is the engine's replacement for Cypher's
``[:isa*0..]`` variable-length paths (kg/client.py:85-92,138-177): built once
per vocabulary release (hierarchies are small and static — 10,030 MeSH +
54,023 geoname isa edges, BASELINE.md), after which every ``isa*`` query is a
single broadcast equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transitive_closure(
    edges: DataFrame,
    child_col: str = "subj",
    parent_col: str = "obj",
    max_iters: int = 50,
    include_self: bool = True,
) -> DataFrame:
    """edges(child, parent) -> closure(node, ancestor, depth=min hops).

    Min-plus path doubling — acc_{k+1} = min(acc_k, acc_k (x) acc_k) —
    reaches diameter D in ceil(log2 D) rounds instead of D, which matters
    because each Spark round costs a full job (a 15-deep hierarchy is 4
    rounds, not 15).

    Checkpoints per round (flat plans) and converges by reachability, so
    diamond-shaped DAGs terminate. include_self adds (node, node, 0) rows so
    `isa*0..` (kg/client.py:140 — the anchor matches itself) is one equi-join,
    for BOTH endpoint sets.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    each round) and truncates lineage: lost executor blocks fail later jobs
    instead of recomputing.
    """
    # Keep the native key type when both endpoint columns already agree
    # (guide §2.3 "narrower types"): every round of the loop shuffles the
    # accumulated closure on these columns, and casting long ids to
    # strings would double the exchanged bytes and the compare cost of
    # the per-round groupBy. Heterogeneous inputs still normalize to
    # string (the curie-keyed callers pass strings anyway).
    same_type = (edges.schema[child_col].dataType
                 == edges.schema[parent_col].dataType)
    _key = (F.col if same_type
            else (lambda c: F.col(c).cast("string")))
    base = (
        edges.select(
            _key(child_col).alias("node"),
            _key(parent_col).alias("ancestor"),
        )
        .filter(F.col("node").isNotNull() & F.col("ancestor").isNotNull())
        .dropDuplicates()
    )
    base = base.localCheckpoint(eager=True)
    acc = base.withColumn("depth", F.lit(1)).localCheckpoint(eager=True)
    n_prev = acc.count()
    for rnd in range(1, max_iters + 1):
        # Filtered doubling: a NEW shortest path this round has length
        # L in (2^(rnd-1), 2^rnd]; it splits at position 2^(rnd-1) into
        # a prefix of length exactly 2^(rnd-1) — which lies in
        # (2^(rnd-2), 2^(rnd-1)], i.e. the pairs discovered LAST round
        # (the frontier) — and a suffix of length <= 2^(rnd-1) (in acc).
        # So frontier x acc reaches everything acc x acc would, at a
        # fraction of the join's left side.
        frontier = acc.filter(F.col("depth") > (1 << (rnd - 1)) // 2)
        stepped = (
            frontier.withColumnRenamed("ancestor", "mid")
            .withColumnRenamed("depth", "d1")
            .join(
                acc.select(
                    F.col("node").alias("mid"),
                    F.col("ancestor").alias("anc2"),
                    F.col("depth").alias("d2"),
                ),
                "mid",
            )
            .select(
                "node",
                F.col("anc2").alias("ancestor"),
                (F.col("d1") + F.col("d2")).alias("depth"),
            )
        )
        acc = (
            acc.union(stepped)
            .groupBy("node", "ancestor")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint(eager=True)
        )
        stats = acc.agg(
            F.count(F.lit(1)).alias("n"), F.max("depth").alias("md")
        ).first()
        # After round k every min-depth <= 2^k is final. If the deepest
        # pair found is < 2^k, no pair of depth exactly 2^k exists; a
        # pair deeper than 2^k would contain a shortest SUBpath of depth
        # exactly 2^k (unit weights), so none exists either — the
        # closure is complete WITHOUT paying the fixpoint-confirming
        # extra round the count-equality test needs (that last round is
        # the full closure x closure join, the most expensive of all).
        # md is NULL (None) on an empty closure — empty edge input
        # must terminate cleanly, not TypeError on None < int
        if (stats["md"] is None or stats["md"] < (1 << rnd)
                or stats["n"] == n_prev):
            break
        n_prev = stats["n"]
    if include_self:
        selfs = (
            base.select("node")
            .union(base.select(F.col("ancestor").alias("node")))
            .dropDuplicates()
            .select("node", F.col("node").alias("ancestor"), F.lit(0).alias("depth"))
        )
        # cyclic input discovers (n, n, k>0) rows; the depth-0 self-row
        # supersedes them (depth = MIN hops), and keeping both would give
        # the same (node, ancestor) pair contradictory depths. The filter
        # is narrow — no extra exchange.
        acc = selfs.union(acc.filter(F.col("node") != F.col("ancestor")))
    return acc


def closure_with_roots(edges: DataFrame, nodes: DataFrame,
                       node_col: str = "curie", **kw) -> DataFrame:
    """Closure that also carries depth-0 self-rows for isolated nodes (nodes
    with no isa edges at all) so `isa*0..` matches them too."""
    cl = transitive_closure(edges, include_self=True, **kw)
    iso = (
        nodes.select(F.col(node_col).alias("node"))
        .dropDuplicates()
        .join(cl.select("node").dropDuplicates(), "node", "left_anti")
        .select("node", F.col("node").alias("ancestor"), F.lit(0).alias("depth"))
    )
    return cl.union(iso)


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 50,
    stats: dict | None = None,
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """edges(src, dst) -> assignments(node, component) via hash-min
    propagation WITH pointer jumping: each round every node adopts the
    minimum component id in its closed neighborhood (one groupBy over the
    symmetrized edge list), then chases its label one hop through the label
    table itself (comp[node] = comp[comp[node]]). The jump halves label-path
    lengths, so chain-shaped clusters (serial web re-posts) converge in
    O(log diameter) rounds instead of O(diameter) — the round-1 design note
    (#6); property-tested on a path graph. Used by entity canonicalization
    (north rule; reference analog: geoname->MeSH merge kg/build.py:384-407
    plus neo4j-admin --skip-duplicate-nodes).

    Scale: the neighborhood min is a partial+final hash agg (hot nodes absorb
    map-side); the jump is a self-equi-join on the label (labels are node
    ids, so the lookup always resolves). Two shuffles per round, log rounds.
    stats (optional dict) records {'rounds': n, 'mode': ..., 'edges': n} —
    'edges' counts symmetrized input edge rows, not distinct edges (a
    repeated input edge counts each time): the full count on the driver
    path, min(count, cap) on the distributed path, None when
    driver_max_edges<=0 (no size-probe job runs then).

    Small graphs (<= driver_max_edges symmetrized input edge rows —
    near-dup clusters are typically dimension-sized next to the corpus)
    take a driver union-find fast path instead. Routing is conservative
    for multigraph inputs: many duplicate edges can send a graph whose
    distinct form is small down the distributed loop, with identical
    results. The fast path: one collect + one createDataFrame
    replaces O(log n) rounds x (two shuffles + an eager checkpoint + an
    emptiness probe) of fixed per-round latency. Same collect budget class
    as the gazetteer / k-means-centroid collects; pass driver_max_edges=0
    to force the distributed loop.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    each round) and truncates lineage: lost executor blocks fail later jobs
    instead of recomputing.
    """
    sym_raw = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    # The routing probe and the driver collect are ONE job over the RAW
    # symmetrized edges (r6): collect up to cap rows directly — when the
    # graph is under the threshold those rows ARE the edge list (union-find
    # is insensitive to duplicate edges), so the small-graph path pays
    # neither the dropDuplicates exchange nor the eager-checkpoint
    # materialization job the distributed loop needs; both happen below,
    # only on the over-threshold path. The probe is BOUNDED by the
    # threshold (a capped limit+collect stops once the cap is reached);
    # with driver_max_edges<=0 no probe job runs at all. stats['edges'] is
    # a row-count floor that may count repeated input edges (routing is
    # merely conservative for multigraph inputs: a graph with many
    # duplicate edges may take the distributed loop although its distinct
    # form is small — results identical either way).
    sym_rows = None
    if driver_max_edges > 0:
        cap = 2 * driver_max_edges + 1
        sym_rows = sym_raw.limit(cap).collect()
        n_edges = (len(sym_rows) + 1) // 2
    else:
        n_edges = None
    if n_edges is not None and n_edges <= driver_max_edges:
        # union-by-min with path compression: the root of every set is its
        # minimum node, matching the distributed hash-min result exactly
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in sym_rows:
            a, b = r[0], r[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        if stats is not None:
            stats["rounds"] = 0
            stats["mode"] = "driver_union_find"
            stats["edges"] = n_edges
        from pyspark.sql.types import StructField, StructType

        node_t = sym_raw.schema["a"].dataType
        return edges.sparkSession.createDataFrame(
            [(x, find(x)) for x in parent],
            StructType([StructField("node", node_t, False),
                        StructField("component", node_t, False)]),
        )
    if stats is not None:
        stats["mode"] = "distributed_hash_min"
        stats["edges"] = n_edges
    # distributed loop: dedup + eager checkpoint (lineage truncation for
    # the iterative rounds) happen only here — the driver path above never
    # pays this job
    sym = sym_raw.dropDuplicates().localCheckpoint(eager=True)
    comp = (
        sym.select(F.col("a").alias("node"))
        .union(sym.select(F.col("b").alias("node")))
        .dropDuplicates()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        neigh_min = (
            sym.join(comp.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nmin"))
        )
        stepped = comp.join(neigh_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nmin", F.col("component"))
            ).alias("component"),
        )
        # pointer jump: comp[node] <- min(comp[node], comp[comp[node]])
        jump = stepped.select(
            F.col("node").alias("component"),
            F.col("component").alias("_cc"),
        )
        new_comp = (
            stepped.join(jump, "component", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("_cc", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_comp.alias("n")
            .join(comp.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
        )
        comp = new_comp
        if changed.isEmpty():
            break
    if stats is not None:
        stats["rounds"] = rounds
    return comp


def hierarchy_rollup(edges: DataFrame, weights: DataFrame,
                     node_col: str = "node",
                     weight_col: str = "n",
                     subj: str = "subj", obj: str = "obj") -> DataFrame:
    """Ontology rollup: aggregate per-node weights (mention counts,
    document counts, token mass) up the isa hierarchy so every ancestor
    reports the TOTAL over its subtree, itself included — the
    'mentions per MeSH subtree' analytic an outbreak dashboard or a
    class-balance audit reads (OLAP ROLLUP along an arbitrary DAG
    instead of a fixed column hierarchy; no reference analog — the
    reference's hierarchy is query-time only, kg/client.py isa* paths).

    Output: (ancestor, n_nodes, total) — n_nodes counts the DISTINCT
    weighted nodes in the subtree (self included), total sums their
    weights. Hierarchy nodes absent from ``weights`` contribute
    nothing; weighted nodes absent from the hierarchy are dropped
    (union identity rows into ``edges`` first to keep them as their
    own roots).

    Scale shape: the closure is hierarchy-sized (nodes x bounded depth
    — vocabulary-like, NOT corpus-like; built once by the filtered-
    doubling operator above), so the weights join is dimension x
    dimension. The rollup agg's hot key — the ROOT, which every node
    reaches — collapses in the map-side partial like any hot group key;
    nothing here touches corpus-scale rows after the weights agg the
    caller supplies."""
    cl = transitive_closure(edges, subj, obj, include_self=True)
    return (
        cl.select("node", "ancestor")
        .join(weights.select(F.col(node_col).alias("node"),
                             F.col(weight_col).alias("_w")), "node")
        .groupBy("ancestor")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_nodes"),
            F.sum("_w").cast("long").alias("total"),
        )
    )
