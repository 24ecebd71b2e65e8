"""Property tests: transitive closure and connected components vs brute
force on random DAGs/graphs (SURVEY.md §5.5)."""

import random

from outbreak_kg_spark.closure import connected_components, transitive_closure
from tests.oracle.reference_impl import oracle_closure


def _random_dag(rng, n, extra):
    # nodes 0..n-1; edges only from higher to lower index -> acyclic
    edges = set()
    for i in range(1, n):
        edges.add((str(i), str(rng.randrange(i))))
    for _ in range(extra):
        a, b = rng.sample(range(n), 2)
        if a > b:
            edges.add((str(a), str(b)))
    return sorted(edges)


def test_closure_matches_bruteforce(spark):
    rng = random.Random(7)
    for trial in range(3):
        edges = _random_dag(rng, 25, 15)
        df = spark.createDataFrame(
            [{"subj": a, "obj": b} for a, b in edges]
        )
        got = {
            (r.node, r.ancestor)
            for r in transitive_closure(df).collect()
            if r.depth > 0
        }
        want = {
            (n, a) for n, ancs in oracle_closure(edges).items() for a in ancs
        }
        assert got == want, f"trial {trial}"


def _bfs_min_hops(edges):
    """(child, parent) pairs -> {(node, ancestor): min hops}, self-rows at
    depth 0 for every endpoint: a plain breadth-first walk per node."""
    parents = {}
    for c, p in edges:
        parents.setdefault(c, set()).add(p)
    out = {}
    for n in {x for e in edges for x in e}:
        depth, frontier = {n: 0}, [n]
        while frontier:
            nxt = []
            for x in frontier:
                for p in parents.get(x, ()):
                    if p not in depth:
                        depth[p] = depth[x] + 1
                        nxt.append(p)
            frontier = nxt
        out.update({(n, a): d for a, d in depth.items()})
    return out


def test_doubling_equals_bfs(spark):
    """Path doubling's depth is the min hop count a BFS finds."""
    rng = random.Random(11)
    for trial in range(3):
        edges = _random_dag(rng, 30, 20)
        df = spark.createDataFrame([{"subj": a, "obj": b} for a, b in edges])
        got = {(r.node, r.ancestor): r.depth
               for r in transitive_closure(df).collect()}
        assert got == _bfs_min_hops(edges), f"trial {trial}"


def test_closure_self_rows_cover_both_endpoints(spark):
    df = spark.createDataFrame([{"subj": "a", "obj": "b"}])
    rows = {(r.node, r.ancestor, r.depth) for r in transitive_closure(df).collect()}
    assert ("a", "a", 0) in rows and ("b", "b", 0) in rows
    assert ("a", "b", 1) in rows


def test_closure_depth_is_min_hops(spark):
    # diamond: a->b->d, a->c->d, plus shortcut a->d
    df = spark.createDataFrame(
        [{"subj": s, "obj": o} for s, o in
         [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")]]
    )
    depths = {(r.node, r.ancestor): r.depth for r in transitive_closure(df).collect()}
    assert depths[("a", "d")] == 1


def _brute_components(edges, nodes):
    comp = {n: n for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(comp[a], comp[b])
            for x in (a, b):
                if comp[x] != m:
                    comp[x] = m
                    changed = True
    # propagate to fixpoint (min label over each component)
    for _ in range(len(nodes)):
        for a, b in edges:
            m = min(comp[a], comp[b])
            comp[a] = comp[b] = m
    return comp


def test_connected_components_matches_bruteforce(spark):
    rng = random.Random(13)
    nodes = [f"n{i:02d}" for i in range(30)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(25)]
    df = spark.createDataFrame([{"src": a, "dst": b} for a, b in edges])
    want = _brute_components(edges, {n for e in edges for n in e})
    # both execution modes must agree with brute force: the driver
    # union-find fast path (default for small graphs) and the distributed
    # hash-min loop (forced with driver_max_edges=0)
    stats = {}
    got = {r.node: r.component
           for r in connected_components(df, stats=stats).collect()}
    assert stats["mode"] == "driver_union_find"
    assert got == want
    stats = {}
    got_dist = {r.node: r.component
                for r in connected_components(
                    df, stats=stats, driver_max_edges=0).collect()}
    assert stats["mode"] == "distributed_hash_min"
    assert got_dist == want


def test_connected_components_path_graph_log_rounds(spark):
    """Pointer jumping (round-1 design note #6): a 512-node path has
    diameter 511, so plain hash-min needs ~511 rounds (and would NOT
    converge within max_iters=50); with the per-round jump the label path
    halves each round -> O(log n) rounds and the true min label."""
    n = 512
    df = spark.createDataFrame(
        [{"src": i, "dst": i + 1} for i in range(n - 1)]
    )
    stats = {}
    got = {r.node: r.component
           for r in connected_components(
               df, stats=stats, driver_max_edges=0).collect()}
    assert stats["rounds"] <= 20          # ~2*log2(512)=18 worst case
    assert set(got.values()) == {0}       # one component, min id 0
    assert len(got) == n


def test_closure_empty_edges_no_crash(spark):
    from outbreak_kg_spark.closure import transitive_closure

    empty = spark.createDataFrame([], "subj string, obj string")
    assert transitive_closure(empty).count() == 0


def test_closure_cycle_self_pairs_stay_depth_zero(spark):
    """Cyclic input discovers (n, n, k>0) pairs; the depth-0 self-row must
    supersede them — one row per (node, ancestor), depth = min hops."""
    from outbreak_kg_spark.closure import transitive_closure

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["subj", "obj"]
    )
    rows = transitive_closure(edges).collect()
    per_pair = {}
    for r in rows:
        per_pair.setdefault((r.node, r.ancestor), []).append(r.depth)
    assert all(len(v) == 1 for v in per_pair.values()), per_pair
    for n in "abc":
        assert per_pair[(n, n)] == [0]


def test_closure_with_roots_isolated_nodes(spark):
    from outbreak_kg_spark.closure import closure_with_roots

    edges = spark.createDataFrame([("a", "b")], ["subj", "obj"])
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("lonely",)], ["curie"]
    )
    rows = {(r.node, r.ancestor): r.depth
            for r in closure_with_roots(edges, nodes).collect()}
    assert rows[("lonely", "lonely")] == 0
    assert rows[("a", "b")] == 1 and rows[("a", "a")] == 0


def test_hierarchy_rollup_subtree_totals(spark):
    from pyspark.sql import functions as F

    from outbreak_kg_spark.closure import hierarchy_rollup

    #      r
    #     / \
    #    a   b     (diamond: d isa both a and b -> d must count ONCE
    #     \ / \     under r, not twice)
    #      d   c
    edges = spark.createDataFrame(
        [("a", "r"), ("b", "r"), ("d", "a"), ("d", "b"), ("c", "b")],
        "subj string, obj string")
    w = spark.createDataFrame(
        [("r", 1), ("a", 10), ("b", 100), ("d", 1000), ("c", 7),
         ("zzz", 555)],  # zzz: weighted but not in the hierarchy -> dropped
        "node string, n long")
    got = {r.ancestor: (r.n_nodes, r.total)
           for r in hierarchy_rollup(edges, w, node_col="node",
                                     weight_col="n").collect()}
    assert got == {
        "r": (5, 1118),   # all of r a b c d, d once (diamond)
        "a": (2, 1010),
        "b": (3, 1107),
        "c": (1, 7),
        "d": (1, 1000),
    }
