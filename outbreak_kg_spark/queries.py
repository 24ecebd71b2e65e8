"""Query layer (SURVEY.md §3) — relational equivalents of the reference's
Cypher surface (kg/client.py) with Catalyst as the planner instead of the
reference's string-concatenation query builder (kg/client.py:118-193).

All `isa*0..` variable-length paths are resolved through a precomputed
closure table (closure.py) so every constraint is one broadcast equi-join;
query conjunction is a chain of inner joins on the alert key (J9).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

# Query-side generic-MeSH exclusion list (kg/mesh_csr.py:27-48 ==
# kg/realism_score.py:14-35). The reference has a missing-comma bug that
# fuses 'D005190' 'D012306' into one bogus id 'D005190D012306'; that bug is
# query-side only (not on the P/R-checked triple surface) so we fix it here
# and keep both real ids. CONTRACT (SURVEY.md §7.4, confirmed round 2): the
# bug-fixed set is the default — realism scores and literature p-values for
# queries touching D005190/D012306 intentionally diverge from the reference's
# runtime, which (because of the fused bogus id) effectively excludes
# NEITHER. Pass exclude=QUERY_EXCLUDE_MESH_REFERENCE_RUNTIME for
# bit-for-bit parity with the reference as deployed.
QUERY_EXCLUDE_MESH = {
    "D003142", "D004194", "D004196", "D005190", "D012306", "D011634",
    "D012816", "D042241", "D003141", "D003643", "D007239", "D004630",
    "D002947", "D012008", "D020478", "D006262", "D011153", "D019090",
    "D009272", "D003933",
}
# The set as the reference actually evaluates it at runtime (the two real
# ids replaced by the fused artifact, which matches no MeSH id).
QUERY_EXCLUDE_MESH_REFERENCE_RUNTIME = (
    QUERY_EXCLUDE_MESH - {"D005190", "D012306"}
) | {"D005190D012306"}

REALISM_HIGH = -4.5   # kg/client.py:275-276
REALISM_MEDIUM = -7.0


def fisher_exact_greater(a: int, b: int, c: int, d: int) -> float:
    """One-sided Fisher exact test p-value, alternative='greater', for the
    2x2 table [[a, b], [c, d]] — the reference uses scipy.stats.fisher_exact
    (kg/mesh_csr.py:140); this is the same hypergeometric tail sum
    P(X >= a), X ~ Hypergeom(M=a+b+c+d, K=a+b, N=a+c), computed with
    log-gamma so the engine has no scipy dependency (scipy is used instead
    when importable — it matches to ~1e-12)."""
    try:
        from scipy.stats import fisher_exact  # pragma: no cover

        return float(fisher_exact([[a, b], [c, d]], alternative="greater")[1])
    except ImportError:
        pass
    except ValueError:  # pragma: no cover
        # scipy rejects degenerate tables (negative cells — which DO occur
        # when query terms are absent from the corpus vocabulary, driving
        # d negative); the log-gamma path below handles them via the
        # lchoose -inf guard, so behavior must not depend on whether scipy
        # is installed
        pass
    from math import exp, lgamma

    def lchoose(n, k):
        if k < 0 or k > n:
            return float("-inf")
        return lgamma(n + 1) - lgamma(k + 1) - lgamma(n - k + 1)

    m = a + b + c + d
    row1 = a + b
    col1 = a + c
    denom = lchoose(m, col1)
    p = 0.0
    for k in range(a, min(row1, col1) + 1):
        lp = lchoose(row1, k) + lchoose(m - row1, col1 - k) - denom
        if lp > float("-inf"):
            p += exp(lp)
    return min(p, 1.0)


# Above this table size the log-factorial precompute would cost real memory
# (8 bytes/entry); fall back to the scalar path. The table index is the 2x2
# grand total = the MeSH vocabulary size (~30k in the reference corpus,
# kg/mesh_csr.py:62-77), so the fast path is the normal one.
_FISHER_TABLE_CAP = 50_000_000


def fisher_exact_greater_batch(a, b, c, d):
    """Vectorized one-sided Fisher exact (alternative='greater') over numpy
    int arrays — the per-row Python loop in the grouped pandas UDF was the
    round-1 scale flaw (#5): candidates at 339M-PMID scale can be millions of
    rows. The hypergeometric tail sum P(X >= a) is computed for the WHOLE
    batch with one log-factorial table + one segment-sum; no scipy.

    Matches fisher_exact_greater to ~1e-9 relative (cumsum-log vs lgamma
    rounding); equality is pytest-asserted."""
    import numpy as np

    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    c = np.asarray(c, dtype=np.int64)
    d = np.asarray(d, dtype=np.int64)
    if a.size == 0:
        return np.zeros(0, dtype=np.float64)
    m = a + b + c + d
    mmax = int(m.max())
    if mmax > _FISHER_TABLE_CAP:
        return np.array(
            [fisher_exact_greater(int(x), int(y), int(z), int(w))
             for x, y, z, w in zip(a, b, c, d)]
        )
    row1 = a + b
    col1 = a + c
    lf = np.zeros(mmax + 1, dtype=np.float64)
    if mmax > 0:
        lf[1:] = np.cumsum(np.log(np.arange(1, mmax + 1, dtype=np.float64)))

    def lchoose(n, k):
        # out-of-support (k<0, k>n, n<0) must be -inf like the scalar
        # path's guard — indexing lf with a negative n-k would silently
        # wrap to the wrong table entry (degenerate cells DO occur: query
        # terms absent from the corpus vocabulary can drive d negative)
        valid = (k >= 0) & (n >= k) & (n >= 0)
        ns = np.where(valid, n, 0)
        ks = np.where(valid, k, 0)
        return np.where(valid, lf[ns] - lf[ks] - lf[ns - ks],
                        -np.inf)

    kmax = np.minimum(row1, col1)
    lens = kmax - a + 1  # always >= 1: a <= row1 and a <= col1
    total = int(lens.sum())
    row_idx = np.repeat(np.arange(a.size), lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ks = a[row_idx] + (np.arange(total) - starts[row_idx])
    lp = (
        lchoose(row1[row_idx], ks)
        + lchoose(m[row_idx] - row1[row_idx], col1[row_idx] - ks)
        - lchoose(m[row_idx], col1[row_idx])
    )
    p = np.zeros(a.size, dtype=np.float64)
    # nan (from -inf - -inf on fully degenerate rows) contributes 0,
    # matching the scalar loop's `if lp > -inf` skip
    with np.errstate(invalid="ignore"):
        contrib = np.where(lp > -np.inf, np.exp(lp), 0.0)
    contrib = np.nan_to_num(contrib, nan=0.0)
    np.add.at(p, row_idx, contrib)
    return np.minimum(p, 1.0)


def _typed_mention_constraint(
    mentions: DataFrame,
    nodes: DataFrame,
    closure: DataFrame,
    anchor_curie: str,
    node_type: str,
    out_prefix: str,
) -> DataFrame:
    """One `-[:mentions]->(x:TYPE)-[:isa*0..]->(anchor)` block
    (kg/client.py:138-166): alerts whose mentioned entity of the given type
    reaches the anchor through the closure table."""
    typed = broadcast(
        nodes.filter(F.col("node_type") == node_type).select("curie")
    )
    reach = broadcast(
        closure.filter(F.col("ancestor") == anchor_curie).select("node")
    )
    # distinct-(alert, entity) via collect_set keyed on alert_curie ALONE,
    # not dropDuplicates over all three columns: the dedup's exchange then
    # has the SAME partitioning as the downstream join on alert_curie (one
    # exchange serves both), and over subj-bucketed at-rest edges
    # (pipeline.build_kg edge_buckets) the scan already satisfies it —
    # zero exchange for the whole constraint. The set is bounded by the
    # typed vocabulary entities one alert can mention (dozens), not by the
    # corpus. (r2->r3 flagship-entry fix: the old 3-column dropDuplicates
    # added a second, unshared exchange per constraint.)
    return (
        mentions.join(typed, mentions["obj"] == typed["curie"], "inner")
        .join(reach, mentions["obj"] == reach["node"], "inner")
        .groupBy(F.col("subj").alias("alert_curie"))
        .agg(F.collect_set("obj").alias("_objs"))
        .select(
            "alert_curie",
            F.explode("_objs").alias(f"{out_prefix}"),
            F.lit(anchor_curie).alias(f"{out_prefix}_isa"),
        )
    )


def query_graph(
    nodes: DataFrame,
    edges: DataFrame,
    closure: DataFrame,
    symptom_closure: DataFrame | None = None,
    disease_curie: str | None = None,
    geolocation_curie: str | None = None,
    pathogen_curie: str | None = None,
    timestamp: str | None = None,
    symptom_curie: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """The flagship query (kg/client.py:118-193): alerts mentioning entities
    satisfying ALL supplied constraints; one output row per distinct
    combination of matched entities, like Cypher's RETURN DISTINCT.

    timestamp is compared by *string equality* — the reference stores alert
    timestamps stringly and never does range queries (kg/client.py:131-133).
    """
    mentions = edges.filter(F.col("pred") == "mentions").select("subj", "obj")
    alerts = nodes.filter(F.col("node_type") == "alert").select(
        F.col("curie").alias("alert_curie"),
        F.col("name").alias("alert_name"),
        F.col("timestamp").alias("alert_timestamp"),
    )
    result = alerts
    if not any(a is not None for a in (disease_curie, geolocation_curie,
                                       pathogen_curie, symptom_curie)):
        # the mentions-bearing filter is only needed when NO typed
        # constraint will supply it: every constraint below inner-joins a
        # subset of the distinct mention subjects onto alert_curie, so
        # with >= 1 constraint this dedup exchange + join is provably
        # redundant (r6 — one full exchange off the flagship plan)
        base = mentions.select(
            F.col("subj").alias("alert_curie")).dropDuplicates()
        result = result.join(base, "alert_curie", "inner")
    if timestamp is not None:
        result = result.filter(F.col("alert_timestamp") == timestamp)
    for anchor, ntype, prefix, cl in [
        (disease_curie, "disease", "disease", closure),
        (geolocation_curie, "geoloc", "geolocation", closure),
        (pathogen_curie, "pathogen", "pathogen", closure),
        (symptom_curie, "disease", "symptom",
         symptom_closure if symptom_closure is not None else closure),
    ]:
        if anchor is None:
            continue
        c = _typed_mention_constraint(
            edges.filter(F.col("pred") == "mentions").select("subj", "obj"),
            nodes, cl, anchor, ntype, prefix,
        )
        result = result.join(c, "alert_curie", "inner")
    result = result.dropDuplicates()
    if limit is not None:  # limit=0 means zero rows, not "no limit"
        result = result.limit(limit)
    return result


def query_indicators(
    nodes: DataFrame,
    edges: DataFrame,
    closure: DataFrame,
    geolocation_curie: str,
    indicator_filter: str = "",
) -> DataFrame:
    """Indicator lookup with bidirectional isa*0.. (kg/client.py:76-116):
    indicators attached to the anchor geolocation, any of its ancestors, or
    any of its descendants; substring filter on the indicator name."""
    ind = edges.filter(F.col("pred") == "has_indicator").select(
        F.col("subj").alias("geo_curie"),
        F.col("obj").alias("indicator_curie"),
        "years_data",
    )
    up = closure.filter(F.col("ancestor") == geolocation_curie).select(
        F.col("node").alias("geo_curie")
    )
    down = closure.filter(F.col("node") == geolocation_curie).select(
        F.col("ancestor").alias("geo_curie")
    )
    related = broadcast(up.union(down).dropDuplicates())
    names = nodes.select("curie", "name")
    out = (
        ind.join(related, "geo_curie", "inner")
        .join(
            broadcast(names.withColumnRenamed("curie", "indicator_curie")
                      .withColumnRenamed("name", "indicator_name")),
            "indicator_curie",
        )
        .join(
            broadcast(names.withColumnRenamed("curie", "geo_curie")
                      .withColumnRenamed("name", "geo_name")),
            "geo_curie",
        )
    )
    if indicator_filter:
        out = out.filter(F.col("indicator_name").contains(indicator_filter))
    return out.select(
        "indicator_curie", "indicator_name", "geo_curie", "geo_name", "years_data"
    ).dropDuplicates(["indicator_curie", "geo_curie"])


def direct_relations(edges: DataFrame, curies: list[str]) -> DataFrame:
    """Edges between any two of the given curies (kg/client.py:222-227)."""
    return edges.filter(F.col("subj").isin(curies) & F.col("obj").isin(curies))


def co_mention_alerts(edges: DataFrame, curies: list[str],
                      top_n: int = 500) -> DataFrame:
    """Alerts where >=2 of the given curies co-occur, ranked by how many of
    them appear, top-500 (kg/client.py:238-261). One shuffle: the per-alert
    distinct-count agg; the top-k is TakeOrderedAndProject."""
    m = (
        edges.filter((F.col("pred") == "mentions") & F.col("obj").isin(curies))
        .select(F.col("subj").alias("alert_curie"), F.col("obj").alias("curie"))
        .dropDuplicates()
    )
    per_alert = m.groupBy("alert_curie").agg(
        F.countDistinct("curie").alias("n_entities"),
        F.sort_array(F.collect_set("curie")).alias("entities"),
    )
    return (
        per_alert.filter(F.col("n_entities") >= 2)
        .orderBy(F.desc("n_entities"), F.asc("alert_curie"))
        .limit(top_n)
    )


# ---- realism scoring (kg/realism_score.py) ----------------------------------

def pair_score_table(edges: DataFrame) -> DataFrame:
    """Materialized co-occurrence log-prob table (kg/realism_score.py:55-74):
    for each unordered pair of MeSH ids mentioned in the same alert,
    score = log(#alerts with both) - log(#alerts). Built once from the
    mentions edges; queries filter it by their MeSH id sets."""
    m = (
        edges.filter(
            (F.col("pred") == "mentions") & F.col("obj").startswith("MESH:")
        )
        .select(
            F.col("subj").alias("alert_curie"),
            F.expr("substring(obj, 6)").alias("mesh_id"),
        )
        .dropDuplicates()
    )
    # carry the alert total as a broadcast 1-row frame, NOT a driver .count()
    # (a mid-plan count() re-runs the upstream NER'd relation as a second
    # full job at 100 TB — the logsumexp_agg pattern, applied consistently)
    n_alerts = broadcast(
        m.agg(F.count_distinct("alert_curie").alias("_n_alerts"))
    )
    l = m.withColumnRenamed("mesh_id", "m1")
    r = m.withColumnRenamed("mesh_id", "m2")
    pairs = l.join(r, "alert_curie").filter(F.col("m1") < F.col("m2"))
    return (
        pairs.groupBy("m1", "m2")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .crossJoin(n_alerts)
        .select(
            "m1", "m2", "n_co",
            (F.log("n_co") - F.log(F.col("_n_alerts").cast("double")))
            .alias("score"),
        )
    )


def cooccurrence_scores(
    pair_scores: pd.DataFrame | dict,
    mesh_types: dict,
    mesh_ids: list[str],
    exclude: set = QUERY_EXCLUDE_MESH,
) -> tuple[dict, float, str]:
    """Driver-side scoring of a small query id set against the materialized
    pair table (kg/realism_score.py:77-87 + threshold classification
    kg/client.py:269-281). pair_scores: {(m1, m2): score}."""
    from itertools import combinations

    if isinstance(pair_scores, pd.DataFrame):
        # .get((m1, m2)) on a DataFrame is a COLUMN lookup and would
        # silently return -inf for every pair; convert to the dict form
        pair_scores = {
            (r.m1, r.m2): r.score for r in pair_scores.itertuples()
        }
    scores = {}
    for t1, t2 in combinations(mesh_ids, 2):
        if t1 in exclude or t2 in exclude:
            continue
        if t1 not in mesh_types or t2 not in mesh_types:
            continue
        key = tuple(sorted((t1, t2)))
        scores[key] = pair_scores.get(key, float("-inf"))
    score_sum = _logsumexp(list(scores.values()))
    cls = ("high" if score_sum > REALISM_HIGH
           else "medium" if score_sum > REALISM_MEDIUM else "low")
    return scores, score_sum, cls


def cooccurrence_scores_df(
    pair_score_df: DataFrame,
    mesh_types: dict,
    mesh_ids: list[str],
    exclude: set = QUERY_EXCLUDE_MESH,
) -> tuple[dict, float, str]:
    """In-plan variant of cooccurrence_scores: the materialized pair-score
    table is filtered to the pairs whose both ids are in the query's
    scored id set F (m1 IN F AND m2 IN F) — exactly its sorted pairs,
    since the table holds each unordered pair once as m1 < m2. The table
    itself is never collected (at web scale the observed co-mention pair
    table is millions-to-billions of rows; the reference collects it into
    a dict at import, kg/realism_score.py:98-99, which is a driver OOM at
    corpus scale). The only collect is the filter result, bounded by the
    query's own pair count — which is the response payload anyway.
    score_sum over those <= 990 floats uses the same stable logsumexp as
    the distributed logsumexp_agg (A6); a query-sized driver fold of an
    already-query-sized frame, not a table-sized job."""
    from itertools import combinations

    keys = []
    for t1, t2 in combinations(mesh_ids, 2):
        if t1 in exclude or t2 in exclude:
            continue
        if t1 not in mesh_types or t2 not in mesh_types:
            continue
        keys.append(tuple(sorted((t1, t2))))
    if not keys:
        return {}, float("-inf"), "low"
    ids = sorted({t for k in keys for t in k})
    found = {
        (r.m1, r.m2): r.score
        for r in pair_score_df.filter(
            F.col("m1").isin(ids) & F.col("m2").isin(ids))
        .select("m1", "m2", "score").collect()
    }
    scores = {k: found.get(k, float("-inf")) for k in keys}
    score_sum = _logsumexp(list(scores.values()))
    cls = ("high" if score_sum > REALISM_HIGH
           else "medium" if score_sum > REALISM_MEDIUM else "low")
    return scores, score_sum, cls


def _logsumexp(vals: list[float]) -> float:
    finite = [v for v in vals if v != float("-inf")]
    if not finite:
        return float("-inf")
    m = max(finite)
    return m + math.log(sum(math.exp(v - m) for v in finite))


def logsumexp_agg(df: DataFrame, value_col: str,
                  group_cols: list[str] | None = None) -> DataFrame:
    """Distributed logsumexp (operator A6) as a two-pass stable aggregate:
    m + log(sum(exp(x - m)))."""
    keys = group_cols or []
    g = df.groupBy(*keys) if keys else df.groupBy()
    mx = g.agg(F.max(value_col).alias("_m"))
    joined = df.join(broadcast(mx), keys) if keys else df.crossJoin(broadcast(mx))
    g2 = joined.groupBy(*keys, "_m") if keys else joined.groupBy("_m")
    return g2.agg(
        F.sum(F.exp(F.col(value_col) - F.col("_m"))).alias("_s")
    ).select(
        *keys, (F.col("_m") + F.log("_s")).alias("logsumexp")
    )


# ---- literature co-annotation (kg/mesh_csr.py) -------------------------------

def total_mesh_terms(mesh_pmids: DataFrame) -> DataFrame:
    """1-row frame (total_terms) — the 2x2 grand total for Fisher. Kept as a
    DataFrame so consumers crossJoin(broadcast(...)) it into their plan
    instead of paying a separate driver-side count() job over the 339M-row
    scan (round-1 flaw #4)."""
    return mesh_pmids.agg(F.count_distinct("mesh_id").alias("total_terms"))


def literature_candidates(
    mesh_pmids: DataFrame,
    query_mesh_ids: list[str],
    exclude: set = QUERY_EXCLUDE_MESH,
) -> tuple[DataFrame, int]:
    """PMIDs containing enough of the query terms (kg/mesh_csr.py:109-121).

    mesh_pmids: long-form (mesh_id, major, pmid) — the 339M-row CSV
    (kg/mesh_csr.py:62-77) as a parquet scan instead of a driver-side CSR
    matrix; the per-PMID counting is a partial+final hash agg. Returns
    (candidates(pmid, n_query_terms), n_query)."""
    q = sorted(set(query_mesh_ids) - exclude)
    threshold = len(q) - 1 if len(q) <= 4 else 3
    cand = (
        mesh_pmids.filter(F.col("mesh_id").isin(q))
        .select("pmid", "mesh_id")
        .dropDuplicates()
        .groupBy("pmid")
        .agg(F.count(F.lit(1)).alias("n_query_terms"))
        .filter(F.col("n_query_terms") >= threshold)
    )
    return cand, len(q)


def literature_pvalues(
    mesh_pmids: DataFrame,
    mesh_types: DataFrame,
    query_mesh_ids: list[str],
    exclude: set = QUERY_EXCLUDE_MESH,
    limit: int = 20,
) -> DataFrame:
    """Fisher-exact enrichment per candidate PMID (kg/mesh_csr.py:102-166).

    Contingency table per PMID from set sizes (:134-139); Fisher exact
    vectorized with numpy inside a grouped pandas UDF (the only non-SQL
    step); coverage metrics from the type dimension (:143-151); final
    ordering (coverage_relevant desc, coverage desc, pval asc) with top-k
    (:162-173). The vocabulary total rides along as a broadcast column —
    no driver-side counts anywhere in the plan.
    """
    cand, n_query = literature_candidates(mesh_pmids, query_mesh_ids, exclude)
    q = sorted(set(query_mesh_ids) - exclude)
    target = mesh_pmids.join(cand.select("pmid"), "pmid", "left_semi").select(
        "pmid", "mesh_id"
    ).dropDuplicates()
    typed = target.join(
        broadcast(mesh_types.select("mesh_id", "node_type")), "mesh_id", "left"
    )
    per_pmid = typed.groupBy("pmid").agg(
        F.count(F.lit(1)).alias("n_target"),
        F.sum(F.col("mesh_id").isin(q).cast("int")).alias("n_overlap"),
        F.sort_array(
            F.collect_set(F.when(F.col("mesh_id").isin(q), F.col("mesh_id")))
        ).alias("overlap"),
        F.count_distinct(
            F.when(F.col("mesh_id").isin(q), F.col("node_type"))
        ).alias("overlap_coverage"),
        F.count_distinct(
            F.when(
                F.col("mesh_id").isin(q)
                & F.col("node_type").isin("geoloc", "disease", "pathogen"),
                F.col("node_type"),
            )
        ).alias("overlap_coverage_relevant"),
    ).crossJoin(broadcast(total_mesh_terms(mesh_pmids)))

    def fisher_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        n_overlap = pdf["n_overlap"].to_numpy()
        n_target = pdf["n_target"].to_numpy()
        total = pdf["total_terms"].to_numpy()
        out = pdf.drop(columns=["total_terms"])
        out["pval"] = fisher_exact_greater_batch(
            n_overlap,
            n_query - n_overlap,
            n_target - n_overlap,
            total - (n_query + n_target - n_overlap),
        )
        return out

    schema = (
        "pmid string, n_target long, n_overlap long, overlap array<string>, "
        "overlap_coverage long, overlap_coverage_relevant long, pval double"
    )
    # mapInPandas keeps the vectorized Fisher batch narrow: the p-value is
    # per-row, so no re-grouping exchange is needed between the per-PMID agg
    # and this stage (a groupBy(spark_partition_id()).applyInPandas spelling
    # would pay one artificial shuffle over the 339M-row-scale candidates).
    with_p = per_pmid.withColumn("pmid", F.col("pmid").cast("string")).mapInPandas(
        lambda it: (fisher_batch(pdf) for pdf in it), schema
    )
    return (
        with_p.orderBy(
            F.desc("overlap_coverage_relevant"),
            F.desc("overlap_coverage"),
            F.asc("pval"),
            F.asc("pmid"),
        )
        .limit(limit)
    )


# ---- autocomplete (kg/nodes_trie.py, kg/autocomplete_blueprint.py) ----------

def autocomplete(nodes: DataFrame, label: str, prefix: str,
                 top_n: int = 100,
                 gazetteer: DataFrame | None = None) -> DataFrame:
    """Case-insensitive prefix search over node names AND synonyms, capped
    at 100 (kg/nodes_trie.py:23-39; caps kg/autocomplete_blueprint.py:18;
    synonym indexing kg/get_lookups.py:46-59 — a user typing 'bird flu'
    must reach Influenza, Avian). The reference builds per-label pytrie
    indexes with one entry per synonym; relationally this is a broadcast
    join of the dimension-sized gazetteer synonyms onto the label-filtered
    nodes, a pushed-down startswith filter on the matched surface, and
    TakeOrderedAndProject. Output carries `matched` (the surface that hit
    — the synonym) next to the canonical `name`, like the reference's
    (syn_name, name, curie, definition) tuples. A prefix containing ':'
    returns nothing (autocomplete_blueprint.py:16-17)."""
    if ":" in prefix:
        return nodes.filter(F.lit(False)).select(
            "curie", "name", "node_type", F.col("name").alias("matched")
        )
    top_n = min(top_n, 100)
    lab = label
    if label == "geoloc_alerts":
        out = nodes.filter(
            (F.col("node_type") == "geoloc") & F.col("curie").startswith("MESH")
        )
    elif label == "geoloc_indicators":
        out = nodes.filter(F.col("node_type") == "geoloc")
    else:
        out = nodes.filter(F.col("node_type") == lab)
    cands = out.select(
        "curie", "name", "node_type", F.col("name").alias("matched")
    )
    if gazetteer is not None:
        syn = gazetteer.select(
            F.concat_ws(":", "ns", "id").alias("curie"),
            F.col("synonym").alias("matched"),
        )
        # gazetteer is dimension-sized -> broadcast build side; the join
        # also restricts synonyms to nodes actually in the graph (the
        # reference indexes node_mapping, not the raw vocabulary)
        syn_rows = out.select("curie", "name", "node_type").join(
            broadcast(syn), "curie"
        )
        # case-INSENSITIVE concept dedup, name row preferred: the
        # reference's lower-cased pytrie keys store one entry per
        # (concept, lower(surface)) — a synonym differing from the node
        # name only in case must not yield the same concept twice (nor
        # burn a second slot in the 100-row cap)
        from pyspark.sql import Window

        w = Window.partitionBy("curie", F.lower("matched")).orderBy(
            "_pri", "matched"
        )
        cands = (
            cands.withColumn("_pri", F.lit(0))
            .unionByName(
                syn_rows.select("curie", "name", "node_type", "matched")
                .withColumn("_pri", F.lit(1))
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_pri", "_rn")
        )
    return (
        cands.filter(F.lower("matched").startswith(prefix.lower()))
        .orderBy(F.lower("matched"), "curie")
        .limit(top_n)
    )
