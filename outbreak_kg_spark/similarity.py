"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with JVM-side array expressions
(F.zip_with dot product inside whole-stage codegen — no Python in the hot
path). Scale path: LSH bucketing by deterministic random-hyperplane signs so
candidate generation is an equi-join on the bucket key instead of a cross
join; an IVF-style variant clusters on a seeded sample.

Embedding near-duplicate detection (cosine >= threshold pairs) reuses the
same kernels.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _cosine(dot, na, nb):
    """Cosine from dot product and the two norms, null-safe: a zero-norm
    vector (all-zero embedding) must yield NULL — ranked last and failing
    every >= threshold — not 0/0 = NaN, which Spark's ordering treats as
    LARGER than every real number (a single zero vector would otherwise
    rank first for every query and pass every near-dup threshold)."""
    return F.when((na > 0) & (nb > 0), dot / (na * nb))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast the (small) query side, evaluate dot/norm JVM-side in one
    narrow pass over the corpus, rank with a per-query window. The corpus
    scan is embarrassingly parallel; the only shuffle is the top-k window
    keyed by query id (few keys, tiny rows). For very large query sets,
    swap broadcast direction or block-partition both sides.
    """
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        _cosine(_dot(F.col("_cv"), F.col("_qv")),
                F.col("_cn"), F.col("_qn")).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes from md5 bits — no RNG
    state, reproducible across engines and runs."""
    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            u = int(h[:15], 16) / float(1 << 60)  # uniform [0,1)
            v = int(h[15:30], 16) / float(1 << 60)
            # Box-Muller for a gaussian coordinate
            vals.append(
                math.sqrt(-2.0 * math.log(max(u, 1e-12)))
                * math.cos(2.0 * math.pi * v)
            )
        n = math.sqrt(sum(x * x for x in vals)) or 1.0
        planes.append([x / n for x in vals])
    return planes


def lsh_bucket(df: DataFrame, dim: int, n_planes: int = 8,
               vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """Add a 'bucket' column = sign-pattern of the vector against n_planes
    fixed hyperplanes. Vectors in the same bucket are cosine-close with high
    probability; joining on bucket replaces the cross join."""
    planes = _hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    bucket = sum(
        (
            F.when(
                sum(
                    (v.getItem(d) * F.lit(planes[p][d]) for d in range(dim)),
                    F.lit(0.0),
                )
                >= 0,
                F.lit(1 << p),
            ).otherwise(F.lit(0))
            for p in range(n_planes)
        ),
        F.lit(0),
    )
    return df.withColumn("bucket", bucket.cast("int"))


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine rank within candidates. Recall/latency traded via
    n_planes (fewer planes -> bigger buckets -> higher recall)."""
    cb = lsh_bucket(corpus, dim, n_planes, vec_col, seed).select(
        F.col(corpus_id).alias("neighbor_id"), "bucket",
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    qb = lsh_bucket(queries, dim, n_planes, vec_col, seed).select(
        F.col(query_id).alias("query_id"), "bucket",
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    scored = cb.join(F.broadcast(qb), "bucket").select(
        "query_id", "neighbor_id",
        _cosine(_dot(F.col("_cv"), F.col("_qv")),
                F.col("_cn"), F.col("_qn")).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def kmeans_lite(df: DataFrame, dim: int, k: int = 16, iters: int = 5,
                vec_col: str = "embedding", id_col: str = "vec_id",
                sample_cap: int | None = 100_000) -> list[list[float]]:
    """Deterministic Lloyd's k-means for IVF coarse quantization.

    Init: the k vectors with the smallest md5(id) (seeded, order-free).
    Each round: broadcast the centroid list, assign every vector to its
    nearest centroid with JVM array expressions (one narrow pass), recompute
    means with one groupBy — the classic two-job Lloyd round. Centroids live
    on the driver between rounds (k x dim floats — tiny).

    Training runs on a deterministic sample of at most ~sample_cap vectors
    (the standard IVF recipe at 10^9+ vectors: centroid quality needs a
    representative sample, not the corpus — only the single assignment pass
    in ivf_index touches every vector). The sample is the md5(id) hash
    range below cap/n — a NARROW filter, no sort, no driver merge — so it
    is order-free, reproducible, and binomially tight around sample_cap.
    Corpora at or under the cap train on every vector, so small-scale
    results are byte-identical to unsampled training. sample_cap=None
    disables sampling. The effective cap is floored at 16*k (and a
    binomial seed shortfall falls back to unsampled training), so the
    returned list always has min(k, n) centroids.

    Cost accounting (round-4 advice): whether sampling is needed is
    decided by counting at most cap+1 rows (limit + count — stops early,
    never a full scan), so when the corpus fits the cap NO corpus-wide
    pass runs here and only ivf_index's assignment touches every vector.
    When sampling engages (n > cap), setting the hash threshold needs the
    exact corpus cardinality — ONE extra count-only scan (ids only,
    column-pruned), amortized against the 2*iters jobs of training it
    replaces over the full corpus."""
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_h", F.md5(F.col("_id").cast("string")))
    train = v
    n = None
    if sample_cap is not None:
        # the hash range must comfortably hold k seeds; a cap near (or
        # under) k would binomially return fewer than k training vectors
        cap = max(sample_cap, 16 * k)
        # decide IF sampling is needed by scanning at most cap+1 rows;
        # the exact full count (needed only for the threshold fraction)
        # runs only when it is
        if v.limit(cap + 1).count() > cap:
            n = v.count()
            # keep ids whose 48-bit md5 prefix falls under cap/n: the
            # globally smallest hashes, so the k seed vectors below are
            # the same ones full-corpus training would pick
            thr = format(int(cap / n * (1 << 48)), "012x")
            train = v.filter(F.substring("_h", 1, 12) <= thr)
    if sample_cap is not None:
        # bounded by the cap (or by n <= cap) — cheap to cache across the
        # Lloyd rounds. With sampling explicitly disabled the corpus may
        # be 10^9+ vectors: stream it per round rather than pinning a
        # corpus-sized cache.
        train = train.persist()
    try:
        seed_rows = train.orderBy("_h").limit(k).collect()
        if train is not v and len(seed_rows) < k and (n or 0) >= k:
            # binomial shortfall (sample drew < k vectors): fall back to
            # unsampled training rather than silently returning fewer
            # centroids than requested
            train.unpersist()
            train = v.persist()
            seed_rows = train.orderBy("_h").limit(k).collect()
        centroids = [list(r._v) for r in seed_rows]
        for _ in range(iters):
            assigned = _assign(train, centroids)
            sums = (
                assigned.select("_cid", F.posexplode("_v").alias("_d", "_x"))
                .groupBy("_cid", "_d")
                .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
                .collect()
            )
            acc: dict[int, list] = {}
            for r in sums:
                c = acc.setdefault(r._cid, [[0.0] * dim, 0])
                c[0][r._d] = r._s
                c[1] = r._n
            new = []
            for i in range(len(centroids)):
                if i in acc and acc[i][1] > 0:
                    new.append([x / acc[i][1] for x in acc[i][0]])
                else:
                    new.append(centroids[i])  # empty cluster keeps its centroid
            centroids = new
    finally:
        train.unpersist()
    return centroids


def _assign(v: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Add _cid = argmin squared distance to the broadcast centroid list,
    evaluated as one array expression (no Python)."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("_v"),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in centroids
        ]
    )
    return v.withColumn(
        "_cid", F.array_position(dists, F.array_min(dists)).cast("int") - 1
    )


def ivf_index(df: DataFrame, dim: int, k: int = 16, iters: int = 5,
              vec_col: str = "embedding", id_col: str = "vec_id",
              sample_cap: int | None = 100_000
              ) -> tuple[DataFrame, list[list[float]]]:
    """Build an IVF index: (assignments(vec_id, centroid_id, vec), centroids).
    At rest this is a parquet table partitioned by centroid_id — probing a
    centroid prunes partitions. Training samples down to sample_cap vectors
    (kmeans_lite); the assignment pass below is the only corpus-wide pass
    that reads the VECTORS (when sampling engages, kmeans_lite adds one
    ids-only count scan to set its hash threshold — see its docstring)."""
    centroids = kmeans_lite(df, dim, k, iters, vec_col, id_col, sample_cap)
    v = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    assigned = _assign(v, centroids).select(
        "vec_id", F.col("_cid").alias("centroid_id"), F.col("_v").alias("vec")
    )
    return assigned, centroids


def ivf_topk(index: DataFrame, centroids: list[list[float]],
             queries: DataFrame, k: int = 10, nprobe: int = 4,
             vec_col: str = "embedding", query_id: str = "query_id"
             ) -> DataFrame:
    """IVF search: per query, probe the nprobe nearest centroids' inverted
    lists only, then exact cosine rank within candidates. The candidate join
    is an equi-join on centroid_id — at scale it prunes to nprobe/k of the
    corpus per query."""
    import math as _m

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).collect()
    probe_rows = []
    for r in q:
        dists = [
            (sum((a - b) ** 2 for a, b in zip(r._qv, c)), i)
            for i, c in enumerate(centroids)
        ]
        for _, cid in sorted(dists)[:nprobe]:
            probe_rows.append((r.query_id, cid, list(r._qv),
                               _m.sqrt(sum(x * x for x in r._qv))))
    spark = index.sparkSession
    # probe schema carries the QUERY frame's id type — hardcoding long
    # would reject string ids (curies), the natural key elsewhere in the KG
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    qid_type = queries.schema[query_id].dataType
    probes = spark.createDataFrame(
        probe_rows,
        StructType([
            StructField("query_id", qid_type),
            StructField("centroid_id", IntegerType()),
            StructField("_qv", ArrayType(DoubleType())),
            StructField("_qn", DoubleType()),
        ]),
    )
    cand = index.join(F.broadcast(probes), "centroid_id")
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(_dot(F.col("vec"), F.col("_qv")),
                _norm(F.col("vec")), F.col("_qn")).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_near_dup_pairs(df: DataFrame, dim: int, threshold: float = 0.95,
                          n_planes: int = 6, vec_col: str = "embedding",
                          id_col: str = "vec_id", seed: int = 42) -> DataFrame:
    """Embedding near-duplicate pairs: LSH-bucketed self-join, exact cosine
    verify (a < b)."""
    b = lsh_bucket(df, dim, n_planes, vec_col, seed).select(
        id_col, "bucket", F.col(vec_col).cast("array<double>").alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    l = b.select(F.col(id_col).alias("a"), "bucket",
                 F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    r = b.select(F.col(id_col).alias("b"), "bucket",
                 F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    return (
        l.join(r, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            _cosine(_dot(F.col("_va"), F.col("_vb")),
                    F.col("_na"), F.col("_nb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["a", "b"])
    )


def _rademacher_matrix(dim: int, out_dim: int,
                       seed: int = 7) -> list[list[float]]:
    """Deterministic +/-1 (Rademacher) projection rows, prescaled by
    1/sqrt(out_dim): row j, coordinate i = sign of one md5 bit of
    "jl:{seed}:{j}:{i}". Sign-from-a-bit (not Box-Muller floats) keeps the
    matrix EXACTLY representable and bit-identical in every engine — the
    oracle inlines the same literals, so there is no float-generation
    drift to round away. Rademacher entries satisfy the JL lemma with the
    same distortion bounds as gaussian ones (Achlioptas 2003)."""
    scale = 1.0 / math.sqrt(out_dim)
    rows = []
    for j in range(out_dim):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"jl:{seed}:{j}:{i}".encode()).hexdigest()
            row.append(scale if int(h[0], 16) % 2 == 0 else -scale)
        rows.append(row)
    return rows


def random_projection(df: DataFrame, dim: int, out_dim: int = 8,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      seed: int = 7) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto out_dim deterministic Rademacher rows. Returns
    (id_col, proj array<double>).

    This is the standard pre-ANN compression step at 10^12-vector scale:
    pairwise distances/cosines are preserved within JL distortion while
    index memory and every downstream dot product shrink by
    dim/out_dim — brute-force rerank then touches full vectors only for
    the shortlist.

    Scale shape: the projection matrix is dim x out_dim PLAN LITERALS
    (a few KB — never a join side, never a broadcast variable), and each
    output coordinate is one zip_with/aggregate dot product against a
    literal array, so the whole operator is a single NARROW projection
    inside whole-stage codegen: zero exchanges, zero Python, cost linear
    in bytes scanned at any corpus size. Out-of-range vec sizes surface
    as nulls in the zip (standard zip_with semantics), not errors."""
    rows = _rademacher_matrix(dim, out_dim, seed)
    v = F.col(vec_col).cast("array<double>")
    proj = F.array(*[
        _dot(v, F.array(*[F.lit(x) for x in rows[j]]))
        for j in range(out_dim)
    ])
    return df.select(F.col(id_col), proj.alias("proj"))


def rp_topk(corpus: DataFrame, queries: DataFrame, dim: int,
            out_dim: int = 8, k: int = 10, rerank: int = 40,
            vec_col: str = "embedding", corpus_id: str = "vec_id",
            query_id: str = "query_id", seed: int = 7) -> DataFrame:
    """Two-stage ANN: shortlist `rerank` candidates per query by cosine in
    the JL-projected space (cheap: out_dim-wide dots), then EXACT cosine
    rerank of the shortlist in the original space — the compressed-index /
    full-precision-rerank architecture every production vector store uses.
    Returns (query_id, neighbor_id, cosine, rank) with exact cosines.

    Scale shape: stage 1 is cosine_topk over out_dim-wide vectors (narrow
    corpus pass + per-query window on rerank-sized lists); stage 2 joins
    the shortlist — |queries| x rerank rows, query-side-sized — back to
    the corpus ON THE UNIQUE ID KEY to fetch full vectors for exact
    scoring, so full-width vectors are only ever read for shortlist
    members. No full-width cross join exists anywhere in the plan."""
    pc = random_projection(corpus, dim, out_dim, vec_col, corpus_id, seed)
    pq = random_projection(queries, dim, out_dim, vec_col, query_id, seed)
    shortlist = cosine_topk(
        pc, pq, k=rerank, vec_col="proj",
        corpus_id=corpus_id, query_id=query_id,
    ).select("query_id", "neighbor_id")
    cv = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    qv = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    scored = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id",
            _cosine(_dot(F.col("_cv"), F.col("_qv")),
                    F.col("_cn"), F.col("_qn")).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        levels: int = 127) -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, qvec, scale) with
    scale = max|x| / levels and codes floor(x/scale + 0.5) clamped to
    [-levels, levels] — the at-rest compression layer of a production
    vector index (4x smaller than float32, 8x than double: scan bandwidth
    IS the cost of the shortlist pass at 10^9 vectors).

    floor(x/scale + 0.5) is deliberate: an explicit half-up that evaluates
    bit-identically in Spark and DuckDB, where each engine's round()
    differs on halves. Zero vectors keep scale 0 and all-zero codes. Pure
    codegen — one narrow pass, no shuffle, no Python."""
    v = F.col(vec_col).cast("array<double>")
    maxabs = F.aggregate(v, F.lit(0.0),
                         lambda a, x: F.greatest(a, F.abs(x)))
    scale = maxabs / F.lit(float(levels))
    codes = F.when(
        scale > 0,
        F.transform(v, lambda x: F.least(
            F.greatest(F.floor(x / scale + F.lit(0.5)),
                       F.lit(float(-levels))),
            F.lit(float(levels))).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(F.col(id_col), codes.alias("qvec"),
                     scale.alias("scale"))


def quantized_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                   rerank: int = 40, vec_col: str = "embedding",
                   corpus_id: str = "vec_id", query_id: str = "query_id",
                   levels: int = 127) -> DataFrame:
    """Two-stage ANN over int8 codes: shortlist `rerank` candidates per
    query by cosine in CODE space, then exact full-precision rerank of the
    shortlist — rp_topk's compressed-index/full-rerank architecture with
    quantization instead of projection (same dimensionality, 4-8x less
    scan bandwidth). The per-vector scale cancels out of cosine
    (cos(scale*q, v) == cos(q, v)), so the shortlist pass needs only the
    integer codes — the float scale column never enters the plan.

    Scale shape: stage 1 is cosine_topk over the code table (narrow
    corpus pass + per-query window); stage 2 joins the |queries| x rerank
    shortlist back on the UNIQUE id key, so full-width float vectors are
    read for shortlist members only."""
    qc = quantize_embeddings(corpus, vec_col, corpus_id, levels).select(
        F.col(corpus_id), F.col("qvec").alias(vec_col))
    shortlist = cosine_topk(
        qc, queries, k=rerank, vec_col=vec_col,
        corpus_id=corpus_id, query_id=query_id,
    ).select("query_id", "neighbor_id")
    cv = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    qv = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    scored = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id",
            _cosine(_dot(F.col("_cv"), F.col("_qv")),
                    F.col("_cn"), F.col("_qn")).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup(df: DataFrame, dim: int, k: int = 8, iters: int = 3,
                   threshold: float = 0.95, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   max_cluster_size: int | None = 256,
                   sample_cap: int | None = 100_000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering of embeddings, intra-cluster
    cosine near-duplicate detection, and per-group representative
    election — keep the member FARTHEST from its cluster centroid (the
    paper's rule: extremal points carry the most information; the ones
    nearest the centroid are the redundant middle).

    Returns one row per input vector:
    ``(vec_id, component, centroid_cos, keep)`` — component is the
    duplicate-group id (the group's min member id; singletons are their
    own group), centroid_cos the cosine to the vector's own centroid,
    keep True for exactly one member per group (min by
    (round(centroid_cos, 6), id) — the rounded key keeps the election
    reproducible across engines/partitionings).

    Pipeline (all JVM-side array expressions, no Python in any per-vector
    step):

    1. ``ivf_index`` — sampled k-means (kmeans_lite) + one argmin
       assignment pass; clustering restricts the pair search to
       same-cluster members, the SemDeDup trick that replaces the
       all-pairs O(n^2) with sum over clusters of |C|^2.
    2. cosine to own centroid via a broadcast join on centroid_id (k
       rows — never a literal-inflated plan).
    3. intra-cluster candidate pairs through dedup._bucket_pairs with the
       cluster id as the bucket key — the SAME degenerate-bucket cap as
       the MinHash path: an oversized cluster (boilerplate embeddings at
       web scale collapse to near-identical points) contributes a
       verified STAR around its min id, |C|-1 pairs, not |C|^2.
    4. exact cosine verify >= threshold (two id-keyed joins back to the
       vectors; only candidates are scored).
    5. connected components (closure.connected_components — hash-min +
       pointer jumping) over verified pairs.
    6. representative election as a partial-aggregating min-struct
       groupBy — no window, so a million-member boilerplate group costs
       one combiner-friendly agg, not a single-task sort.

    Scale: the only corpus-wide passes are the assignment (1) and the
    centroid-cosine projection (2); pairs are cluster-bounded and capped.
    With k ~ n/1000 (the paper's regime) cluster sizes stay ~1000 and the
    verify stage is linear in candidates. max_cluster_size=None restores
    uncapped all-pairs-within-cluster semantics (the DuckDB oracle
    mirrors that with k=1, where clustering degenerates to the global
    mean centroid and the pair graph to brute-force all-pairs).
    """
    from .closure import connected_components
    from .dedup import _bucket_pairs

    spark = df.sparkSession
    idx, cents = ivf_index(df, dim, k, iters, vec_col, id_col, sample_cap)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, _c array<double>",
    )
    base = (
        idx.join(F.broadcast(cdf), "centroid_id")
        .withColumn("_n", _norm(F.col("vec")))
        .withColumn(
            "centroid_cos",
            _cosine(_dot(F.col("vec"), F.col("_c")), F.col("_n"),
                    _norm(F.col("_c"))),
        )
        .select("vec_id", "centroid_id", "vec", "_n", "centroid_cos")
        .persist()
    )
    pairs = _bucket_pairs(
        base.select("vec_id", F.lit(0).alias("band"),
                    F.col("centroid_id").alias("bucket")),
        "vec_id", max_cluster_size,
    )
    va = base.select(F.col("vec_id").alias("a"), F.col("vec").alias("_va"),
                     F.col("_n").alias("_na"))
    vb = base.select(F.col("vec_id").alias("b"), F.col("vec").alias("_vb"),
                     F.col("_n").alias("_nb"))
    dup = (
        pairs.join(va, "a").join(vb, "b")
        .filter(
            _cosine(_dot(F.col("_va"), F.col("_vb")),
                    F.col("_na"), F.col("_nb")) >= threshold
        )
        .select("a", "b")
    )
    comp = connected_components(dup, "a", "b")
    labeled = (
        base.select("vec_id", "centroid_cos")
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .withColumn(
            "component",
            F.coalesce(F.col("component").cast("string"),
                       F.col("vec_id").cast("string")),
        )
    )
    reps = labeled.groupBy("component").agg(
        F.min(
            F.struct(F.round("centroid_cos", 6).alias("_k"),
                     F.col("vec_id").alias("_id"))
        ).alias("_rep")
    ).select("component", F.col("_rep._id").alias("_rep_id"))
    return (
        labeled.join(reps, "component")
        .select(
            "vec_id", "component", "centroid_cos",
            (F.col("vec_id") == F.col("_rep_id")).alias("keep"),
        )
    )
