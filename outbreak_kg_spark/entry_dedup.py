"""Text registry entries for duplicate detection and embedding
similarity: exact, minhash/LSH, simhash, substring and semantic dedup,
contamination, n-gram Jaccard and the cosine/ANN/IVF/quantized top-k
family, each with its DuckDB oracle SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import dedup, similarity
from .entry_fixtures import _docs, _tbl


def q_dedup_contamination(spark, sf_dir):
    """GPT-3-style benchmark decontamination (dedup.contamination_flags):
    docs 0-4 act as the 'eval set'; every corpus doc is flagged with its
    distinct trigram overlap count. n=3 instead of the protocol's 13
    because the word-soup corpus needs plausible collision rates."""
    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") < 5).select("text")
    return dedup.contamination_flags(d, bench, n=3)


SQL_DEDUP_CONTAMINATION = """
    WITH bt AS (
        SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents WHERE doc_id < 5),
    bsh AS (
        SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM bt, unnest(range(1, len(t) - 1)) u(i)),
    dt AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents),
    dsh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM dt, unnest(range(1, len(t) - 1)) u(i)),
    hits AS (
        SELECT doc_id, count(*) AS n
        FROM dsh JOIN bsh USING (shingle) GROUP BY 1)
    SELECT d.doc_id,
           coalesce(h.n, 0)::BIGINT AS n_contaminated,
           coalesce(h.n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir)).select(
        "doc_id", "canonical_id", "group_size"
    )


SQL_DEDUP_EXACT = """
    WITH g AS (SELECT doc_id, md5(text) AS h FROM documents),
    rep AS (SELECT h, min(doc_id) AS canonical_id, count(*) AS group_size
            FROM g GROUP BY h)
    SELECT g.doc_id, rep.canonical_id, rep.group_size FROM g JOIN rep USING (h)
"""


def q_dedup_substring_spans(spark, sf_dir):
    """Exact-substring span CUTTING (dedup.substring_spans, the
    actionable half of Lee-et-al ExactSubstr dedup): token 8-grams
    occurring in >=2 distinct documents mark their intervals, overlaps
    merge into maximal spans (gaps-and-islands), covered tokens are cut
    and the cleaned lowercase token stream is returned per doc. Runs on
    the RAW documents table — the synth word-soup corpus carries >1k
    naturally repeated 8-grams at sf0.001, so real spans (including
    multi-island docs) are exercised without any splice. The oracle
    replays tokenization, md5-prefix hashing, island merge, and the
    anti-join cut exactly."""
    return dedup.substring_spans(_docs(spark, sf_dir), n=8, min_docs=2)


def _sql_dedup_substring_spans(n: int = 8, min_docs: int = 2) -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS tk
            FROM documents),
        sh AS (
            SELECT doc_id, u.pos AS pos,
                   substr(md5(array_to_string(
                       tk[u.pos+1 : u.pos+{n}], ' ')), 1, 16) AS h
            FROM toks, LATERAL unnest(
                range(0, greatest(len(tk) - {n} + 1, 0))) AS u(pos)),
        dup AS (
            SELECT h FROM sh GROUP BY h
            HAVING count(DISTINCT doc_id) >= {min_docs}),
        hits AS (SELECT sh.doc_id, sh.pos FROM sh SEMI JOIN dup USING (h)),
        brk AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (
                            PARTITION BY doc_id ORDER BY pos) > {n}
                        THEN 1 ELSE 0 END AS b
            FROM hits),
        isl AS (
            SELECT doc_id, pos,
                   sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM brk),
        spans AS (
            SELECT doc_id, min(pos)::INT AS s, (max(pos) + {n - 1})::INT AS e
            FROM isl GROUP BY doc_id, g),
        covered AS (
            SELECT doc_id, s + u.j AS i
            FROM spans, LATERAL unnest(range(e - s + 1)) AS u(j)),
        agg AS (
            SELECT doc_id, count(*)::INT AS n_spans,
                   sum(e - s + 1)::INT AS cut_tokens
            FROM spans GROUP BY doc_id),
        positions AS (
            SELECT doc_id, p.i AS i, tk[p.i+1] AS tok
            FROM toks, LATERAL unnest(range(len(tk))) AS p(i)),
        kept AS (
            SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.i) AS kept_text
            FROM positions p LEFT JOIN covered c
              ON c.doc_id = p.doc_id AND c.i = p.i
            WHERE c.i IS NULL
            GROUP BY p.doc_id)
        SELECT toks.doc_id, len(tk)::INT AS n_tokens,
               coalesce(agg.n_spans, 0)::INT AS n_spans,
               coalesce(agg.cut_tokens, 0)::INT AS cut_tokens,
               coalesce(kept.kept_text, '') AS kept_text
        FROM toks LEFT JOIN agg USING (doc_id) LEFT JOIN kept USING (doc_id)
    """


def q_dedup_incremental_lsh(spark, sf_dir):
    """Incremental near-dup candidates (dedup.incremental_lsh_candidates):
    docs < 120 are the at-rest corpus (its bucket index computed once,
    standing in for the stored table), docs 120-239 the crawl increment.
    Candidates come out tagged new_new / new_old; only the increment is
    ever shingled or hashed. Oracle replays both banding passes and the
    tagged joins on the band value lists."""
    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") < 120)
    new = d.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 240))
    existing = dedup.lsh_band_buckets(
        dedup.minhash_sig_array(old, num_hashes=8, shingle_n=2), bands=8)
    cand, _updated = dedup.incremental_lsh_candidates(
        existing, new, shingle_n=2, num_hashes=8, bands=8)
    return cand


SQL_DEDUP_INCREMENTAL_LSH = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents
        WHERE doc_id < 240),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS shingle
        FROM toks, unnest(range(1, len(t))) u(i)),
    hv AS (
        SELECT doc_id, i AS hash_idx,
               ('0x' || substr(md5(i || ':' || shingle), 1, 12))::BIGINT AS v
        FROM sh, unnest(range(0, 8)) h(i)),
    sig AS (SELECT doc_id, hash_idx, min(v) AS minhash FROM hv GROUP BY 1, 2),
    bands AS (
        SELECT doc_id, hash_idx % 8 AS band,
               string_agg(minhash, ',' ORDER BY hash_idx) AS key
        FROM sig GROUP BY 1, 2),
    oldb AS (SELECT * FROM bands WHERE doc_id < 120),
    newb AS (SELECT * FROM bands WHERE doc_id >= 120)
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, 'new_new' AS origin
    FROM newb x JOIN newb y USING (band, key)
    WHERE x.doc_id < y.doc_id
    UNION
    SELECT DISTINCT n.doc_id AS a, o.doc_id AS b, 'new_old' AS origin
    FROM newb n JOIN oldb o USING (band, key)
"""


def q_dedup_minhash_sigs(spark, sf_dir):
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 40)
    return dedup.minhash_signatures(d, num_hashes=8).select(
        "doc_id", "hash_idx", "minhash"
    )


SQL_DEDUP_MINHASH = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents
        WHERE doc_id < 40),
    sh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, unnest(range(1, len(t) - 1)) u(i)),
    hv AS (
        SELECT doc_id, i AS hash_idx,
               ('0x' || substr(md5(i || ':' || shingle), 1, 12))::BIGINT AS v
        FROM sh, unnest(range(0, 8)) h(i))
    SELECT doc_id, hash_idx, min(v) AS minhash
    FROM hv GROUP BY 1, 2
"""


def q_dedup_simhash(spark, sf_dir):
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 40)
    return dedup.simhash(d, bits=16).select("doc_id", "simhash")


def _sql_simhash(bits: int = 16) -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
        WITH t AS (
            SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents WHERE doc_id < 40),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h
              FROM t WHERE tok <> ''),
        s AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
        SELECT doc_id, ({fp})::BIGINT AS simhash FROM s
    """


def q_ngram_jaccard(spark, sf_dir):
    # bigram shingles: the word-soup corpus has trigram overlap ~0 between
    # distinct docs, which would make this check vacuously empty
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 40)
    return (
        dedup.jaccard_pairs(d, shingle_n=2)
        .filter(F.col("jaccard") > 0.05)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard_r"))
    )


SQL_NGRAM_JACCARD = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents
        WHERE doc_id < 40),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS shingle
        FROM toks, unnest(range(1, len(t))) u(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ni
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT i.a, i.b,
           round(ni / (sa.n + sb.n - ni)::DOUBLE, 6) AS jaccard_r
    FROM inter i JOIN sz sa ON i.a = sa.doc_id JOIN sz sb ON i.b = sb.doc_id
    WHERE ni / (sa.n + sb.n - ni)::DOUBLE > 0.05
"""


def q_dedup_lsh_candidates(spark, sf_dir):
    """LSH candidate generation: docs sharing any full minhash band.
    Spark buckets by md5 of the band's (hash_idx, minhash) list; the oracle
    joins directly on the band's value list — equal relations because bucket
    equality <=> identical band lists (md5 collisions aside)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 60)
    siga = dedup.minhash_sig_array(d, num_hashes=8, shingle_n=2)
    return dedup.lsh_candidate_pairs_narrow(siga, bands=8)


SQL_DEDUP_LSH_CANDIDATES = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents
        WHERE doc_id < 60),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS shingle
        FROM toks, unnest(range(1, len(t))) u(i)),
    hv AS (
        SELECT doc_id, i AS hash_idx,
               ('0x' || substr(md5(i || ':' || shingle), 1, 12))::BIGINT AS v
        FROM sh, unnest(range(0, 8)) h(i)),
    sig AS (SELECT doc_id, hash_idx, min(v) AS minhash FROM hv GROUP BY 1, 2),
    bands AS (
        SELECT doc_id, hash_idx % 8 AS band,
               string_agg(minhash, ',' ORDER BY hash_idx) AS key
        FROM sig GROUP BY 1, 2)
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bands x JOIN bands y USING (band, key)
    WHERE x.doc_id < y.doc_id
"""


def q_similarity_cosine_topk(spark, sf_dir):
    emb = _tbl(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine_r"), "rank"
    )


SQL_COSINE_TOPK = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
        FROM e CROSS JOIN q),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine_r, rank::INT AS rank
    FROM ranked WHERE rank <= 10
"""


def q_similarity_neardup(spark, sf_dir):
    """Brute-force cosine near-dup pairs (threshold tuned to the synthetic
    embedding distribution; the LSH-bucketed variant is ann_topk below)."""
    emb = _tbl(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    from .similarity import _dot, _norm

    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            (_dot(F.col("va"), F.col("vb"))
             / (_norm(F.col("va")) * _norm(F.col("vb")))).alias("c"),
        )
        .filter(F.col("c") >= 0.35)
        .select("a", "b", F.round("c", 6).alias("cosine_r"))
    )


SQL_SIM_NEARDUP = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_r
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.35
"""


def q_similarity_ann_topk(spark, sf_dir):
    """LSH-bucketed ANN, fully oracle-gated: the hyperplanes are
    deterministic md5-derived constants computed once in Python and inlined
    as literals on BOTH sides, so DuckDB reproduces the exact buckets and
    the per-bucket cosine ranking (round-1 item 8: was no_oracle)."""
    emb = _tbl(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ann_topk(emb, queries, dim=64, k=5, n_planes=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine_r"), "rank"
    )


def _sql_ann_topk(dim: int = 64, k: int = 5, n_planes: int = 4,
                  seed: int = 42) -> str:
    """DuckDB twin of similarity.ann_topk: identical inlined hyperplane
    literals -> identical sign-pattern buckets -> identical candidates."""
    planes = similarity._hyperplanes(dim, n_planes, seed)
    plane_rows = ", ".join(
        f"({p}, [{', '.join(repr(x) for x in planes[p])}]::DOUBLE[])"
        for p in range(n_planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes(p, w) AS (VALUES {plane_rows}),
    bucketed AS (
        SELECT vec_id, v,
               sum(CASE WHEN list_dot_product(v, w) >= 0
                        THEN (1 << p) ELSE 0 END)::INT AS bucket
        FROM e CROSS JOIN planes GROUP BY vec_id, v),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket
          FROM bucketed WHERE vec_id < 3),
    scored AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
        FROM bucketed b JOIN q USING (bucket)),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine_r, rank::INT AS rank
    FROM ranked WHERE rank <= {k}
"""


def q_similarity_neardup_lsh(spark, sf_dir):
    """Embedding near-dup via the LSH-bucketed SCALE path
    (similarity.cosine_near_dup_pairs): bucket self-join replaces the cross
    join; exact cosine verify after. Hyperplanes are md5-derived literals,
    so DuckDB replicates the buckets exactly (same device as the ann_topk
    oracle) — this gates that the bucketing loses only what LSH is allowed
    to lose, deterministically."""
    from .similarity import cosine_near_dup_pairs

    emb = _tbl(spark, sf_dir, "embeddings", spread=True)
    out = cosine_near_dup_pairs(emb, dim=64, threshold=0.35, n_planes=6)
    return out.select("a", "b", F.round("cosine", 6).alias("cosine_r"))


def _sql_neardup_lsh(dim: int = 64, n_planes: int = 6, seed: int = 42,
                     threshold: float = 0.35) -> str:
    planes = similarity._hyperplanes(dim, n_planes, seed)
    plane_rows = ", ".join(
        f"({p}, [{', '.join(repr(x) for x in planes[p])}]::DOUBLE[])"
        for p in range(n_planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes(p, w) AS (VALUES {plane_rows}),
    bucketed AS (
        SELECT vec_id, v,
               sum(CASE WHEN list_dot_product(v, w) >= 0
                        THEN (1 << p) ELSE 0 END)::INT AS bucket
        FROM e CROSS JOIN planes GROUP BY vec_id, v)
    SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_r
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= {threshold}
"""


def q_similarity_ivf_topk(spark, sf_dir):
    """IVF ANN with exhaustive probing: nprobe = all centroids makes the
    index search EXACTLY equal brute-force cosine top-k, so the whole
    index machinery (deterministic kmeans-lite build, JVM-side
    assignment, inverted-list probe join, candidate ranking) is checkable
    against the brute-force oracle — the normal nprobe<k path differs
    only in which centroid lists are admitted."""
    emb = _tbl(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx, cents = similarity.ivf_index(emb, dim=64, k=8, iters=3)
    out = similarity.ivf_topk(idx, cents, queries, k=10, nprobe=8)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine_r"),
        "rank",
    )


def q_similarity_quantized_topk(spark, sf_dir):
    """Int8-quantized ANN (similarity.quantized_topk): shortlist by cosine
    over symmetric int8 codes (scale cancels out of cosine — the float
    scale column never enters the plan), exact full-precision rerank of
    the shortlist. The quantizer's floor(x/scale + 0.5) half-up is chosen
    BECAUSE it evaluates identically in Spark and DuckDB (each engine's
    round() differs on halves), making the full two-stage plan — codes,
    shortlist ordering, rerank — exactly replayable as the oracle."""
    emb = _tbl(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.quantized_topk(emb, queries, k=10, rerank=40)
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 6).alias("cosine_r"), "rank")


SQL_QUANTIZED_TOPK = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    c8 AS (
        SELECT vec_id,
               CASE WHEN scale > 0 THEN list_transform(
                        v, x -> least(greatest(floor(x / scale + 0.5),
                                               -127.0), 127.0))
                    ELSE list_transform(v, x -> 0.0) END AS cv
        FROM (SELECT vec_id, v,
                     list_aggregate(list_transform(v, x -> abs(x)),
                                    'max') / 127.0 AS scale
              FROM e)),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(c.cv, q.qv)
                                / (sqrt(list_dot_product(c.cv, c.cv))
                                   * sqrt(list_dot_product(q.qv, q.qv)))
                                DESC,
                                c.vec_id ASC) AS rn
            FROM c8 c, q) WHERE rn <= 40),
    exact AS (
        SELECT s.query_id, s.neighbor_id,
               list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
        FROM short s
        JOIN e ON e.vec_id = s.neighbor_id
        JOIN q USING (query_id))
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine_r, rank
    FROM (SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC,
                                             neighbor_id ASC) AS rank
          FROM exact)
    WHERE rank <= 10
"""


def q_similarity_rp_project(spark, sf_dir):
    """Johnson-Lindenstrauss random projection (similarity.
    random_projection): 64-dim embeddings compressed onto six
    deterministic Rademacher rows, long form — the pre-ANN index
    compression step at 10^12-vector scale (distances preserved within
    JL distortion at dim/out_dim memory). The +/-1/sqrt(6) matrix is
    md5-derived and inlined as PLAN LITERALS on both sides, so DuckDB
    reproduces the projection exactly; the Spark operator is one narrow
    whole-stage-codegen projection — zero exchanges, zero Python.
    posexplode_OUTER + null filter per the InferFiltersFromGenerate
    house rule for computed-array generates."""
    emb = _tbl(spark, sf_dir, "embeddings", spread=True).filter(F.col("vec_id") < 400)
    out = similarity.random_projection(emb, dim=64, out_dim=6)
    return (
        out.select(
            "vec_id", F.posexplode_outer("proj").alias("dim_idx", "val"))
        .filter(F.col("val").isNotNull())
        .select("vec_id", F.col("dim_idx").cast("int").alias("dim_idx"),
                F.round("val", 6).alias("proj_r"))
    )


def _sql_similarity_rp_project(out_dim: int = 6, dim: int = 64) -> str:
    """DuckDB twin: identical inlined Rademacher rows, one
    list_dot_product per output coordinate."""
    rows = similarity._rademacher_matrix(dim, out_dim, seed=7)
    row_vals = ", ".join(
        f"({j}, [{', '.join(repr(x) for x in rows[j])}]::DOUBLE[])"
        for j in range(out_dim)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < 400),
    r(j, w) AS (VALUES {row_vals})
    SELECT vec_id, j::INT AS dim_idx,
           round(list_dot_product(v, w), 6) AS proj_r
    FROM e CROSS JOIN r
    """


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (similarity.semantic_dedup; Abbas et al. 2023): k-means
    clustering of embeddings -> intra-cluster cosine near-dup pairs ->
    connected components -> keep the member farthest from its centroid.

    Oracle device (same family as q_similarity_ivf_topk's exhaustive
    probe): at k=1 the trained centroid is EXACTLY the global per-dim
    mean (one Lloyd round converges regardless of seed) and the
    intra-cluster pair graph degenerates to brute-force all-pairs, so
    DuckDB replays the centroid, the >=threshold pair graph, the
    components (recursive CTE) and the min-(rounded-cos, id) election
    relationally. The k>1 clustered path reuses ivf_index /
    _bucket_pairs / connected_components, each oracle- or
    property-gated elsewhere; semantic_dedup's k>1 composition is
    pytest-gated against brute-force in test_dedup_similarity."""
    emb = _tbl(spark, sf_dir, "embeddings", spread=True)
    out = similarity.semantic_dedup(
        emb, dim=64, k=1, iters=2, threshold=0.35, max_cluster_size=None
    )
    return out.select(
        "vec_id", "component",
        F.round("centroid_cos", 6).alias("centroid_cos_r"), "keep",
    )


SQL_DEDUP_SEMANTIC = """
    WITH RECURSIVE v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dims AS (
        SELECT vec_id, generate_subscripts(e, 1) AS pos, unnest(e) AS val
        FROM v),
    cent AS (
        SELECT list(a ORDER BY pos) AS c
        FROM (SELECT pos, avg(val) AS a FROM dims GROUP BY pos)),
    vc AS (
        SELECT vec_id,
               list_dot_product(e, c)
               / (sqrt(list_dot_product(e, e))
                  * sqrt(list_dot_product(c, c))) AS ccos
        FROM v, cent),
    dup AS (
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))) >= 0.35),
    sym AS (SELECT a, b FROM dup UNION SELECT b, a FROM dup),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (
        SELECT n AS vec_id, least(n, min(r.b)) AS component
        FROM (SELECT a AS n FROM sym UNION SELECT b FROM sym) nodes
        LEFT JOIN reach r ON r.a = n
        GROUP BY n),
    lab AS (
        SELECT vc.vec_id,
               coalesce(comp.component, vc.vec_id)::VARCHAR AS component,
               round(vc.ccos, 6) AS centroid_cos_r
        FROM vc LEFT JOIN comp USING (vec_id)),
    reps AS (
        SELECT component, vec_id AS rep_id FROM (
            SELECT component, vec_id,
                   row_number() OVER (
                       PARTITION BY component
                       ORDER BY centroid_cos_r ASC, vec_id ASC) AS rn
            FROM lab) WHERE rn = 1)
    SELECT lab.vec_id, lab.component, lab.centroid_cos_r,
           lab.vec_id = reps.rep_id AS keep
    FROM lab JOIN reps USING (component)
"""
