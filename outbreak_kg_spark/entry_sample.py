"""Sampling registry entries: deterministic splits, strata, shards,
sequence packing, chunking, temperature and DSIR resampling, leakage-safe
splits and CCNet buckets, each with its DuckDB oracle SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import dedup, sampling, textstats
from .entry_fixtures import _docs


# Engine-portable randomness: md5-hex thresholds precomputed in Python and
# injected into BOTH the Spark plan and the DuckDB oracle, so the split/
# sample/shard assignment is reproducible bit-for-bit across engines.
SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_sample_split_counts(spark, sf_dir):
    """Deterministic train/val/test assignment (hash_split: a pure
    projection, zero exchanges) summarized per (split, lang). The count +
    min-id evidence pins every row's assignment: moving any doc between
    splits changes a group's n_docs, and the boundary rows are covered
    because min(doc_id) must match per cell."""
    d = sampling.hash_split(_docs(spark, sf_dir), "doc_id", SPLIT_WEIGHTS)
    return d.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))


def _sql_sample_split() -> str:
    case = sampling.sql_hash_split("doc_id", SPLIT_WEIGHTS)
    return f"""
        WITH s AS (SELECT doc_id, lang, {case} AS split FROM documents)
        SELECT split, lang, count(*) AS n_docs, min(doc_id) AS first_doc
        FROM s GROUP BY 1, 2
    """


def q_sample_stratified(spark, sf_dir):
    """Exactly min(k, |stratum|) docs per language, deterministically (the
    k smallest salted hashes per stratum — a uniform without-replacement
    draw both engines reproduce). The exact-k window path; the filter-only
    scale paths (stratified_fraction/budget) are pytest-gated."""
    return sampling.stratified_sample(
        _docs(spark, sf_dir), ["lang"], 25, "doc_id").select("doc_id", "lang")


def _sql_sample_stratified() -> str:
    h = sampling.sql_hash_hex("doc_id", "strat-v1")
    return f"""
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang, row_number()
                   OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS rn
            FROM documents) WHERE rn <= 25
    """


def q_sample_shards(spark, sf_dir):
    """Deterministic global shuffle for training-shard writes: shard =
    contiguous hash-range bucket, pos = rank within shard by (hash, id) —
    shard+pos replay one global pseudo-random total order. One exchange."""
    out = sampling.deterministic_shuffle(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", 8)
    return out.select(
        "doc_id", "shard", F.col("pos").cast("long").alias("pos"))


def _sql_sample_shards() -> str:
    h = sampling.sql_hash_hex("doc_id", "shuffle-v1")
    cases = " ".join(f"WHEN hh < '{t}' THEN {i}"
                     for i, t in enumerate(sampling.shard_thresholds(8)))
    return f"""
        WITH h AS (SELECT doc_id, {h} AS hh FROM documents),
        s AS (SELECT doc_id, hh,
                     (CASE {cases} ELSE 7 END)::INT AS shard FROM h)
        SELECT doc_id, shard, row_number()
               OVER (PARTITION BY shard ORDER BY hh, doc_id) AS pos
        FROM s
    """


def q_sample_pack_offsets(spark, sf_dir):
    """GPT-style sequence packing: whitespace token counts, one
    deterministic pseudo-random global order, concat-and-chunk into
    1024-token packs. Each doc's (pack_id, offset) start plus the
    boundary-straddle flag; two-phase prefix-sum (per-shard window +
    n_shards-row shard-prefix window), zero driver collects."""
    toks = F.size(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit("")))
    d = _docs(spark, sf_dir).select(
        "doc_id", toks.cast("long").alias("n_tok"))
    out = sampling.pack_offsets(d, "doc_id", "n_tok", 1024, n_shards=8)
    return out.select("doc_id", "n_tok", "pack_id", "offset",
                      "spans_packs")


def _sql_sample_pack_offsets() -> str:
    h = sampling.sql_hash_hex("doc_id", "pack-v1")
    return f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '),
                                   x -> x <> ''))::BIGINT AS n_tok,
                   {h} AS hh
            FROM documents
        ), c AS (
            SELECT doc_id, n_tok,
                   COALESCE(sum(n_tok) OVER (
                       ORDER BY hh, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)::BIGINT AS bef
            FROM t
        )
        SELECT doc_id, n_tok,
               (bef // 1024) AS pack_id,
               (bef % 1024) AS offset,
               (n_tok > 0 AND
                ((bef + greatest(n_tok, 1) - 1) // 1024) > (bef // 1024))
                   AS spans_packs
        FROM c
    """


def q_sample_pack_spans(spark, sf_dir):
    """Pack materialization plan: per-(pack, doc) token spans from the
    packing layout — what a shard writer joins to the tokenized docs.
    Same two-phase prefix-sum as sample_pack_offsets plus a narrow
    sequence+explode; no extra exchange."""
    toks = F.size(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit("")))
    d = _docs(spark, sf_dir).select(
        "doc_id", toks.cast("long").alias("n_tok"))
    return sampling.pack_spans(d, "doc_id", "n_tok", 1024, n_shards=8)


def _sql_sample_pack_spans() -> str:
    h = sampling.sql_hash_hex("doc_id", "pack-v1")
    return f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '),
                                   x -> x <> ''))::BIGINT AS n_tok,
                   {h} AS hh
            FROM documents
        ), c AS (
            SELECT doc_id, n_tok,
                   COALESCE(sum(n_tok) OVER (
                       ORDER BY hh, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)::BIGINT AS bef
            FROM t
        ), spans AS (
            SELECT doc_id, n_tok, bef,
                   unnest(generate_series(bef // 1024,
                                          (bef + n_tok - 1) // 1024)) AS p
            FROM c
            WHERE n_tok > 0
        )
        SELECT p AS pack_id, doc_id,
               greatest(p * 1024 - bef, 0) AS doc_from,
               least(n_tok, (p + 1) * 1024 - bef) AS doc_to,
               greatest(bef - p * 1024, 0) AS pack_off
        FROM spans
    """


def q_sample_chunks(spark, sf_dir):
    """Overlapping token-window chunking (sampling.chunk_tokens,
    window=32 stride=24 so the ~50-token soup docs emit 1-3 chunks):
    the RAG-indexing / long-doc split layout, with start/len metadata
    derivable without materializing text."""
    return sampling.chunk_tokens(
        _docs(spark, sf_dir), window=32, stride=24)


def _sql_sample_chunks(window: int = 32, stride: int = 24) -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS t
            FROM documents),
        meta AS (
            SELECT doc_id, t, len(t) AS n,
                   CASE WHEN len(t) <= 0 THEN 0
                        WHEN len(t) <= {window} THEN 1
                        ELSE ceil((len(t) - {window})
                                  / {stride}::DOUBLE)::INT + 1
                   END AS n_chunks
            FROM toks)
        SELECT doc_id,
               u.i::INT AS chunk_id,
               (u.i * {stride})::INT AS start_pos,
               least({window}, n - u.i * {stride})::INT AS n_tokens,
               array_to_string(
                   t[u.i * {stride} + 1 : u.i * {stride} + {window}],
                   ' ') AS chunk_text
        FROM meta, LATERAL unnest(range(0, n_chunks)) AS u(i)
    """


def q_sample_temperature(spark, sf_dir):
    """Temperature-flattened language resampling
    (sampling.temperature_resample, alpha=0.5): per-doc deterministic
    acceptance at p_lang^(alpha-1)-proportional rates normalized so the
    rarest language keeps everything — the multilingual-pretraining
    mixture recipe over the documents table."""
    out = sampling.temperature_resample(
        _docs(spark, sf_dir), strata_col="lang", alpha=0.5, salt="temp")
    return out.select("doc_id", "lang", "accept_rate_r")


def _sql_sample_temperature(alpha: float = 0.5, salt: str = "temp") -> str:
    h = sampling.sql_hash_hex("d.doc_id", salt)
    denom = float(1 << 48)
    return f"""
        WITH c AS (
            SELECT lang, count(*)::DOUBLE AS n_s FROM documents GROUP BY 1),
        t AS (SELECT sum(n_s) AS n FROM c),
        r0 AS (SELECT lang, pow(n_s / t.n, {alpha} - 1.0) AS w FROM c, t),
        m AS (SELECT max(w) AS wmax FROM r0),
        r AS (SELECT lang, w / m.wmax AS rate FROM r0, m)
        SELECT d.doc_id, d.lang, round(r.rate, 6) AS accept_rate_r
        FROM documents d JOIN r USING (lang)
        WHERE ('0x' || {h})::BIGINT::DOUBLE / {denom} < r.rate
    """


_DSIR_BUCKETS = 64
_DSIR_K = 60


def q_sample_dsir_topk(spark, sf_dir):
    """DSIR importance resampling (sampling.dsir_logratios / dsir_topk;
    Xie et al. 2023, arXiv:2302.03169): hashed-(1,2)-gram bag-of-ngrams
    models for a target subset (doc_id % 17 == 0 — a deterministic
    stand-in for the in-domain sample) and the raw corpus, per-doc log
    importance weight = sum of smoothed bucket log-ratios over feature
    occurrences, then Gumbel-top-k selection (k=60) with md5-derived
    noise. The oracle re-derives EVERYTHING relationally — counts,
    smoothing, per-bucket round-6 log ratios, the occurrence sum, the
    Gumbel keys, the top-k — so the hash gate covers both corpus passes.
    Cross-engine float contract: ratios are rounded to 6 by each engine
    independently (Python math.log vs DuckDB ln agree to ulps; a flip
    needs a true value ~1e-15 from a rounding boundary), after which
    both sum identical doubles in identical array order."""
    d = _docs(spark, sf_dir)
    # r6: stage the md5 feature hashing ONCE (persisted int arrays, no
    # text) and feed both the count pass and the scoring pass from it —
    # the hashing was the dominant per-row cost and ran twice before.
    staged = sampling.dsir_staged_feats(
        d, F.pmod("doc_id", F.lit(17)) == 0,
        n_buckets=_DSIR_BUCKETS).persist()
    lr = sampling.dsir_logratios(staged=staged, n_buckets=_DSIR_BUCKETS)
    return sampling.dsir_topk(d, lr, _DSIR_K, staged=staged)


def _sql_sample_dsir_topk() -> str:
    b = _DSIR_BUCKETS
    return f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS toks
            FROM documents),
        f AS (
            SELECT doc_id,
                   list_concat(
                       list_transform(toks, t ->
                           ('0x' || substr(md5('u:' || t), 1, 12))::BIGINT
                           % {b}),
                       list_transform(range(1, len(toks)), i ->
                           ('0x' || substr(md5('b:' || toks[i] || ' '
                                               || toks[i + 1]), 1, 12))
                           ::BIGINT % {b})
                   ) AS feats
            FROM base),
        x AS (
            SELECT doc_id % 17 = 0 AS is_t, unnest(feats) AS bkt
            FROM f),
        cnt AS (
            SELECT bkt, count(*)::DOUBLE AS rc,
                   count(*) FILTER (is_t)::DOUBLE AS tc
            FROM x GROUP BY bkt),
        tot AS (
            SELECT sum(rc) + {b} AS tr, sum(tc) + {b} AS tt FROM cnt),
        lr AS (
            SELECT g.bkt,
                   round(ln((coalesce(c.tc, 0) + 1.0) / t.tt)
                         - ln((coalesce(c.rc, 0) + 1.0) / t.tr), 6) AS v
            FROM range(0, {b}) g(bkt)
            LEFT JOIN cnt c USING (bkt), tot t),
        lrl AS (SELECT list(v ORDER BY bkt) AS vs FROM lr),
        s AS (
            SELECT doc_id, len(feats)::INT AS n_features,
                   coalesce(list_aggregate(
                       list_transform(feats, fb -> vs[fb + 1]), 'sum'),
                       0.0) AS lw
            FROM f, lrl),
        keyed AS (
            SELECT doc_id, n_features, round(lw, 6) AS lw_r,
                   round(lw - ln(-ln(
                       (('0x' || substr(md5('dsir-v1:' || doc_id), 1, 12))
                        ::BIGINT + 0.5) / 281474976710656.0)), 6) AS key_r
            FROM s)
        SELECT doc_id, n_features, lw_r, key_r
        FROM keyed ORDER BY key_r DESC, doc_id LIMIT {_DSIR_K}
    """


def q_sample_leakage_safe(spark, sf_dir):
    """Contamination-free split (sampling.leakage_safe_split composed
    over dedup.exact_dedup): docs with residue < 2 get a shared
    per-(doc_id%50) text so real duplicate groups exist; the split then
    hashes the CANONICAL id, putting every group member in the same
    split by construction (memorization can't leak into held-out
    metrics). 90/5/5 weights so val/test are populated at gate scale.
    The oracle replays the text override, the md5-group min-id dedup,
    and the byte-identical hash-threshold CASE."""
    d = _docs(spark, sf_dir, spread=False)
    text2 = F.when(
        F.col("doc_id") % 10 < 2,
        F.concat(F.lit("shared boilerplate text number "),
                 F.pmod("doc_id", F.lit(50)).cast("string")),
    ).otherwise(F.col("text"))
    base = d.select("doc_id", text2.alias("text"))
    groups = dedup.exact_dedup(base)
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    return sampling.leakage_safe_split(
        groups, "canonical_id", "doc_id", weights=w
    ).select("doc_id", "canonical_id", "split")


def _sql_sample_leakage_safe() -> str:
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    case = sampling.sql_hash_split("canonical_id", weights=w)
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 < 2
                        THEN 'shared boilerplate text number '
                             || (doc_id % 50)
                        ELSE text END AS text
            FROM documents),
        g AS (SELECT doc_id, md5(text) AS h FROM base),
        rep AS (SELECT h, min(doc_id) AS canonical_id FROM g GROUP BY h)
        SELECT g.doc_id, rep.canonical_id, {case} AS split
        FROM g JOIN rep USING (h)
    """


def q_sample_shard_balance(spark, sf_dir):
    """Shard-balance audit (sampling.shard_balance) of the
    deterministic shard assignment the pack/shuffle writers use: docs
    hashed into 16 range shards, per-shard counts + share + the Gini
    of the size distribution on every row (hash sharding should read
    near 0; a drifting Gini is the layout regression tripwire). The
    oracle replays the count agg, the sorted-cumulative Gini closed
    form, and the share arithmetic."""
    from .sampling import hash_hex, shard_balance, _range_shard

    d = _docs(spark, sf_dir, spread=False)
    sharded = d.select(
        _range_shard(hash_hex("doc_id", "shard-v1"), 16).alias("shard"))
    return shard_balance(sharded)


def _sql_sample_shard_balance(n_shards: int = 16) -> str:
    thrs = sampling.shard_thresholds(n_shards)
    h = sampling.sql_hash_hex("doc_id", "shard-v1")
    case = "CASE " + " ".join(
        f"WHEN {h} < '{t}' THEN {i}" for i, t in enumerate(thrs)
    ) + f" ELSE {n_shards - 1} END"
    return f"""
        WITH s AS (SELECT {case} AS shard FROM documents),
        sizes AS (SELECT shard, count(*)::BIGINT AS n_rows
                  FROM s GROUP BY 1),
        ranked AS (
            SELECT shard, n_rows,
                   row_number() OVER (ORDER BY n_rows, shard) AS i
            FROM sizes),
        g AS (
            SELECT count(*)::DOUBLE AS n, sum(n_rows)::DOUBLE AS t,
                   sum(i * n_rows)::DOUBLE AS iw
            FROM ranked)
        SELECT sizes.shard, sizes.n_rows,
               round(sizes.n_rows / g.t, 6) AS share_r,
               round(2.0 * g.iw / (g.n * g.t) - (g.n + 1) / g.n, 6)
                   AS gini_r
        FROM sizes, g
    """


def q_sample_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail partitioning (sampling.perplexity_buckets;
    Wenzek et al. 2020, arXiv:1911.00359): per-language thirds by the
    unigram-surprisal perplexity proxy — histogram-quantile thresholds
    (dimension-sized agg + broadcast-back comparison), never a
    per-language sort, so the 'en is most of the web' stratum skew costs
    nothing. The oracle replays the surprisal model, the round-2 score,
    the per-lang cumulative histogram, the two thresholds, and the
    tie-inclusive assignment exactly; the 1/3 and 1/3+1/3 fraction
    literals are spelled identically on both sides so the IEEE doubles
    agree bit-for-bit."""
    d = _docs(spark, sf_dir)
    surp = textstats.unigram_surprisal(d)
    scored = surp.join(d.select("doc_id", "lang"), "doc_id")
    return sampling.perplexity_buckets(
        scored, "mean_surprisal", "lang",
        head_frac=1.0 / 3, middle_frac=1.0 / 3, round_dp=2)


def _sql_sample_ccnet_buckets() -> str:
    return """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS token
            FROM documents),
        freq AS (SELECT token, count(*) AS tf FROM toks GROUP BY 1),
        tot AS (SELECT sum(tf) AS t FROM freq),
        surp AS (
            SELECT doc_id,
                   round(avg(-log2(tf / (SELECT t FROM tot))), 2) AS score_r
            FROM toks JOIN freq USING (token)
            GROUP BY doc_id),
        scored AS (
            SELECT s.doc_id, d.lang, s.score_r
            FROM surp s JOIN documents d USING (doc_id)),
        hist AS (
            SELECT lang, score_r, count(*) AS n
            FROM scored GROUP BY 1, 2),
        cum AS (
            SELECT lang, score_r,
                   sum(n) OVER (PARTITION BY lang ORDER BY score_r) AS c,
                   sum(n) OVER (PARTITION BY lang) AS t
            FROM hist),
        thr AS (
            SELECT lang,
                   min(CASE WHEN c >= (1.0/3) * t
                            THEN score_r END) AS th,
                   min(CASE WHEN c >= (1.0/3 + 1.0/3) * t
                            THEN score_r END) AS tm
            FROM cum GROUP BY lang)
        SELECT s.doc_id, s.lang, s.score_r,
               CASE WHEN s.score_r <= thr.th THEN 'head'
                    WHEN s.score_r <= thr.tm THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored s JOIN thr USING (lang)
    """
