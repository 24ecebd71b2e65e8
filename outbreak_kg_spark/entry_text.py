"""Text registry entries: per-doc signals and filter rules, corpus
profiles and curation, token statistics and retrieval, each with its DuckDB
oracle SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import dedup, similarity, textstats
from .entry_fixtures import _docs, _tbl


def q_stats_token_counts(spark, sf_dir):
    """A7/K4: corpus token frequency (count-ordered stats artifact)."""
    return textstats.token_stats(_docs(spark, sf_dir)).select("token", "count")


SQL_STATS_TOKENS = """
    SELECT t AS token, count(*) AS count
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
    WHERE t <> '' GROUP BY t
"""


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (textstats.repetition_stats) over a
    corpus with injected repeated lines — the base word-soup docs are
    single-line, so the line metrics would be vacuously zero; the injected
    construction is identical in the DuckDB oracle."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    lined = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.substring("text", 1, 40),
            F.substring("text", 1, 40),
            F.substring("text", 41, 60),
        ).alias("text"),
    )
    out = textstats.repetition_stats(lined)
    return out.select(
        "doc_id", "n_lines",
        F.round("dup_line_ratio", 6).alias("dup_line_ratio_r"),
        F.round("dup_line_char_ratio", 6).alias("dup_line_char_ratio_r"),
        F.round("dup_token_ratio", 6).alias("dup_token_ratio_r"),
        F.round("top_bigram_ratio", 6).alias("top_bigram_ratio_r"),
    )


SQL_TEXT_REPETITION = """
    WITH base AS (
        SELECT doc_id,
               text || chr(10) || substr(text, 1, 40) || chr(10)
                    || substr(text, 1, 40) || chr(10)
                    || substr(text, 41, 60) AS t
        FROM documents WHERE doc_id < 200),
    l AS (
        SELECT doc_id,
               list_filter(string_split(t, chr(10)), x -> x <> '') AS lines,
               list_filter(
                   string_split(lower(replace(t, chr(10), ' ')), ' '),
                   x -> x <> '') AS toks
        FROM base),
    lu AS (SELECT doc_id, unnest(lines) AS line FROM l),
    lc AS (SELECT doc_id, line, count(*) AS c FROM lu GROUP BY 1, 2),
    cr AS (SELECT doc_id,
                  sum((c - 1) * length(line)) AS dup,
                  sum(c * length(line)) AS tot
           FROM lc GROUP BY 1),
    bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
           FROM l, unnest(range(1, len(toks))) u(i)),
    bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
    bgr AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY 1)
    SELECT l.doc_id,
           len(lines)::INT AS n_lines,
           round((len(lines) - len(list_distinct(lines)))
                 / greatest(len(lines), 1)::DOUBLE, 6) AS dup_line_ratio_r,
           round(coalesce(cr.dup, 0)
                 / greatest(coalesce(cr.tot, 0), 1)::DOUBLE, 6)
             AS dup_line_char_ratio_r,
           round((len(toks) - len(list_distinct(toks)))
                 / greatest(len(toks), 1)::DOUBLE, 6) AS dup_token_ratio_r,
           round(coalesce(bgr.mx, 0)
                 / greatest(coalesce(bgr.tot, 0), 1)::DOUBLE, 6)
             AS top_bigram_ratio_r
    FROM l LEFT JOIN cr USING (doc_id) LEFT JOIN bgr USING (doc_id)
"""


def q_text_pii(spark, sf_dir):
    """PII scrub (textstats.redact_pii) over a corpus with deterministic
    injected PII (the word-soup base has none); identical construction and
    RE2-compatible patterns in the DuckDB oracle."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.1."),
            F.pmod("doc_id", F.lit(256)).cast("string"),
            F.lit(".7 call 555-123-4567"),
        ).alias("text"),
    )
    return textstats.redact_pii(seeded).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "redacted_text"
    )


SQL_TEXT_PII = """
    WITH base AS (
        SELECT doc_id,
               text || ' contact u' || doc_id || '@example.com from 10.1.'
                    || (doc_id % 256) || '.7 call 555-123-4567' AS t
        FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT
             AS n_email,
           len(regexp_extract_all(t, '\\+?\\d{3}[- ]\\d{3}[- ]\\d{4}'))::INT
             AS n_phone,
           len(regexp_extract_all(t,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT
             AS n_ipv4,
           regexp_replace(
               regexp_replace(
                   regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\+?\\d{3}[- ]\\d{3}[- ]\\d{4}', '<PHONE>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
               '<IP>', 'g') AS redacted_text
    FROM base
"""


def q_text_surprisal(spark, sf_dir):
    """CCNet-style unigram surprisal (textstats.unigram_surprisal): mean
    and max -log2 p(token) per doc under the corpus's own unigram
    distribution."""
    out = textstats.unigram_surprisal(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_tokens",
        F.round("mean_surprisal", 6).alias("mean_surprisal_r"),
        F.round("max_surprisal", 6).alias("max_surprisal_r"),
    )


SQL_TEXT_SURPRISAL = """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents),
    freq AS (SELECT token, count(*) AS tf FROM toks GROUP BY 1),
    tot AS (SELECT sum(tf) AS t FROM freq)
    SELECT doc_id, count(*)::INT AS n_tokens,
           round(avg(-log2(tf / (SELECT t FROM tot))), 6)
             AS mean_surprisal_r,
           round(max(-log2(tf / (SELECT t FROM tot))), 6)
             AS max_surprisal_r
    FROM toks JOIN freq USING (token)
    GROUP BY doc_id
"""


def q_text_tfidf_topk(spark, sf_dir):
    """Per-doc top-5 keywords by tf-idf (textstats.tfidf_topk): corpus
    document frequency via the distinct-then-count cascade, smoothed idf
    with N from a 1-row crossJoin (no collect), windowed top-k with the
    token-asc tie-break. Oracle replays tf/df/idf/rank in DuckDB."""
    out = textstats.tfidf_topk(_docs(spark, sf_dir), k=5)
    return out.select(
        "doc_id", "token", "tf", "df",
        F.round("score", 6).alias("score_r"), "rank")


def _sql_text_tfidf_topk() -> str:
    return """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS token
            FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf
               FROM toks GROUP BY 1, 2),
        dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        s AS (
            SELECT tf.doc_id, tf.token, tf.tf, dfr.df,
                   tf.tf * (ln((n.n + 1.0) / (dfr.df + 1.0)) + 1.0)
                     AS score
            FROM tf JOIN dfr USING (token), n),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY score DESC, token ASC) AS rank
              FROM s)
        SELECT doc_id, token, tf, df, round(score, 6) AS score_r,
               rank::INT AS rank
        FROM r WHERE rank <= 5
    """


_QW_BUCKETS = 64


def q_text_quality_classifier(spark, sf_dir):
    """CCNet-style hashed linear quality classifier
    (textstats.hashed_linear_score): fastText's architecture — sigmoid of
    bias + mean of weights[md5-48(ngram) % D] over (1,2)-gram features —
    as one codegen projection with the weight vector as a plan literal.
    Deterministic demo weights stand in for an offline-trained model; the
    oracle replays the identical hashing, weights, and mean in DuckDB.
    Score rounded to 6 (sigma differs only in the last ulp between
    libm implementations)."""
    w = textstats.demo_classifier_weights(_QW_BUCKETS)
    out = textstats.hashed_linear_score(
        _docs(spark, sf_dir), weights=w, bias=-0.1)
    return out.select(
        "doc_id", "n_features", F.round("score", 6).alias("score_r"))


def _sql_text_quality_classifier() -> str:
    w = textstats.demo_classifier_weights(_QW_BUCKETS)
    wlit = "[" + ", ".join(repr(x) for x in w) + "]"
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
                           % {_QW_BUCKETS}),
                       list_transform(range(1, len(toks)), i ->
                           ('0x' || substr(md5('b:' || toks[i] || ' '
                                               || toks[i + 1]), 1, 12))
                           ::BIGINT % {_QW_BUCKETS})
                   ) AS feats
            FROM base),
        s AS (
            SELECT doc_id, len(feats)::INT AS n_features,
                   -0.1 + coalesce(
                       list_aggregate(
                           list_transform(feats, b -> ({wlit})[b + 1]),
                           'sum'),
                       0.0) / greatest(len(feats), 1) AS z
            FROM f)
        SELECT doc_id, n_features,
               round(1.0 / (1.0 + exp(-z)), 6) AS score_r
        FROM s
    """


# Shared passage injected by the passage-dedup gate: 11 tokens -> 4 fully
# interior 8-gram positions per doc, shared by every doc on the same
# (doc_id % 5) "site". Spliced mid-text so duplicated spans sit BETWEEN
# unique soup spans (interval-union actually exercised), with one doc_id
# dimension of variation in the site token so not everything collides.
# Rendered with {s} = the literal site expression of each engine, so the
# Spark and DuckDB splices cannot drift apart.
_PASSAGE_PRE = "official advisory site-"
_PASSAGE_POST = " please wash hands avoid contact report cases promptly"


def q_text_passage_dedup(spark, sf_dir):
    """Cross-document duplicate-passage coverage (dedup.passage_dedup,
    the Lee-et-al exact-substring-dedup signal): token 8-grams occurring
    in >=2 distinct documents, reduced to per-doc duplicated-span
    coverage via interval union. The word-soup base shares no natural
    8-grams, so the gate splices a per-site 11-token advisory passage
    into the middle of each doc (~100 docs/site at sf0.01 — far over
    threshold); boundary shingles mixing soup and passage stay unique,
    interior ones duplicate. The oracle replays the identical splice and
    the md5-prefix hashing exactly."""
    d = _docs(spark, sf_dir)
    site = F.pmod("doc_id", F.lit(5)).cast("string")
    spliced = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.substring("text", 1, 120),
            F.concat(F.lit(_PASSAGE_PRE), site, F.lit(_PASSAGE_POST)),
            F.substring("text", 121, 120),
        ).alias("text"),
    )
    return dedup.passage_dedup(spliced, n=8, min_docs=2)


def _sql_text_passage_dedup(n: int = 8, min_docs: int = 2) -> str:
    return f"""
        WITH base AS (
            SELECT doc_id,
                   substr(text, 1, 120) || ' ' ||
                   '{_PASSAGE_PRE}' || (doc_id % 5) || '{_PASSAGE_POST}'
                   || ' ' || substr(text, 121, 120) AS t
            FROM documents),
        toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(t), '\\s+'),
                               x -> x <> '') AS tk
            FROM base),
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
        cov AS (
            SELECT doc_id, pos,
                   coalesce(least({n}, pos - lag(pos) OVER (
                       PARTITION BY doc_id ORDER BY pos)), {n}) AS c
            FROM hits),
        agg AS (
            SELECT doc_id, count(*)::INT AS dup_positions,
                   sum(c)::INT AS covered_tokens
            FROM cov GROUP BY doc_id)
        SELECT toks.doc_id,
               len(tk)::INT AS n_tokens,
               coalesce(agg.dup_positions, 0)::INT AS dup_positions,
               coalesce(agg.covered_tokens, 0)::INT AS covered_tokens,
               round(CASE WHEN len(tk) > 0
                          THEN coalesce(agg.covered_tokens, 0)
                               / len(tk)
                          ELSE 0.0 END, 6) AS dup_coverage_r
        FROM toks LEFT JOIN agg USING (doc_id)
    """


def q_corpus_length_profile(spark, sf_dir):
    """Per-(lang, source) corpus length reconnaissance
    (textstats.length_profile): doc counts, token totals, mean and EXACT
    p10/p50/p90 token-count percentiles — the pass that picks curation
    thresholds. The gate runs the exact-percentile mode (engine-portable:
    Spark `percentile` and DuckDB `quantile_cont` are both linearly
    interpolated); the mergeable percentile_approx scale path is
    sketch-vs-exact bounded in pytest instead."""
    return textstats.length_profile(_docs(spark, sf_dir))


def _sql_corpus_length_profile() -> str:
    return """
        WITH t AS (
            SELECT lang, source,
                   len(list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x <> ''))::INT AS nt
            FROM documents)
        SELECT lang, source,
               count(*)::INT AS n_docs,
               sum(nt)::BIGINT AS total_tokens,
               round(avg(nt), 6) AS mean_tokens_r,
               round(quantile_cont(nt, 0.1), 6) AS p10_r,
               round(quantile_cont(nt, 0.5), 6) AS p50_r,
               round(quantile_cont(nt, 0.9), 6) AS p90_r
        FROM t GROUP BY lang, source
    """


# Fixed query set for the BM25 retrieval gate — soup-vocabulary phrases so
# every term has real postings; literal VALUES on both engines.
ENTRY_BM25_QUERIES = (
    (1, "spark table join"),
    (2, "window sort order"),
    (3, "customer query filter"),
    (4, "stream batch merge group"),
)


def q_retrieval_bm25_topk(spark, sf_dir):
    """BM25 top-10 docs per query (retrieval.bm25_topk) over the
    documents corpus with a fixed 4-query set — the lexical-retrieval
    hop of RAG / attribution / decontamination pipelines. The Spark side
    runs the two-phase (salt-bucketed) top-k; the oracle ranks globally —
    identical output by the superset property, which is exactly the
    claim worth gating."""
    from outbreak_kg_spark import retrieval

    q = spark.createDataFrame(
        list(ENTRY_BM25_QUERIES), "query_id long, query_text string"
    )
    return retrieval.bm25_topk(_docs(spark, sf_dir), q, k=10)


def _sql_retrieval_bm25_topk(k: int = 10, k1: float = 1.2,
                             b: float = 0.75) -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in ENTRY_BM25_QUERIES)
    return f"""
        WITH q(query_id, query_text) AS (VALUES {vals}),
        toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS t
            FROM documents),
        dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        qt AS (
            SELECT query_id::BIGINT AS query_id,
                   unnest(list_distinct(list_filter(
                       regexp_split_to_array(lower(query_text), '\\s+'),
                       x -> x <> ''))) AS term
            FROM q),
        tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
        tf AS (
            SELECT doc_id, term, count(*)::DOUBLE AS tf
            FROM tok WHERE term IN (SELECT term FROM qt)
            GROUP BY 1, 2),
        dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT qt.query_id, tf.doc_id,
                   count(*)::INT AS n_terms_matched,
                   round(sum(
                       ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
                       * tf.tf * ({k1} + 1.0)
                       / (tf.tf + {k1} * (1.0 - {b}
                                          + {b} * dl.dl / stats.avgdl))
                   ), 6) AS score_r
            FROM tf
            JOIN qt USING (term)
            JOIN dfq USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id, stats
            GROUP BY 1, 2),
        ranked AS (
            SELECT query_id, doc_id, n_terms_matched, score_r,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_r DESC, doc_id ASC) AS rank
            FROM scored)
        SELECT query_id, doc_id, n_terms_matched, score_r, rank::INT AS rank
        FROM ranked WHERE rank <= {k}
    """


def q_corpus_cardinality(spark, sf_dir):
    """Exact-mode twin of textstats.cardinality_profile: distinct doc
    texts per language (the dedup-dashboard measure). The HLL sketch
    path shares this schema and is evidence-gated in pytest (4-sigma
    exact-vs-sketch bound) — register layouts are engine-specific, so
    the sketch itself cannot value-hash against DuckDB by design."""
    return textstats.cardinality_profile(
        _docs(spark, sf_dir), "text", by=("lang",), exact=True)


SQL_CORPUS_CARDINALITY = """
    SELECT lang, count(DISTINCT text)::BIGINT AS n_distinct
    FROM documents GROUP BY lang
"""


def q_retrieval_rrf_fuse(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (retrieval.rrf_fuse):
    the BM25 lexical top-10 fused with the embedding cosine top-10 over
    the SAME id space (vec_id == doc_id on the synthetic tables), query
    vectors = embeddings of ids 1-4 matching the fixed BM25 query ids.
    Rank-only combination — the two systems' raw scores are never
    compared, which is what makes the fusion exactly replayable."""
    from outbreak_kg_spark import retrieval

    bm = q_retrieval_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", "rank")
    emb = _tbl(spark, sf_dir, "embeddings", spread=True)
    qv = emb.filter(F.col("vec_id").isin([1, 2, 3, 4])).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cos = similarity.cosine_topk(emb, qv, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return retrieval.rrf_fuse(bm, cos, k=10)


def _sql_retrieval_rrf_fuse(k: int = 10, c: int = 60) -> str:
    return f"""
        WITH bm AS ({_sql_retrieval_bm25_topk()}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        qe AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id IN (1, 2, 3, 4)),
        cs AS (
            SELECT qe.query_id, e.vec_id AS doc_id,
                   list_dot_product(e.v, qe.qv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(qe.qv, qe.qv))) AS cosine
            FROM e CROSS JOIN qe),
        cr AS (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, doc_id ASC)
                     AS rank
            FROM cs),
        u AS (
            SELECT query_id, doc_id, rank FROM bm
            UNION ALL
            SELECT query_id, doc_id, rank FROM cr WHERE rank <= {k}),
        sc AS (
            SELECT query_id, doc_id, count(*)::INT AS n_systems,
                   round(sum(1.0 / ({c}.0 + rank)), 9) AS rrf_r
            FROM u GROUP BY 1, 2),
        r AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rrf_r DESC, doc_id ASC)
                        AS rank
            FROM sc)
        SELECT query_id, doc_id, n_systems, rrf_r, rank::INT AS rank
        FROM r WHERE rank <= {k}
    """


def q_text_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir)).select(
        "doc_id", "lang_pred", "lang_votes"
    )


def _sql_lang_id() -> str:
    vals = ", ".join(
        f"('{t}', '{lang}')"
        for lang, toks in sorted(textstats.LANG_STOPWORDS.items())
        for t in toks
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents),
        votes AS (
            SELECT doc_id, g.lang_cand, count(*) AS votes
            FROM toks JOIN (VALUES {vals}) g(tok, lang_cand) USING (tok)
            GROUP BY 1, 2),
        best AS (
            SELECT doc_id, lang_cand, votes,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY votes DESC, lang_cand ASC) AS rn
            FROM votes)
        SELECT d.doc_id,
               coalesce(b.lang_cand, 'und') AS lang_pred,
               coalesce(b.votes, 0) AS lang_votes
        FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
          ON d.doc_id = b.doc_id
    """


def q_text_token_counts(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "ws_tokens", "bpe_tokens"
    )


SQL_TEXT_TOKEN_COUNTS = f"""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> ''))::INT
             AS ws_tokens,
           len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN}'))::INT
             AS bpe_tokens
    FROM documents
"""


def q_text_fingerprints(spark, sf_dir):
    return textstats.fingerprints(_docs(spark, sf_dir)).select(
        "doc_id", "fingerprint", "fingerprint60"
    )


SQL_TEXT_FINGERPRINTS = """
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
           ('0x' || substr(
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')),
               1, 15))::BIGINT AS fingerprint60
    FROM documents
"""


def q_text_quality(spark, sf_dir):
    out = textstats.quality_scores(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_chars", "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio_r"),
        F.round("stopword_ratio", 6).alias("stopword_ratio_r"),
        F.round("mean_word_len", 6).alias("mean_word_len_r"),
        "quality_score",
    )


def _sql_text_quality() -> str:
    sw = ", ".join(f"'{s}'" for s in textstats.LANG_STOPWORDS["en"])
    return f"""
        WITH base AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   list_filter(string_split(lower(text), ' '), x -> x <> '')
                     AS toks,
                   length(text)
                     - length(regexp_replace(text,
                         '[^\\p{{L}}\\p{{N}}_\\s]', '', 'g'))
                     AS n_punct,
                   length(regexp_replace(text,
                         '[^\\p{{L}}\\p{{N}}_]', '', 'g'))
                     AS word_chars
            FROM documents),
        feat AS (
            SELECT doc_id,
                   n_chars::INT AS n_chars,
                   len(toks)::INT AS n_tokens,
                   n_punct / greatest(n_chars, 1)::DOUBLE AS punct_ratio,
                   len(list_filter(toks, x -> list_contains([{sw}], x)))
                     / greatest(len(toks), 1)::DOUBLE AS stopword_ratio,
                   word_chars / greatest(len(toks), 1)::DOUBLE
                     AS mean_word_len
            FROM base)
        SELECT doc_id, n_chars, n_tokens,
               round(punct_ratio, 6) AS punct_ratio_r,
               round(stopword_ratio, 6) AS stopword_ratio_r,
               round(mean_word_len, 6) AS mean_word_len_r,
               round((CASE WHEN n_tokens BETWEEN 10 AND 100000
                           THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
                     + (CASE WHEN punct_ratio <= 0.2
                             THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
                     + (CASE WHEN mean_word_len BETWEEN 3.0 AND 12.0
                             THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END),
                     2)::DOUBLE AS quality_score
        FROM feat
    """


def q_text_signals(spark, sf_dir):
    """One-pass per-doc text signals (textstats.signals): language ID,
    token counts, fingerprints, quality features — a single projection
    over a single scan (zero shuffle, zero Python). Consolidates the
    former text_lang_id / text_token_counts / text_fingerprints /
    text_quality driver gates: every column of each is still computed and
    value-hashed here, from the same operator code paths."""
    out = textstats.signals(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "lang_pred", "lang_votes", "ws_tokens", "bpe_tokens",
        "fingerprint", "fingerprint60", "n_chars", "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio_r"),
        F.round("stopword_ratio", 6).alias("stopword_ratio_r"),
        F.round("mean_word_len", 6).alias("mean_word_len_r"),
        "quality_score",
    )


def _sql_text_signals() -> str:
    return f"""
        WITH lid AS ({_sql_lang_id()}),
        tc AS ({SQL_TEXT_TOKEN_COUNTS}),
        fp AS ({SQL_TEXT_FINGERPRINTS}),
        q AS ({_sql_text_quality()})
        SELECT lid.doc_id, lang_pred, lang_votes, ws_tokens, bpe_tokens,
               fingerprint, fingerprint60, n_chars, n_tokens,
               punct_ratio_r, stopword_ratio_r, mean_word_len_r,
               quality_score
        FROM lid
        JOIN tc USING (doc_id)
        JOIN fp USING (doc_id)
        JOIN q USING (doc_id)
    """


def q_text_filters(spark, sf_dir):
    """Corpus-filter signals composite: Gopher-style repetition + PII
    scrub + unigram surprisal, joined per doc. Consolidates the former
    text_repetition / text_pii / text_surprisal driver gates — each
    operator's full output is still computed by its own code path and
    value-hashed. The repetition/PII legs run on the doc_id<200 slice
    with injected lines/PII (the word-soup base has neither); surprisal
    keeps its corpus-wide unigram distribution and is restricted to the
    same slice by the join."""
    rep = q_text_repetition(spark, sf_dir)
    pii = q_text_pii(spark, sf_dir)
    sur = q_text_surprisal(spark, sf_dir)
    return rep.join(pii, "doc_id").join(sur, "doc_id")


def _sql_text_filters() -> str:
    return f"""
        WITH r AS ({SQL_TEXT_REPETITION}),
        p AS ({SQL_TEXT_PII}),
        s AS ({SQL_TEXT_SURPRISAL})
        SELECT r.doc_id, r.n_lines, r.dup_line_ratio_r,
               r.dup_line_char_ratio_r, r.dup_token_ratio_r,
               r.top_bigram_ratio_r,
               p.n_email, p.n_phone, p.n_ipv4, p.redacted_text,
               s.n_tokens, s.mean_surprisal_r, s.max_surprisal_r
        FROM r JOIN p USING (doc_id) JOIN s USING (doc_id)
    """


def _curate_corpus_df(spark, sf_dir):
    """Deterministic curation corpus: the documents table plus injected
    duplicates, so every curation stage demonstrably fires (the synthetic
    corpus has no exact dups and uniform quality). doc_id+1000 = identical
    copy (exact-dup stage); doc_id+2000 = tail-truncated copy (near-dup
    stage). Identical construction in the DuckDB oracle."""
    # spread=False: the curation fixture keeps only doc_id < 150 (190
    # rows with the injected copies) — a latency-bound chain where the
    # spread exchange and 32-way task scheduling only add fixed cost
    d = _docs(spark, sf_dir, spread=False).filter(
        F.col("doc_id") < 150).select("doc_id", "text")
    exact_copies = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    near_copies = (
        d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))
        .select(
            (F.col("doc_id") + 2000).alias("doc_id"),
            F.expr(
                "substring(text, 1, greatest(length(text) - 40, 1))"
            ).alias("text"),
        )
    )
    return d.unionByName(exact_copies).unionByName(near_copies)


def q_corpus_curate(spark, sf_dir):
    """Composite corpus curation (curate.curate_corpus): lang filter ->
    quality filter -> exact dedup -> near-dup canonical election, one row
    per doc with first-dropping-stage attribution."""
    from . import curate

    out = curate.curate_corpus(_curate_corpus_df(spark, sf_dir))
    return out.select("doc_id", "lang_pred", "quality_score",
                      "drop_stage", "keep")


def _sql_corpus_curate() -> str:
    vals = ", ".join(
        f"('{t}', '{lang}')"
        for lang, toks in sorted(textstats.LANG_STOPWORDS.items())
        for t in toks
    )
    return f"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
        UNION ALL
        SELECT doc_id + 1000, text FROM documents WHERE doc_id < 20
        UNION ALL
        SELECT doc_id + 2000,
               substr(text, 1, greatest(length(text) - 40, 1))
        FROM documents WHERE doc_id >= 20 AND doc_id < 40),
    ltoks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM corpus),
    votes AS (
        SELECT doc_id, g.lang_cand, count(*) AS votes
        FROM ltoks JOIN (VALUES {vals}) g(tok, lang_cand) USING (tok)
        GROUP BY 1, 2),
    bestl AS (
        SELECT doc_id, lang_cand, votes,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY votes DESC, lang_cand ASC) AS rn
        FROM votes),
    lang AS (
        SELECT c.doc_id, coalesce(b.lang_cand, 'und') AS lang_pred
        FROM corpus c LEFT JOIN (SELECT * FROM bestl WHERE rn = 1) b
          ON c.doc_id = b.doc_id),
    qbase AS (
        SELECT doc_id, length(text) AS n_chars,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks,
               length(text)
                 - length(regexp_replace(text,
                     '[^\\p{{L}}\\p{{N}}_\\s]', '', 'g'))
                 AS n_punct,
               length(regexp_replace(text,
                     '[^\\p{{L}}\\p{{N}}_]', '', 'g'))
                 AS word_chars
        FROM corpus),
    qual AS (
        SELECT doc_id,
               round((CASE WHEN len(toks) BETWEEN 10 AND 100000
                           THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
                     + (CASE WHEN n_punct / greatest(n_chars, 1)::DOUBLE
                                  <= 0.2
                             THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
                     + (CASE WHEN word_chars
                                  / greatest(len(toks), 1)::DOUBLE
                                  BETWEEN 3.0 AND 12.0
                             THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END),
                     2)::DOUBLE AS quality_score
        FROM qbase),
    base AS (
        SELECT c.doc_id, c.text, l.lang_pred, q.quality_score,
               l.lang_pred IN ('en') AS lang_ok,
               q.quality_score >= 0.7 AS qual_ok
        FROM corpus c JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)),
    slq AS (SELECT * FROM base WHERE lang_ok AND qual_ok),
    ex AS (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY md5(text)) AS exact_canon
        FROM slq),
    sex AS (
        SELECT b.doc_id, b.text FROM slq b JOIN ex USING (doc_id)
        WHERE b.doc_id = ex.exact_canon),
    tk AS (SELECT doc_id,
                  list_filter(string_split(lower(text), ' '), x -> x <> '')
                    AS t
           FROM sex),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS shingle
        FROM tk, unnest(range(1, len(t))) u(i)),
    hv AS (
        SELECT doc_id, i AS hash_idx,
               ('0x' || substr(md5(i || ':' || shingle), 1, 12))::BIGINT AS v
        FROM sh, unnest(range(0, 8)) h(i)),
    sig AS (SELECT doc_id, hash_idx, min(v) AS minhash FROM hv GROUP BY 1, 2),
    bandt AS (
        SELECT doc_id, hash_idx % 4 AS band,
               string_agg(minhash, ',' ORDER BY hash_idx) AS key
        FROM sig GROUP BY 1, 2),
    cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bandt x JOIN bandt y USING (band, key)
        WHERE x.doc_id < y.doc_id),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT c.a, c.b, count(*) AS ni
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY 1, 2),
    edges AS (
        SELECT i.a, i.b FROM inter i
        JOIN sz za ON za.doc_id = i.a JOIN sz zb ON zb.doc_id = i.b
        WHERE ni / (za.n + zb.n - ni)::DOUBLE >= 0.35),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    cnodes AS (SELECT a AS n FROM sym UNION SELECT b FROM sym),
    comp AS (
        SELECT n AS doc_id, least(n, min(r.b)) AS component
        FROM cnodes LEFT JOIN reach r ON r.a = n GROUP BY n)
    SELECT b.doc_id, b.lang_pred, b.quality_score,
           CASE WHEN NOT b.lang_ok THEN 'lang'
                WHEN NOT b.qual_ok THEN 'quality'
                WHEN b.doc_id <> e.exact_canon THEN 'exact_dup'
                WHEN c.component IS NOT NULL AND c.component <> b.doc_id
                     THEN 'near_dup'
                ELSE NULL END AS drop_stage,
           (b.lang_ok AND b.qual_ok AND b.doc_id = e.exact_canon
            AND (c.component IS NULL OR c.component = b.doc_id)) AS keep
    FROM base b
    LEFT JOIN (SELECT DISTINCT doc_id, exact_canon FROM ex) e USING (doc_id)
    LEFT JOIN comp c USING (doc_id)
    """


def q_curate_representatives(spark, sf_dir):
    """Quality-weighted canonical election (curate.elect_representatives):
    each duplicate cluster keeps its HIGHEST-scoring member (ties to
    smallest id) instead of connected_components' arbitrary min-id
    canonical — the rule production curation actually wants (the cleanest
    extraction among mirrored pages survives). Clusters here are
    deterministic synthetic groups over the documents table (the election
    operator is orthogonal to group provenance — real groups come from
    minhash_dedup / curate_corpus components); scores are the real
    whitespace token counts. Every doc with id % 11 == 3 is left unscored
    to exercise the null-ranks-last rule."""
    from .curate import elect_representatives

    d = _docs(spark, sf_dir)
    members = d.select("doc_id", (F.col("doc_id") % 97).alias("component"))
    scores = (
        textstats.token_counts(d.filter(F.col("doc_id") % 11 != 3))
        .select("doc_id",
                F.col("ws_tokens").cast("double").alias("quality_score"))
    )
    return elect_representatives(members, scores)


SQL_CURATE_REPRESENTATIVES = """
    WITH m AS (SELECT doc_id, doc_id % 97 AS component FROM documents),
    s AS (SELECT doc_id,
                 len(list_filter(string_split(text, ' '),
                                 x -> x <> ''))::DOUBLE AS sc
          FROM documents WHERE doc_id % 11 <> 3),
    ms AS (SELECT m.doc_id, m.component, s.sc
           FROM m LEFT JOIN s USING (doc_id)),
    reps AS (
        SELECT component, doc_id AS rep_id FROM (
            SELECT component, doc_id,
                   row_number() OVER (
                       PARTITION BY component
                       ORDER BY (sc IS NULL) ASC, sc DESC, doc_id ASC
                   ) AS rn
            FROM ms) WHERE rn = 1)
    SELECT m.doc_id, m.component, r.rep_id,
           m.doc_id = r.rep_id AS is_rep
    FROM m JOIN reps r USING (component)
"""


def q_text_c4_clean(spark, sf_dir):
    """C4 cleaning recipe (textstats.c4_clean; Raffel et al. 2020): the
    word-soup corpus is page-ified into three lines — first chunk with a
    terminal '.', middle chunk with NO terminal punctuation (always
    dropped), third chunk terminal '!' only on even docs — plus a
    'lorem ipsum' line on doc_id%17==0 and a '{' code line on
    doc_id%13==0, so every line rule and both page rules fire. The
    oracle replays the splice, the terminal-punct regex, the 5-word
    minimum, and the page gates exactly."""
    d = _docs(spark, sf_dir)
    text2 = F.concat(
        F.concat_ws(
            "\n",
            F.concat(F.substring("text", 1, 80), F.lit(".")),
            F.substring("text", 81, 40),
            F.concat(
                F.substring("text", 121, 80),
                F.when(F.col("doc_id") % 2 == 0, F.lit("!"))
                .otherwise(F.lit("")),
            ),
        ),
        F.when(F.col("doc_id") % 17 == 0,
               F.lit("\nlorem ipsum dolor sit amet consectetur."))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit("\nfunction f() { return 1; } end of code."))
        .otherwise(F.lit("")),
    )
    return textstats.c4_clean(
        d.select("doc_id", text2.alias("text")), min_sentences=2)


def _sql_text_c4_clean(min_words: int = 5, min_sentences: int = 2) -> str:
    return f"""
        WITH p AS (
            SELECT doc_id,
                   substr(text, 1, 80) || '.' || chr(10) ||
                   substr(text, 81, 40) || chr(10) ||
                   substr(text, 121, 80) ||
                   CASE WHEN doc_id % 2 = 0 THEN '!' ELSE '' END ||
                   CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                        'lorem ipsum dolor sit amet consectetur.'
                        ELSE '' END ||
                   CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                        'function f() {{ return 1; }} end of code.'
                        ELSE '' END AS t
            FROM documents),
        s AS (
            SELECT doc_id, t, string_split(t, chr(10)) AS lines,
                   list_filter(string_split(t, chr(10)), ln ->
                       regexp_matches(ln, '[.!?]["'']?\\s*$')
                       AND len(list_filter(
                           regexp_split_to_array(ln, '\\s+'),
                           w -> w <> '')) >= {min_words}
                       AND position('{{' IN ln) = 0
                       AND NOT contains(lower(ln), 'lorem ipsum')
                   ) AS kept
            FROM p),
        c AS (
            SELECT doc_id, t, lines, kept,
                   array_to_string(kept, chr(10)) AS text_clean
            FROM s)
        SELECT doc_id,
               len(lines)::INT AS n_lines,
               len(kept)::INT AS n_kept,
               len(regexp_extract_all(text_clean, '[.!?]'))::INT
                   AS n_sentences,
               (len(regexp_extract_all(text_clean, '[.!?]'))
                    >= {min_sentences}
                AND position('{{' IN t) = 0
                AND NOT contains(lower(t), 'lorem ipsum')) AS keep_page,
               text_clean
        FROM c
    """


def q_text_gopher_rules(spark, sf_dir):
    """Gopher quality rules (textstats.gopher_rules; Rae et al. 2021
    A1) over the raw documents table with sandbox-scaled thresholds
    (min 30 words, >= 1 stop hit — the soup corpus carries 'the' in
    ~78% of docs and 23-90-word lengths, so the word-count and
    stop-word gates BOTH fire differentially; ~⅓ of docs drop). The
    oracle replays every metric with identical integer/double
    arithmetic and the same unrounded threshold comparisons."""
    return textstats.gopher_rules(
        _docs(spark, sf_dir), min_words=30, min_stop_hits=1)


def _sql_text_gopher_rules(min_words: int = 30,
                           min_stop_hits: int = 1) -> str:
    sw = ", ".join(f"'{s}'" for s in textstats.GOPHER_STOPWORDS)
    return f"""
        WITH base AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS toks,
                   string_split(text, chr(10)) AS lines,
                   length(regexp_replace(text,
                       '[^\\p{{L}}\\p{{N}}_]', '', 'g')) AS word_chars
            FROM documents),
        m AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   word_chars / greatest(len(toks), 1)::DOUBLE AS mean_wl,
                   (len(string_split(text, '#')) - 1
                    + len(string_split(text, '...')) - 1)
                       / greatest(len(toks), 1)::DOUBLE AS sym_r,
                   len(list_filter(lines, ln ->
                       regexp_matches(ln, '^\\s*[-*•]')))
                       / greatest(len(lines), 1)::DOUBLE AS bullet_r,
                   len(list_filter(lines, ln ->
                       regexp_matches(ln, '\\.\\.\\.\\s*$')))
                       / greatest(len(lines), 1)::DOUBLE AS ellipsis_r,
                   len(list_filter(toks, w ->
                       regexp_matches(w, '[a-zA-Z]')))
                       / greatest(len(toks), 1)::DOUBLE AS alpha_r,
                   len(list_filter([{sw}], s -> list_contains(toks, s)))
                       AS stop_hits
            FROM base)
        SELECT doc_id,
               n_words::INT AS n_words,
               round(mean_wl, 6) AS mean_word_len,
               round(sym_r, 6) AS symbol_ratio,
               round(bullet_r, 6) AS bullet_ratio,
               round(ellipsis_r, 6) AS ellipsis_ratio,
               round(alpha_r, 6) AS alpha_word_ratio,
               stop_hits::INT AS stop_hits,
               (n_words BETWEEN {min_words} AND 100000
                AND mean_wl BETWEEN 3.0 AND 10.0
                AND sym_r <= 0.1 AND bullet_r <= 0.9
                AND ellipsis_r <= 0.3 AND alpha_r >= 0.8
                AND stop_hits >= {min_stop_hits}) AS keep
        FROM m
    """


def q_text_pii_luhn(spark, sf_dir):
    """Checksum-verified credit-card audit (textstats.pii_luhn_hits):
    docs get residue-keyed injections — a Luhn-VALID card (doc_id%5==0,
    spaced groups), a Luhn-INVALID same-shape number (doc_id%7==0,
    dashed groups), and a 13-digit bare run (doc_id%11==0, valid) — so
    candidate extraction, separator stripping, the length band, the
    checksum fold, and last-4 retention all fire differentially. The
    oracle replays the maximal-run regex (RE2-safe, no lookarounds)
    and the indexed Luhn fold with DuckDB's 1-based lambdas."""
    d = _docs(spark, sf_dir)
    text2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit(" card 4111 1111 1111 1111 ok")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit(" ref 4111-1111-1111-1112 bad")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit(" acct 4222222222222 end")).otherwise(F.lit("")),
    )
    return textstats.pii_luhn_hits(d.select("doc_id", text2.alias("text")))


def _sql_text_pii_luhn() -> str:
    return r"""
        WITH p AS (
            SELECT doc_id,
                   text ||
                   CASE WHEN doc_id % 5 = 0
                        THEN ' card 4111 1111 1111 1111 ok' ELSE '' END ||
                   CASE WHEN doc_id % 7 = 0
                        THEN ' ref 4111-1111-1111-1112 bad' ELSE '' END ||
                   CASE WHEN doc_id % 11 = 0
                        THEN ' acct 4222222222222 end' ELSE '' END AS t
            FROM documents),
        c AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           regexp_extract_all(t, '\d(?:[ -]?\d)*'),
                           x -> regexp_replace(x, '[ -]', '', 'g')),
                       x -> len(x) BETWEEN 13 AND 19) AS cands
            FROM p),
        v AS (
            SELECT doc_id, cands,
                   list_filter(cands, x ->
                       list_aggregate(
                           list_transform(
                               string_split(reverse(x), ''),
                               (d, i) -> CASE WHEN i % 2 = 0
                                   THEN d::INT * 2 - CASE WHEN d::INT * 2 > 9
                                                          THEN 9 ELSE 0 END
                                   ELSE d::INT END),
                           'sum') % 10 = 0) AS valid
            FROM c)
        SELECT doc_id,
               len(cands)::INT AS n_candidates,
               len(valid)::INT AS n_valid,
               coalesce(array_to_string(
                   list_sort(list_distinct(
                       list_transform(valid, x -> x[-4:]))), ','), '')
                   AS last4s
        FROM v
    """


def q_text_collocations(spark, sf_dir):
    """PMI collocations (textstats.collocations; Church & Hanks 1990):
    top-50 bigrams by round-6 pointwise mutual information with a
    min-count-3 floor over the raw documents — phrase-mining for
    tokenizer vocab / entity-name candidates. The Spark plan feeds both
    count tables from ONE union-encoded explode; the oracle counts
    unigrams and bigrams separately — same numbers from a different
    plan, deterministic (pmi desc, w1, w2) tie-break on both sides."""
    return textstats.collocations(
        _docs(spark, sf_dir), k=50, min_count=3)


def _sql_text_collocations(k: int = 50, min_count: int = 3) -> str:
    return f"""
        WITH toks AS (
            SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS tk
            FROM documents),
        uni AS (
            SELECT u.t AS w, count(*) AS cu
            FROM toks, unnest(tk) u(t) GROUP BY 1),
        big AS (
            SELECT tk[r.i + 1] AS w1, tk[r.i + 2] AS w2, count(*) AS cb
            FROM toks, unnest(range(len(tk) - 1)) r(i)
            GROUP BY 1, 2),
        n AS (SELECT sum(cu)::DOUBLE AS n FROM uni),
        m AS (SELECT sum(cb)::DOUBLE AS m FROM big)
        SELECT b.w1, b.w2, b.cb::INT AS n_pair,
               round(log2((b.cb / m.m)
                          / ((u1.cu / n.n) * (u2.cu / n.n))), 6) AS pmi_r
        FROM big b
        JOIN uni u1 ON u1.w = b.w1
        JOIN uni u2 ON u2.w = b.w2, n, m
        WHERE b.cb >= {min_count}
        ORDER BY pmi_r DESC, b.w1, b.w2 LIMIT {k}
    """


def q_text_encoding_audit(spark, sf_dir):
    """Encoding-damage audit (textstats.encoding_audit): the pure-ASCII
    soup corpus gets residue-keyed damage — two U+FFFD replacement
    chars on doc_id%19==0, an accented ' café' on %23==0 (non-ASCII
    but LEGIT: stays ok), a C0 control char on %29==0 — so the three
    counters and the ok-flag boundary all fire differentially. The
    oracle injects via chr() codepoints and replays the char-class
    regex deltas exactly."""
    d = _docs(spark, sf_dir)
    text2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 19 == 0,
               F.lit("��")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 23 == 0,
               F.lit(" café")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 29 == 0,
               F.lit(chr(1))).otherwise(F.lit("")),
    )
    return textstats.encoding_audit(d.select("doc_id", text2.alias("text")))


def _sql_text_encoding_audit(max_nonascii_r: float = 0.5,
                             max_bad: int = 0) -> str:
    return f"""
        WITH p AS (
            SELECT doc_id,
                   text ||
                   CASE WHEN doc_id % 19 = 0
                        THEN chr(65533) || chr(65533) ELSE '' END ||
                   CASE WHEN doc_id % 23 = 0
                        THEN ' caf' || chr(233) ELSE '' END ||
                   CASE WHEN doc_id % 29 = 0
                        THEN chr(1) ELSE '' END AS t
            FROM p0),
        m AS (
            SELECT doc_id, length(t) AS n,
                   length(t) - length(regexp_replace(
                       t, '[^\\x01-\\x7F]', '', 'g')) AS nonascii,
                   length(t) - length(regexp_replace(
                       t, '[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]',
                       '', 'g')) AS ctrl,
                   length(t) - length(replace(t, chr(65533), ''))
                       AS repl
            FROM p)
        SELECT doc_id, n::INT AS n_chars,
               round(nonascii / greatest(n, 1)::DOUBLE, 6) AS nonascii_r,
               ctrl::INT AS n_control,
               repl::INT AS n_replacement,
               (ctrl + repl <= {max_bad}
                AND nonascii / greatest(n, 1)::DOUBLE
                    <= {max_nonascii_r}) AS ok
        FROM m
    """.replace("FROM p0", "FROM documents")
