"""Text analysis operators for the documents table: language ID, quality
scoring, token counting, document fingerprinting. All built-in expressions —
JVM-side, whole-stage-codegen friendly; exact SQL oracles exist for each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword gazetteers for the n-gram/stopword-ratio
# language-ID heuristic. Deterministic and oracle-reproducible.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "una"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "une"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ein"],
}

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols —
# a deterministic stand-in for a real tokenizer's pre-tokenization.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish regexp token count per doc."""
    return df.select(
        id_col,
        F.size(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0))
        .alias("bpe_tokens"),
    )


# Unicode-aware character classes (identical in Java regex and DuckDB's
# RE2, so the SQL oracles can mirror them verbatim): "word" characters are
# letters/digits/underscore in ANY script — plain \w is ASCII-only and
# would count every accented letter of a French/German doc as punctuation.
PUNCT_CLASS = r"[^\p{L}\p{N}_\s]"
NONWORD_CLASS = r"[^\p{L}\p{N}_]"


def tokens_col(text_col: str = "text"):
    """Lowercased whitespace tokens as an array Column — THE shared
    subexpression of every signal below. Codegen's subexpression
    elimination skips lambda-bearing expressions, so a projection that
    references this expression N times tokenizes the doc N times; callers
    that combine several signals must stage it ONCE as a column
    (`df.select(..., tokens_col().alias("_toks"))`) and pass `toks=` to
    the *_col helpers — measured 1.7x on the one-pass signals() scan.
    CollapseProject will not inline a multiply-referenced non-cheap alias,
    so the staging survives optimization (plan-asserted)."""
    return F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "")


def quality_score_col(text_col: str = "text", toks=None):
    """The composite quality score in [0,1] as a single Column (narrow
    scalar expressions — no shuffle), for callers that don't need the
    feature columns. Pass a staged `toks` column (tokens_col) when the
    surrounding projection derives other signals from the token list —
    the unstaged default re-tokenizes the doc for this score alone."""
    toks = toks if toks is not None else tokens_col(text_col)
    n_toks = F.size(toks)
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")
    )
    # word characters only — counting whitespace in the numerator would
    # inflate mean word length by ~1 char per token
    word_chars = F.length(
        F.regexp_replace(F.col(text_col), NONWORD_CLASS, "")
    )
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    mean_word_len = word_chars / F.greatest(n_toks, F.lit(1))
    score = (
        F.when((n_toks >= 10) & (n_toks <= 100000), 0.4).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.3).otherwise(0.0)
        + F.when(mean_word_len.between(3.0, 12.0), 0.3).otherwise(0.0)
    )
    return F.round(score, 2)


def quality_scores(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   stopwords: list[str] | None = None) -> DataFrame:
    """Heuristic quality features (length, punctuation ratio, stopword
    ratio, mean word length) + a composite score in [0,1]. The gating rules
    mirror common web-corpus filters (length bands, symbol density)."""
    sw = stopwords if stopwords is not None else LANG_STOPWORDS["en"]
    pre = df.select(id_col, text_col, tokens_col(text_col).alias("_toks"))
    toks = F.col("_toks")
    n_toks = F.size(toks)
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")
    )
    word_chars = F.length(
        F.regexp_replace(F.col(text_col), NONWORD_CLASS, "")
    )
    sw_arr = F.array(*[F.lit(s) for s in sw])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    return pre.select(
        id_col,
        n_chars.alias("n_chars"),
        n_toks.alias("n_tokens"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (n_stop / F.greatest(n_toks, F.lit(1))).alias("stopword_ratio"),
        (word_chars / F.greatest(n_toks, F.lit(1))).alias("mean_word_len"),
        quality_score_col(text_col, toks=toks).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID: score(lang) = #tokens in that language's
    stopword list; argmax with deterministic tie-break (score desc, lang
    asc); 'und' when no list scores > 0.

    Plan shape: ZERO shuffles — one vote counter per language as a JVM
    array expression (size of filter over the doc's own tokens), argmax
    over the per-lang struct array, all inside whole-stage codegen. The
    stopword lists are compile-time literals (dozens of words), so there
    is nothing to broadcast. The earlier formulation exploded every token
    of every doc through a broadcast join and a groupBy(doc) exchange —
    at web scale that shuffle is |tokens| rows, i.e. the corpus itself;
    this one touches nothing beyond the doc's partition."""
    pre = df.select(
        id_col, tokens_col(text_col).alias("_toks")
    ).withColumn("_lang", lang_best_struct(text_col, toks=F.col("_toks")))
    best = F.col("_lang")
    return pre.select(
        id_col,
        F.when(best["votes"] > 0, best["lang"]).otherwise(F.lit("und"))
        .alias("lang_pred"),
        F.when(best["votes"] > 0, best["votes"]).otherwise(F.lit(0))
        .cast("long").alias("lang_votes"),
    )


def lang_best_struct(text_col: str = "text", toks=None):
    """struct(votes, lang) of the winning language as ONE Column — the
    form to stage when a projection consumes both fields (signals,
    lang_id, curate.curate_corpus): each reference to a lambda-bearing
    column expression re-evaluates the whole vote computation, so both
    outputs must derive from ONE staged struct column.

    Argmax by comparator sort (votes desc, lang asc — the deterministic
    tie-break), element 0. The earlier filter-equals-max form evaluated
    the max (itself the full vote array) once PER ELEMENT inside the
    filter lambda — O(langs^2) vote computations."""
    toks = toks if toks is not None else tokens_col(text_col)
    per_lang = []  # lang-ascending order = the tie-break order
    for lang in sorted(LANG_STOPWORDS):
        sw_arr = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
        votes = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
        per_lang.append(
            F.struct(votes.alias("votes"), F.lit(lang).alias("lang"))
        )
    arr = F.array(*per_lang)
    srt = F.array_sort(
        arr,
        lambda a, b: F.when(a["votes"] > b["votes"], F.lit(-1))
        .when(a["votes"] < b["votes"], F.lit(1))
        .when(a["lang"] < b["lang"], F.lit(-1))
        .otherwise(F.lit(1)),
    )
    return F.get(srt, 0)


def fingerprints(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized lowercase text
    (exact content identity) + a 60-bit integer form of it (cheap join key).
    A rolling-hash winnowing variant lives in dedup.shingles/minhash."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return df.select(
        id_col,
        F.md5(norm).alias("fingerprint"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")
        .alias("fingerprint60"),
    )


def signals(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id",
            stopwords: list[str] | None = None) -> DataFrame:
    """All per-doc text signals in ONE projection over ONE scan: language
    ID, whitespace/BPE-ish token counts, content fingerprints, and the
    quality features + composite score.

    This is the shape a 100-TB curation pass actually runs: every column
    is a narrow JVM expression (no shuffle, no Python), so the whole thing
    is a single whole-stage-codegen map over the corpus — versus calling
    lang_id/token_counts/fingerprints/quality_scores separately, which
    would cost four scans (or three joins) for the same signals.

    The token list is staged ONCE as a column (tokens_col): codegen's
    subexpression elimination skips lambda-bearing expressions, so the
    unstaged form re-tokenized every doc ~7x (n_tokens, stopword ratio,
    quality gate, one vote filter per language) — measured 1.7x wall on
    the corpus scan."""
    sw = stopwords if stopwords is not None else LANG_STOPWORDS["en"]
    pre = df.select(
        id_col, text_col, tokens_col(text_col).alias("_toks")
    ).withColumn("_lang", lang_best_struct(text_col, toks=F.col("_toks")))
    toks = F.col("_toks")
    n_toks = F.size(toks)
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")
    )
    word_chars = F.length(
        F.regexp_replace(F.col(text_col), NONWORD_CLASS, "")
    )
    sw_arr = F.array(*[F.lit(s) for s in sw])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    best = F.col("_lang")
    lp = F.when(best["votes"] > 0, best["lang"]).otherwise(F.lit("und"))
    lv = (F.when(best["votes"] > 0, best["votes"]).otherwise(F.lit(0))
          .cast("long"))
    return pre.select(
        id_col,
        lp.alias("lang_pred"),
        lv.alias("lang_votes"),
        F.size(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0))
        .alias("bpe_tokens"),
        F.md5(norm).alias("fingerprint"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")
        .alias("fingerprint60"),
        n_chars.alias("n_chars"),
        n_toks.alias("n_tokens"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (n_stop / F.greatest(n_toks, F.lit(1))).alias("stopword_ratio"),
        (word_chars / F.greatest(n_toks, F.lit(1))).alias("mean_word_len"),
        quality_score_col(text_col, toks=toks).alias("quality_score"),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide token frequency table, count-desc — the engine's version
    of the reference's extraction-stats artifacts (promed_ner.py:183-189,
    count-ordered TSVs)."""
    return (
        # outer + null filter dodges the inferred re-tokenize (see
        # dedup.passage_dedup)
        df.select(
            F.explode_outer(
                F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                         lambda t: t != "")
            ).alias("token")
        )
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("token"))
    )


def count_ranked_stats(df: DataFrame, key_cols: tuple[str, ...],
                       count_col: str = "count") -> DataFrame:
    """Count-ranked occurrence stats over arbitrary key columns — the
    generic form of the reference's extraction-stats sinks (K4):
    promed_ner.py:183-189 Counter(text_stats) sorted by count desc for
    (text, term_db, term_id, term_name); process_eidos.py:60-90 the same
    for (text, geoid) and (text, intervals). One hash agg; ordering is
    count desc then keys asc — a deterministic total order (the
    reference's stable sort leaves ties in Counter insertion order, which
    no distributed engine can reproduce; on tie-free slices the two
    orders agree byte-for-byte, property-tested against the reference's
    real artifacts in tests/test_reference_artifacts.py)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias(count_col))
        .orderBy(F.desc(count_col), *[F.asc(k) for k in key_cols])
    )


def stats_tsv_bytes(df: DataFrame, crlf: bool = False) -> bytes:
    """Render a stats relation to the reference's TSV artifact bytes.

    crlf=False reproduces promed_ner.py:185-189 (raw f-string rows,
    '\\n'); crlf=True reproduces process_eidos.py:76-90 (csv.writer,
    QUOTE_MINIMAL, '\\r\\n'). Driver-side by design: the stats artifacts
    are dimension-sized (31k/11k rows in the reference's real outputs);
    the scale sink for corpus-sized stats is the partitioned parquet
    table, this byte-compat boundary is for artifact parity only."""
    import csv
    import io

    cols = df.columns
    rows = df.collect()
    if crlf:
        buf = io.StringIO()
        w = csv.writer(buf, delimiter="\t")  # csv default lineterminator \r\n
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if r[c] is None else r[c] for c in cols])
        return buf.getvalue().encode("utf-8")
    lines = ["\t".join(cols)]
    for r in rows:
        lines.append("\t".join("" if r[c] is None else str(r[c]) for c in cols))
    return ("\n".join(lines) + "\n").encode("utf-8")


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher/C4-style repetition signals per doc, as pure array
    expressions — zero shuffle, zero Python (beyond-reference
    training-data operator set; the standard pre-training drop signals
    for boilerplate / spam / degenerate repetition):

    - ``n_lines``            non-empty newline-delimited lines
    - ``dup_line_ratio``     lines that repeat an earlier line / lines
    - ``dup_line_char_ratio`` characters inside repeated line
      occurrences (beyond each line's first) / total line characters
    - ``dup_token_ratio``    tokens repeating an earlier token / tokens
    - ``top_bigram_ratio``   occurrences of the most frequent word
      bigram / total bigrams

    The duplicate-mass and mode computations sort the per-doc array and
    fold it with one ``F.aggregate`` pass (equal elements are adjacent
    after the sort), so nothing leaves its input partition — at 100 TB
    this is a narrow map like the rest of the quality scorers.

    The line/token/bigram arrays are staged as columns: the bigram
    builder slices the token list inside a per-index lambda, and a
    higher-order-function body re-evaluates non-attribute subexpressions
    per element — an INLINE token split there is O(tokens^2) per doc
    (same failure as dedup.shingle_array; see tokens_col).
    """
    pre = df.select(
        id_col,
        F.filter(F.split(F.col(text_col), r"\n"),
                 lambda x: x != "").alias("_lines"),
        tokens_col(text_col).alias("_toks"),
    )
    lines = F.col("_lines")
    toks = F.col("_toks")
    n_lines = F.size(lines)
    n_toks = F.size(toks)

    # char-weighted duplicate-line mass: in sorted order every occurrence
    # equal to its predecessor is a repeat beyond the first
    line_acc = F.aggregate(
        F.array_sort(lines),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("dup"),
            F.lit(0).cast("long").alias("tot"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            (acc["dup"]
             + F.when(x == acc["prev"], F.length(x)).otherwise(F.lit(0))
             ).alias("dup"),
            (acc["tot"] + F.length(x)).alias("tot"),
        ),
    )

    pre = pre.withColumn(
        "_bigrams",
        F.when(
            n_toks >= 2,
            F.transform(
                F.sequence(F.lit(0), n_toks - 2),
                lambda i: F.array_join(F.slice(toks, i + F.lit(1), F.lit(2)),
                                       " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    bigrams = F.col("_bigrams")

    # mode frequency = longest run in the sorted bigram array
    bg_acc = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("maxrun"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["maxrun"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("maxrun"),
        ),
    )

    return pre.select(
        id_col,
        n_lines.alias("n_lines"),
        ((n_lines - F.size(F.array_distinct(lines)))
         / F.greatest(n_lines, F.lit(1)).cast("double"))
        .alias("dup_line_ratio"),
        (line_acc["dup"] / F.greatest(line_acc["tot"], F.lit(1))
         .cast("double")).alias("dup_line_char_ratio"),
        ((n_toks - F.size(F.array_distinct(toks)))
         / F.greatest(n_toks, F.lit(1)).cast("double"))
        .alias("dup_token_ratio"),
        (bg_acc["maxrun"] / F.greatest(F.size(bigrams), F.lit(1))
         .cast("double")).alias("top_bigram_ratio"),
    )


# PII patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB oracles):
# character classes, bounded repetition and \b only — no lookaround.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d{3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """C4-style PII scrub: per-doc match counts + the redacted text, with
    each PII class replaced by a typed token (<EMAIL>/<PHONE>/<IP>).

    Pure regexp expressions — narrow map, zero shuffle, zero Python; the
    counts come from the ORIGINAL text so they survive redaction-order
    interactions. Replacement applies in PII_PATTERNS order (emails first:
    an address can embed digit runs a later pattern would chew up).
    """
    cols = [id_col]
    for name, pat, _tok in PII_PATTERNS:
        cols.append(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
            .alias(f"n_{name}")
        )
    out_text = F.col(text_col)
    for _name, pat, tok in PII_PATTERNS:
        out_text = F.regexp_replace(out_text, pat, tok)
    return df.select(*cols, out_text.alias("redacted_text"))


def unigram_surprisal(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      vocab_fits_broadcast: bool | None = True,
                      salt_buckets: int = 16) -> DataFrame:
    """CCNet-style quality proxy: per-doc mean/max token surprisal
    -log2 p(token) under the corpus's OWN unigram distribution. Natural
    prose scores low (common words dominate); rare-token soup, boilerplate
    IDs and mojibake score high — the cheap stand-in for the LM-perplexity
    filter in pre-training pipelines.

    Two passes: (1) corpus token counts — partial+final hash agg, the
    zipfian hot tokens ('the') absorbed map-side; (2) token->frequency
    join + per-doc mean. The frequency table is vocabulary-sized
    (sublinear in the corpus — Heaps' law), so the join is EXPLICITLY
    broadcast by default rather than left to Catalyst's size estimate:
    a zipfian fact side with a shuffled join would put every occurrence
    of 'the' in one reducer. When the vocabulary itself is unbounded
    (ID-soup corpora) pass vocab_fits_broadcast=False for the salted
    shuffle fallback: the exploded side salts each token by a
    deterministic hash of the doc id into salt_buckets sub-keys and the
    frequency side replicates each token row across all buckets, so a hot
    token's rows spread over salt_buckets reducers instead of one
    (plan-tested in tests/test_plans.py on a zipfian corpus). Forcing the
    broadcast bypasses autoBroadcastJoinThreshold — a deliberately hinted
    table that turns out huge fails the job — so when the vocabulary's
    boundedness is UNKNOWN, pass vocab_fits_broadcast=None: the join is
    left unhinted and Catalyst's size estimate + AQE skew splitting decide
    (degrades to a live shuffle instead of a dead driver).

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    the token frequencies) and truncates lineage: lost executor blocks fail
    later jobs instead of recomputing.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    # outer + null filter: a plain explode's inferred size()>0 filter
    # re-tokenizes every row a second time (see dedup.passage_dedup)
    exploded = df.select(
        id_col, F.explode_outer(toks).alias("token")
    ).filter(F.col("token").isNotNull())
    freq = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("_tf"))
    # vocabulary-sized; read by THREE branches (total, the frequency
    # join's build side, and — without this — each would re-run the
    # corpus tokenize+count upstream, since Catalyst shares nothing
    # across branches. Materializing it once also makes pass (1) of the
    # documented two-pass shape literal.
    freq = freq.localCheckpoint(eager=True)
    total = freq.agg(F.sum("_tf").alias("_tot"))
    if vocab_fits_broadcast is None:
        joined = exploded.join(freq, "token")
    elif vocab_fits_broadcast:
        joined = exploded.join(F.broadcast(freq), "token")
    else:
        salted = exploded.withColumn(
            "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt_buckets))
        )
        freq_rep = freq.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
        )
        joined = salted.join(freq_rep, ["token", "_salt"])
    scored = joined.crossJoin(F.broadcast(total)).select(
        id_col,
        (-F.log2(F.col("_tf") / F.col("_tot"))).alias("_s"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("_s").alias("mean_surprisal"),
        F.max("_s").alias("max_surprisal"),
    )


def demo_classifier_weights(n_buckets: int = 64,
                            seed: str = "qw-v1") -> list[float]:
    """Deterministic placeholder weights in [-0.5, 0.5) for the hashed
    linear classifier — md5-derived so tests and cross-engine oracles
    reproduce them exactly. Real deployments train offline (fastText /
    logistic regression on labeled pages) and pass the learned vector."""
    import hashlib

    return [
        int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:12], 16)
        / float(1 << 48) - 0.5
        for i in range(n_buckets)
    ]


def _hashed_feature_buckets(toks, n_buckets: int):
    """array<long> of hashed 1-gram + 2-gram feature buckets (md5-48 mod
    n_buckets, engine-portable; 'u:'/'b:' prefixes keep the two feature
    spaces from aliasing)."""
    def bucket(s):
        return F.pmod(
            F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
            F.lit(n_buckets),
        )

    n_toks = F.size(toks)
    uni = F.transform(toks, lambda t: bucket(F.concat(F.lit("u:"), t)))
    bi = F.when(
        n_toks >= 2,
        F.transform(
            F.sequence(F.lit(0), n_toks - 2),
            lambda i: bucket(
                F.concat(
                    F.lit("b:"),
                    F.array_join(F.slice(toks, i + F.lit(1), F.lit(2)), " "),
                )
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.concat(uni, bi)


def hashed_linear_score(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", *,
                        weights: list[float], bias: float = 0.0,
                        toks=None) -> DataFrame:
    """CCNet-style quality classifier: fastText's architecture — a linear
    model over hashed bag-of-ngram features, sigmoid output — as ONE
    codegen projection. z = bias + mean over (1,2)-gram feature buckets
    of weights[bucket]; score = sigmoid(z). Output: (id, n_features,
    score).

    The weight vector rides the plan as an array literal, so this path
    is for bucket counts up to the tens of thousands (a 2^16 float array
    is ~0.5 MB of plan — fine; fastText's default 2M-bucket hash table
    is not: use hashed_linear_score_join, same result, for that). Zero
    exchanges, zero Python: at 10^12 docs this scores at scan speed,
    which is exactly why CCNet/GPT-3-class pipelines put this filter
    before anything quadratic.

    The token array is staged as a column BEFORE the feature expression:
    tokens_col carries a lambda, which codegen's subexpression
    elimination skips, and the bigram builder references the array once
    per element — inlined, that re-tokenizes the doc O(tokens) times
    (measured 5x wall on the classifier gate; same staging rule as
    minhash_sig_array and signals())."""
    toks = tokens_col(text_col) if toks is None else toks
    staged = df.select(id_col, toks.alias("_toks"))
    feats = _hashed_feature_buckets(F.col("_toks"), len(weights))
    pre = staged.select(id_col, feats.alias("_feats"))
    return pre.select(
        id_col,
        F.size("_feats").alias("n_features"),
        hashed_linear_score_col(F.col("_feats"), weights, bias)
        .alias("score"),
    )


def hashed_linear_score_col(feats_col, weights: list[float],
                            bias: float = 0.0):
    """sigmoid(bias + mean of weights[bucket]) over a STAGED feature-
    bucket array column, as one Column — the scoring kernel shared by
    hashed_linear_score and curate.curate_corpus's classifier gate.
    feats_col must be a real (staged) column: the expression references
    it twice (sum + size), and a lambda-bearing inline expression would
    re-evaluate per reference."""
    warr = F.array(*[F.lit(float(w)) for w in weights])
    z = F.lit(float(bias)) + F.aggregate(
        feats_col,
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(warr, (b + 1).cast("int")),
    ) / F.greatest(F.size(feats_col), F.lit(1))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def hashed_linear_score_join(df: DataFrame, weights_df: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id", *,
                             n_buckets: int, bias: float = 0.0) -> DataFrame:
    """hashed_linear_score for vocabulary-scale weight tables (fastText's
    default 2M buckets): weights live in a (bucket, weight) DataFrame
    instead of a plan literal. Explode features -> broadcast-join the
    weight dim -> per-doc sum — ONE exchange (the per-doc agg), and the
    weight table ships once per executor. weights_df must cover every
    bucket in [0, n_buckets) (a trained model's table does). Scores
    equal the literal path up to float-sum reassociation — the shuffle
    sums in partition order, the literal path in array order
    (property-tested at 1e-12)."""
    staged = df.select(id_col, tokens_col(text_col).alias("_toks"))
    feats = _hashed_feature_buckets(F.col("_toks"), n_buckets)
    base = staged.select(id_col, feats.alias("_feats"))
    exploded = base.select(
        id_col, F.explode("_feats").alias("bucket")
    )
    per_doc = (
        exploded.join(F.broadcast(weights_df), "bucket")
        .groupBy(id_col)
        .agg(F.sum("weight").alias("_wsum"), F.count(F.lit(1)).alias("_n"))
    )
    z = F.lit(float(bias)) + (
        F.coalesce("_wsum", F.lit(0.0))
        / F.greatest(F.coalesce("_n", F.lit(0)), F.lit(1))
    )
    return (
        base.select(id_col, F.size("_feats").alias("n_features"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_features",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("score"),
        )
    )


def tfidf_topk(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Per-document top-k keywords by tf-idf (smoothed idf
    ln((N+1)/(df+1)) + 1, the scikit-learn convention). Output: one row
    per (doc, keyword) — (id, token, tf, df, score, rank), rank 1..k by
    score desc with token-asc tie-break (deterministic output for the
    cross-engine oracle).

    Scale shape: tokens explode narrowly; tf is a partial-combined
    (doc, token) agg on near-unique composite keys; document frequency
    is the same two-cascade agg as line_dedup's hot-line count (per-doc
    distinct first, so a token repeated in one doc can't inflate df and
    the second agg's hot keys arrive pre-combined). N rides a 1-row
    count crossJoined onto the vocab-sized df relation — never a driver
    collect. The tf<->df join keys on token: the df side is UNIQUE per
    token, so probe-side skew ('the' in every doc) causes no row
    expansion and AQE splits the hot partitions. Top-k is one window
    partitioned by doc — uniform keys, bounded partitions."""
    toks = df.select(
        F.col(id_col), F.explode_outer(tokens_col(text_col)).alias("token")
    ).filter(F.col("token").isNotNull())  # dodge the inferred re-tokenize
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.select("token", id_col)  # already distinct per (doc, token)
        .groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("_n"))
    dfreq = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "token", "df",
        (F.log((F.col("_n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
        .alias("_idf"),
    )
    scored = tf.join(dfreq, "token").select(
        id_col, "token", "tf", "df",
        (F.col("tf") * F.col("_idf")).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def length_profile(df: DataFrame, text_col: str = "text",
                   by: tuple[str, ...] = ("lang", "source"),
                   probs: tuple[float, ...] = (0.1, 0.5, 0.9),
                   approx: bool = False) -> DataFrame:
    """Per-group corpus length profile — the pre-curation reconnaissance
    pass every large pipeline runs before choosing filter thresholds:
    doc counts, token totals, mean and exact token-count percentiles per
    (lang, source) stratum. Thresholding on fixed constants (textstats
    quality filters) assumes you already KNOW the corpus's shape; this is
    the operator that tells you.

    approx=False (default, the gate/oracle path) uses Spark's exact
    `percentile`, which buffers each group's values — fine when groups
    are strata (lang x source: thousands, each fitting an executor).
    approx=True swaps in `percentile_approx` — a single-pass, MERGEABLE
    sketch (map-side partial aggregation works, memory O(1/accuracy) per
    group regardless of group size), the right call at 10^12 docs or
    when grouping by something unbounded. Same schema either way; a test
    asserts the sketch lands within its accuracy bound of exact.

    Scale shape: one narrow projection (token count per doc — the staged
    tokens_col discipline), one partial+final group agg. No joins, no
    windows, nothing per-doc retained beyond the percentile buffers the
    chosen mode implies."""
    n_toks = F.size(tokens_col(text_col)).cast("int")
    t = df.select(*by, n_toks.alias("_nt"))
    if approx:
        def pct(p):
            return F.percentile_approx("_nt", F.lit(p), F.lit(10000))
    else:
        def pct(p):
            return F.percentile("_nt", F.lit(p))
    aggs = [
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.sum("_nt").cast("long").alias("total_tokens"),
        F.round(F.avg("_nt"), 6).alias("mean_tokens_r"),
    ] + [
        F.round(pct(p).cast("double"), 6).alias(f"p{int(p * 100)}_r")
        for p in probs
    ]
    return t.groupBy(*by).agg(*aggs)


def cardinality_profile(df: DataFrame, key_col: str,
                        by: tuple[str, ...] = (),
                        rsd: float = 0.02,
                        exact: bool = False) -> DataFrame:
    """Distinct-cardinality profile — per-group distinct counts of
    `key_col` (distinct URLs per domain, distinct domains per language,
    vocabulary size per source): the sketch every crawl/corpus dashboard
    is built on.

    exact=False (default, THE scale path) uses HyperLogLog++
    (`approx_count_distinct`, relative standard deviation `rsd`): a
    MERGEABLE fixed-size sketch, so the partial+final agg works at any
    group size with O(1/rsd^2) bytes per group and no giant
    distinct-shuffle. exact=True swaps in count(DISTINCT ...) — the
    two-cascade agg — for gates and small strata. Same schema either
    way: (*by, n_distinct).

    Cross-engine note: HLL register layouts are engine-specific, so the
    sketch path has NO DuckDB value oracle by design; its evidence is
    the pytest bound |sketch - exact| / exact <= 4*rsd on real data (a
    >4-sigma miss means a broken sketch, not noise) plus this exact-mode
    twin, which IS oracle-gated."""
    agg = (
        F.count_distinct(F.col(key_col)) if exact
        else F.approx_count_distinct(key_col, rsd)
    ).cast("long").alias("n_distinct")
    if by:
        return df.groupBy(*by).agg(agg)
    return df.agg(agg)


def c4_clean(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", min_words: int = 5,
             min_sentences: int = 3) -> DataFrame:
    """The C4 cleaning recipe (Raffel et al. 2020, arXiv:1910.10683
    §2.2) as one narrow projection — the canonical webtext line filter,
    complementary to the generic quality score: rule-based, auditable,
    and what several public corpora literally are.

    Line rules (a line survives iff ALL hold):
    - ends in a terminal punctuation mark (. ! ? or closing quote);
    - has at least ``min_words`` whitespace words;
    - does not contain the curly brace '{' (code);
    - does not contain 'lorem ipsum' (case-insensitive).

    Page rules: keep_page iff the CLEANED text has at least
    ``min_sentences`` sentences (terminal-punct count) and the raw page
    had neither 'lorem ipsum' nor '{' anywhere (C4 drops such pages
    outright rather than salvaging lines). The three-sentence-span
    dedup C4 applies afterwards is :func:`dedup.passage_dedup` /
    ``substring_spans`` — separate operators by design.

    Output: (doc_id, n_lines, n_kept, n_sentences, keep_page,
    text_clean).

    Scale shape: zero exchanges — split/filter/regexp higher-order
    expressions inside whole-stage codegen, one pass over the corpus;
    every downstream decision (drop page, keep lines) is carried as
    columns so the caller composes filters without a second scan."""
    lines = F.split(F.col(text_col), "\n")
    keep = F.filter(
        lines,
        lambda ln: (
            ln.rlike('[.!?]["\']?\\s*$')
            & (F.size(F.filter(F.split(ln, r"\s+"), lambda w: w != ""))
               >= min_words)
            & ~ln.contains("{")
            & ~F.lower(ln).contains("lorem ipsum")
        ),
    )
    cleaned = F.array_join(keep, "\n")
    n_sent = F.regexp_count(cleaned, F.lit(r"[.!?]"))
    return df.select(
        id_col,
        F.size(lines).cast("int").alias("n_lines"),
        F.size(keep).cast("int").alias("n_kept"),
        n_sent.cast("int").alias("n_sentences"),
        (
            (n_sent >= min_sentences)
            & ~F.col(text_col).contains("{")
            & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        ).alias("keep_page"),
        cleaned.alias("text_clean"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", min_words: int = 50,
                 max_words: int = 100_000, min_stop_hits: int = 2
                 ) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021, arXiv:2112.11446
    Appendix A1) as auditable per-rule columns — the doc-level
    complement to the C4 LINE rules: a document keeps iff
    - word count in [min_words, max_words];
    - mean word length in [3, 10];
    - symbol-to-word ratio ('#' or '...') <= 0.1;
    - <= 90% of lines start with a bullet, <= 30% end with an ellipsis;
    - >= 80% of words contain an alphabetic character;
    - >= min_stop_hits DISTINCT Gopher stop words present.

    Every metric is emitted alongside the keep flag so a curation run
    can audit WHICH rule fired per document (threshold sweeps reuse the
    same scan output instead of re-scanning).

    Scale shape: zero exchanges — one tokens_col staging plus line
    split, all rules narrow codegen expressions over the two arrays;
    the stop-word hit count is a literal 8-element array membership
    fold, not a join."""
    lines = F.split(F.col(text_col), "\n")
    pre = df.select(
        id_col, text_col,
        tokens_col(text_col).alias("_toks"),
        lines.alias("_lines"),
    )
    toks = F.col("_toks")
    n_words = F.size(toks)
    word_chars = F.length(
        F.regexp_replace(F.col(text_col), NONWORD_CLASS, ""))
    mean_wl = word_chars / F.greatest(n_words, F.lit(1))
    n_sym = (
        F.size(F.split(F.col(text_col), "#", -1)) - 1
        + F.size(F.split(F.col(text_col), r"\.\.\.", -1)) - 1
    )
    sym_ratio = n_sym / F.greatest(n_words, F.lit(1))
    nl = F.greatest(F.size(F.col("_lines")), F.lit(1))
    bullet_r = F.size(F.filter(
        F.col("_lines"),
        lambda ln: ln.rlike(r"^\s*([-*•])"))) / nl
    ellipsis_r = F.size(F.filter(
        F.col("_lines"), lambda ln: ln.rlike(r"\.\.\.\s*$"))) / nl
    alpha_r = F.size(F.filter(
        toks, lambda w: w.rlike("[a-zA-Z]"))) / F.greatest(
            n_words, F.lit(1))
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(F.filter(
        sw, lambda s: F.array_contains(toks, s)))
    return pre.select(
        id_col,
        n_words.cast("int").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_r, 6).alias("bullet_ratio"),
        F.round(ellipsis_r, 6).alias("ellipsis_ratio"),
        F.round(alpha_r, 6).alias("alpha_word_ratio"),
        stop_hits.cast("int").alias("stop_hits"),
        (
            n_words.between(min_words, max_words)
            & mean_wl.between(3.0, 10.0)
            & (sym_ratio <= 0.1)
            & (bullet_r <= 0.9)
            & (ellipsis_r <= 0.3)
            & (alpha_r >= 0.8)
            & (stop_hits >= min_stop_hits)
        ).alias("keep"),
    )


def luhn_valid_col(digits):
    """Luhn checksum (ISO/IEC 7812) over a digit-string Column — the
    verification step that separates real card numbers from the random
    13-19-digit runs a bare regex flags (Presidio-style checksum
    validation; regex-only CC detection overfires badly on web text).
    Pure higher-order expressions: reverse the digits, double every
    second one (indexed transform lambda) with the >9 fold, sum
    mod 10 == 0. No UDF, engine-portable (DuckDB list_transform
    replays it with 1-based indexes)."""
    rev = F.reverse(F.filter(F.split(digits, ""), lambda d: d != ""))
    terms = F.transform(
        rev,
        lambda d, i: F.when(
            i % 2 == 1,
            d.cast("int") * 2
            - F.when(d.cast("int") * 2 > 9, F.lit(9)).otherwise(F.lit(0)),
        ).otherwise(d.cast("int")),
    )
    return (
        F.aggregate(terms, F.lit(0), lambda acc, x: acc + x) % 10 == 0
    )


def pii_luhn_hits(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Checksum-verified credit-card detection per document: extract
    every 13-19 digit candidate run (separators stripped: spaces or
    dashes between groups), validate each with :func:`luhn_valid_col`,
    report candidate and verified counts plus the verified numbers'
    last-4 (the only part a PII audit may retain).

    Output: (doc_id, n_candidates, n_valid, last4s — sorted distinct).

    Scale shape: zero exchanges — regexp_extract_all + per-candidate
    HOF validation inside one codegen projection; the verified last-4
    list is bounded by candidates per doc, never corpus-sized. The
    redaction counterpart stays in redact_pii (regex class); this
    operator is the auditor that MEASURES how much of the regex's
    catch survives the checksum."""
    # maximal digit runs (separators allowed between groups), then a
    # 13-19 normalized-length filter — NOT lookarounds, which RE2 (the
    # DuckDB oracle's engine) does not support; greedy maximal runs
    # match identically in Java regex and RE2
    cand = F.regexp_extract_all(
        F.col(text_col), F.lit(r"\d(?:[ -]?\d)*"), 0)
    normed = F.transform(cand, lambda c: F.regexp_replace(c, "[ -]", ""))
    in_range = F.filter(
        normed, lambda c: F.length(c).between(13, 19))
    valid = F.filter(in_range, lambda c: luhn_valid_col(c))
    return df.select(
        id_col,
        F.size(in_range).cast("int").alias("n_candidates"),
        F.size(valid).cast("int").alias("n_valid"),
        F.array_join(
            F.array_sort(F.array_distinct(
                F.transform(valid, lambda c: F.substring(c, -4, 4)))),
            ",").alias("last4s"),
    )


def collocations(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 50,
                 min_count: int = 5,
                 vocab_fits_broadcast: bool = True) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (Church & Hanks 1990): PMI(a,b) = log2( p(ab) / (p(a) p(b)) ) with
    a min-count floor (PMI without one surfaces hapax noise) — the
    phrase-mining signal that feeds tokenizer vocabulary candidates
    and entity-name discovery.

    Scale shape: ONE corpus pass feeds BOTH count tables — unigram and
    bigram occurrences ride a single exploded union-encoded stream
    ('u', w, '') / ('b', w1, w2) into one partial-combined agg (the
    zipfian hot rows collapse map-side), so the text is tokenized and
    shuffled once, not twice. The two totals come off the same counts
    frame; the PMI join hits the unigram side twice and is explicitly
    broadcast by default (vocabulary-sized — Heaps' law; pass
    vocab_fits_broadcast=False on ID-soup corpora to fall back to
    shuffled joins). Selection is orderBy+limit =
    TakeOrderedAndProject: per-partition top-k, k-row driver merge.

    Output: (w1, w2, n_pair, pmi_r) — round-6 PMI, ties broken by
    (w1, w2) for determinism.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    the n-gram counts) and truncates lineage: lost executor blocks fail
    later jobs instead of recomputing.
    """
    pre = df.select(tokens_col(text_col).alias("_toks"))
    toks = F.col("_toks")
    uni = F.transform(toks, lambda w: F.struct(
        F.lit("u").alias("kind"), w.alias("w1"), F.lit("").alias("w2")))
    big = F.when(F.size(toks) >= 2, F.transform(
        F.slice(toks, 1, F.size(toks) - 1),
        lambda w, i: F.struct(
            F.lit("b").alias("kind"), w.alias("w1"),
            F.element_at(toks, (i + 2).cast("int")).alias("w2")),
    )).otherwise(F.array().cast(
        "array<struct<kind:string,w1:string,w2:string>>"))
    stream = pre.select(
        F.explode_outer(F.concat(uni, big)).alias("_e")
    ).filter(F.col("_e").isNotNull()).select("_e.kind", "_e.w1", "_e.w2")
    counts = stream.groupBy("kind", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c"))
    # vocabulary+bigram-vocabulary-sized; read by FOUR branches (both
    # totals, the unigram side, the bigram side) — without this the
    # corpus tokenize+explode+agg upstream re-executes per branch
    # (Catalyst shares nothing across branches), turning the documented
    # one-pass design into four passes
    counts = counts.localCheckpoint(eager=True)
    totals = counts.groupBy("kind").agg(F.sum("c").alias("t"))
    n_uni = totals.filter(F.col("kind") == "u").select("t")
    n_big = totals.filter(F.col("kind") == "b").select("t")
    u = counts.filter(F.col("kind") == "u").select(
        F.col("w1").alias("w"), F.col("c").alias("cu"))
    b = counts.filter(
        (F.col("kind") == "b") & (F.col("c") >= min_count)
    ).select("w1", "w2", F.col("c").alias("cb"))
    if vocab_fits_broadcast:
        u = F.broadcast(u)
    joined = (
        b.join(u.withColumnRenamed("w", "w1")
               .withColumnRenamed("cu", "c1"), "w1")
        .join(u.withColumnRenamed("w", "w2")
              .withColumnRenamed("cu", "c2"), "w2")
        .crossJoin(F.broadcast(n_uni.select(F.col("t").alias("_n"))))
        .crossJoin(F.broadcast(n_big.select(F.col("t").alias("_m"))))
    )
    pmi = F.log2(
        (F.col("cb") / F.col("_m"))
        / ((F.col("c1") / F.col("_n")) * (F.col("c2") / F.col("_n")))
    )
    return (
        joined.select(
            "w1", "w2", F.col("cb").cast("int").alias("n_pair"),
            F.round(pmi, 6).alias("pmi_r"),
        )
        .orderBy(F.desc("pmi_r"), "w1", "w2")
        .limit(k)
    )


def encoding_audit(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   max_nonascii_r: float = 0.5,
                   max_bad: int = 0) -> DataFrame:
    """Encoding-damage audit -- the mojibake triage web corpora need
    before any text operator trusts its input: per doc, the non-ASCII
    character ratio (legit for non-English, so a RATIO with a loose
    ceiling, not a ban), the count of C0 control characters
    (tab/newline/CR excluded -- real text contains those; DEL included),
    and the count of U+FFFD replacement characters (the smoking gun of
    a decode-with-wrong-charset step upstream). ``ok`` = replacement +
    control count <= max_bad AND non-ASCII ratio <= max_nonascii_r.

    Scale shape: zero exchanges, zero UDFs -- three regexp_replace
    length deltas in one codegen projection (the same Java/RE2-shared
    char-class dialect as the quality signals, so the DuckDB oracle
    replays the counts exactly)."""
    n = F.length(F.col(text_col))
    nonascii = n - F.length(
        F.regexp_replace(F.col(text_col), "[^\\x01-\\x7F]", ""))
    ctrl = n - F.length(
        F.regexp_replace(
            F.col(text_col),
            "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))
    repl = n - F.length(
        F.regexp_replace(F.col(text_col), "\\uFFFD", ""))
    r = nonascii / F.greatest(n, F.lit(1))
    return df.select(
        id_col,
        n.cast("int").alias("n_chars"),
        F.round(r, 6).alias("nonascii_r"),
        ctrl.cast("int").alias("n_control"),
        repl.cast("int").alias("n_replacement"),
        ((ctrl + repl <= max_bad) & (r <= max_nonascii_r)).alias("ok"),
    )
