"""Deterministic sampling / splitting / shuffling for training-data curation.

A 100 TB corpus pipeline needs three sampling primitives the reference repo
never grew (its corpus fits one machine) but any LLM-training user of this
engine hits immediately:

- ``hash_split``: train/val/test assignment that is a pure function of a
  document id and a salt — stable across runs, engines, cluster sizes, and
  re-partitioning, so the val set never leaks into train when the corpus is
  re-processed.
- ``stratified_sample`` / ``stratified_fraction``: per-stratum (language,
  source, quality bucket) downsampling to a budget, exact where the budget
  must be exact, filter-only where it must scale.
- ``deterministic_shuffle``: a global pseudo-random total order + shard
  assignment for writing training shards, reproducible bit-for-bit.

Engine-portable randomness: every primitive derives its "randomness" from
``md5(salt || ':' || id)`` and compares *fixed-width lowercase hex strings
lexicographically* against thresholds precomputed in Python. Fixed-width hex
compares exactly like the integer it encodes, md5 renders identically in
Spark and DuckDB, and no hex->int conversion is needed in either engine —
so the DuckDB oracle can reproduce the Spark result byte-for-byte with the
same constants, and nothing depends on engine RNGs (``rand()`` would be
neither reproducible across engines nor stable under retries/re-partitions).

Scale notes (the 100 TB contract):
- ``hash_split`` and ``stratified_fraction`` are narrow: a scan + filter /
  CASE projection, zero exchanges, trivially parallel at any cluster size.
- ``stratified_sample`` (exact k per stratum) needs a per-stratum total
  order -> one hash-partitioned window. Hot strata (one language = 40% of
  the corpus) make that a skew risk: the scale path is
  ``stratified_budget`` — one count aggregate converts the budget to a
  per-stratum fraction, then a filter-only pass samples ~k +- binomial
  noise with NO window and NO per-stratum sort.
- ``deterministic_shuffle`` is one range exchange (the sort) — exactly the
  cost of writing sorted shards, which is what it exists to do.
- ``pack_offsets`` (GPT-style concat-and-chunk sequence packing) is the
  same exchange plus a two-phase prefix-sum: per-shard windows + one
  n_shards-row window — no global window, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 12 hex chars = 48 bits: large enough that threshold granularity error is
# 2^-48 (irrelevant next to binomial noise), small enough that the integer
# fits exactly in a double and in every engine's 64-bit int
HASH_HEX_WIDTH = 12
_HASH_SPACE = 16 ** HASH_HEX_WIDTH


def hash_hex(id_col, salt: str):
    """Spark column: first 12 hex chars of md5(salt || ':' || id).

    The ':' separator keeps (salt='a', id='1') and (salt='', id='a1')
    distinct; ids are cast to string so int64 keys hash identically to
    their decimal rendering in any engine.
    """
    return F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
        1, HASH_HEX_WIDTH,
    )


def sql_hash_hex(id_expr: str, salt: str) -> str:
    """The DuckDB-side rendering of :func:`hash_hex` (same bytes)."""
    return (f"substr(md5('{salt}' || ':' || CAST({id_expr} AS VARCHAR)), "
            f"1, {HASH_HEX_WIDTH})")


def fraction_thresholds(fractions: list[float]) -> list[str]:
    """Cumulative-fraction boundaries as fixed-width lowercase hex strings.

    ``fractions`` are the first n-1 bucket weights (the last bucket is the
    remainder); bucket b = rows whose hash hex is in [thr[b-1], thr[b]).
    Computed once in Python so Spark and the SQL oracle compare against the
    SAME constants — no floating-point re-derivation inside either engine.
    """
    out, acc = [], 0.0
    for f in fractions:
        acc += f
        out.append(format(min(int(acc * _HASH_SPACE), _HASH_SPACE - 1),
                          f"0{HASH_HEX_WIDTH}x"))
    return out


def hash_split(df: DataFrame, id_col: str,
               weights: dict[str, float] | None = None,
               salt: str = "split-v1",
               split_col: str = "split") -> DataFrame:
    """Assign every row a deterministic split label (train/val/test/...).

    Pure projection — zero exchanges, stable under re-partitioning and
    across engines. Weight sum is normalized; label order is the dict
    order, which fixes which boundary rows land where (the assignment is
    part of the contract, so the order must be deterministic — dicts
    preserve insertion order).
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    if len(weights) < 2:
        raise ValueError("need at least two splits")
    total = sum(weights.values())
    names = list(weights)
    thrs = fraction_thresholds(
        [weights[n] / total for n in names[:-1]])
    h = hash_hex(id_col, salt)
    expr = F.lit(names[-1])
    # build the CASE from the last boundary backwards: h < thr[i] -> names[i]
    for name, thr in zip(reversed(names[:-1]), reversed(thrs)):
        expr = F.when(h < F.lit(thr), name).otherwise(expr)
    return df.withColumn(split_col, expr)


def sql_hash_split(id_expr: str, weights: dict[str, float] | None = None,
                   salt: str = "split-v1") -> str:
    """DuckDB CASE expression matching :func:`hash_split` byte-for-byte."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    names = list(weights)
    thrs = fraction_thresholds([weights[n] / total for n in names[:-1]])
    h = sql_hash_hex(id_expr, salt)
    cases = " ".join(
        f"WHEN {h} < '{thr}' THEN '{name}'"
        for name, thr in zip(names[:-1], thrs))
    return f"CASE {cases} ELSE '{names[-1]}' END"


def stratified_sample(df: DataFrame, strata_cols: list[str], k: int,
                      id_col: str, salt: str = "strat-v1") -> DataFrame:
    """EXACTLY min(k, |stratum|) rows per stratum, deterministically.

    The sample is the k smallest hash values per stratum — a uniform
    without-replacement draw that any engine reproduces. Cost: one window
    (hash partition by strata + per-stratum sort). Use this when the budget
    must be exact (eval sets, human-review batches); for corpus-scale
    downsampling with a hot stratum use :func:`stratified_budget` — a
    window over a 40%-of-corpus language key is a straggler by
    construction, and no salting trick preserves "exactly k" semantics
    without a second pass.
    """
    from pyspark.sql import Window

    w = (Window.partitionBy(*strata_cols)
         .orderBy(hash_hex(id_col, salt), F.col(id_col)))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def stratified_fraction(df: DataFrame, strata_col: str,
                        fractions: dict[str, float], id_col: str,
                        salt: str = "strat-v1",
                        default: float = 0.0) -> DataFrame:
    """Filter-only stratified downsampling: keep each row iff its hash
    falls under its stratum's fraction threshold.

    Zero exchanges and no per-stratum state — the scale path. Strata
    missing from ``fractions`` keep ``default`` (0 = dropped). The kept
    count per stratum is binomial around fraction * |stratum| (tight at
    corpus scale).
    """
    h = hash_hex(id_col, salt)
    expr = F.lit(format(min(int(default * _HASH_SPACE), _HASH_SPACE - 1),
                        f"0{HASH_HEX_WIDTH}x"))
    for name, frac in fractions.items():
        thr = format(min(int(frac * _HASH_SPACE), _HASH_SPACE - 1),
                     f"0{HASH_HEX_WIDTH}x")
        expr = F.when(F.col(strata_col) == name, F.lit(thr)).otherwise(expr)
    return df.filter(h < expr)


def stratified_budget(df: DataFrame, strata_col: str, budget: int,
                      id_col: str, salt: str = "strat-v1") -> DataFrame:
    """~budget rows per stratum without a per-stratum sort: one count
    aggregate sizes each stratum, the budget becomes a fraction, and a
    broadcast of the (stratum -> threshold) map drives a filter-only pass.

    Two narrow-ish steps (an agg over the stratum key — partial-combined,
    so the exchange carries one row per stratum per task — then a scan +
    broadcast-join filter). Approximate: |kept - budget| is binomial noise,
    acceptable for corpus curation; use :func:`stratified_sample` when k
    must be exact.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_n"))
    # threshold rendered to the same fixed-width LOWERCASE hex the hash
    # uses (Spark's conv emits uppercase), capped below the space size so
    # fraction 1.0 stays 12 chars wide
    thr_int = F.least(
        F.floor(F.least(F.lit(1.0), F.lit(float(budget)) / F.col("_n"))
                * F.lit(float(_HASH_SPACE))),
        F.lit(_HASH_SPACE - 1))
    thr = counts.select(
        F.col(strata_col),
        F.lpad(F.lower(F.conv(thr_int.cast("string"), 10, 16)),
               HASH_HEX_WIDTH, "0").alias("_thr"),
    )
    h = hash_hex(id_col, salt)
    return (df.join(F.broadcast(thr), strata_col)
            .filter(h < F.col("_thr")).drop("_thr"))


def shard_thresholds(n_shards: int) -> list[str]:
    """Equal-width hash-range boundaries for n_shards buckets (n-1 bounds)."""
    return fraction_thresholds([1.0 / n_shards] * (n_shards - 1))


def _range_shard(h, n_shards: int):
    """Spark column: the contiguous hash-range bucket of hash column h.

    Range buckets (not mod) keep the global (hash, id) order equal to the
    concatenation of per-shard orders — the property every two-phase
    prefix computation here relies on."""
    shard = F.lit(n_shards - 1)
    for i, thr in reversed(list(enumerate(shard_thresholds(n_shards)))):
        shard = F.when(h < F.lit(thr), i).otherwise(shard)
    return shard.cast("int")


def pack_offsets(df: DataFrame, id_col: str, len_col: str, max_len: int,
                 salt: str = "pack-v1", n_shards: int = 32,
                 pack_col: str = "pack_id", off_col: str = "offset",
                 spans_col: str = "spans_packs") -> DataFrame:
    """GPT-style sequence packing: concatenate every document's tokens in
    one deterministic pseudo-random global order, chunk the stream into
    fixed ``max_len`` training examples, and give each document the
    (pack_id, offset) where its tokens begin. Documents may straddle a
    pack boundary (the standard concat-and-chunk recipe); ``spans_col``
    flags those so a loader that masks cross-document attention — or
    drops straddlers — can act on it.

    The global token prefix-sum is computed in two phases so no window
    ever sees more than one shard:

    1. shard = contiguous hash-range bucket of md5(salt:id) (range, not
       mod, so per-shard order concatenates to the global order), local
       prefix = one per-shard window over (hash, id);
    2. per-shard token totals (one partial-combined agg, n_shards rows)
       -> shard prefix via a window over those n_shards rows (a
       single-task job on a dimension-sized frame) -> broadcast back.

    Zero driver collects; the only full-data exchange is the shard
    hash-partition, the same one the shard write itself needs. Global
    result is identical for ANY n_shards (property-tested), so shard
    count is purely a parallelism knob — tens of thousands at 100 TB
    keeps every per-shard window in one executor's memory.
    """
    from pyspark.sql import Window

    if max_len <= 0:
        raise ValueError("max_len must be positive")
    h = hash_hex(id_col, salt)
    n = F.col(len_col).cast("long")
    base = (df.withColumn("_h", h)
            .withColumn("_shard", _range_shard(F.col("_h"), n_shards)))
    w = (Window.partitionBy("_shard").orderBy("_h", id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    local = base.withColumn(
        "_local_before", F.coalesce(F.sum(n).over(w), F.lit(0)))
    totals = base.groupBy("_shard").agg(F.sum(n).alias("_t"))
    tw = (Window.orderBy("_shard")
          .rowsBetween(Window.unboundedPreceding, -1))
    prefix = (totals
              .withColumn("_prefix", F.coalesce(F.sum("_t").over(tw),
                                                F.lit(0)))
              .select("_shard", "_prefix"))
    # integral `div`, not floor(a / b): double division drops exactness
    # past 2^53, and a 100 TB corpus's token prefix-sums get there
    joined = (local.join(F.broadcast(prefix), "_shard")
              .withColumn("_before",
                          F.col("_prefix") + F.col("_local_before")))
    last_pack = F.expr(
        f"(_before + greatest(cast({len_col} as long), 1) - 1) "
        f"div {int(max_len)}")
    return (joined
            .withColumn(pack_col, F.expr(f"_before div {int(max_len)}"))
            .withColumn(off_col, F.col("_before") % max_len)
            .withColumn(spans_col, (n > 0) & (last_pack > F.col(pack_col)))
            .drop("_h", "_shard", "_local_before", "_prefix", "_before"))


def pack_spans(df: DataFrame, id_col: str, len_col: str, max_len: int,
               salt: str = "pack-v1", n_shards: int = 32,
               pack_col: str = "pack_id") -> DataFrame:
    """Materialization plan for ``pack_offsets``: one row per
    (pack, document) with the token span the pack takes from the doc.

    A doc starting at global token position B with n tokens covers packs
    ``B div L`` .. ``(B+n-1) div L``; for each covered pack p the row
    carries ``doc_from``/``doc_to`` (token slice of the doc, end
    exclusive) and ``pack_off`` (where the slice lands inside the pack).
    A loader joins this to the tokenized docs and writes each pack's
    ``max_len`` tokens — every full pack's spans sum to exactly
    ``max_len`` (property-tested), so shard writing needs no further
    bookkeeping.

    Plan: ``pack_offsets`` (see its docstring for the two-phase
    prefix-sum) plus a narrow per-doc ``sequence``+``explode`` bounded by
    ceil(n/L)+1 rows per doc — no additional exchange. Zero-token docs
    emit no span.
    """
    L = int(max_len)
    po = pack_offsets(df, id_col, len_col, max_len, salt=salt,
                      n_shards=n_shards, pack_col=pack_col)
    n = F.col(len_col).cast("long")
    start = F.col(pack_col) * L + F.col("offset")  # global token position
    last = F.expr(f"({pack_col} * {L} + offset + "
                  f"cast({len_col} as long) - 1) div {L}")
    # explode_outer: dodges the inferred size()>0 filter that would build
    # the span sequence twice per row; sequence(pack, last) is never
    # empty (last >= pack whenever len > 0), so no null row ever appears
    out = (po.filter(n > 0)
           .withColumn("_p", F.explode_outer(F.sequence(F.col(pack_col),
                                                        last)))
           .withColumn("doc_from", F.greatest(F.col("_p") * L - start,
                                              F.lit(0)))
           .withColumn("doc_to", F.least(n, (F.col("_p") + 1) * L - start))
           .withColumn("pack_off", F.greatest(start - F.col("_p") * L,
                                              F.lit(0))))
    return (out.select(F.col("_p").alias(pack_col), id_col,
                       "doc_from", "doc_to", "pack_off"))


def deterministic_shuffle(df: DataFrame, id_col: str, n_shards: int,
                          salt: str = "shuffle-v1",
                          shard_col: str = "shard",
                          pos_col: str = "pos") -> DataFrame:
    """Global pseudo-random order for training-shard writing: shard = the
    hash's range bucket, pos = rank within the shard by (hash, id).

    Because shards are contiguous HASH RANGES (not mod buckets), shard +
    pos together define one global total order — reading shards 0..n-1 in
    pos order replays the exact global shuffle, and each shard is writable
    independently. One exchange (hash-partition by shard) + per-shard sort:
    the same cost as the sorted shard write it feeds. Shard sizes are
    binomially even; n_shards at 100 TB is tens of thousands, so no shard
    outgrows an executor.
    """
    from pyspark.sql import Window

    h = hash_hex(id_col, salt)
    w = (Window.partitionBy(shard_col)
         .orderBy(F.col("_h"), F.col(id_col)))
    return (df.withColumn("_h", h)
            .withColumn(shard_col, _range_shard(F.col("_h"), n_shards))
            .withColumn(pos_col, F.row_number().over(w))
            .drop("_h"))


def negative_triples(edges: DataFrame, n_per_pos: int = 2,
                     n_buckets: int = 1024,
                     salt: str = "neg-v1") -> DataFrame:
    """Deterministic negative sampling for KG-embedding training: for
    each true (subj, pred, obj) edge emit n_per_pos corrupted triples —
    even sample indices replace the tail, odd the head — with the
    replacement entity drawn pseudo-uniformly from the graph's entity
    set, filtered so no emitted negative is a true edge (the standard
    "filtered" protocol) or a no-op corruption. Output:
    (subj, pred, obj, side, sample_idx), where (subj, pred, obj) is the
    NEGATIVE triple and side in {'head','tail'}.

    Sampling is a nearest-hash lookup, not a random-number join: every
    entity gets a 48-bit md5 point; each (edge, j) probe gets its own
    point and takes the greatest entity hash <= it (temporal.asof_join in
    hash space), wrapping via the bucket's max entity and finally a
    global max — deterministic across runs/engines/partitionings, and
    gap-proportional (near-uniform once |entities| >> n_buckets).

    Scale shape: the entity set is ONE distinct over the edge endpoints;
    the asof lookup is the single-shuffle union+window plan keyed on
    hash-RANGE buckets (uniform by construction — probes and entities
    both ~1/n_buckets per key, no skew); the wrap fallbacks are a
    bucket-dimension broadcast and a 1-row crossJoin; the filtered
    protocol is one LEFT ANTI join against the true edges (unique build
    keys — no expansion). Nothing touches the driver."""
    from .temporal import asof_join

    def _h48(col):
        return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")

    span = (1 << 48) // n_buckets + 1
    ents = (
        edges.select(F.explode(F.array("subj", "obj")).alias("entity"))
        .distinct()
        .withColumn("he", _h48(F.concat(F.lit(f"{salt}:e:"), F.col("entity"))))
        .withColumn("bucket", F.expr(f"he div {span}"))
    )
    idx = F.explode(
        F.array(*[F.lit(j) for j in range(n_per_pos)])).alias("sample_idx")
    probes = edges.select("subj", "pred", "obj", idx).withColumn(
        "hp",
        _h48(F.concat_ws("\x00", F.lit(f"{salt}:p"), "subj", "pred", "obj",
                         F.col("sample_idx").cast("string"))),
    ).withColumn("bucket", F.expr(f"hp div {span}"))

    matched = asof_join(
        probes, ents.select("bucket", "he", "entity"),
        key_cols=["bucket"], left_ts="hp", right_ts="he",
        right_value_cols=["entity"],
    )
    bucket_max = ents.groupBy("bucket").agg(
        F.max_by("entity", "he").alias("_bmax"))
    global_max = ents.select(
        F.max_by("entity", "he").alias("_gmax"))
    neg_entity = F.coalesce("entity_asof", "_bmax", "_gmax")
    corrupted = (
        matched.join(F.broadcast(bucket_max), "bucket", "left")
        .crossJoin(F.broadcast(global_max))
        .withColumn("_neg", neg_entity)
        .withColumn(
            "side",
            F.when(F.col("sample_idx") % 2 == 0, F.lit("tail"))
            .otherwise(F.lit("head")),
        )
        .select(
            F.when(F.col("side") == "head", F.col("_neg"))
            .otherwise(F.col("subj")).alias("subj"),
            "pred",
            F.when(F.col("side") == "tail", F.col("_neg"))
            .otherwise(F.col("obj")).alias("obj"),
            "side", "sample_idx",
            F.when(F.col("side") == "head", F.col("subj"))
            .otherwise(F.col("obj")).alias("_orig"),
            F.col("_neg"),
        )
        .filter(F.col("_neg") != F.col("_orig"))  # no-op corruption
        .drop("_orig", "_neg")
    )
    # filtered protocol: a corrupted triple that happens to be a true
    # edge is not a negative
    return corrupted.join(
        edges.select("subj", "pred", "obj").distinct(),
        ["subj", "pred", "obj"], "left_anti",
    )


def chunk_tokens(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", window: int = 64,
                 stride: int = 48) -> DataFrame:
    """Overlapping token-window chunking — the RAG-indexing / long-doc
    training split: chunk i covers tokens [i*stride, i*stride + window).
    Chunk count is the standard sliding-window formula — 1 when the doc
    fits one window, else ceil((n - window) / stride) + 1 — so every
    token is covered and no chunk's fresh (non-overlap) portion is empty;
    empty docs emit no chunks.

    Output: (doc_id, chunk_id, start_pos, n_tokens, chunk_text), all
    per-chunk values derivable from (n, i) so the layout can be planned
    (and oracle-replayed) without materializing text at all.

    Scale shape: entirely NARROW — the token array is staged once per the
    shingle_array lesson, chunk structs are a per-row transform, and the
    explode multiplies rows by ~n/stride without any exchange; whatever
    partitioning the corpus scan had is what the chunk table has. The
    guard on the chunk sequence matters: Spark's sequence(0, -1) counts
    DOWN (yielding [0,-1]), so the empty-doc case must short-circuit
    before sequence is evaluated rather than rely on an empty range."""
    if stride <= 0 or window <= 0 or stride > window:
        raise ValueError("need 0 < stride <= window")
    from .textstats import tokens_col

    pre = df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
    n = F.size("_toks")
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= window, F.lit(1))
        .otherwise(
            F.ceil((n - window) / F.lit(float(stride))).cast("int") + 1)
    )
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                (i * stride).cast("int").alias("start_pos"),
                F.least(F.lit(window), n - i * stride).cast("int")
                .alias("n_tokens"),
                F.array_join(
                    F.slice(F.col("_toks"), i * stride + 1, window), " "
                ).alias("chunk_text"),
            ),
        ),
    ).otherwise(F.array().cast(
        "array<struct<chunk_id:int,start_pos:int,n_tokens:int,"
        "chunk_text:string>>"))
    # explode_OUTER + post-generate null filter, not explode: the inferred
    # size()>0 filter under a plain explode gets pushed below the token
    # staging and re-inlines the whole chunk transform per row (see
    # dedup.passage_dedup — measured 10x there)
    return (
        pre.select(id_col, F.explode_outer(chunks).alias("_c"))
        .filter(F.col("_c").isNotNull())
        .select(id_col, "_c.chunk_id", "_c.start_pos", "_c.n_tokens",
                "_c.chunk_text")
    )


def temperature_resample(df: DataFrame, strata_col: str = "lang",
                         id_col: str = "doc_id", alpha: float = 0.5,
                         salt: str = "temp") -> DataFrame:
    """Temperature-flattened stratum resampling — the mBERT/XLM-R
    multilingual recipe: target stratum shares proportional to
    p_s^alpha (alpha<1 flattens the head, lifts the tail). Realized as
    deterministic per-doc acceptance at rate
    r_s = p_s^(alpha-1) / max_t p_t^(alpha-1): the rarest stratum keeps
    rate 1 (sampling never UPsamples — repetition is an epoch-weighting
    concern, not a filter's), every other stratum is thinned so the
    kept shares land on the alpha-tempered distribution.

    Output: the kept rows, with `accept_rate_r` (round-6) attached.

    Unlike hash_split's Python-precomputed thresholds, the rates here
    are DATA-dependent, so the acceptance compares the md5-48 hash
    fraction (hash/2^48, engine-portable to the bit) against an in-plan
    double. Cross-engine pow/div can differ in the last ulp, but a flip
    needs a doc hash inside that ~1e-16-wide window of a rate — measure
    ~2^-48-per-doc, zero observed; the same argument the p-value gates
    already rely on.

    Scale shape: one partial-combined stratum count, two 1-row broadcast
    crossJoins (total and max-rate — never a collect), one broadcast
    join of the stratum-dimension rates onto the corpus, one narrow
    filter. The corpus is touched twice (count pass + filter pass), the
    minimum for any exact-share scheme."""
    counts = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n_s"))
    total = counts.agg(F.sum("_n_s").alias("_n"))
    rates = counts.crossJoin(F.broadcast(total)).select(
        strata_col,
        F.pow(F.col("_n_s") / F.col("_n"), F.lit(alpha - 1.0))
        .alias("_w"),
    )
    wmax = rates.agg(F.max("_w").alias("_wmax"))
    rates = rates.crossJoin(F.broadcast(wmax)).select(
        strata_col,
        (F.col("_w") / F.col("_wmax")).alias("_rate"),
    )
    frac = (
        F.conv(hash_hex(id_col, salt), 16, 10).cast("double")
        / F.lit(float(1 << (4 * HASH_HEX_WIDTH)))
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(frac < F.col("_rate"))
        .withColumn("accept_rate_r", F.round("_rate", 6))
        .drop("_rate")
    )


def dsir_logratios(df: DataFrame = None, is_target=None,
                   text_col: str = "text",
                   *, n_buckets: int = 64, alpha: float = 1.0,
                   toks=None, staged: DataFrame = None) -> list[float]:
    """DSIR bucket log-likelihood ratios (Xie et al. 2023,
    arXiv:2302.03169 "Data Selection for Language Models via Importance
    Resampling"): per hashed-(1,2)-gram bucket b,
    ``log p_target(b) - log p_raw(b)`` under add-alpha-smoothed
    bag-of-ngrams models, where the target corpus is the subset of ``df``
    selected by the boolean Column ``is_target`` (in DSIR terms: a small
    high-quality / in-domain sample) and raw is the full input.

    Feature hashing reuses the quality classifier's engine-portable
    kernel (textstats._hashed_feature_buckets: md5-48 mod n_buckets over
    'u:'/'b:'-prefixed (1,2)-grams), so a DuckDB oracle can replay the
    counts exactly. Each ratio is rounded to 6 decimals — the fixture
    that lets two engines re-derive the vector independently (Python
    math.log here, ln() in SQL) and still agree bitwise after their own
    round(…, 6); downstream sums then run over identical doubles.

    Scale shape: ONE corpus scan — target membership rides the rows as a
    flag, so raw and target counts come out of the same partial-combined
    agg (count + conditional count per bucket) — and the only exchange
    is the <= n_buckets-row bucket agg. The collect is bounded by
    n_buckets (hashed-feature dimensionality, 64..1e5), never by corpus
    size; the returned list is meant to ride scoring plans as a literal
    (same budget note as hashed_linear_score: fine to ~1e5 buckets, use
    a broadcast-join variant beyond)."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed ratios are "
                         "undefined for unseen buckets)")
    import math

    from .textstats import _hashed_feature_buckets, tokens_col

    if staged is None:
        toks = tokens_col(text_col) if toks is None else toks
        pre = df.select(is_target.alias("_t"), toks.alias("_toks"))
        feats = _hashed_feature_buckets(F.col("_toks"), n_buckets)
        staged = pre.select("_t", feats.alias("_feats"))
    ex = (
        staged.select("_t", F.explode_outer("_feats").alias("_b"))
        .filter(F.col("_b").isNotNull())
    )
    rows = (
        ex.groupBy("_b")
        .agg(
            F.count(F.lit(1)).alias("_raw"),
            F.count(F.when(F.col("_t"), F.lit(1))).alias("_tgt"),
        )
        .collect()
    )
    raw = [0] * n_buckets
    tgt = [0] * n_buckets
    for r in rows:
        raw[r._b] = r._raw
        tgt[r._b] = r._tgt
    tot_r = sum(raw) + alpha * n_buckets
    tot_t = sum(tgt) + alpha * n_buckets
    return [
        round(
            math.log((tgt[b] + alpha) / tot_t)
            - math.log((raw[b] + alpha) / tot_r),
            6,
        )
        for b in range(n_buckets)
    ]


def dsir_staged_feats(df: DataFrame, is_target, text_col: str = "text",
                      id_col: str = "doc_id", *,
                      n_buckets: int = 64) -> DataFrame:
    """One-scan staging for the DSIR pass pair: (id, _t, _feats).

    dsir_logratios (count pass) and dsir_topk (scoring pass) each need
    the hashed-(1,2)-gram feature array, and the md5 per n-gram
    occurrence is the dominant per-row cost of both. Persist this frame
    and hand it to both via their ``staged=`` parameter so the hashing
    runs ONCE per corpus instead of once per pass (guide §1.2 — the two
    SCANS are inherent to exact counts, recomputing the features was
    not). The persisted rows carry only the id, the target flag and int
    arrays — no text."""
    from .textstats import _hashed_feature_buckets, tokens_col

    pre = df.select(F.col(id_col), is_target.alias("_t"),
                    tokens_col(text_col).alias("_toks"))
    return pre.select(
        id_col, "_t",
        _hashed_feature_buckets(F.col("_toks"), n_buckets).alias("_feats"))


def dsir_logweight_col(feats_col, logratios: list[float]):
    """Per-doc DSIR log importance weight as one Column: the SUM of
    bucket log-ratios over every (1,2)-gram feature occurrence — the
    bag-of-ngrams log-likelihood ratio log p_target(doc)/p_raw(doc)
    (occurrence-weighted, so it is length-biased exactly as the paper's
    multinomial model is). feats_col must be a STAGED column (the
    aggregate lambda references it once per element — the
    hashed_linear_score_col staging rule). Empty feature arrays score
    0.0 (an empty doc is equally likely under both models)."""
    lrarr = F.array(*[F.lit(float(x)) for x in logratios])
    return F.aggregate(
        feats_col,
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(lrarr, (b + 1).cast("int")),
    )


def dsir_topk(df: DataFrame, logratios: list[float], k: int,
              text_col: str = "text", id_col: str = "doc_id",
              salt: str = "dsir-v1", staged: DataFrame = None) -> DataFrame:
    """DSIR selection: Gumbel-top-k sample of ``k`` documents with
    probability proportional to their importance weight
    p_target(doc)/p_raw(doc) — the Gumbel-max trick makes weighted
    sampling-without-replacement a deterministic top-k: key =
    log-weight + Gumbel(0,1), take the k largest. The Gumbel noise is
    engine-portable md5 randomness (u = (md5-48(salt:id) + 0.5)/2^48,
    g = -ln(-ln(u))), so selection is a pure function of (corpus, salt)
    — stable across runs, partitionings, and engines, like every
    sampling primitive in this module.

    Output: (id, n_features, lw_r, key_r) for the k selected docs —
    log-weight and selection key rounded to 6 (the cross-engine float
    contract; a rank flip needs two keys within ~1e-15 of each other,
    the temperature_resample argument).

    Scale shape: scoring is ONE narrow codegen projection (staged token
    array -> staged feature array -> literal-array sum); selection is
    orderBy+limit, which Spark executes as TakeOrderedAndProject —
    per-partition top-k then a k-row driver merge, no global sort
    exchange. Two corpus scans total with dsir_logratios' count pass;
    at 10^12 docs both are scan-bound, the price of any exact-counts
    scheme."""
    from .textstats import _hashed_feature_buckets, tokens_col

    if staged is None:
        pre = df.select(
            F.col(id_col), tokens_col(text_col).alias("_toks"))
        feats = _hashed_feature_buckets(F.col("_toks"), len(logratios))
        staged = pre.select(id_col, feats.alias("_feats"))
    else:
        staged = staged.select(id_col, "_feats")
    u = (
        (F.conv(hash_hex(id_col, salt), 16, 10).cast("double") + 0.5)
        / F.lit(float(_HASH_SPACE))
    )
    gumbel = -F.log(-F.log(u))
    lw = dsir_logweight_col(F.col("_feats"), logratios)
    scored = staged.select(
        id_col,
        F.size("_feats").alias("n_features"),
        F.round(lw, 6).alias("lw_r"),
        F.round(lw + gumbel, 6).alias("key_r"),
    )
    return scored.orderBy(F.desc("key_r"), F.col(id_col)).limit(k)


def perplexity_buckets(df: DataFrame, score_col: str, strata_col: str,
                       id_col: str = "doc_id",
                       head_frac: float = 1.0 / 3,
                       middle_frac: float = 1.0 / 3,
                       round_dp: int = 2) -> DataFrame:
    """CCNet-style head/middle/tail partitioning (Wenzek et al. 2020,
    arXiv:1911.00359): per stratum (language, in CCNet), rank documents by
    a fluency score — LOWER is better, e.g. textstats.unigram_surprisal's
    mean_surprisal as the LM-perplexity proxy — and label the best
    head_frac as ``head``, the next middle_frac as ``middle``, the rest
    ``tail``. Pre-training pipelines keep head+middle and drop or
    down-weight tail.

    NOT a per-stratum sort: CCNet's own recipe (percentile thresholds,
    then a comparison pass) is the scale path here. The score is rounded
    to ``round_dp`` and histogrammed per stratum — a partial-combined agg
    whose output is bounded by |strata| x distinct rounded scores
    (dimension-sized, thousands of rows at ANY corpus size, where a
    window over raw docs would put all of 'en' — most of the web — in one
    reducer task). Cumulative counts over that histogram ride one window
    on the tiny frame; the per-stratum thresholds (smallest rounded score
    whose cumulative count reaches frac * total) broadcast back for a
    filter-only assignment pass. Ties at a threshold all take the better
    bucket, so bucket sizes are fraction * |stratum| up to tie granularity
    — deterministic, partition-invariant, engine-portable (no floats
    beyond the rounded score itself).

    Output: (id, stratum, score_r, bucket) — one row per input row.

    Trade-off: runs a Spark job at call time (eager ``localCheckpoint`` of
    the scored rows) and truncates lineage: lost executor blocks fail later
    jobs instead of recomputing.
    """
    from pyspark.sql import Window

    s_r = F.round(F.col(score_col), round_dp)
    scored = df.select(
        F.col(id_col), F.col(strata_col), s_r.alias("score_r"))
    # one narrow row per doc, read twice (histogram agg + assignment
    # join); without the checkpoint the caller's whole scoring chain
    # (e.g. the two-pass surprisal model) re-executes for each branch
    scored = scored.localCheckpoint(eager=True)
    hist = scored.groupBy(strata_col, "score_r").agg(
        F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy(strata_col).orderBy("score_r")
    cum = hist.select(
        strata_col, "score_r", "_n",
        F.sum("_n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
        F.sum("_n").over(
            Window.partitionBy(strata_col)).alias("_tot"),
    )
    thr = cum.groupBy(strata_col).agg(
        F.min(F.when(
            F.col("_cum") >= F.lit(head_frac) * F.col("_tot"),
            F.col("score_r"))).alias("_thr_head"),
        F.min(F.when(
            F.col("_cum") >= F.lit(head_frac + middle_frac) * F.col("_tot"),
            F.col("score_r"))).alias("_thr_mid"),
    )
    return (
        scored.join(F.broadcast(thr), strata_col)
        .select(
            id_col, strata_col, "score_r",
            F.when(F.col("score_r") <= F.col("_thr_head"), F.lit("head"))
            .when(F.col("score_r") <= F.col("_thr_mid"), F.lit("middle"))
            .otherwise(F.lit("tail")).alias("bucket"),
        )
    )


def leakage_safe_split(df: DataFrame, group_col: str, id_col: str,
                       weights: dict[str, float] | None = None,
                       salt: str = "split-v1",
                       split_col: str = "split") -> DataFrame:
    """Train/val/test split keyed on a DUPLICATE-GROUP id instead of the
    row id — the contamination guard every eval pipeline needs: when two
    (near-)identical documents land on opposite sides of a split, the
    held-out metric silently measures memorization. Hashing the group
    key (exact_dedup's canonical_id, a near-dup component id from
    minhash_dedup, or a domain for site-level holdout) puts every member
    of a group in the SAME split by construction — no pairwise check,
    no second pass, and the split stays a pure function of
    (grouping, salt) with hash_split's nested-threshold property intact
    (shrinking the test fraction keeps it a subset).

    Scale shape: identical to hash_split — one narrow projection over
    whatever frame carries the group column; the cost of leakage safety
    is wherever the group id came from (already paid if the pipeline
    dedups at all), not here."""
    return hash_split(df, group_col, weights=weights, salt=salt,
                      split_col=split_col)


def shard_balance(df: DataFrame, shard_col: str = "shard") -> DataFrame:
    """Shard-balance audit of a sharded/partitioned output: per-shard
    row counts, share, and the Gini coefficient of the size
    distribution carried on every row — the one-number skew read for a
    training-shard layout (0 = perfectly even loaders; a Gini creeping
    up across runs means the shard hash or the upstream filter drifted;
    a data-parallel trainer's step time is its SLOWEST shard, so
    imbalance is wall-clock, not cosmetics).

    Gini rides the sorted-cumulative closed form
    (2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending sizes) computed
    with one window over the SHARD-SIZE frame — dimension-sized (the
    shard count, not the corpus), after the one partial-combined count
    agg any per-shard statistic needs.

    Output: (shard, n_rows, share_r, gini_r)."""
    from pyspark.sql import Window

    sizes = df.groupBy(shard_col).agg(
        F.count(F.lit(1)).alias("n_rows"))
    w = Window.orderBy("n_rows", shard_col)
    ranked = sizes.withColumn("_i", F.row_number().over(w))
    g = ranked.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("n_rows").alias("_t"),
        F.sum(F.col("_i") * F.col("n_rows")).alias("_iw"),
    ).select(
        (2.0 * F.col("_iw") / (F.col("_n") * F.col("_t"))
         - (F.col("_n") + 1) / F.col("_n")).alias("_g"),
        "_t",
    )
    return sizes.crossJoin(F.broadcast(g)).select(
        shard_col, "n_rows",
        F.round(F.col("n_rows") / F.col("_t"), 6).alias("share_r"),
        F.round("_g", 6).alias("gini_r"),
    )
