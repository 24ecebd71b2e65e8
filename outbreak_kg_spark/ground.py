"""Stage 2 — Gilda-style gazetteer grounding (operators N1-N8, SURVEY.md
§2.3).

A token-level trie is compiled once on the driver from the vocabulary
DataFrame, broadcast to executors, and scanned inside the one Arrow UDF
that extracts and grounds text (make_extract_ner_udf; north rule:
"broadcast tries inside pandas/Arrow UDFs"). Matching semantics:
case-insensitive, word-boundary, greedy longest match, scanning left to
right, non-overlapping — the standard gazetteer-annotator contract
(reference delegates this to gilda.annotate, promed_ner.py:49-50).
Namespace-priority resolution happens at trie compile time, matching
promed_ner.py:162-176, which walks GILDA_NS in priority order per
annotation.
"""

from __future__ import annotations

import re
from bisect import bisect_left
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .schemas import SECTIONS
from .textproc import extract_alert

# Namespace priority order (promed_ner.py:18 uses ['MESH']; the commented
# broader list :17 motivates keeping this configurable).
DEFAULT_NS_PRIORITY = ("MESH", "geonames", "EFO", "HP", "DOID", "GO")

# Generic-term blocklists (reference kg/build.py:39-43 and promed_ner.py:19).
# These are the *reference's* lists verbatim-as-data (data, not code).
BUILD_EXCLUDE_NAMES = {
    "Disease", "Health", "Affected", "control", "Animals", "infection",
    "Viruses", "vaccination", "Vaccines", "Therapeutics", "Nature", "event",
    "Population", "Epidemiology", "Names", "submitted", "Laboratories",
    "Disease Outbreaks", "Central", "strain",
}
NER_EXCLUDE_TOKENS = {"J", "one", "news", "large", "go", "cut", "white", "Kelly"}

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)

# Per-task memo budget of the Arrow UDF, in approximate bytes of cached
# text keys (len(text)): past it the memo is dropped and refills.
MEMO_MAX_BYTES = 64 << 20


class TextMemo:
    """Per-task text -> result memo for the Arrow UDF, capped by the
    approximate bytes of its keys (len(text)), not by entry count, which
    bounds nothing when texts are long. Past MEMO_MAX_BYTES it is cleared
    and refills; a text longer than the whole budget is computed but not
    cached. ``fn`` must not return None."""

    __slots__ = ("fn", "cache", "nbytes")

    def __init__(self, fn):
        self.fn = fn
        self.cache: dict = {}
        self.nbytes = 0

    def __call__(self, text: str):
        got = self.cache.get(text)
        if got is None:
            got = self.fn(text)
            n = len(text)
            if n <= MEMO_MAX_BYTES:
                if self.nbytes + n > MEMO_MAX_BYTES:
                    self.cache.clear()
                    self.nbytes = 0
                self.cache[text] = got
                self.nbytes += n
        return got

# Greek unicode -> spelled-out names, the full reference chain
# (kg/client.py:345-350: replace_greek_uni / replace_greek_latin /
# replace_greek_spelled_out before normalize). Both directions are inserted
# as trie path VARIANTS (below) so the document scan stays a raw-token walk.
GREEK_SPELLED = {
    "α": "alpha", "β": "beta", "γ": "gamma", "δ": "delta", "ε": "epsilon",
    "ζ": "zeta", "η": "eta", "θ": "theta", "ι": "iota", "κ": "kappa",
    "λ": "lambda", "μ": "mu", "ν": "nu", "ξ": "xi", "ο": "omicron",
    "π": "pi", "ρ": "rho", "σ": "sigma", "ς": "sigma", "τ": "tau",
    "υ": "upsilon", "φ": "phi", "χ": "chi", "ψ": "psi", "ω": "omega",
}
_SPELLED_TO_GREEK = {v: k for k, v in GREEK_SPELLED.items() if k != "ς"}

# Roman <-> arabic for TRAILING numerals ('Type III' == 'Type 3'), mirroring
# gilda's replace_roman_arabic end-of-name semantics (kg/client.py:349).
ROMAN_ARABIC = {
    "i": "1", "ii": "2", "iii": "3", "iv": "4", "v": "5", "vi": "6",
    "vii": "7", "viii": "8", "ix": "9", "x": "10", "xi": "11", "xii": "12",
    "xiii": "13", "xiv": "14", "xv": "15", "xvi": "16", "xvii": "17",
    "xviii": "18", "xix": "19", "xx": "20",
}
_ARABIC_ROMAN = {v: k for k, v in ROMAN_ARABIC.items()}


def normalize_term(s: str) -> str:
    """Core normalization (gilda.process `replace_dashes` + `normalize`,
    kg/client.py:345,350): dashes to spaces, casefold, whitespace collapse.
    Deterministic and identical on both the vocabulary and the query side.
    Greek/roman equivalences are handled as token-path variants
    (term_token_variants), not by rewriting the canonical string."""
    s = re.sub(r"[-‐-―]", " ", s)
    s = re.sub(r"\s+", " ", s.strip().lower())
    return s


def _term_tokens(s: str) -> tuple:
    """Tokenize a vocabulary surface form with the SAME tokenizer used on
    document text, so punctuation inside names ('Africa, Western') cannot
    desynchronize the trie path from the scan path."""
    return tuple(m.group(0) for m in _TOKEN_RE.finditer(normalize_term(s)))


def term_token_variants(s: str, max_variants: int = 16) -> set[tuple]:
    """All token paths under which a vocabulary surface form is inserted
    into the trie — the engine's equivalent of the reference's grounder
    normalization chain (kg/client.py:345-350, gilda.process
    replace_greek_uni / replace_greek_latin / replace_greek_spelled_out /
    replace_roman_arabic).

    The reference normalizes the vocabulary AND each query through gilda;
    the streaming scan here walks raw lowercase document tokens, so the
    equivalences are materialized as alternative trie paths instead: each
    greek token is inserted both as its unicode char and its spelled-out
    name ('β-Lactamases' matches 'β lactamases' and 'beta lactamases'), and
    a trailing roman/arabic numeral of a multi-token name is inserted both
    ways ('Type III secretion' does not end in a numeral, but 'Influenza A
    H3' style 'Type III' == 'Type 3'). Cross products are capped at
    max_variants for pathological names."""
    base = _term_tokens(s)
    if not base:
        return set()
    # insertion-ordered growth with a hard cap: the base path is ALWAYS
    # kept and truncation is deterministic (slicing a set would be
    # hash-order-random across driver runs — a nondeterministic trie —
    # and could drop the literal tokenization itself)
    variants = [base]
    seen = {base}

    def _add(alt):
        if alt not in seen and len(variants) < max_variants:
            seen.add(alt)
            variants.append(alt)

    # greek: per-token, both directions
    for i in range(len(base)):
        for v in list(variants):
            t = v[i]
            if t in GREEK_SPELLED:
                _add(v[:i] + (GREEK_SPELLED[t],) + v[i + 1:])
            elif t in _SPELLED_TO_GREEK:
                _add(v[:i] + (_SPELLED_TO_GREEK[t],) + v[i + 1:])
    # trailing roman <-> arabic (multi-token names only)
    if len(base) >= 2:
        for v in list(variants):
            last = v[-1]
            if last in ROMAN_ARABIC:
                _add(v[:-1] + (ROMAN_ARABIC[last],))
            elif last in _ARABIC_ROMAN:
                _add(v[:-1] + (_ARABIC_ROMAN[last],))
    return set(variants)


def compile_gazetteer(rows: list[dict], ns_priority=DEFAULT_NS_PRIORITY,
                      context: bool = False) -> dict:
    """Compile vocabulary rows into a token-trie with SCORED ambiguity
    resolution (the engine's stand-in for gilda's scored grounder,
    promed_ner.py:18,143-150 / kg/client.py:197 — gilda ranks competing
    groundings of one surface with a trained model; here the rank is a
    deterministic public-knowledge score).

    rows: dicts with keys (ns, id, entry_name, synonym) and an OPTIONAL
    ``prior`` (float, higher = more likely; e.g. corpus/MEDLINE annotation
    frequency of the entry — the dominant signal of gilda's
    disambiguation models). When several entries collide on one token
    path the winner is chosen by, in order:

    1. namespace priority — the reference's outer GILDA_NS walk
       (promed_ner.py:162-176) stays the coarsest key;
    2. higher ``prior`` — the frequency prior (gilda's disambiguation
       model output dominates its static term score when present);
    3. curated-name status — an entry whose canonical ``entry_name``
       equals the surface beats one matching via a synonym (gilda's term
       status ranking: name > synonym);
    4. (ns, id) lexicographic — total and deterministic.

    With ``context=False`` (default) resolution happens at COMPILE time so
    the scan stays O(tokens) and the trie terminal is the single winning
    (ns, id, entry_name) tuple — unchanged layout. With ``context=True``
    ambiguous terminals instead hold the score-ranked candidate list plus
    per-candidate CONTEXT CUES (the tokens of the entry's *other*
    synonyms), and the scan disambiguates per document by cue overlap —
    'cold' in a doc mentioning 'temperature' resolves to the
    cold-temperature entry even when the common-cold entry has the higher
    corpus prior. Unambiguous paths keep the tuple terminal either way,
    so the common case costs nothing.

    Trie node layout: {token: node, ...} with terminal groundings under
    the reserved key 0 (int, cannot collide with str tokens).
    """
    prio = {ns: i for i, ns in enumerate(ns_priority)}
    # per-entry token pool across ALL its synonyms (for context cues)
    entry_tokens: dict[tuple, set] = {}
    if context:
        for r in rows:
            key = (r["ns"], r["id"], r["entry_name"])
            entry_tokens.setdefault(key, set()).update(_term_tokens(r["synonym"]))
    # path -> {entry key -> rank tuple}; one entry keeps its BEST rank even
    # when several of its synonyms normalize onto the same path
    cands: dict[tuple, dict] = {}
    for r in rows:
        is_name = normalize_term(r["synonym"]) == normalize_term(r["entry_name"])
        prior = float(r.get("prior") or 0.0)
        key = (r["ns"], r["id"], r["entry_name"])
        rank = (prio.get(r["ns"], len(prio)), -prior, 0 if is_name else 1,
                r["ns"], r["id"])
        for toks in term_token_variants(r["synonym"]):
            path = cands.setdefault(toks, {})
            cur = path.get(key)
            if cur is None or rank < cur:
                path[key] = rank
    trie: dict = {}
    for toks, by_entry in cands.items():
        ranked = sorted(by_entry.items(), key=lambda kv: kv[1])
        node = trie
        for t in toks:
            node = node.setdefault(t, {})
        if context:
            # namespace priority stays the OUTER key (the reference's
            # GILDA_NS walk): context may only disambiguate among the
            # top-tier namespace's candidates — a lower-tier candidate
            # can never win, so it is dropped from the terminal here
            top_tier = ranked[0][1][0]
            ranked = [kv for kv in ranked if kv[1][0] == top_tier]
        if context and len(ranked) > 1:
            path_toks = set(toks)
            node[0] = [
                (ns, id_, name, -rank[1],
                 frozenset(entry_tokens[(ns, id_, name)] - path_toks))
                for (ns, id_, name), rank in ranked
            ]
        else:
            node[0] = ranked[0][0]
    return trie


def _resolve_context(cands: list, tokset: set) -> tuple:
    """Pick among score-ranked candidates [(ns, id, entry_name, prior,
    cues), ...] by document context: most cue tokens present in the doc,
    then prior, then the compile-time rank (list order). Deterministic."""
    best, best_key = None, None
    for i, (ns, id_, name, prior, cues) in enumerate(cands):
        key = (-len(cues & tokset), -prior, i)
        if best_key is None or key < best_key:
            best, best_key = (ns, id_, name), key
    return best


def scan_text(text: str, trie: dict) -> list[tuple]:
    """Greedy longest-match scan. Returns (surface, start, end, ns, id,
    entry_name) tuples with character offsets into the original text."""
    if not text:
        return []
    # ASCII fast path mirrors _tokens_lower: lowering ASCII is 1:1 per
    # character (offsets preserved) and maps word chars to word chars,
    # so tokenizing the pre-lowered text yields the same (token, start,
    # end) stream without a per-token .lower() call. Non-ASCII keeps
    # tokenize-then-lower ('İ' lowercases to two codepoints, which would
    # shift every later offset).
    if text.isascii():
        toks = [(m.group(0), m.start(), m.end())
                for m in _TOKEN_RE.finditer(text.lower())]
    else:
        toks = [(m.group(0).lower(), m.start(), m.end())
                for m in _TOKEN_RE.finditer(text)]
    out = []
    i, n = 0, len(toks)
    tokset = None  # built lazily, only when a context terminal is hit
    while i < n:
        node = trie
        match_end = -1
        match_val = None
        j = i
        while j < n:
            node = node.get(toks[j][0])
            if node is None:
                break
            if 0 in node:
                match_end, match_val = j, node[0]
            j += 1
        if match_val is not None:
            if type(match_val) is list:  # context=True ambiguous terminal
                if tokset is None:
                    tokset = {t[0] for t in toks}
                match_val = _resolve_context(match_val, tokset)
            s, e = toks[i][1], toks[match_end][2]
            out.append((text[s:e], s, e, *match_val))
            i = match_end + 1
        else:
            i += 1
    return out


def _tokens_lower(text: str) -> list[str]:
    """Lowercased \\w+ tokens of text, matching scan_text's token stream.

    ASCII fast path: lowering ASCII is 1:1 per character and maps word
    chars to word chars, so ``findall(text.lower())`` yields exactly the
    per-token lowering — one C-level pass instead of a Python listcomp
    with len(toks) .lower() calls (the listcomp was ~45% of the
    distinct-terms scan's wall). Non-ASCII keeps tokenize-THEN-lowercase: lowering
    whole text first changes the token stream when a character's
    lowercase form expands (e.g. 'İ' -> 'i' + combining dot splits
    under \\w+)."""
    if text.isascii():
        return _TOKEN_RE.findall(text.lower())
    return [t.lower() for t in _TOKEN_RE.findall(text)]


def multi_token_heads(trie: dict) -> frozenset:
    """Head tokens of every multi-token vocabulary path in the trie.

    A document whose token set is disjoint from this set cannot contain
    any multi-token match, so greedy-longest-match / non-overlap
    semantics degenerate to per-token lookup — the precondition of
    scan_distinct_terms' set fast path. Computed once per compiled trie
    (at UDF build time), never per document."""
    return frozenset(h for h, node in trie.items()
                     if any(k != 0 for k in node))


def scan_distinct_terms(text: str, trie: dict, mheads: frozenset) -> set:
    """The DISTINCT grounding set of a text: exactly
    ``set(scan_terms(text, trie))`` (property-tested in test_ground),
    for consumers that discard per-occurrence multiplicity and offsets —
    make_extract_ner_udf's terms-only ask unions term sets per doc, so
    the occurrence list would be pure overhead.

    Fast path: when the doc's token set is disjoint from ``mheads``
    (computed by multi_token_heads; pass frozenset() to force the slow
    path), no multi-token match can start anywhere, so greedy
    consumption can't suppress any single-token match and the distinct
    result is a set-intersection lookup: C-level tokenize + set + dict
    probes, no per-token Python loop. Web corpora are the target: vocab
    head tokens are a tiny fraction of corpus tokens, so most docs take
    this path even under multi-token gazetteers. Docs that DO contain a
    multi-token head token fall back to the exact positional scan."""
    if not text:
        return set()
    toks = _tokens_lower(text)
    tokset = set(toks)
    if mheads and not mheads.isdisjoint(tokset):
        return set(scan_terms(text, trie))
    out = set()
    for tok in tokset.intersection(trie):
        val = trie[tok].get(0)
        if val is None:
            continue
        if type(val) is list:  # context=True ambiguous terminal
            val = _resolve_context(val, tokset)
        out.add(val)
    return out


def scan_terms(text: str, trie: dict) -> list[tuple]:
    """Offset-free greedy longest-match scan: same trie, same matching
    semantics as scan_text, but returns only the grounding tuples
    (ns, id, entry_name). Skipping the per-token (surface, start, end)
    tuple construction and the finditer Match objects cuts the per-doc scan
    cost several-fold — scan_distinct_terms' fallback for docs holding a
    multi-token head, where surfaces/offsets are discarded anyway.
    Identical term sets to scan_text are property-tested (test_fused)."""
    if not text:
        return []
    toks = _tokens_lower(text)
    out = []
    n = len(toks)
    # `tok in trie` head test + enumerate replaces the original
    # while-i/trie.get descent for the overwhelmingly common miss case
    # (vocabulary head tokens are a tiny fraction of corpus tokens): one
    # dict membership per token instead of a get/None-check/bookkeeping
    # round. `skip` preserves the greedy non-overlap semantics — tokens
    # consumed by a match cannot start a new one.
    skip = 0
    tokset = None  # built lazily, only when a context terminal is hit
    for i, tok in enumerate(toks):
        if i < skip or tok not in trie:
            continue
        node = trie[tok]
        match_end = i if 0 in node else -1
        match_val = node[0] if 0 in node else None
        j = i + 1
        while j < n:
            node = node.get(toks[j])
            if node is None:
                break
            if 0 in node:
                match_end, match_val = j, node[0]
            j += 1
        if match_val is not None:
            if type(match_val) is list:  # context=True ambiguous terminal
                if tokset is None:
                    tokset = set(toks)
                out.append(_resolve_context(match_val, tokset))
            else:
                out.append(match_val)
            skip = match_end + 1
    return out


def _gaz_rows(gazetteer: DataFrame) -> list[dict]:
    """Collect the driver-side vocabulary rows, carrying the optional
    ``prior`` (entry frequency weight) and ``node_type`` columns when the
    frame has them."""
    cols = ["ns", "id", "entry_name", "synonym"]
    cols += [c for c in ("prior", "node_type") if c in gazetteer.columns]
    return [r.asDict() for r in gazetteer.select(*cols).collect()]


def _arr(*fields) -> ArrayType:
    return ArrayType(StructType([StructField(n, t) for n, t in fields]))


_S, _I = StringType(), IntegerType()
_PAGE_FIELDS = [
    StructField("archive_number", _S),
    StructField("subject", _S),
    StructField("published_ts", TimestampType()),
    StructField("sections", SECTIONS),
    StructField("extracted_text", _S),
    StructField("valid", BooleanType(), False),
]
_TERM = (("ns", _S), ("id", _S), ("entry_name", _S))
_MATCH = (("text", _S), ("start", _I), ("end", _I)) + _TERM
_GROUP = (("sent_idx", _I), ("sentence", _S),
          ("ms", _arr(("curie", _S), ("node_type", _S),
                      ("surfaces", ArrayType(_S)))))
_UNIT = (("section_idx", _I), ("field", _S))


def _distinct_terms(groundings) -> list[tuple]:
    """(ns, id, entry_name) groundings -> sorted, one per (ns, id) (the
    smallest entry_name wins when a vocabulary names one id twice)."""
    best: dict = {}
    for ns, id_, name in groundings:
        k = (ns, id_)
        if k not in best or name < best[k]:
            best[k] = name
    return sorted((ns, id_, nm) for (ns, id_), nm in best.items())


def make_extract_ner_udf(spark: SparkSession,
                         gazetteer: DataFrame | None = None, *,
                         pages: bool = False, terms: bool = False,
                         offsets: bool = False, groups: bool = False,
                         exclude_tokens=frozenset(), boundary: str = "."):
    """The extraction + NER operator: ONE Arrow UDF, text -> struct, that
    every consumer (build_kg, extract_pages, the kg_* registry entries,
    streaming, bench) builds its relation from. The struct carries only the
    fields asked for:

    - ``pages=True``: the input is a raw page; the struct starts with the
      extract_alert fields (archive_number, subject, published_ts,
      sections, extracted_text, valid) and the NER units are each valid
      page's section titles and contents, scanned separately (the
      reference annotates them one by one, promed_ner.py:145-150).
      Otherwise the input text is the one NER unit.
    - ``terms``: sorted distinct (ns, id, entry_name) groundings, one per
      (ns, id), over all units; a match whose surface is in
      ``exclude_tokens`` does not count.
    - ``offsets`` -> ``mentions``: every match (text, start, end, ns, id,
      entry_name), offsets into its unit.
    - ``groups``: per-sentence mention groups (sent_idx, sentence, ms:
      array<curie, node_type, surfaces>), the rows
      triples.triples_from_sentence_groups reads. Sentences split on any
      char of ``boundary``; a curie without a gazetteer ``node_type`` is
      dropped; surfaces are sorted distinct, ms sorted by curie.

    Under ``pages=True``, ``mentions`` and ``groups`` elements also carry
    their unit's (section_idx, field). Exclusion applies to ``terms`` only.

    The gazetteer is collected once and compiled into one broadcast trie
    (plus the curie -> node_type map when ``groups``). Each task keeps a
    byte-capped TextMemo of unit text -> NER result, so repeated section
    text (boilerplate, re-crawls) is scanned once; units under 64 chars
    skip it (cheaper to scan, and often unique). ``published_ts`` is the
    header's wall-clock time in the session time zone read here, as the
    pandas conversion would store it.

    The UDF is marked nondeterministic: consumers filter on the struct
    (``x.valid``), and filter pushdown would otherwise clone the whole
    evaluation into a second ArrowEvalPython. The function is pure; the
    flag only stops the optimizer from cloning or reordering it."""
    ner = terms or offsets or groups
    if not (pages or ner):
        raise ValueError("make_extract_ner_udf: no output field requested")
    if ner and gazetteer is None:
        raise ValueError("make_extract_ner_udf: NER fields need a gazetteer")
    unit = _UNIT if pages else ()
    fields = list(_PAGE_FIELDS) if pages else []
    if terms:
        fields.append(StructField("terms", _arr(*_TERM)))
    if offsets:
        fields.append(StructField("mentions", _arr(*unit, *_MATCH)))
    if groups:
        fields.append(StructField("groups", _arr(*unit, *_GROUP)))
    schema = StructType(fields)
    arrow_fields = list(to_arrow_type(schema))
    names = [f.name for f in fields]
    tz = spark.conf.get("spark.sql.session.timeZone")
    trie = tmap = None
    if ner:
        rows = _gaz_rows(gazetteer)
        if groups and not any(r.get("node_type") for r in rows):
            raise ValueError("groups need a gazetteer node_type column")
        trie = compile_gazetteer(rows)
        tmap = {}
        for r in rows if groups else ():
            c, nt = r["ns"] + ":" + r["id"], r.get("node_type")
            if nt is not None and (c not in tmap or nt < tmap[c]):
                tmap[c] = nt
    bc = spark.sparkContext.broadcast(
        (trie, multi_token_heads(trie) if trie else None, tmap,
         frozenset(exclude_tokens)))
    bre = re.compile("[" + re.escape(boundary) + "]")
    # the distinct-set fast scan serves a terms-only, exclusion-free ask;
    # everything else needs the offset scan
    need_matches = offsets or groups or bool(exclude_tokens)

    @arrow_udf(schema)
    def extract_ner(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        trie, mheads, tmap, excl = bc.value

        def sentence_groups(text, matches):
            bpos = [m.start() for m in bre.finditer(text)]
            by_sent: dict = {}
            for surf, start, _end, ns, id_, _name in matches:
                curie = ns + ":" + id_
                nt = tmap.get(curie)
                if nt is not None:
                    by_sent.setdefault(bisect_left(bpos, start), {}) \
                        .setdefault(curie, (nt, set()))[1].add(surf)
            if not by_sent:
                return []
            sents = bre.split(text)
            return [(si, sents[si],
                     [(c, nt, sorted(s)) for c, (nt, s) in sorted(g.items())])
                    for si, g in sorted(by_sent.items())]

        def scan_unit(text):
            if not need_matches:
                return frozenset(scan_distinct_terms(text, trie, mheads)), (), ()
            matches = scan_text(text, trie)
            found = frozenset((ns, id_, name)
                              for surf, _a, _b, ns, id_, name in matches
                              if surf not in excl)
            return (found, matches if offsets else (),
                    sentence_groups(text, matches) if groups else ())

        memo = TextMemo(scan_unit)

        def unit_ner(text):
            return scan_unit(text) if len(text) < 64 else memo(text)

        for arr in batches:
            cols = {n: [] for n in names}
            for x in arr.to_pylist():
                units = ()
                if pages:
                    ex = extract_alert(x if x is not None else "")
                    secs = ex["sections"]
                    ex["sections"] = [(s["title"], s["content"]) for s in secs]
                    for f in _PAGE_FIELDS:
                        cols[f.name].append(ex[f.name])
                    if ner:
                        units = [((i, f), s[f]) for i, s in enumerate(secs)
                                 for f in ("title", "content") if s[f]]
                elif x:
                    units = [((), x)]
                if not ner:
                    continue
                found, ments, grps = set(), [], []
                for key, text in units:
                    t, m, g = unit_ner(text)
                    found |= t
                    ments += [key + r for r in m]
                    grps += [key + r for r in g]
                if terms:
                    cols["terms"].append(_distinct_terms(found))
                if offsets:
                    cols["mentions"].append(ments)
                if groups:
                    cols["groups"].append(grps)
            out = []
            for n, af in zip(names, arrow_fields):
                if n == "published_ts":
                    a = pa.array(cols[n], pa.timestamp("us"))
                    if tz != "UTC":
                        a = pc.assume_timezone(a, tz, ambiguous="latest")
                    out.append(a.cast(af.type))
                else:
                    out.append(pa.array(cols[n], af.type))
            yield pa.StructArray.from_arrays(out, fields=arrow_fields)

    return extract_ner.asNondeterministic()


def type_dim(gazetteer: DataFrame) -> DataFrame:
    """(curie, node_type) dimension — the engine's materialized equivalent of
    the reference's repeated mesh_isa DAG walks (kg/util.py:4-31; SURVEY.md
    N7). Built once, broadcast into every typed join."""
    return (
        gazetteer.select(
            F.concat_ws(":", "ns", "id").alias("curie"),
            "node_type",
        )
        .filter(F.col("node_type").isNotNull())
        .dropDuplicates(["curie"])
    )


def ground_name_in_trie(trie: dict, name: str,
                        ns_priority=DEFAULT_NS_PRIORITY) -> str | None:
    """Exact normalized-name lookup of one (':'-free) name against an
    already-compiled trie: walk every token-path variant, rank hits by
    ns_priority (the reference's priority walk, promed_ner.py:162-176)
    then (ns, id) for determinism — a bare min(hits) would let a
    lexicographically-early namespace beat a higher-priority one when
    variants resolve to different entries."""
    hits = []
    for toks in sorted(term_token_variants(name)):
        node = trie
        for t in toks:
            node = node.get(t)
            if node is None:
                break
        else:
            if node and 0 in node:
                val = node[0]
                if type(val) is list:  # context trie: no document context
                    # here, take the compile-rank best (prior then status)
                    val = val[0][:3]
                hits.append(val)
    if not hits:
        return None
    prio = {ns: i for i, ns in enumerate(ns_priority)}
    best = min(hits, key=lambda h: (prio.get(h[0], len(prio)), h[0], h[1]))
    return f"{best[0]}:{best[1]}"


def ground_names(spark: SparkSession, gazetteer: DataFrame, names: list[str],
                 ns_priority=DEFAULT_NS_PRIORITY) -> dict[str, str | None]:
    """Driver-side name -> CURIE grounding (operator N4, kg/client.py:
    367-378): passthrough when the name already contains ':', else exact
    normalized-name lookup against the same compiled gazetteer."""
    rows = _gaz_rows(gazetteer)
    trie = compile_gazetteer(rows, ns_priority)
    out: dict[str, str | None] = {}
    for name in names:
        if ":" in name:
            out[name] = name
            continue
        # the query side normalizes through the same variant chain as the
        # vocabulary (kg/client.py:367-378 grounds via the same grounder)
        out[name] = ground_name_in_trie(trie, name, ns_priority)
    return out
