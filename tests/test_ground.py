"""Unit tests for the broadcast-trie gazetteer scanner (N1-N5)."""

from outbreak_kg_spark import ground

GAZ = [
    {"ns": "MESH", "id": "D1", "entry_name": "Ebolavirus Disease",
     "synonym": "ebola"},
    {"ns": "MESH", "id": "D1", "entry_name": "Ebolavirus Disease",
     "synonym": "ebola virus disease"},
    {"ns": "MESH", "id": "D2", "entry_name": "Virus Diseases",
     "synonym": "virus"},
    {"ns": "MESH", "id": "D3", "entry_name": "Africa, Western",
     "synonym": "Africa, Western"},
    {"ns": "geonames", "id": "G1", "entry_name": "Guinea", "synonym": "guinea"},
    {"ns": "MESH", "id": "D4", "entry_name": "Guinea", "synonym": "guinea"},
]


def _scan(text, ns_priority=("MESH", "geonames")):
    trie = ground.compile_gazetteer(GAZ, ns_priority)
    return ground.scan_text(text, trie)


def test_longest_match_wins():
    hits = _scan("an ebola virus disease outbreak")
    assert [(h[0], h[4]) for h in hits] == [("ebola virus disease", "D1")]


def test_greedy_fallback_to_shorter():
    # 'ebola virus' is not a term; after failing the long path the scanner
    # matches 'ebola' then 'virus' separately.
    hits = _scan("ebola virus spreading")
    assert [(h[4]) for h in hits] == ["D1", "D2"]


def test_case_insensitive_and_offsets():
    hits = _scan("EBOLA in West")
    (surface, s, e, ns, id_, name) = hits[0]
    assert surface == "EBOLA" and (s, e) == (0, 5) and id_ == "D1"


def test_punctuated_vocab_name_matches_plain_tokens():
    hits = _scan("cases in Africa, Western today")
    assert [h[4] for h in hits] == ["D3"]
    hits2 = _scan("cases in Africa Western today")
    assert [h[4] for h in hits2] == ["D3"]


def test_namespace_priority_resolution():
    assert [h[3] for h in _scan("guinea")] == ["MESH"]
    assert [h[3] for h in _scan("guinea", ns_priority=("geonames", "MESH"))] == [
        "geonames"
    ]


GAZ_NORM = GAZ + [
    {"ns": "MESH", "id": "D5", "entry_name": "beta-Lactamases",
     "synonym": "β-Lactamases"},
    {"ns": "MESH", "id": "D6", "entry_name": "Type III Secretion Systems",
     "synonym": "Type III Secretion Systems"},
    {"ns": "MESH", "id": "D7", "entry_name": "Influenza A Virus, H3N2 Subtype",
     "synonym": "Influenza A Virus, H3N2 Subtype"},
    {"ns": "MESH", "id": "D8", "entry_name": "Coxsackievirus A6",
     "synonym": "Coxsackievirus Type 6"},
]


def _scan_norm(text):
    trie = ground.compile_gazetteer(GAZ_NORM, ("MESH", "geonames"))
    return ground.scan_text(text, trie)


def test_greek_unicode_and_spelled_out_equivalent():
    """N5 chain (kg/client.py:345-350): vocabulary 'β-Lactamases' must ground
    both the unicode and the spelled-out surface form."""
    assert [h[4] for h in _scan_norm("resistant β-lactamases found")] == ["D5"]
    assert [h[4] for h in _scan_norm("resistant beta-lactamases found")] == ["D5"]
    assert [h[4] for h in _scan_norm("resistant beta lactamases found")] == ["D5"]


def test_roman_arabic_trailing_equivalent():
    # vocab ends in an arabic-style token ('Type 6') -> roman form matches
    assert [h[4] for h in _scan_norm("a coxsackievirus type vi outbreak")] == ["D8"]
    assert [h[4] for h in _scan_norm("a coxsackievirus type 6 outbreak")] == ["D8"]
    # roman numeral MID-name is not rewritten ('Type III Secretion Systems'
    # still matches verbatim; 'H3N2' is untouched)
    assert [h[4] for h in _scan_norm("the type iii secretion systems story")] == ["D6"]
    assert [h[4] for h in _scan_norm("influenza a virus, h3n2 subtype spread")] == ["D7"]


def test_term_token_variants_shapes():
    v = ground.term_token_variants("β-hemolytic")
    assert ("β", "hemolytic") in v and ("beta", "hemolytic") in v
    v2 = ground.term_token_variants("Serotype XIX")
    assert ("serotype", "xix") in v2 and ("serotype", "19") in v2
    # single-token names get no roman/arabic variant (trailing semantics)
    assert ground.term_token_variants("V") == {("v",)}


def test_ground_names_normalization_chain(spark):
    from outbreak_kg_spark.schemas import GAZETTEER

    gaz = spark.createDataFrame(
        [{"ns": r["ns"], "id": r["id"], "entry_name": r["entry_name"],
          "synonym": r["synonym"], "node_type": "disease"} for r in GAZ_NORM],
        GAZETTEER,
    )
    out = ground.ground_names(
        spark, gaz, ["β-Lactamases", "beta-Lactamases", "Coxsackievirus Type VI"]
    )
    assert out["β-Lactamases"] == "MESH:D5"
    assert out["beta-Lactamases"] == "MESH:D5"
    assert out["Coxsackievirus Type VI"] == "MESH:D8"


def test_ground_names_driver_side(spark):
    from outbreak_kg_spark import synth

    gaz = synth.gazetteer_df(spark)
    out = ground.ground_names(spark, gaz, ["ebola", "MESH:D0105", "zzz", "Viet Nam"])
    assert out["ebola"] == "MESH:D0103"
    assert out["MESH:D0105"] == "MESH:D0105"  # passthrough (kg/client.py:373)
    assert out["zzz"] is None
    assert out["Viet Nam"] == "MESH:D0308"


def test_ground_names_honors_ns_priority_across_variants(spark):
    """When different token-path variants of one name resolve to entries
    in different namespaces, ns_priority decides — not lexicographic
    namespace order (round-2 review finding)."""
    from outbreak_kg_spark.schemas import GAZETTEER

    gaz = spark.createDataFrame(
        [
            # 'β virus' literal -> ZZ entry; its spelled-out variant
            # 'beta virus' -> AA entry. Priority ZZ > AA, but 'AA' < 'ZZ'
            # lexicographically — a bare min() picks the wrong one.
            {"ns": "ZZ", "id": "1", "entry_name": "bv", "synonym": "β virus",
             "node_type": "disease"},
            {"ns": "AA", "id": "2", "entry_name": "bv", "synonym": "beta virus",
             "node_type": "disease"},
        ],
        GAZETTEER,
    )
    out = ground.ground_names(spark, gaz, ["β virus"],
                              ns_priority=("ZZ", "AA"))
    assert out["β virus"] == "ZZ:1"


def test_scan_terms_tokenizes_before_lowercasing():
    """Lowercasing whole text first splits characters whose lowercase form
    expands ('İ' -> 'i' + combining dot under \\w+); scan_terms must see
    the same token stream as scan_text."""
    rows = [{"ns": "geonames", "id": "745044", "entry_name": "İstanbul",
             "synonym": "İstanbul"}]
    trie = ground.compile_gazetteer(rows)
    text = "İstanbul outbreak"
    via_text = {(m[3], m[4], m[5]) for m in ground.scan_text(text, trie)}
    via_terms = set(ground.scan_terms(text, trie))
    assert via_terms == via_text


def test_term_token_variants_deterministic_and_keeps_base():
    """The variant cap must truncate deterministically and never drop the
    base tokenization (a sliced set is hash-order-random per process)."""
    name = "α β γ δ ε receptor"
    first = ground.term_token_variants(name, max_variants=8)
    assert len(first) == 8
    assert ("α", "β", "γ", "δ", "ε", "receptor") in first
    for _ in range(5):
        assert ground.term_token_variants(name, max_variants=8) == first


# ---- scored ambiguity resolution (gilda-style; round 5) --------------------

AMBIG_GAZ = [
    # 'cold' is ambiguous within MESH: Common Cold (high corpus prior,
    # curated synonym) vs Cold Temperature (low prior, but cue-rich)
    {"ns": "MESH", "id": "D003080", "entry_name": "Common Cold",
     "synonym": "common cold", "prior": 9.0},
    {"ns": "MESH", "id": "D003080", "entry_name": "Common Cold",
     "synonym": "cold", "prior": 9.0},
    {"ns": "MESH", "id": "D003080", "entry_name": "Common Cold",
     "synonym": "acute coryza", "prior": 9.0},
    {"ns": "MESH", "id": "D003091", "entry_name": "Cold Temperature",
     "synonym": "cold temperature", "prior": 2.0},
    {"ns": "MESH", "id": "D003091", "entry_name": "Cold Temperature",
     "synonym": "cold", "prior": 2.0},
    {"ns": "MESH", "id": "D003091", "entry_name": "Cold Temperature",
     "synonym": "low temperature", "prior": 2.0},
    # cross-namespace stays governed by ns priority regardless of prior
    {"ns": "geonames", "id": "G77", "entry_name": "Cold Bay",
     "synonym": "cold", "prior": 99.0},
]


def test_prior_breaks_within_ns_ambiguity():
    """Higher corpus prior wins a within-namespace surface collision
    (D003080 would LOSE the old (ns, id) lexicographic tie-break is moot
    here — D003080 < D003091 — so flip: give the lexicographically LATER
    id the higher prior and check it wins)."""
    gaz = [
        {"ns": "MESH", "id": "A1", "entry_name": "Alpha Thing",
         "synonym": "widget", "prior": 1.0},
        {"ns": "MESH", "id": "Z9", "entry_name": "Zeta Thing",
         "synonym": "widget", "prior": 5.0},
    ]
    trie = ground.compile_gazetteer(gaz, ("MESH",))
    hits = ground.scan_text("a widget appeared", trie)
    assert [(h[4]) for h in hits] == ["Z9"]
    # and without priors the deterministic (ns, id) tie-break still holds
    for r in gaz:
        r.pop("prior")
    trie = ground.compile_gazetteer(gaz, ("MESH",))
    assert [h[4] for h in ground.scan_text("a widget appeared", trie)] == ["A1"]


def test_curated_name_beats_synonym_on_tie():
    """Equal priors: the entry whose canonical name IS the surface wins
    over one matching via a synonym (gilda term-status ranking)."""
    gaz = [
        {"ns": "MESH", "id": "A1", "entry_name": "Something Else",
         "synonym": "turkey"},
        {"ns": "MESH", "id": "Z9", "entry_name": "Turkey", "synonym": "turkey"},
    ]
    trie = ground.compile_gazetteer(gaz, ("MESH",))
    assert [h[4] for h in ground.scan_text("visiting turkey", trie)] == ["Z9"]


def test_ns_priority_dominates_prior():
    """The reference's GILDA_NS walk is the OUTER key: a huge prior in a
    lower-priority namespace cannot beat a higher-priority namespace."""
    trie = ground.compile_gazetteer(AMBIG_GAZ, ("MESH", "geonames"))
    hits = ground.scan_text("a cold snap", trie)
    assert [(h[3], h[4]) for h in hits] == [("MESH", "D003080")]


def test_context_cues_disambiguate_per_document():
    trie = ground.compile_gazetteer(AMBIG_GAZ, ("MESH", "geonames"),
                                    context=True)
    # weather doc: 'temperature' is a cue of Cold Temperature's sibling
    # synonyms; overrides Common Cold's higher prior
    hits = ground.scan_text("record cold and low temperature tonight", trie)
    assert ("D003091", "Cold Temperature") in {(h[4], h[5]) for h in hits}
    # clinical doc: 'coryza' cues Common Cold
    hits = ground.scan_text("patients with cold symptoms and coryza", trie)
    assert [(h[4]) for h in hits if h[0] == "cold"] == ["D003080"]
    # no context either way -> prior-ranked best
    hits = ground.scan_text("caught a cold", trie)
    assert [(h[4]) for h in hits] == ["D003080"]
    # scan_terms agrees with scan_text under context
    terms = ground.scan_terms("record cold and low temperature tonight", trie)
    assert ("MESH", "D003091", "Cold Temperature") in set(terms)


def test_context_trie_unambiguous_paths_unchanged():
    """Unambiguous surfaces keep plain tuple terminals under context=True
    (the common-case scan costs nothing extra)."""
    trie = ground.compile_gazetteer(AMBIG_GAZ, ("MESH", "geonames"),
                                    context=True)
    node = trie["acute"]["coryza"]
    assert isinstance(node[0], tuple)
    assert isinstance(trie["cold"][0], list)  # the ambiguous one


def test_ground_name_in_trie_handles_context_terminals():
    trie = ground.compile_gazetteer(AMBIG_GAZ, ("MESH", "geonames"),
                                    context=True)
    assert ground.ground_name_in_trie(
        trie, "cold", ("MESH", "geonames")) == "MESH:D003080"


def test_scan_distinct_terms_matches_scan_terms_set():
    """scan_distinct_terms is exactly set(scan_terms) under BOTH paths:
    docs free of multi-token head tokens take the set fast path, docs
    containing one ('ebola', 'africa') take the positional fallback."""
    trie = ground.compile_gazetteer(GAZ, ("MESH", "geonames"))
    mh = ground.multi_token_heads(trie)
    assert mh == frozenset({"ebola", "africa"})
    for text in [
        "an ebola virus disease outbreak in guinea",  # fallback path
        "virus spreading in guinea, western africa",  # fallback (africa)
        "a virus report from guinea",                 # fast path
        "nothing relevant here",                      # fast path, no hits
        "",                                           # empty
        "Virus GUINEA virus guinea",                  # dupes + case
    ]:
        assert ground.scan_distinct_terms(text, trie, mh) == set(
            ground.scan_terms(text, trie)
        ), text


def test_scan_distinct_terms_hypothesis_parity():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    trie = ground.compile_gazetteer(GAZ, ("MESH", "geonames"))
    mh = ground.multi_token_heads(trie)
    vocab_toks = ["ebola", "virus", "disease", "africa", "western",
                  "guinea", "İstanbul", "x", "--", ","]

    @given(st.lists(st.sampled_from(vocab_toks), max_size=12))
    @settings(max_examples=200, deadline=None)
    def check(toks):
        text = " ".join(toks)
        assert ground.scan_distinct_terms(text, trie, mh) == set(
            ground.scan_terms(text, trie)
        )

    check()


def test_tokens_lower_non_ascii_parity():
    """The ASCII fast path must be invisible: for any text, _tokens_lower
    equals the tokenize-then-lowercase spelling (non-ASCII exercises the
    fallback; 'İstanbul' is the expansion quirk the split exists for)."""
    for text in ["Cholera IN Lagos", "İstanbul outbreak", "naïve café",
                 "ΕΒΟΛΑ case", "mixed İ and ascii"]:
        expected = [t.lower() for t in ground._TOKEN_RE.findall(text)]
        assert ground._tokens_lower(text) == expected, text


def test_scan_distinct_terms_context_terminal():
    """Ambiguous context=True terminals resolve identically on the set
    fast path (cue overlap is computed from the same token set)."""
    rows = [
        {"ns": "MESH", "id": "C1", "entry_name": "Common Cold",
         "synonym": "cold", "prior": 5.0},
        {"ns": "MESH", "id": "C2", "entry_name": "Cold Temperature",
         "synonym": "cold"},
        {"ns": "MESH", "id": "C2", "entry_name": "Cold Temperature",
         "synonym": "low temperature"},
    ]
    trie = ground.compile_gazetteer(rows, context=True)
    mh = ground.multi_token_heads(trie)
    for text in ["a cold snap with temperature drop", "caught a cold"]:
        assert ground.scan_distinct_terms(text, trie, mh) == set(
            ground.scan_terms(text, trie)
        ), text


def test_scan_text_ascii_fast_path_parity():
    """scan_text's ASCII pre-lowered tokenization must be invisible:
    same hits, same ORIGINAL-case surfaces, same offsets as the
    per-token-lowering spelling (exercised here by non-ASCII texts that
    force the fallback, mixed with ASCII twins)."""
    trie = ground.compile_gazetteer(GAZ, ("MESH", "geonames"))
    # ASCII text: offsets point into the original, surface keeps case
    hits = ground.scan_text("EBOLA Virus Disease hit GUINEA", trie)
    assert [(h[0], h[1], h[2], h[4]) for h in hits] == [
        ("EBOLA Virus Disease", 0, 19, "D1"),
        ("GUINEA", 24, 30, "D4"),
    ]
    # non-ASCII chars BEFORE a match would corrupt offsets if the text
    # were lowered wholesale ('İ' -> 2 codepoints); the fallback keeps
    # them exact
    text = "İİİ ebola case"
    (surface, s, e, *_rest) = ground.scan_text(text, trie)[0]
    assert (surface, s, e) == ("ebola", 4, 9)
    assert text[s:e] == "ebola"


def test_text_memo_is_byte_bounded(monkeypatch):
    """The per-task UDF memo caps the bytes of its cached text keys, not
    its entry count: a stream of long unique texts keeps it under the
    budget, every answer equals the unmemoized scan, a repeat inside the
    budget is not rescanned, and a text over the whole budget is never
    cached."""
    monkeypatch.setattr(ground, "MEMO_MAX_BYTES", 10_000)
    trie = ground.compile_gazetteer(GAZ, ("MESH", "geonames"))
    mh = ground.multi_token_heads(trie)
    calls = []

    def scan(text):
        calls.append(text)
        return frozenset(ground.scan_distinct_terms(text, trie, mh))

    memo = ground.TextMemo(scan)
    places = ["guinea", "western africa", "nowhere"]
    texts = [f"report {i}: ebola virus in {places[i % 3]} " + "x" * 1000
             for i in range(100)]
    for text in texts:
        assert memo(text) == frozenset(
            ground.scan_distinct_terms(text, trie, mh))
        assert memo.nbytes == sum(map(len, memo.cache)) <= 10_000
    assert len(calls) == len(texts)
    memo(texts[-1])
    assert len(calls) == len(texts)  # served from the memo
    big = "ebola in guinea " * 1000
    assert memo(big) == scan(big)
    assert big not in memo.cache and memo.nbytes <= 10_000
