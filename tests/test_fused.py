"""Scan-level parity of the offset-free trie scan that the extraction +
NER operator's terms-only ask falls back to (ground.scan_terms) with the
offset-carrying reference scan (ground.scan_text)."""


def test_scan_terms_matches_scan_text():
    """Property: the offset-free fast scan produces exactly the term set of
    the offset-carrying scan on arbitrary token streams, including
    overlapping multi-token entries and greedy-longest tie cases."""
    from hypothesis import given, settings, strategies as st

    from outbreak_kg_spark.ground import (
        compile_gazetteer, scan_terms, scan_text,
    )

    rows = [
        {"ns": "MESH", "id": "1", "entry_name": "ebola", "synonym": "ebola"},
        {"ns": "MESH", "id": "2", "entry_name": "ebola virus",
         "synonym": "ebola virus"},
        {"ns": "MESH", "id": "3", "entry_name": "virus disease",
         "synonym": "virus disease"},
        {"ns": "GEO", "id": "4", "entry_name": "congo", "synonym": "congo"},
        {"ns": "MESH", "id": "5", "entry_name": "drc congo",
         "synonym": "drc congo"},
    ]
    trie = compile_gazetteer(rows)
    # includes case variants and lowercase-expanding characters ('İ' ->
    # 'i' + combining dot): the scans must agree on the token STREAM, not
    # just on ASCII (round-2 review: whole-text lower() vs per-token
    # lower() diverge exactly here)
    vocab = ["ebola", "virus", "disease", "congo", "drc", "the", "in", "of",
             "Ebola", "VIRUS", "İstanbul", "straße", "β"]

    @given(st.lists(st.sampled_from(vocab), max_size=12))
    @settings(max_examples=200, deadline=None)
    def check(tokens):
        text = " ".join(tokens)
        full = {(ns, i, nm) for (_s, _a, _b, ns, i, nm)
                in scan_text(text, trie)}
        fast = set(scan_terms(text, trie))
        assert full == fast

    check()
