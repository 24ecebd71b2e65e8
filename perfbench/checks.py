"""Output checks. Every expected answer comes from an independent source:
``tests/oracle/reference_impl`` for the build and the API, plain-Python
reads of the at-rest KG for ``get_indicators`` and ``get_triples``, DuckDB
for the registry. A failed check counts as a failed op."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from outbreak_kg_spark import synth
from outbreak_kg_spark.ground import BUILD_EXCLUDE_NAMES, NER_EXCLUDE_TOKENS
from tests.oracle import reference_impl as oracle
from tests.test_entry_oracles import _dtype_class, _rowset

# ---- kg build ---------------------------------------------------------------


def _types() -> dict[str, str]:
    return {f"MESH:{i}": t for i, _n, t, _p, _s in synth.MESH_VOCAB} | {
        f"geonames:{g}": "geoloc" for g, _n, _p, _m in synth.GEONAME_VOCAB}


class BuildOracle:
    """Reference extraction, terms, mention and co-occurrence triples for
    one corpus, plus the isa closure of synth's vocabulary."""

    def __init__(self, pages: list[dict]):
        self.pages = pages
        self.gaz = synth.gazetteer_rows()
        self.terms, self.extracts = oracle.oracle_terms_by_alert(
            pages, self.gaz, NER_EXCLUDE_TOKENS)
        self.types = _types()
        self.mentions = oracle.oracle_mentions_edges(
            self.terms, self.types, BUILD_EXCLUDE_NAMES)
        self.cooc = oracle.oracle_cooccurrence(
            self.terms, self.types, BUILD_EXCLUDE_NAMES)
        isa = [(r["child_curie"], r["parent_curie"])
               for r in synth.vocab_isa_rows()]
        up = oracle.oracle_closure(isa)
        self.descendants = defaultdict(set)  # anchor -> {node isa*0.. anchor}
        for c in self.types:
            self.descendants[c].add(c)
            for a in up.get(c, ()):
                self.descendants[a].add(c)
        self.alerts_of = defaultdict(set)  # curie -> alerts mentioning it
        for subj, _p, obj in self.mentions:
            self.alerts_of[obj].add(subj)

    def check_extracted(self, rows) -> list[str]:
        """rows: (url, valid, extracted_text) of the at-rest stage."""
        errs = []
        got = {r[0]: r for r in rows}
        for p in self.pages:
            want = oracle.oracle_extract(p["text"])
            r = got.get(p["url"])
            if r is None:
                errs.append(f"extracted: missing {p['url']}")
            elif (want is None) != (not r[1]):
                errs.append(f"extracted: validity differs for {p['url']}")
            elif want is not None and r[2] != want["text"]:
                errs.append(f"extracted: text differs for {p['url']}")
        return errs

    def check_triples(self, edges) -> tuple[list[str], float, float]:
        """edges: (subj, pred, obj) of the at-rest KG. P/R over mention and
        co-occurrence triples must both reach 0.95."""
        want = set(self.mentions) | set(self.cooc)
        got = {e for e in edges if e[1] in ("mentions", "occurs_with")}
        tp = len(got & want)
        p = tp / len(got) if got else 0.0
        r = tp / len(want) if want else 0.0
        errs = [] if p >= 0.95 and r >= 0.95 else [
            f"triples: precision {p:.3f} recall {r:.3f}"]
        return errs, p, r

    # -- kg_api answers -------------------------------------------------------
    def curie_of(self, name: str) -> str | None:
        norm = " ".join(name.lower().split())
        for row in self.gaz:
            if " ".join(row["synonym"].lower().split()) == norm:
                return f"{row['ns']}:{row['id']}"
        return None

    def search(self, **kw) -> set[str] | None:
        """Alert curies that satisfy every typed isa*0.. constraint."""
        out = None
        for key, ntype in (("disease", "disease"), ("geolocation", "geoloc"),
                           ("pathogen", "pathogen")):
            if key not in kw:
                continue
            anchor = self.curie_of(kw[key])
            if anchor is None:
                return set()
            hit = set()
            for node in self.descendants.get(anchor, {anchor}):
                if self.types.get(node) == ntype:
                    hit |= self.alerts_of.get(node, set())
            out = hit if out is None else out & hit
        return out or set()

    def text_relations(self, text: str, top_n: int = 500) -> list:
        hits = oracle.oracle_annotate(text, self.gaz)
        curies = {f"{ns}:{id_}" for _s, ns, id_, _n in hits}
        per_alert = defaultdict(int)
        for c in curies:
            for a in self.alerts_of.get(c, ()):
                per_alert[a] += 1
        ranked = sorted(((a, n) for a, n in per_alert.items() if n >= 2),
                        key=lambda x: (-x[1], x[0]))
        return ranked[:top_n]

    def autocomplete(self, label: str, prefix: str) -> set[str]:
        ntype = "geoloc" if label.startswith("geoloc") else label
        p = prefix.lower()
        return {f"MESH:{i}" for i, n, t, _p, syns in synth.MESH_VOCAB
                if t == ntype and any(s.lower().startswith(p)
                                      for s in [n, *syns])}

    def alert_text(self, alert_id: str) -> str | None:
        ex = self.extracts.get(alert_id)
        return ex["text"] if ex else None

    # -- references read from the at-rest KG ----------------------------------
    def read_kg(self, edges, closure, named, triples) -> None:
        """Stages the page oracle does not model: edges (subj, pred, obj),
        closure (node, ancestor), the curies that have a node name, and
        pattern_triples (subj, pred, obj, doc_id)."""
        self.geo_indicators = [(s, o) for s, p, o in edges
                               if p == "has_indicator"]
        self.closure = closure
        self.named = set(named)
        self.pattern_triples = sorted(triples)

    def indicators(self, geolocation: str) -> set[tuple[str, str]]:
        """(indicator, geo) pairs on the anchor, its ancestors or its
        descendants."""
        anchor = self.curie_of(geolocation)
        related = {n for n, a in self.closure if a == anchor} | {
            a for n, a in self.closure if n == anchor}
        return {(i, g) for g, i in self.geo_indicators
                if g in related and g in self.named and i in self.named}

    def triples(self, pred: str, limit: int) -> list[tuple]:
        return [t for t in self.pattern_triples if t[1] == pred][:limit]

    def check_kg(self, places, preds) -> list[str]:
        """Every place and predicate the request decks ask for must have a
        non-empty reference, so an endpoint that answers nothing fails."""
        return [f"kg: no indicators for {p}" for p in places
                if not self.indicators(p)] + [
            f"kg: no {p} pattern triples" for p in preds
            if not self.triples(p, 1)]


def check_api(orc: BuildOracle, endpoint: str, kw: dict, res) -> str | None:
    """None if the response matches the oracle, else a reason."""
    if endpoint == "search":
        got = {r["alert_curie"] for r in res}
        want = orc.search(**kw)
        return None if got == want else (
            f"search {kw}: {len(got)} alerts, oracle {len(want)}")
    if endpoint == "text_relations":
        got = [(r["alert_curie"], r["n_entities"]) for r in res["alerts"]]
        want = orc.text_relations(kw["text"])
        return None if got == want else f"text_relations {kw['text']!r}"
    if endpoint == "autocomplete":
        got = {r[2] for r in res}
        want = orc.autocomplete(kw["label"], kw["prefix"])
        return None if got == want else (
            f"autocomplete {kw}: {sorted(got)} vs {sorted(want)}")
    if endpoint == "get_alert_text":
        return None if res == orc.alert_text(kw["alert_id"]) else (
            f"alert text {kw['alert_id']}")
    if endpoint == "get_indicators":
        got = {(r["indicator_curie"], r["geo_curie"]) for r in res}
        want = orc.indicators(kw["geolocation"])
        return None if got == want else (
            f"indicators {kw}: {len(got)} rows, reference {len(want)}")
    if endpoint == "get_triples":
        got = [(r["subj"], r["pred"], r["obj"], r["doc_id"]) for r in res]
        want = orc.triples(kw["pred"], kw["limit"])
        return None if got == want else (
            f"triples {kw}: {len(got)} rows, reference {len(want)}")
    return f"unknown endpoint {endpoint}"


# ---- registry ---------------------------------------------------------------


def frame_digest(df) -> tuple:
    """(sorted columns, rows, md5 of the order-free canonical row set,
    {column: dtype class, or None if the column is all null}), canonical
    as the repo's oracle gate (tests/test_entry_oracles.py) has it."""
    rows = _rowset(df)
    h = hashlib.md5("\x01".join(rows).encode()).hexdigest()
    classes = {c: None if df[c].isna().all() else _dtype_class(df[c].dtype)
               for c in df.columns}
    return tuple(sorted(df.columns)), len(rows), h, classes


def check_frame(name: str, got, want) -> str | None:
    """None if a Spark frame's digest matches its DuckDB oracle's (rows,
    columns, dtype class of every column not all null on either side,
    value hash), else a reason. Without an oracle (``want`` None) the
    frame needs rows and columns only."""
    if got is None or not got[0]:
        return f"{name}: no columns"
    if want is None:
        return None
    if got[:2] != want[:2]:
        return f"{name}: {got[:2]} vs oracle {want[:2]}"
    mism = [(c, k, want[3].get(c)) for c, k in got[3].items()
            if k and want[3].get(c) and k != want[3][c]]
    if mism:
        return f"{name}: dtype class differs (spark vs oracle): {mism}"
    return None if got[2] == want[2] else f"{name}: values differ"
