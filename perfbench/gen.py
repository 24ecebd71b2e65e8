"""Seeded input generators. The same ``seed`` gives byte-identical inputs.

- ``pages``: a ProMED-dump-shaped page corpus over synth's vocabulary,
  with multi-KB bodies, synth's header quirks and ~8% crawl duplicates.
- ``registry_tables``: the registry's TPC-H-ish test tables plus ``events``,
  ``documents`` and ``embeddings``, with the same schemas and value
  domains as the registry entries expect.
- ``api_decks``: the ``kg_api`` request stream, dealt in fixed-mix decks.
"""

from __future__ import annotations

import datetime
import math
import random

from outbreak_kg_spark import synth

# ---- page corpus ------------------------------------------------------------

_QUIRKS = ["", "", "", "", "", "two_sections", "missing_terminator",
           "", "no_archive", "", "closer_before_opener", "", "empty_header"]
_FILLER = (
    "surveillance teams reported new cases this week and officials urged "
    "calm while laboratory confirmation is pending in the affected district "
    "health authorities said samples were sent to the national reference "
    "laboratory for further testing and contact tracing is under way the "
    "ministry has deployed rapid response teams to the area residents were "
    "advised to report any animals showing signs of illness local clinics "
    "recorded an increase in admissions over the past fortnight"
).split()
_DUP_SHARE = 0.08


def _surfaces():
    """(surface, mesh_id) for every MeSH name and synonym in synth."""
    out = []
    for mesh_id, name, _t, _p, syns in synth.MESH_VOCAB:
        for s in [name, *syns]:
            out.append((s, mesh_id))
    return out


def _sentence(rng: random.Random, terms: list[str]) -> str:
    words = rng.sample(_FILLER, k=rng.randint(8, 18))
    for t in terms:
        words.insert(rng.randrange(len(words) + 1), t)
    return " ".join(words) + "."


def _wrap(text: str, width: int) -> list[str]:
    lines, cur = [], []
    n = 0
    for w in text.split(" "):
        if cur and n + len(w) + 1 > width:
            lines.append(" ".join(cur))
            cur, n = [], 0
        cur.append(w)
        n += len(w) + 1
    if cur:
        lines.append(" ".join(cur))
    return lines


def _page_text(rng, i, quirk, body_bytes, surfaces):
    d = "D0103" if rng.random() < 0.4 else rng.choice(synth._DISEASE_POOL)
    g = rng.choice(synth._GEO_POOL)
    dname, gname = synth.mesh_name(d), synth.mesh_name(g)
    dt = datetime.datetime(2016, 1, 1) + datetime.timedelta(
        minutes=17 * i % (365 * 24 * 60))
    subject = f"PRO/AH/EDR> {dname} - {gname} ({i % 40:02d}): update"
    archive = f"{20160000 + (i % 9000):08d}.{100000 + i}"
    date_line = f"Published Date: {dt:%Y-%m-%d %H:%M:%S} EDT"
    header = f"{date_line}\nSubject: {subject}\nArchive Number: {archive}"
    if quirk == "no_archive":
        header = f"{date_line}\nSubject: {subject}\nArchive Number: "
    if quirk == "empty_header":
        header = ""

    lines = []
    n_sections = rng.randint(2, 5)
    per_section = max(200, body_bytes // n_sections)
    for s in range(n_sections):
        lines.append(f"A {dname} situation report, part {s + 1}")
        lines.append("******" if (i + s) % 5 == 0 else "-" * 41)
        size = 0
        paragraph = []
        while size < per_section:
            terms = []
            if rng.random() < 0.5:
                terms.append(rng.choice(surfaces)[0])
            if rng.random() < 0.3:
                terms.append(dname.lower() if rng.random() < 0.5 else gname)
            if rng.random() < 0.05:
                terms.append("Disease")  # generic blocked term
            sent = _sentence(rng, terms)
            if rng.random() < 0.15:
                # cue-bearing sentence for the pattern-triple rules
                sent = (f"{3 + rng.randrange(40)} cases of {dname} were "
                        f"reported in {gname}.")
            paragraph.append(sent)
            size += len(sent) + 1
        body = " ".join(paragraph)
        lines += ["  " + ln + "  " if k == 0 else ln
                  for k, ln in enumerate(_wrap(body, 72))]
        if not (quirk == "missing_terminator" and s == n_sections - 1):
            lines.append("--")
        if quirk != "two_sections" and s == 0 and rng.random() < 0.5:
            lines.append("")
    if quirk == "closer_before_opener":
        lines = ["--"] + lines
    return archive, d, f"{header}\n\n" + "\n".join(lines)


def pages(n_pages: int, body_kb: float, seed: int) -> dict:
    """Pages + outbreaks rows, and a summary of the corpus shape.

    Body length is log-normal around ``body_kb`` KB (sigma 0.5, clipped
    to 0.5x-4x), so a corpus mixes short notices with long reports."""
    rng = random.Random(seed)
    surfaces = _surfaces()
    out_pages, outbreaks, lengths = [], [], []
    for i in range(n_pages):
        quirk = _QUIRKS[i % len(_QUIRKS)]
        target = body_kb * 1024 * min(4.0, max(0.5, math.exp(
            rng.gauss(0.0, 0.5))))
        archive, d, txt = _page_text(rng, i, quirk, int(target), surfaces)
        lengths.append(len(txt))
        crawl = datetime.datetime(2020, 1, 1) + datetime.timedelta(seconds=i)
        html = ("<html><body><pre>" + txt + "</pre></body></html>").encode()
        out_pages.append({"url": f"promed://{archive}/{i}", "warc_ts": crawl,
                          "html": html, "text": txt,
                          "lang": "en" if i % 17 else "fr"})
        if rng.random() < _DUP_SHARE:
            out_pages.append({"url": f"promed://{archive}/{i}/dup",
                              "warc_ts": crawl + datetime.timedelta(days=1),
                              "html": html, "text": txt, "lang": "en"})
        if rng.random() < 0.35:
            outbreaks.append({
                "ID": 1000 + (i % 60),
                "outbreakName": synth.mesh_name(d),
                "archiveNumber": f'"{archive}"' if i % 7 == 0 else archive,
                "datePublished": f"2016-01-{1 + i % 28:02d} 08:00:00",
            })
    lengths.sort()

    def q(p):
        return lengths[min(len(lengths) - 1, int(p * len(lengths)))]

    shape = {
        "pages": len(out_pages),
        "distinct_pages": n_pages,
        "dup_share": round((len(out_pages) - n_pages) / len(out_pages), 4),
        "text_bytes_p10": q(0.10), "text_bytes_p50": q(0.50),
        "text_bytes_p90": q(0.90), "text_bytes_max": lengths[-1],
        "text_mb": round(sum(len(p["text"]) for p in out_pages) / 1e6, 3),
    }
    return {"pages": out_pages, "outbreaks": outbreaks, "shape": shape}


# ---- registry tables --------------------------------------------------------

_DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
              "join key line merge order part query row scan slow small sort "
              "spark stream table the value vector window").split()


def registry_tables(scale: int, seed: int) -> dict:
    """pyarrow tables keyed by name. ``scale`` multiplies the row counts
    (1 = the smallest test-data scale: 6k lineitem, 1k events, 500 docs)."""
    import numpy as np
    import pyarrow as pa

    r = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols):
        return pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})

    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_li, n_ev, n_docs = 1500 * scale, 6000 * scale, 1000 * scale, 500
    day = np.datetime64("1995-01-01", "D")

    def days(n, span):
        return (day + r.integers(0, span, n)).astype("datetime64[us]")

    adj = ["cold", "small", "large", "blue", "old", "new", "red", "hot"]
    noun = ["widget", "bolt", "rod", "anvil", "ring", "gear", "gizmo", "plate"]
    tabs = {
        "region": table({
            "r_regionkey": (list(range(5)), i32),
            "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE",
                        "MIDDLE EAST"], s)}),
        "nation": table({
            "n_nationkey": (list(range(25)), i32),
            "n_name": ([f"NATION_{k}" for k in range(25)], s),
            "n_regionkey": ([k % 5 for k in range(25)], i32)}),
        "customer": table({
            "c_custkey": (np.arange(n_cust), i64),
            "c_name": ([f"Customer#{k:09d}" for k in range(n_cust)], s),
            "c_nationkey": (r.integers(0, 25, n_cust), i32),
            "c_acctbal": (np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
                          f64),
            "c_mktsegment": (r.choice(["FURNITURE", "MACHINERY", "BUILDING",
                                       "HOUSEHOLD", "AUTOMOBILE"], n_cust),
                             s)}),
        "supplier": table({
            "s_suppkey": (np.arange(n_supp), i64),
            "s_name": ([f"Supplier#{k:09d}" for k in range(n_supp)], s),
            "s_nationkey": (r.integers(0, 25, n_supp), i32),
            "s_acctbal": (np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
                          f64)}),
        "part": table({
            "p_partkey": (np.arange(n_part), i64),
            "p_name": ([f"{adj[a]} {noun[b]}" for a, b in zip(
                r.integers(0, 8, n_part), r.integers(0, 8, n_part))], s),
            "p_brand": ([f"Brand#{k}" for k in r.integers(1, 26, n_part)], s),
            "p_type": (r.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM",
                                 "STANDARD", "SMALL"], n_part), s),
            "p_size": (r.integers(1, 51, n_part), i32),
            "p_retailprice": (np.round(900 + np.arange(n_part) * 0.1, 2),
                              f64)}),
        "orders": table({
            "o_orderkey": (np.arange(n_ord), i64),
            "o_custkey": (r.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": (r.choice(["F", "P", "O"], n_ord), s),
            "o_totalprice": (np.round(r.uniform(1000, 500000, n_ord), 2), f64),
            "o_orderdate": (days(n_ord, 2400), ts),
            "o_orderpriority": (r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"], n_ord),
                                s)}),
    }
    qty = r.integers(1, 51, n_li).astype(float)
    tabs["lineitem"] = table({
        "l_orderkey": (r.integers(0, n_ord, n_li), i64),
        "l_partkey": (r.integers(0, n_part, n_li), i64),
        "l_suppkey": (r.integers(0, n_supp, n_li), i64),
        "l_linenumber": (r.integers(1, 8, n_li), i32),
        "l_quantity": (qty, f64),
        "l_extendedprice": (np.round(qty * r.uniform(900, 2100, n_li), 2),
                            f64),
        "l_discount": (r.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": (r.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": (r.choice(["N", "A", "R"], n_li), s),
        "l_linestatus": (r.choice(["O", "F"], n_li), s),
        "l_shipdate": (days(n_li, 2500), ts),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(t0 + r.integers(0, 30 * 86400 * 10**6, n_ev)
                    .astype("timedelta64[us]"))
    tabs["events"] = table({
        "event_id": (np.arange(n_ev), i64),
        "ts": (ev_ts, ts),
        "user_id": (r.integers(0, 15 * scale, n_ev), i64),
        "event_type": (r.choice(["error", "signup", "purchase", "view",
                                 "click"], n_ev), s),
        "value": (np.round(r.exponential(50.0, n_ev), 2), f64),
        "props": ([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], s),
    })
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[r.integers(0, len(words), n)])
             for n in r.integers(10, 100, n_docs)]
    langs = r.choice(["en", "en", "en", "fr", "es", "zh", "de"], n_docs)
    tabs["documents"] = table({
        "doc_id": (np.arange(n_docs), i64),
        "text": (texts, s),
        "lang": (langs, s),
        "source": ([f"src{k % 20}" for k in range(n_docs)], s),
        "n_chars": ([len(t) for t in texts], i64),
    })
    labels = r.integers(0, 10, n_docs)
    centers = r.normal(0, 1, (10, 64))
    x = centers[labels] * 0.15 + r.normal(0, 1, (n_docs, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    tabs["embeddings"] = table({
        "vec_id": (np.arange(n_docs), i64),
        "embedding": (list(x), pa.list_(pa.float32())),
        "label": (labels, i32),
    })
    return tabs


# ---- kg_api request stream --------------------------------------------------

# Each deck is 20 requests with fixed shapes, shuffled: 40% autocomplete,
# 25% search, 15% alert text, 10% text_relations, 5% indicators, 5%
# triples, 3 of 20 (15%) misses. Only names, prefixes and ids come from
# the seed, so every deck costs about the same.
_AC_SHAPES = [("disease", 1), ("pathogen", 2), ("geoloc", 3),
              ("disease", 4), ("pathogen", 1), ("geoloc", 2),
              ("disease", 3), ("geoloc", None)]  # None: a miss
_SEARCH_SHAPES = [("disease",), ("geolocation",), ("disease", "geolocation"),
                  ("disease", "geolocation", "pathogen"), None]
INDICATOR_PLACES = ("Guinea", "Bulgaria", "Vietnam", "Republic of Korea")
TRIPLE_PREDS = ("located_in", "case_count_of")


def api_decks(n_decks: int, alert_ids: list[str], seed: int) -> list[list]:
    """``n_decks`` shuffled decks of (endpoint, kwargs)."""
    rng = random.Random(seed)
    names = [(n, t) for _i, n, t, _p, _s in synth.MESH_VOCAB]
    by_type = {t: [n for n, tt in names if tt == t]
               for t in ("disease", "pathogen", "geoloc")}
    labels = {"disease": "disease", "pathogen": "pathogen",
              "geoloc": "geoloc_alerts"}
    keys = {"disease": "disease", "geolocation": "geoloc",
            "pathogen": "pathogen"}
    decks = []
    for _ in range(n_decks):
        deck = []
        for t, n in _AC_SHAPES:
            prefix = rng.choice(by_type[t])[:n] if n else "zq"
            deck.append(("autocomplete", {"label": labels[t],
                                          "prefix": prefix}))
        for shape in _SEARCH_SHAPES:
            deck.append(("search", {k: rng.choice(by_type[keys[k]])
                                    for k in shape} if shape
                         else {"disease": "Unknownitis"}))
        for k in range(3):
            deck.append(("get_alert_text", {"alert_id": rng.choice(alert_ids)
                                            if k else "00000000.000000"}))
        for _ in range(2):
            picks = [rng.choice(by_type[t])
                     for t in ("disease", "pathogen", "geoloc")]
            deck.append(("text_relations", {
                "text": "Reports of " + ", ".join(picks)
                        + " were received this week."}))
        deck.append(("get_indicators", {"geolocation": rng.choice(
            INDICATOR_PLACES)}))
        deck.append(("get_triples", {"pred": rng.choice(TRIPLE_PREDS),
                                     "limit": 50}))
        rng.shuffle(deck)
        decks.append(deck)
    return decks
