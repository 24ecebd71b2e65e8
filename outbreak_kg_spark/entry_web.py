"""Web registry entries: crawl-URL canonicalization, crawl deltas and
frontiers, HTML extraction, link graphs, robots filtering, line dedup and
the sketch structures (Bloom, HLL, Count-Min, KMV), each with its DuckDB
oracle SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import dedup, weburl
from .entry_fixtures import _docs


# Deterministic crawl-URL synthesis shared between engines: one Python
# source-of-truth table, rendered as a Spark array lookup and as a DuckDB
# CASE, so both build byte-identical raw URLs from doc_id. The shapes
# cover every canonicalization rule: www + default-port strip, kept
# nonstandard port, multi-label public suffix, case folding, tracking
# params, param reordering, fragments.
_WEBURL_PREFIXES = [
    "https://WWW.Example.COM:443",   # www + default https port -> example.com
    "https://news.BBC.co.uk",        # multi-suffix -> bbc.co.uk
    "http://shop.example.com:8080",  # nonstandard port kept
    "http://example.org",
    "https://Sub.Domain.Example.net",
    "https://www.gov.uk",            # www strip; 2-label host passthrough
    "http://blog.foo.com.au",        # multi-suffix -> foo.com.au
    "http://CDN.example.com:80",     # default http port -> example.com
]
_WEBURL_QUERIES = [
    "",
    "?utm_source=feed&b=2&a=1",      # tracking dropped, survivors sorted
    "?z=9&utm_campaign=x&gclid=abc",  # only z=9 survives
    "?a=1",
]


def _weburl_raw(doc_id):
    """Spark column: synthesized raw crawl URL for a doc_id column."""
    pre = F.element_at(
        F.array(*[F.lit(p) for p in _WEBURL_PREFIXES]),
        (doc_id % 8 + 1).cast("int"))
    q = F.element_at(
        F.array(*[F.lit(s) for s in _WEBURL_QUERIES]),
        (doc_id % 4 + 1).cast("int"))
    frag = F.when(doc_id % 3 == 0, F.lit("#sec")).otherwise(F.lit(""))
    return F.concat(pre, F.lit("/p/"), doc_id.cast("string"), q, frag)


def _sql_weburl_raw() -> str:
    """DuckDB expression: the same raw URL from the same table."""
    pre = " ".join(f"WHEN {i} THEN '{p}'"
                   for i, p in enumerate(_WEBURL_PREFIXES))
    q = " ".join(f"WHEN {i} THEN '{s}'"
                 for i, s in enumerate(_WEBURL_QUERIES))
    return (f"(CASE doc_id % 8 {pre} END) || '/p/' || doc_id || "
            f"(CASE doc_id % 4 {q} END) || "
            f"(CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END)")


# the canonicalization pipeline re-expressed in DuckDB SQL (weburl.py's
# exact rule set); u/host named-expression templates
_SQL_WEBURL_CANON = """
        WITH raw AS (
            SELECT doc_id, {raw} AS url FROM documents
        ), p1 AS (
            SELECT doc_id, url,
                   split_part(url, '#', 1) AS nofrag
            FROM raw
        ), p2 AS (
            SELECT *, instr(nofrag, '?') AS qpos FROM p1
        ), p3 AS (
            SELECT doc_id, url,
                   CASE WHEN qpos > 0
                        THEN substring(nofrag, 1, qpos - 1)
                        ELSE nofrag END AS base,
                   CASE WHEN qpos > 0
                        THEN substring(nofrag, qpos + 1)
                        ELSE '' END AS rawq
            FROM p2
        ), p4 AS (
            SELECT doc_id, url, base, rawq,
                   lower(regexp_extract(base,
                       '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                   regexp_extract(base,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS hp
            FROM p3
        ), p5 AS (
            SELECT doc_id, url, base, rawq, scheme,
                   regexp_replace(lower(split_part(hp, ':', 1)),
                                  '^www\\.', '') AS host,
                   split_part(hp, ':', 2) AS port
            FROM p4
        ), p6 AS (
            SELECT doc_id, url, rawq, scheme, host,
                   CASE WHEN port = ''
                             OR (scheme = 'http' AND port = '80')
                             OR (scheme = 'https' AND port = '443')
                        THEN '' ELSE ':' || port END AS portpart,
                   CASE WHEN regexp_extract(base,
                            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)',
                            1) = ''
                        THEN '/'
                        ELSE regexp_extract(base,
                            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)',
                            1) END AS path
            FROM p5
        ), p7 AS (
            SELECT *,
                   -- array_to_string([]) is NULL in DuckDB, '' in Spark
                   coalesce(array_to_string(list_sort(list_filter(
                       string_split(rawq, '&'),
                       x -> x <> '' AND NOT regexp_matches(x,
                           '^(utm_[^=]*|gclid|fbclid|msclkid|igshid|mc_eid)=')
                   )), '&'), '') AS q
            FROM p6
        ), canon AS (
            SELECT doc_id, url, host,
                   scheme || '://' || host || portpart || path ||
                   (CASE WHEN q = '' THEN '' ELSE '?' || q END)
                       AS canonical_url,
                   string_split(host, '.') AS labels
            FROM p7
        )
        SELECT doc_id, url, canonical_url, host,
               CASE WHEN len(labels) >= 3
                         AND labels[-2] || '.' || labels[-1] IN ({multi})
                    THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                    WHEN len(labels) >= 2
                    THEN labels[-2] || '.' || labels[-1]
                    ELSE host END AS domain
        FROM canon
"""


def q_web_url_canonical(spark, sf_dir):
    """Crawl-URL canonicalization + host + registered domain, all pure
    Column expressions (weburl.py) over deterministically synthesized
    raw URLs covering every normalization rule."""
    d = _docs(spark, sf_dir).select(
        "doc_id", _weburl_raw(F.col("doc_id")).alias("url"))
    host = weburl.url_host(F.col("url"))
    return d.select(
        "doc_id", "url",
        weburl.canonical_url(F.col("url")).alias("canonical_url"),
        host.alias("host"),
        weburl.registered_domain(host).alias("domain"))


def _sql_web_url_canonical() -> str:
    multi = ", ".join(f"'{s}'" for s in weburl.MULTI_SUFFIXES)
    return _SQL_WEBURL_CANON.format(raw=_sql_weburl_raw(), multi=multi)


def q_web_domain_mixture(spark, sf_dir):
    """Per-registered-domain training-mixture weights: token share,
    temperature-flattened (T=0.7) and renormalized. The only full-data
    op is the domain groupBy; normalizations run on the domain-level
    frame (weburl.domain_mixture)."""
    toks = F.size(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit("")))
    d = _docs(spark, sf_dir).select(
        "doc_id", toks.cast("long").alias("n_tok"),
        _weburl_raw(F.col("doc_id")).alias("url"))
    d = d.withColumn(
        "domain", weburl.registered_domain(weburl.url_host(F.col("url"))))
    out = weburl.domain_mixture(d, "domain", "n_tok", temperature=0.7)
    return out.select(
        "domain", "toks", "docs",
        F.round("share", 6).alias("share_r"),
        F.round("weight", 6).alias("weight_r"))


def _sql_web_domain_mixture() -> str:
    multi = ", ".join(f"'{s}'" for s in weburl.MULTI_SUFFIXES)
    canon = _SQL_WEBURL_CANON.format(raw=_sql_weburl_raw(), multi=multi)
    return f"""
        WITH canon_rows AS ({canon}),
        d AS (
            SELECT c.domain,
                   len(list_filter(string_split(t.text, ' '),
                                   x -> x <> ''))::BIGINT AS n_tok
            FROM canon_rows c JOIN documents t USING (doc_id)
        ), per AS (
            SELECT domain, sum(n_tok)::BIGINT AS toks,
                   count(*)::BIGINT AS docs
            FROM d GROUP BY domain
        ), x AS (
            SELECT *, (SELECT sum(toks) FROM per)::BIGINT AS tot FROM per
        ), y AS (
            SELECT *, pow(toks::DOUBLE / tot, 0.7) AS w FROM x
        )
        SELECT domain, toks, docs,
               round(toks::DOUBLE / tot, 6) AS share_r,
               round(w / (SELECT sum(w) FROM y), 6) AS weight_r
        FROM y
    """


def _crawl_snapshots(spark, sf_dir):
    """Two deterministic crawl snapshots of the documents corpus, built to
    exercise every crawl_delta path: urls missing from one side (added /
    removed), content mutated between snapshots (changed), and stale extra
    captures inside a snapshot that latest-capture dedup must discard."""
    d = _docs(spark, sf_dir, spread=False).select("doc_id", "source", "text")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit("/d/"),
                   F.col("doc_id").cast("string")).alias("url")
    old_base = d.filter(F.col("doc_id") % 20 != 7).select(
        url, (F.lit(1000) + F.col("doc_id") % 3).cast("long").alias("ts"),
        F.col("text"))
    old_stale = d.filter((F.col("doc_id") % 13 == 2)
                         & (F.col("doc_id") % 20 != 7)).select(
        url, F.lit(999).cast("long").alias("ts"),
        F.concat(F.col("text"), F.lit(" OLDCAP")).alias("text"))
    new_base = d.filter(F.col("doc_id") % 17 != 5).select(
        url, F.lit(2000).cast("long").alias("ts"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
         .otherwise(F.col("text")).alias("text"))
    new_stale = d.filter((F.col("doc_id") % 13 == 6)
                         & (F.col("doc_id") % 17 != 5)).select(
        url, F.lit(1990).cast("long").alias("ts"),
        F.lit("stale").alias("text"))
    return old_base.unionByName(old_stale), new_base.unionByName(new_stale)


def q_web_crawl_delta(spark, sf_dir):
    """Crawl-refresh delta (crawl.crawl_delta): per-url added / removed /
    changed / unchanged between two snapshots, latest capture per side,
    pre-join md5 fingerprints so the full-outer join never carries page
    bodies. The slice feeding re-extraction is refresh_targets(delta)."""
    from .crawl import crawl_delta

    old, new = _crawl_snapshots(spark, sf_dir)
    return crawl_delta(old, new, key_col="url",
                       content_cols=("text",), ts_col="ts")


_SQL_CRAWL_OLD = """
    SELECT source, doc_id, (1000 + doc_id % 3)::BIGINT AS ts, text
    FROM documents WHERE doc_id % 20 <> 7
    UNION ALL
    SELECT source, doc_id, 999::BIGINT, text || ' OLDCAP'
    FROM documents WHERE doc_id % 13 = 2 AND doc_id % 20 <> 7
"""

_SQL_CRAWL_NEW = """
    SELECT source, doc_id, 2000::BIGINT AS ts,
           CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
    FROM documents WHERE doc_id % 17 <> 5
    UNION ALL
    SELECT source, doc_id, 1990::BIGINT, 'stale'
    FROM documents WHERE doc_id % 13 = 6 AND doc_id % 17 <> 5
"""

_SQL_CRAWL_LATEST = """
    SELECT url, ts, fp FROM (
        SELECT 'https://' || source || '/d/' || doc_id AS url, ts,
               md5('1' || length(text) || ':' || text) AS fp,
               row_number() OVER (
                   PARTITION BY 'https://' || source || '/d/' || doc_id
                   ORDER BY ts DESC, md5('1' || length(text) || ':' || text) DESC) AS rn
        FROM ({snap})
    ) WHERE rn = 1
"""

SQL_WEB_CRAWL_DELTA = f"""
    WITH old_latest AS ({_SQL_CRAWL_LATEST.format(snap=_SQL_CRAWL_OLD)}),
         new_latest AS ({_SQL_CRAWL_LATEST.format(snap=_SQL_CRAWL_NEW)})
    SELECT coalesce(o.url, n.url) AS url,
           CASE WHEN o.url IS NULL THEN 'added'
                WHEN n.url IS NULL THEN 'removed'
                WHEN o.fp = n.fp THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.fp AS old_fingerprint, n.fp AS new_fingerprint,
           o.ts AS old_ts, n.ts AS new_ts
    FROM old_latest o FULL OUTER JOIN new_latest n ON o.url = n.url
"""


_HTML_WRAP_PRE = ("<html><head><style>p{color:red}</style>"
                  "<script>var x = 1 &amp; 2;</script></head>"
                  "<body><h1>Doc ")
_HTML_WRAP_MID = "</h1><p>"
_HTML_WRAP_POST = "</p><!-- trailing comment --></body></html>"


def q_web_html_extract(spark, sf_dir):
    """From-raw-crawl ingest hop: wrap each document's text in realistic
    HTML boilerplate (script/style/comment payloads), ENCODE to the input
    contract's binary html column, then strip back to text with the pure-
    codegen htmltext.html_to_text chain — one projection, zero UDFs."""
    from .htmltext import html_to_text

    d = _docs(spark, sf_dir)
    html_bin = F.encode(
        F.concat(F.lit(_HTML_WRAP_PRE), F.col("doc_id").cast("string"),
                 F.lit(_HTML_WRAP_MID), F.col("text"),
                 F.lit(_HTML_WRAP_POST)),
        "UTF-8")
    return d.select("doc_id",
                    html_to_text(html_bin).alias("extracted"))


def _sql_web_html_extract() -> str:
    from .htmltext import sql_html_to_text

    wrapped = (f"'{_HTML_WRAP_PRE}' || doc_id || '{_HTML_WRAP_MID}' || "
               f"text || '{_HTML_WRAP_POST}'")
    return (f"SELECT doc_id, {sql_html_to_text(wrapped)} AS extracted "
            f"FROM documents")


def q_web_link_graph(spark, sf_dir):
    """Outlink extraction (weburl.extract_links): deterministic HTML with
    one absolute cross-site href, one single-quoted root-relative href,
    one protocol-relative CDN href, one mailto (dropped at resolution),
    and one <link rel=stylesheet> (dropped by the <a>-tag scoping — a
    bare href scan would emit it), encoded to the input contract's binary
    html column — 3 resolved canonical edges per page, zero exchanges.
    The injected URLs are already canonical, so canonical_url is identity
    on them (idempotence is property-tested in test_weburl); the oracle
    replays the tag-scoped extraction + resolution verbatim."""
    d = _docs(spark, sf_dir)
    site = F.pmod("doc_id", F.lit(7)).cast("string")
    nxt = F.pmod(F.col("doc_id") + 1, F.lit(7)).cast("string")
    cdn = F.pmod("doc_id", F.lit(3)).cast("string")
    html = F.concat(
        F.lit('<html><head><link rel="stylesheet" href="/style.css">'
              '</head><body><a href="https://site-'), nxt,
        F.lit(".example/p/"), F.pmod("doc_id", F.lit(50)).cast("string"),
        F.lit('">x</a> <a href=\'/about\'>y</a> '),
        F.lit('<a href="mailto:a@b.example">skip</a> '),
        F.lit('<a href="//cdn-'), cdn, F.lit('.example/lib.js">z</a> '),
        F.col("text"), F.lit("</body></html>"),
    )
    url = F.concat(F.lit("https://site-"), site, F.lit(".example/d/"),
                   F.col("doc_id").cast("string"))
    pages = d.select("doc_id", url.alias("url"),
                     F.encode(html, "UTF-8").alias("html"))
    return weburl.extract_links(pages, id_col="doc_id")


def _sql_web_link_graph() -> str:
    return """
        WITH base AS (
            SELECT doc_id,
                   'https://site-' || (doc_id % 7) || '.example/d/'
                     || doc_id AS src,
                   '<html><head><link rel="stylesheet" href="/style.css">'
                     || '</head><body><a href="https://site-'
                     || ((doc_id + 1) % 7) || '.example/p/'
                     || (doc_id % 50)
                     || '">x</a> <a href=''/about''>y</a> '
                     || '<a href="mailto:a@b.example">skip</a> '
                     || '<a href="//cdn-' || (doc_id % 3)
                     || '.example/lib.js">z</a> '
                     || text || '</body></html>' AS html
            FROM documents),
        e AS (
            SELECT doc_id, src,
                   unnest(regexp_extract_all(
                       html, '(?i)(<a\\b[^>]*>[^<]*)', 1)) AS el
            FROM base),
        l AS (
            SELECT doc_id, src,
                   CASE WHEN regexp_extract(el,
                            '(?i)href\\s*=\\s*"([^"]*)"', 1) <> ''
                        THEN regexp_extract(el,
                            '(?i)href\\s*=\\s*"([^"]*)"', 1)
                        ELSE regexp_extract(el,
                            '(?i)href\\s*=\\s*''([^'']*)''', 1)
                   END AS lnk
            FROM e),
        r AS (
            SELECT doc_id, src,
                   CASE WHEN lnk LIKE 'http://%'
                             OR lnk LIKE 'https://%' THEN lnk
                        WHEN lnk LIKE '//%' THEN 'https:' || lnk
                        WHEN lnk LIKE '/%' THEN
                            'https://site-' || (doc_id % 7)
                            || '.example' || lnk
                        ELSE NULL END AS dst
            FROM l)
        SELECT doc_id, src, dst FROM r WHERE dst IS NOT NULL
    """


def q_web_robots_filter(spark, sf_dir):
    """Robots-compliance filter (weburl.parse_robots + robots_filter):
    per-host robots.txt with UA-grouped Disallow rules parsed by the
    codegen fold, then the page table filtered by host-rule prefix
    match. Injection: even-residue sites also disallow /p/; paths cycle
    public//p//private by doc residue. The oracle replays the PREFIX
    FILTER semantics over the same per-host disallow sets (the parse
    fold itself is pytest-gated on adversarial robots texts — UA groups,
    ':' in paths, empty Disallow)."""
    d = _docs(spark, sf_dir)
    site = F.pmod("doc_id", F.lit(7)).cast("string")
    path = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("/p/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("/private/"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("/d/"), F.col("doc_id").cast("string")))
    )
    pages = d.select(
        "doc_id",
        F.concat(F.lit("https://site-"), site, F.lit(".example"), path)
        .alias("url"),
    )
    hosts = spark.range(0, 7).select(
        F.concat(F.lit("site-"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: googlebot\nDisallow: /\n"
                  "User-agent: *\nDisallow: /private\n"),
            F.when(F.col("id") % 2 == 0, F.lit("Disallow: /p/\n"))
            .otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    rules = weburl.parse_robots(hosts)
    return weburl.robots_filter(pages, rules)


def _sql_web_robots_filter() -> str:
    return """
        WITH u AS (
            SELECT doc_id,
                   'site-' || (doc_id % 7) || '.example' AS host,
                   CASE WHEN doc_id % 3 = 0 THEN '/p/' || doc_id
                        WHEN doc_id % 3 = 1 THEN '/private/' || doc_id
                        ELSE '/d/' || doc_id END AS path
            FROM documents),
        r AS (
            SELECT 'site-' || h || '.example' AS host,
                   CASE WHEN h % 2 = 0 THEN ['/private', '/p/']
                        ELSE ['/private'] END AS dis
            FROM range(0, 7) t(h))
        SELECT u.doc_id, 'https://' || u.host || u.path AS url
        FROM u JOIN r USING (host)
        WHERE len(list_filter(r.dis,
                              p -> u.path LIKE p || '%')) = 0
    """


def q_web_line_dedup(spark, sf_dir):
    """Cross-document boilerplate-line strip (dedup.line_dedup,
    RefinedWeb/CCNet-style): lines whose trimmed form recurs in >=5
    distinct documents are removed corpus-wide and the survivors are
    reassembled in order. The word-soup base docs are single-line, so the
    gate injects the web shape it exists for — a per-site nav header and
    copyright footer (shared by the ~1/7 of docs on each site, far over
    threshold) around two unique body chunks; the oracle replays the
    identical construction."""
    d = _docs(spark, sf_dir)
    site = F.pmod("doc_id", F.lit(7)).cast("string")
    lined = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("(c) site-"), site,
                     F.lit(" nav home about contact")),
            F.substring("text", 1, 80),
            F.substring("text", 81, 80),
            F.concat(F.lit("all rights reserved site-"), site),
        ).alias("text"),
    )
    return dedup.line_dedup(lined, min_docs=5)


def _sql_web_line_dedup() -> str:
    return """
        WITH base AS (
            SELECT doc_id,
                   '(c) site-' || (doc_id % 7) || ' nav home about contact'
                   || chr(10) || substr(text, 1, 80)
                   || chr(10) || substr(text, 81, 80)
                   || chr(10) || 'all rights reserved site-' || (doc_id % 7)
                     AS t
            FROM documents),
        l AS (
            SELECT doc_id,
                   unnest(string_split(t, chr(10))) AS line,
                   unnest(range(0, len(string_split(t, chr(10))))) AS pos
            FROM base),
        k AS (SELECT doc_id, pos, line, md5(trim(line)) AS h FROM l),
        hot AS (
            SELECT h FROM (
                SELECT h, count(DISTINCT doc_id) AS c
                FROM k WHERE trim(line) <> '' GROUP BY h)
            WHERE c >= 5),
        kept AS (SELECT * FROM k WHERE h NOT IN (SELECT h FROM hot)),
        agg AS (SELECT doc_id, count(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS text_clean
                FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*) AS n_lines FROM k GROUP BY doc_id)
        SELECT tot.doc_id, tot.n_lines::INT AS n_lines,
               coalesce(agg.n_kept, 0)::INT AS n_kept,
               coalesce(agg.text_clean, '') AS text_clean
        FROM tot LEFT JOIN agg USING (doc_id)
    """


def q_web_crawl_frontier(spark, sf_dir):
    """Politeness-capped crawl frontier (crawl.frontier_schedule): the
    doc-derived URL table scored with a deterministic priority, top 5
    per host with 2 s politeness spacing, via the salted two-phase
    per-host top-k (hot-host safe). The oracle ranks each host with a
    single window — equality with the two-phase plan IS the exactness
    claim of the salted decomposition."""
    from .crawl import frontier_schedule

    d = _docs(spark, sf_dir, spread=False)
    site = F.pmod("doc_id", F.lit(11)).cast("string")
    frontier = d.select(
        F.concat(F.lit("site-"), site, F.lit(".example")).alias("host"),
        F.concat(F.lit("https://site-"), site, F.lit(".example/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.pmod(F.col("doc_id") * 13, F.lit(97)).alias("priority"),
    )
    return frontier_schedule(frontier, k_per_host=5, delay_s=2)


def _sql_web_crawl_frontier(k: int = 5, delay_s: int = 2) -> str:
    return f"""
        WITH f AS (
            SELECT 'site-' || (doc_id % 11) || '.example' AS host,
                   'https://site-' || (doc_id % 11) || '.example/d/'
                       || doc_id AS url,
                   (doc_id * 13) % 97 AS priority
            FROM documents),
        r AS (
            SELECT host, url,
                   row_number() OVER (PARTITION BY host
                                      ORDER BY priority DESC, url) AS rank
            FROM f)
        SELECT host, url, rank::INT AS rank,
               ((rank - 1) * {delay_s})::BIGINT AS fetch_offset_s
        FROM r WHERE rank <= {k}
    """


def q_web_bloom_seen(spark, sf_dir):
    """Bloom seen-set (crawl.bloom_build + bloom_probe): the %3!=0 doc
    urls build the filter (m=2^16, k=4), then ALL doc urls probe it —
    seen urls must flag (no false negatives), unseen flag only at the
    design fp rate, so the output differs from plain membership by at
    most a handful of engine-identical false positives. The oracle
    rebuilds every bit (md5-48 mod m, 1<<pos, bit_or per word) and
    replays the all-k-bits-set probe."""
    from .crawl import bloom_build, bloom_probe

    d = _docs(spark, sf_dir, spread=False)
    urls = d.select(
        F.concat(F.lit("https://site-"),
                 F.pmod("doc_id", F.lit(7)).cast("string"),
                 F.lit(".example/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "doc_id",
    )
    seen = urls.filter(F.col("doc_id") % 3 != 0)
    bloom = bloom_build(seen, m_bits=1 << 16, k_hashes=4)
    return bloom_probe(urls, bloom, m_bits=1 << 16, k_hashes=4).select(
        "doc_id", "url", "maybe_seen")


def _sql_web_bloom_seen(m_bits: int = 1 << 16, k: int = 4,
                        salt: str = "bloom-v1") -> str:
    return f"""
        WITH u AS (
            SELECT doc_id,
                   'https://site-' || (doc_id % 7) || '.example/d/'
                       || doc_id AS url
            FROM documents),
        probes AS (
            SELECT u.doc_id, u.url, i.i,
                   ('0x' || substr(md5('{salt}:' || i.i || ':' || u.url),
                                   1, 12))::BIGINT % {m_bits} AS h
            FROM u, range({k}) i(i)),
        bloom AS (
            SELECT h // 32 AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << (h % 32)::INT) AS bits
            FROM probes WHERE doc_id % 3 != 0
            GROUP BY 1),
        hit AS (
            SELECT p.doc_id, p.url,
                   min(CASE WHEN coalesce(b.bits, 0)
                                 & (CAST(1 AS BIGINT) << (p.h % 32)::INT)
                                 != 0
                            THEN 1 ELSE 0 END) = 1 AS maybe_seen
            FROM probes p LEFT JOIN bloom b ON b.word_idx = p.h // 32
            GROUP BY 1, 2)
        SELECT doc_id, url, maybe_seen FROM hit
    """


def q_web_hll_cardinality(spark, sf_dir):
    """HyperLogLog cardinality (crawl.hll_registers + hll_estimate)
    over per-doc urls replicated x3 with residue-keyed dups (so exact
    distinct < row count and the sketch has real work): one row with
    register usage, the corrected estimate, and the exact distinct for
    the error read. The oracle rebuilds every register (top-p bucket,
    floor-log2 rho) and replays the harmonic estimate + small-range
    correction with identical doubles."""
    from .crawl import hll_estimate, hll_registers

    d = _docs(spark, sf_dir, spread=False)
    reps = spark.range(3).select(F.col("id").alias("rep"))
    urls = d.crossJoin(F.broadcast(reps)).select(
        F.concat(F.lit("https://h.example/"),
                 F.pmod(F.col("doc_id") * 7 + F.col("rep") * 131,
                        F.lit(1201)).cast("string")).alias("url"))
    est = hll_estimate(hll_registers(urls))
    exact = urls.agg(F.count_distinct("url").alias("exact_distinct"))
    return est.crossJoin(exact)


def _sql_web_hll_cardinality(p: int = 12, salt: str = "hll-v1") -> str:
    m = 1 << p
    sb = 48 - p
    alpha = 0.7213 / (1 + 1.079 / m)
    return f"""
        WITH u AS (
            SELECT 'https://h.example/' ||
                   ((doc_id * 7 + r.rep * 131) % 1201) AS url
            FROM documents, range(3) r(rep)),
        hsh AS (
            SELECT ('0x' || substr(md5('{salt}:' || url), 1, 12))::BIGINT
                   AS h
            FROM u),
        reg AS (
            SELECT (h // {1 << sb})::INT AS bucket,
                   max(CASE WHEN h % {1 << sb} = 0 THEN {sb + 1}
                            ELSE {sb} - floor(log2((h % {1 << sb})
                                                   ::DOUBLE))::INT
                       END) AS max_rho
            FROM hsh GROUP BY 1),
        agg AS (
            SELECT count(*) AS used,
                   sum(pow(2.0, -max_rho)) AS s
            FROM reg),
        est AS (
            SELECT used, {m} - used AS empty,
                   {alpha!r}::DOUBLE * {m} * {m}
                       / (s + ({m} - used)) AS raw
            FROM agg)
        SELECT used::INT AS n_buckets_used,
               empty::INT AS n_empty,
               round(CASE WHEN raw <= 2.5 * {m} AND empty > 0
                          THEN {float(m)!r} * ln({float(m)!r} / empty)
                          ELSE raw END, 4) AS estimate_r,
               (SELECT count(DISTINCT url) FROM u) AS exact_distinct
        FROM est
    """


def q_web_cms_counts(spark, sf_dir):
    """Count-Min frequency sketch (crawl.cms_build + cms_query): doc
    urls folded to 701 distinct keys with skewed multiplicity (residue
    square map), sketched at width 2^14 x depth 4, then every distinct
    key point-queried with its true count alongside — est >= true
    always (never undercounts), equal in the collision-free regime.
    The oracle rebuilds all counters and replays the min-over-depth
    query."""
    from .crawl import cms_build, cms_query

    d = _docs(spark, sf_dir, spread=False)
    urls = d.select(
        F.concat(F.lit("https://c.example/"),
                 F.pmod(F.col("doc_id") * F.col("doc_id"), F.lit(701))
                 .cast("string")).alias("url"))
    cms = cms_build(urls)
    truth = urls.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("true_count"))
    return cms_query(truth, cms)


def _sql_web_cms_counts(width: int = 1 << 14, depth: int = 4,
                        salt: str = "cms-v1") -> str:
    return f"""
        WITH u AS (
            SELECT 'https://c.example/' || ((doc_id * doc_id) % 701)
                   AS url
            FROM documents),
        probes AS (
            SELECT url, i.i AS row_idx,
                   ('0x' || substr(md5('{salt}:' || i.i || ':' || url),
                                   1, 12))::BIGINT % {width} AS bucket
            FROM u, range({depth}) i(i)),
        cms AS (
            SELECT row_idx, bucket, count(*)::BIGINT AS n
            FROM probes GROUP BY 1, 2),
        truth AS (
            SELECT url, count(*)::BIGINT AS true_count
            FROM u GROUP BY 1),
        est AS (
            SELECT p.url, min(coalesce(c.n, 0))::BIGINT AS est_count
            FROM (SELECT DISTINCT * FROM probes) p
            LEFT JOIN cms c USING (row_idx, bucket)
            GROUP BY 1)
        SELECT t.url, t.true_count, e.est_count
        FROM truth t LEFT JOIN est e USING (url)
    """


def q_web_kmv_overlap(spark, sf_dir):
    """KMV overlap estimation (crawl.kmv_sketch + kmv_estimate): two
    doc-derived URL sets with an engineered overlap window (residues
    [0,700) vs [350,1050) of a 1201-cycle) sketched at k=256, the
    union/Jaccard/intersection estimates returned with the exact values
    alongside for the error read. The oracle rebuilds both bottom-k
    sketches from the same md5-48 space and replays all three
    estimators."""
    from .crawl import kmv_estimate, kmv_sketch

    d = _docs(spark, sf_dir, spread=False)
    key = F.pmod(F.col("doc_id") * 7, F.lit(1201))

    def side(lo, hi):
        return d.filter((key >= lo) & (key < hi)).select(
            F.concat(F.lit("https://k.example/"),
                     key.cast("string")).alias("url"))

    a, b = side(0, 700), side(350, 1050)
    est = kmv_estimate(kmv_sketch(a), kmv_sketch(b))
    exact = (
        a.select("url").withColumn("_a", F.lit(1))
        .join(b.select("url").withColumn("_b", F.lit(1)), "url",
              "full_outer")
        .agg(
            F.count(F.lit(1)).cast("long").alias("exact_union"),
            F.sum((F.col("_a").isNotNull()
                   & F.col("_b").isNotNull()).cast("long"))
            .alias("exact_intersect"),
        )
    )
    return est.crossJoin(exact)


def _sql_web_kmv_overlap(k: int = 256, salt: str = "kmv-v1") -> str:
    space = float(1 << 48)

    def sk(lo, hi, name):
        return f"""
        {name} AS (
            SELECT DISTINCT ('0x' || substr(md5('{salt}:' ||
                'https://k.example/' || r), 1, 12))::BIGINT AS hv
            FROM (SELECT DISTINCT (doc_id * 7) % 1201 AS r
                  FROM documents
                  WHERE (doc_id * 7) % 1201 >= {lo}
                    AND (doc_id * 7) % 1201 < {hi})
            ORDER BY hv LIMIT {k})"""

    return f"""
        WITH {sk(0, 700, "a")}, {sk(350, 1050, "b")},
        merged AS (
            SELECT hv FROM (SELECT hv FROM a UNION SELECT hv FROM b)
            ORDER BY hv LIMIT {k}),
        agg AS (
            SELECT max(hv) AS kth, count(*) AS n FROM merged),
        sh AS (
            SELECT count(*) AS s FROM merged
            WHERE hv IN (SELECT hv FROM a)
              AND hv IN (SELECT hv FROM b)),
        ue AS (
            SELECT CASE WHEN agg.n < {k} THEN agg.n::DOUBLE
                        ELSE {space!r} * ({k} - 1) / agg.kth END AS u,
                   agg.n AS n, sh.s AS s
            FROM agg, sh),
        ex AS (
            SELECT count(*)::BIGINT AS exact_union,
                   sum((a2.r IS NOT NULL AND b2.r IS NOT NULL)::INT)
                       ::BIGINT AS exact_intersect
            FROM (SELECT DISTINCT (doc_id * 7) % 1201 AS r
                  FROM documents WHERE (doc_id * 7) % 1201 < 700) a2
            FULL OUTER JOIN
                 (SELECT DISTINCT (doc_id * 7) % 1201 AS r
                  FROM documents WHERE (doc_id * 7) % 1201 >= 350
                    AND (doc_id * 7) % 1201 < 1050) b2
              ON a2.r = b2.r)
        SELECT round(ue.u, 4) AS union_est_r,
               round(ue.s / ue.n::DOUBLE, 6) AS jaccard_r,
               round(ue.s / ue.n::DOUBLE * ue.u, 4) AS intersect_est_r,
               ex.exact_union, ex.exact_intersect
        FROM ue, ex
    """
