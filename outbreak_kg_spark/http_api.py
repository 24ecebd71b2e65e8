"""Thin HTTP surface over KgApi — /v1 + /autocomplete endpoint parity with
the reference Flask app (kg/api.py:26-87, kg/autocomplete_blueprint.py:12-100)
as a dependency-free WSGI application (stdlib only; Flask is not available
in this environment and the endpoint CONTRACT, not the framework, is the
parity target). Any WSGI server (gunicorn, wsgiref.simple_server, mod_wsgi)
can serve it:

    from outbreak_kg_spark.http_api import make_wsgi_app
    app = make_wsgi_app(kg_api)
    wsgiref.simple_server.make_server("", 8080, app).serve_forever()

Every response carries Access-Control-Allow-Origin: * like the reference's
CORS(app) blanket. Routing and status codes mirror the reference exactly:
unknown path -> 404, missing geolocation on /v1/indicators -> 400
"Country not specified", missing alert file -> 404 "Alert not found".
"""

from __future__ import annotations

import json
from urllib.parse import parse_qs

# /autocomplete/<path> -> KgApi.autocomplete label
# (autocomplete_blueprint.py route table; symptoms share the disease trie).
# Only `alerts` still runs queries.autocomplete (a Spark job); every other
# label is answered from KgApi's driver-side prefix index.
_AUTOCOMPLETE_LABELS = {
    "geolocation/alerts": "geoloc_alerts",
    "geolocation/indicators": "geoloc_indicators",
    "diseases": "disease",
    "pathogens": "pathogen",
    "symptoms": "disease",
    "indicators": "indicator",
    "alerts": "alert",
}


def _int_arg(q: dict, name: str, default):
    """Flask request.args.get(name, default, type=int) semantics: a
    malformed value degrades to the default instead of escaping as a
    ValueError -> 500 out of the WSGI app. Negative values degrade too —
    they would reach DataFrame.limit(), which (unlike pandas .head)
    raises INVALID_LIMIT_LIKE_EXPRESSION on negatives."""
    raw = q.get(name)
    if raw is None:
        return default
    try:
        val = int(raw)
    except ValueError:
        return default
    return default if val < 0 else val


def _json_safe(obj):
    """Replace non-finite floats (the realism scorer emits -inf when fewer
    than two MeSH terms ground) with None: json.dumps would otherwise emit
    bare -Infinity, which is not JSON and breaks strict clients."""
    if isinstance(obj, float):
        return obj if obj == obj and obj not in (_INF, -_INF) else None
    if isinstance(obj, dict):
        return {k: _json_safe(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_json_safe(v) for v in obj]
    return obj


_INF = float("inf")


def make_wsgi_app(api, mesh_pmids=None, meta_fetcher=None):
    """WSGI callable over a KgApi. mesh_pmids (the literature co-annotation
    DataFrame) and meta_fetcher (PubMed metadata seam, api.get_pubmed_meta)
    enable /v1/find_literature; without mesh_pmids that endpoint answers
    503 rather than pretending the corpus is empty."""

    def respond(start_response, status, payload, ctype="application/json"):
        body = (json.dumps(_json_safe(payload))
                if ctype == "application/json"
                else payload).encode("utf-8")
        start_response(status, [
            ("Content-Type", f"{ctype}; charset=utf-8"),
            ("Content-Length", str(len(body))),
            ("Access-Control-Allow-Origin", "*"),
        ])
        return [body]

    def app(environ, start_response):
        path = environ.get("PATH_INFO", "/")
        if environ.get("REQUEST_METHOD", "GET") != "GET":
            return respond(start_response, "405 Method Not Allowed",
                           "method not allowed", "text/plain")
        q = {k: v[0] for k, v in
             parse_qs(environ.get("QUERY_STRING", "")).items()}

        if path == "/v1/healthcheck":
            return respond(start_response, "200 OK", "OK", "text/plain")

        if path in ("/", "/ui"):
            # static landing/UI pages (reference kg/api.py:16-23 renders
            # landing_page.html / ui.html); the data API is the product —
            # these stubs exist for 1:1 route-table parity
            title = "Outbreak KG" if path == "/" else "Outbreak KG UI"
            return respond(
                start_response, "200 OK",
                f"<!doctype html><html><head><title>{title}</title></head>"
                f"<body><h1>{title}</h1>"
                "<p>Data API: /v1/alerts, /v1/indicators, /v1/text_relations,"
                " /v1/find_literature, /autocomplete/*</p></body></html>",
                "text/html",
            )

        if path == "/v1/alerts":
            return respond(start_response, "200 OK", api.search(
                disease=q.get("disease"),
                geolocation=q.get("geolocation"),
                pathogen=q.get("pathogen"),
                timestamp=q.get("timestamp"),
                symptom=q.get("symptom"),
                limit=_int_arg(q, "limit", None),
            ))

        if path.startswith("/v1/alerts/"):
            alert_id = path[len("/v1/alerts/"):]
            text = api.get_alert_text(alert_id)
            if text is None:
                return respond(start_response, "404 Not Found",
                               "Alert not found", "text/plain")
            return respond(start_response, "200 OK", text, "text/plain")

        if path == "/v1/indicators":
            if "geolocation" not in q:
                return respond(start_response, "400 Bad Request",
                               "Country not specified", "text/plain")
            return respond(start_response, "200 OK", api.get_indicators(
                q["geolocation"], q.get("indicator_filter") or ""
            ))

        if path == "/v1/text_relations":
            return respond(start_response, "200 OK",
                           api.text_relations(q.get("text") or ""))

        if path == "/v1/triples":
            if api.pattern_triples is None:
                return respond(start_response, "503 Service Unavailable",
                               "triple table not loaded", "text/plain")
            return respond(start_response, "200 OK", api.get_triples(
                subj=q.get("subj"), pred=q.get("pred"), obj=q.get("obj"),
                limit=min(_int_arg(q, "limit", 100), 1000),
            ))

        if path == "/v1/find_literature":
            if mesh_pmids is None:
                return respond(start_response, "503 Service Unavailable",
                               "literature index not loaded", "text/plain")
            mesh_ids = (q.get("mesh_ids") or "").split(",")
            limit = _int_arg(q, "limit", 20)
            return respond(start_response, "200 OK", api.find_literature(
                mesh_pmids, mesh_ids, limit=limit,
                include_meta=meta_fetcher is not None,
                meta_fetcher=meta_fetcher,
            ))

        if path.startswith("/autocomplete/"):
            label = _AUTOCOMPLETE_LABELS.get(path[len("/autocomplete/"):])
            if label is not None:
                prefix = q.get("prefix") or ""
                top_n = min(_int_arg(q, "top_n", 100), 100)
                return respond(start_response, "200 OK",
                               api.autocomplete(label, prefix, top_n))

        return respond(start_response, "404 Not Found", "not found",
                       "text/plain")

    return app
