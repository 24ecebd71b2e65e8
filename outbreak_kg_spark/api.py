"""Query-API surface — the engine's equivalent of the reference's Flask app
(kg/api.py) and its composite endpoint logic (kg/client.py). Framework-free:
``KgApi`` methods take/return plain Python values so any HTTP layer (Flask
in the reference) can wrap them 1:1; tests drive them directly.

Endpoint parity:
  /v1/alerts            -> KgApi.search            (kg/api.py:26-38)
  /v1/indicators        -> KgApi.get_indicators    (kg/api.py:54-60)
  /v1/text_relations    -> KgApi.text_relations    (kg/api.py:63-67)
  /v1/find_literature   -> KgApi.find_literature   (kg/api.py:70-74)
  /autocomplete/*       -> KgApi.autocomplete      (autocomplete_blueprint.py)
  /v1/alerts/<id>       -> KgApi.get_alert_text    (kg/api.py:42-49)
"""

from __future__ import annotations

from bisect import bisect_left

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ground, queries


def get_pubmed_meta(results: list[dict], limit: int = 10,
                    fetcher=None) -> dict:
    """Top-PMID metadata step of find_literature (kg/mesh_csr.py:169-173:
    `pubmed_client.get_metadata_for_ids(pmids, get_abstracts=True)`).

    `fetcher(pmids: list[str]) -> dict[pmid, meta]` is injectable (tests
    pass a deterministic fake); the DEFAULT is the stdlib NCBI eutils
    client (pubmed.EutilsFetcher — rate-limited urllib efetch, the same
    public endpoint the reference reaches through INDRA's pubmed_client),
    so the endpoint returns real metadata wherever outbound network is
    allowed. The pmid slice preserves the p-value ranking order, like the
    reference's `results.pmid[:limit]`."""
    pmids = [r["pmid"] for r in results[:limit]]
    if fetcher is None:
        from .pubmed import EutilsFetcher

        fetcher = EutilsFetcher()
    return fetcher(pmids)


# answer cap of every autocomplete route (kg/autocomplete_blueprint.py:18),
# the same cap queries.autocomplete applies
AUTOCOMPLETE_CAP = 100
# labels whose node filter is not `node_type == label` (queries.autocomplete)
_GEOLOC_LABELS = ("geoloc_alerts", "geoloc_indicators")
# search constraints in queries.query_graph's order: (argument, node type,
# output column prefix); the symptom anchor reaches through the
# isa|has_phenotype edges instead of the closure stage
_CONSTRAINTS = (("disease", "disease", "disease"),
                ("geolocation", "geoloc", "geolocation"),
                ("pathogen", "pathogen", "pathogen"),
                ("symptom", "disease", "symptom"))


def _walk(children: dict[str, set], anchor: str) -> set[str]:
    """The anchor and every node with a child-to-parent path to it: the
    `isa*0..` reach of queries.query_graph's closure join, walked over a
    child adjacency (parent -> {child}) instead of a closure table."""
    seen, todo = {anchor}, [anchor]
    while todo:
        for child in children.get(todo.pop(), ()):
            if child not in seen:
                seen.add(child)
                todo.append(child)
    return seen


def _index_labels(node_type: str, curie: str) -> list[str]:
    """The autocomplete labels whose queries.autocomplete node filter
    admits a node of this type and curie."""
    out = [] if node_type in _GEOLOC_LABELS else [node_type]
    if node_type == "geoloc":
        out.append("geoloc_indicators")
        if curie.startswith("MESH"):
            out.append("geoloc_alerts")
    return out


def prefix_index(node_rows, gaz_rows) -> dict[str, tuple[list, list]]:
    """Per-label autocomplete index: label -> (keys, rows), rows sorted
    (lower(matched), curie) and keys their first field, so a prefix's
    answers are one contiguous run found by bisect.

    The rows are exactly what queries.autocomplete ranks before its limit:
    each node's name plus every gazetteer synonym of its curie, deduped
    per (curie, lower(matched)) with the name row winning over synonyms,
    then the smallest surface. ``node_rows`` are (curie, name, node_type,
    lower(name)) and ``gaz_rows`` carry (ns, id, synonym, lower(synonym));
    the lower-cased keys come from Spark's ``lower``, so the index matches
    the Spark operator on every surface, not only where Python's
    str.lower agrees with it. Python compares str by code point, which is
    the UTF-8 binary order Spark sorts by. Rows of type 'alert' (corpus-
    sized) are skipped: that label stays on queries.autocomplete."""
    syns: dict[str, list] = {}
    for r in gaz_rows:
        if r["synonym"] is not None:
            curie = ":".join(p for p in (r["ns"], r["id"]) if p is not None)
            syns.setdefault(curie, []).append(
                (r["synonym_lower"], 1, r["synonym"]))
    # label -> {(curie, lower(matched)): (priority, matched, name)}
    best: dict[str, dict] = {}
    for curie, name, node_type, name_lower in node_rows:
        if node_type is None or node_type == "alert":
            continue
        cands = syns.get(curie, [])
        if name is not None:
            cands = [(name_lower, 0, name), *cands]
        for label in _index_labels(node_type, curie):
            seen = best.setdefault(label, {})
            for low, pri, matched in cands:
                cur = seen.get((curie, low))
                if cur is None or (pri, matched) < cur[:2]:
                    seen[(curie, low)] = (pri, matched, name)
    index = {}
    for label, seen in best.items():
        rows = sorted((low, curie, matched, name) for (curie, low),
                      (_pri, matched, name) in seen.items())
        index[label] = ([r[0] for r in rows], rows)
    return index


class KgApi:
    """Holds the at-rest KG DataFrames + driver-side lookup state (the
    reference builds the same things at import time: custom grounder
    kg/client.py:365, pair scores kg/realism_score.py:98-99, tries
    kg/get_lookups.py:100-105).

    Driver-side state, all dimension-sized (vocabulary, not corpus):
      _trie          grounding trie compiled from the whole gazetteer
                     (get_curie, text_relations)
      _mesh_types    MeSH id -> node_type of every MESH node
      _prefix_index  per-label sorted autocomplete rows (prefix_index):
                     one row per (node, distinct lower-cased surface) over
                     the non-alert nodes, the same size class as _trie
      _types, _names curie -> {node_type} / {name} of the same nodes
                     (curies are not assumed unique)
      _desc, _anc    the closure stage as ancestor -> {node} and
                     node -> {ancestor} (search, get_indicators)
      _sym_children  parent -> {child} over the isa|has_phenotype edges,
                     walked per symptom anchor (_walk)
    The closure maps and the adjacency are vocabulary x depth, the same
    size class as _trie. Each is read once here, by a collect; opening
    KgApi runs no closure job. Requests push these sets into the at-rest
    edge scan as literal IN lists. The corpus-sized tables (alert nodes,
    edges, pair scores) stay DataFrames and are queried in-plan per
    request."""

    def __init__(self, spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                 closure: DataFrame, gazetteer: DataFrame,
                 extracted: DataFrame | None = None,
                 pattern_triples: DataFrame | None = None):
        self.spark = spark
        self.nodes = nodes
        self.edges = edges
        self.closure = closure
        self.gazetteer = gazetteer
        self.extracted = extracted
        self.pattern_triples = pattern_triples
        # materialized pair-score table (kg/realism_score.py builds this as
        # a driver dict at import — a driver OOM at corpus scale, where the
        # observed co-mention pair table is millions-to-billions of rows).
        # Kept as a DataFrame: text_relations filters it by each query's
        # MeSH ids in-plan and never collects the table. In production
        # this is a catalog table written once by the build; here it is
        # the same plan, persisted for request reuse.
        self._pair_score_df = queries.pair_score_table(edges).persist()
        # one collect feeds _mesh_types, the node maps and the prefix
        # index: the vocabulary nodes, plus any MESH node typed 'alert'
        # (_mesh_types covers every MESH node)
        node_rows = nodes.filter(
            ~F.col("node_type").eqNullSafe("alert")
            | F.col("curie").startswith("MESH:")
        ).select("curie", "name", "node_type",
                 F.lower("name").alias("name_lower")).collect()
        self._mesh_types = {
            r.curie[5:]: r.node_type
            for r in node_rows if r.curie.startswith("MESH:")
        }
        self._types: dict[str, set] = {}
        self._names: dict[str, set] = {}
        for r in node_rows:
            self._types.setdefault(r.curie, set()).add(r.node_type)
            self._names.setdefault(r.curie, set()).add(r.name)
        self._desc: dict[str, set] = {}
        self._anc: dict[str, set] = {}
        for node, anc in closure.select("node", "ancestor").collect():
            self._desc.setdefault(anc, set()).add(node)
            self._anc.setdefault(node, set()).add(anc)
        self._sym_children: dict[str, set] = {}
        for child, parent in edges.filter(
            F.col("pred").isin("isa", "has_phenotype")
            & F.col("subj").isNotNull() & F.col("obj").isNotNull()
        ).select("subj", "obj").collect():
            self._sym_children.setdefault(parent, set()).add(child)
        rows = [r.asDict() for r in gazetteer.select(
            "ns", "id", "entry_name", "synonym",
            F.lower("synonym").alias("synonym_lower")).collect()]
        self._trie = ground.compile_gazetteer(rows)
        self._prefix_index = prefix_index(node_rows, rows)

    # -- name -> curie (kg/client.py:367-378) --------------------------------
    def get_curie(self, name: str) -> str | None:
        if ":" in name:
            return name
        hits = ground.scan_text(name, self._trie)
        full = [h for h in hits if h[1] == 0 and h[2] == len(name)]
        if not full:
            # exact normalized-name lookup fallback against the CACHED
            # trie — re-collecting and recompiling the full gazetteer per
            # request (ground_names) costs seconds of driver work on
            # every miss
            return ground.ground_name_in_trie(self._trie, name)
        _s, _a, _b, ns, id_, _n = full[0]
        return f"{ns}:{id_}"

    # -- /v1/alerts -----------------------------------------------------------
    def search(self, disease=None, geolocation=None, pathogen=None,
               timestamp=None, symptom=None, limit=None) -> list[dict]:
        """queries.query_graph's rows (same columns, same order), with each
        constraint's `-[:mentions]->(x:TYPE)-[:isa*0..]->(anchor)` set
        resolved on the driver: reach(anchor) from the closure maps (the
        isa|has_phenotype walk for a symptom) intersected with the curies
        of that node type. One aggregate over the subj-bucketed mentions
        then keeps the alerts that mention a member of every set. A
        constraint whose set is empty answers [] without a Spark job;
        calls without a typed constraint run queries.query_graph."""
        limit = int(limit) if limit is not None and limit != "" else None
        if limit is not None and limit < 0:
            raise ValueError(f"limit must be >= 0, got {limit}")
        args = {"disease": disease, "geolocation": geolocation,
                "pathogen": pathogen, "symptom": symptom}
        cons = []  # (output prefix, anchor curie, allowed curies)
        for arg, ntype, prefix in _CONSTRAINTS:
            if args[arg] is None:
                continue
            curie = self.get_curie(args[arg])
            if curie is None:
                return []  # ungroundable name (kg/client.py:136-137)
            reach = (_walk(self._sym_children, curie) if arg == "symptom"
                     else self._desc.get(curie, ()))
            allowed = sorted(c for c in reach
                             if ntype in self._types.get(c, ()))
            if not allowed:
                return []  # the inner join of queries.query_graph is empty
            cons.append((prefix, curie, allowed))
        if not cons:
            res = queries.query_graph(self.nodes, self.edges, self.closure,
                                      timestamp=timestamp, limit=limit)
            return [r.asDict() for r in res.collect()]
        obj = F.col("obj")
        per_alert = (
            self.edges.filter((F.col("pred") == "mentions")
                              & obj.isin(sorted({c for _p, _a, allowed in cons
                                                 for c in allowed})))
            .groupBy(F.col("subj").alias("alert_curie"))
            .agg(*(F.collect_set(F.when(obj.isin(allowed), obj)).alias(prefix)
                   for prefix, _a, allowed in cons))
        )
        cols = []
        for prefix, anchor, _s in cons:  # an empty set explodes to no row
            per_alert = per_alert.withColumn(prefix, F.explode(prefix))
            cols += [prefix, F.lit(anchor).alias(f"{prefix}_isa")]
        alerts = self.nodes.filter(F.col("node_type") == "alert").select(
            F.col("curie").alias("alert_curie"),
            F.col("name").alias("alert_name"),
            F.col("timestamp").alias("alert_timestamp"),
        )
        if timestamp is not None:
            alerts = alerts.filter(F.col("alert_timestamp") == timestamp)
        res = alerts.join(per_alert, "alert_curie").select(
            "alert_curie", "alert_name", "alert_timestamp", *cols
        ).dropDuplicates()
        if limit is not None:
            res = res.limit(limit)
        return [r.asDict() for r in res.collect()]

    # -- /v1/indicators -------------------------------------------------------
    def get_indicators(self, geolocation: str,
                       indicator_filter: str = "") -> list[dict]:
        """queries.query_indicators' rows: the anchor's closure neighbours
        (descendants and ancestors) and the names come from the driver
        maps (has_indicator links geoloc and indicator nodes, which the
        vocabulary collect holds), so one has_indicator scan with
        `subj IN related` is the only Spark job; the (indicator, geo)
        dedup and the name filter run on the collected rows."""
        curie = self.get_curie(geolocation)
        if curie is None:
            return []
        related = self._desc.get(curie, set()) | self._anc.get(curie, set())
        if not related:
            return []
        rows = self.edges.filter(
            (F.col("pred") == "has_indicator")
            & F.col("subj").isin(sorted(related))
        ).select("subj", "obj", "years_data").collect()
        out = {}
        for geo, ind, years in rows:
            for ind_name in self._names.get(ind, ()):
                if indicator_filter and (ind_name is None
                                         or indicator_filter not in ind_name):
                    continue
                for geo_name in self._names.get(geo, ()):
                    out.setdefault((ind, geo), {
                        "indicator_curie": ind, "indicator_name": ind_name,
                        "geo_curie": geo, "geo_name": geo_name,
                        "years_data": dict(years) if years else {},
                    })
        return list(out.values())

    # -- /v1/text_relations (kg/client.py:195-283) ----------------------------
    def text_relations(self, text: str, top_n: int = 500) -> dict:
        hits = ground.scan_text(text, self._trie)
        types = {}
        annotations = []
        for (surf, _s, _e, ns, id_, name) in hits:
            curie = f"{ns}:{id_}"
            types[curie] = self._mesh_types.get(id_, "other")
            annotations.append(
                {"text": surf, "name": name, "curie": curie,
                 "type": types[curie]}
            )
        curies = sorted({a["curie"] for a in annotations})
        direct = [r.asDict() for r in
                  queries.direct_relations(self.edges, curies).collect()]
        alerts = [r.asDict() for r in
                  queries.co_mention_alerts(self.edges, curies, top_n).collect()]
        mesh_ids = [c[5:] for c in curies if c.startswith("MESH:")]
        scores, score_sum, cls = queries.cooccurrence_scores_df(
            self._pair_score_df, self._mesh_types, mesh_ids
        )
        return {
            "annotations": annotations,
            "direct": direct,
            "alerts": alerts,
            "realism_score": {
                "scores": [[a, b, s] for (a, b), s in scores.items()],
                "score_sum": score_sum,
                "classification": cls,
            },
        }

    # -- /v1/find_literature ---------------------------------------------------
    def find_literature(self, mesh_pmids: DataFrame, mesh_ids: list[str],
                        limit: int = 20, include_meta: bool = False,
                        meta_fetcher=None) -> list[dict] | dict:
        """The reference endpoint returns PubMed METADATA for the top PMIDs
        (kg/client.py:310-314: get_pvalues -> get_pubmed_meta -> jsonify),
        not the p-value rows. include_meta=True reproduces that output shape
        through the get_pubmed_meta seam; the default keeps the analytic rows
        (strictly more information, same ordering)."""
        ids = [m[5:] if m.startswith("MESH:") else m for m in mesh_ids]
        types = self.spark.createDataFrame(
            [{"mesh_id": k, "node_type": v} for k, v in self._mesh_types.items()]
            or [{"mesh_id": "", "node_type": ""}]
        )
        res = queries.literature_pvalues(mesh_pmids, types, ids, limit=limit)
        rows = [r.asDict() for r in res.collect()]
        if include_meta:
            return get_pubmed_meta(rows, limit=limit, fetcher=meta_fetcher)
        return rows

    # -- cue-rule triples -------------------------------------------------------
    def get_triples(self, subj=None, pred=None, obj=None,
                    limit: int = 100) -> list[dict]:
        """Cue-rule triples (extension route, no reference analog): filter
        the at-rest pattern_triples table by any of subj/pred/obj, return
        up to `limit` rows ordered (subj, pred, obj, doc_id) for a stable
        page. Name arguments ground through the same trie as /v1/alerts.
        All predicates push down to the parquet scan; the collect is
        limit-bounded."""
        if self.pattern_triples is None:
            return []
        df = self.pattern_triples
        for col, val in (("subj", subj), ("pred", pred), ("obj", obj)):
            if val:
                if col != "pred":
                    val = self.get_curie(val) or val
                df = df.filter(F.col(col) == val)
        rows = (
            df.orderBy("subj", "pred", "obj", "doc_id")
            .limit(max(0, limit)).collect()
        )
        return [r.asDict() for r in rows]

    # -- /autocomplete/* --------------------------------------------------------
    def autocomplete(self, label: str, prefix: str, top_n: int = 100) -> list:
        """Up to min(top_n, 100) case-insensitive prefix matches over node
        names and synonyms, ordered (lower(matched), curie) — the answer
        of queries.autocomplete. Vocabulary labels are answered from the
        driver-side prefix index with no Spark job, as the reference
        answers from its per-label tries; the corpus-sized 'alert' label
        runs the Spark operator. An unknown label answers []."""
        if top_n < 0:
            raise ValueError(f"top_n must be >= 0, got {top_n}")
        # reference tuple shape (get_lookups.py:25-30,46-49):
        # (matched surface — the synonym, canonical name, curie, definition)
        if label == "alert":
            res = queries.autocomplete(self.nodes, label, prefix, top_n,
                                       gazetteer=self.gazetteer)
            return [[r.matched, r.name, r.curie, ""] for r in res.collect()]
        if ":" in prefix:  # autocomplete_blueprint.py:16-17
            return []
        keys, rows = self._prefix_index.get(label, ((), ()))
        p = prefix.lower()
        i = bisect_left(keys, p)
        out = []
        n = min(top_n, AUTOCOMPLETE_CAP)
        for key, curie, matched, name in rows[i:i + n]:
            if not key.startswith(p):
                break
            out.append([matched, name, curie, ""])
        return out

    # -- /v1/alerts/<id> ---------------------------------------------------------
    def get_alert_text(self, alert_id: str) -> str | None:
        if self.extracted is None:
            return None
        row = (
            self.extracted.filter(F.col("archive_number") == alert_id)
            .select("extracted_text")
            .first()
        )
        return row.extracted_text if row else None
