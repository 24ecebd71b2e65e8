"""End-to-end pages -> KG pipeline with checkpointed stage boundaries.

Stage graph (SURVEY.md §3.1 Spark lifecycle):

  pages ──> extracted ──> alerts(dedup) ──┬─> terms
     │  (ONE Arrow pass: extraction, NER  └─> pattern_triples (cue_triples)
     │   terms and sentence mention groups)
     └─(lineage row per part-file at every boundary; each stage resumable)
  terms ──┬─> alert_nodes + mention_edges
          ├─> cooccurrence nodes/edges (salted)
  vocab ──┼─> closure, hierarchy nodes/edges
  side inputs ─> pathogen/phenotype/indicator/geoname builders
  all ──> finalize (dedup nodes, drop dangling edges) ──> nodes/, edges/

Edges are written partitioned by ``pred`` (partition pruning for the query
layer, which always filters on predicate first) — SURVEY.md §4.4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import builders, closure as closure_mod, extract, ground, triples
from .lineage import run_stage
from .wdi_constants import wb_location_map_df


def build_kg(
    spark: SparkSession,
    root: str,
    pages: DataFrame,
    gazetteer: DataFrame,
    vocab_isa: DataFrame,
    outbreaks: DataFrame,
    pathogen_rels: DataFrame | None = None,
    xref: DataFrame | None = None,
    phenotype_rels: DataFrame | None = None,
    indicators_dev: DataFrame | None = None,
    indicators_health: DataFrame | None = None,
    geoname_terms: DataFrame | None = None,
    geoname_partof: DataFrame | None = None,
    geoname_grounding: DataFrame | None = None,
    location_map: DataFrame | None = None,
    force: bool = False,
    edge_buckets: int | None = 8,
    cue_triples: bool = False,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns the at-rest DataFrames.

    Extraction and NER run ONCE, in the ``extracted`` stage: one Arrow
    pass (ground.make_extract_ner_udf) adds each page's distinct terms
    (after NER_EXCLUDE_TOKENS) and its per-sentence mention groups to the
    extracted columns. ``terms`` explodes the deduplicated ``alerts`` and
    ``pattern_triples`` (cue_triples=True) runs the cue rules over their
    groups — no mentions stage, no second Arrow hop, no text join. The
    groups are always written, so a resume may turn cue_triples on over a
    committed ``extracted`` stage. ``out["mentions"]`` is None.

    edge_buckets: the at-rest edges are persisted hash-BUCKETED by subj
    (every query-layer constraint join and co-mention self-join keys on the
    alert id), so those joins read pre-distributed data and plan with ZERO
    exchange on the scan side (plan-asserted in tests/test_pipeline_resume
    .py). Pred partitioning is kept on top for predicate pruning. Size
    buckets so one bucket ≈ one task's memory (e.g. 4096 on a
    1000-executor cluster). None = plain parquet.
    """
    tdim = ground.type_dim(gazetteer)

    extracted = run_stage(
        spark, root, "extracted",
        # the UDF build (driver-side gazetteer collect + trie compile) is
        # inside the stage lambda so a resume over a committed stage never
        # pays it — run_stage only calls the builder on a cache miss
        lambda: extract.extract_pages(pages, ground.make_extract_ner_udf(
            spark, gazetteer, pages=True, terms=True, groups=True,
            exclude_tokens=ground.NER_EXCLUDE_TOKENS)),
        force=force,
    )
    alerts = run_stage(
        spark, root, "alerts",
        lambda: extract.dedup_alerts(extracted), force=force,
    )
    doc_alerts = alerts.select(
        F.col("archive_number").alias("doc_id"), "terms", "groups")
    terms = run_stage(
        spark, root, "terms",
        # distinct per doc already: the UDF dedups each page's terms and
        # alerts holds one row per archive number
        lambda: doc_alerts.select(
            "doc_id", F.explode("terms").alias("t")
        ).select("doc_id", "t.ns", "t.id", "t.entry_name"),
        force=force,
    )
    closure = run_stage(
        spark, root, "closure",
        # closure_with_roots, NOT bare transitive_closure: most vocabulary
        # terms appear in no isa edge (reference: 10k MeSH isa edges vs
        # ~32k MeSH terms), and `isa*0..` must match such an anchor itself
        # — without its depth-0 self-row every query anchored on it would
        # silently return empty where the reference returns the direct
        # mentions (kg/client.py:138-166).
        lambda: closure_mod.closure_with_roots(
            vocab_isa,
            gazetteer.select(
                F.concat_ws(":", "ns", "id").alias("curie")
            ),
            child_col="child_curie", parent_col="parent_curie",
        ),
        force=force,
    )

    node_parts: list[DataFrame] = []
    edge_parts: list[DataFrame] = []

    def add(n_e):
        n, e = n_e
        node_parts.append(n)
        edge_parts.append(e)

    add(builders.build_outbreaks(outbreaks))
    add(builders.build_alert_nodes_and_mentions(
        terms, outbreaks, tdim,
        alert_ids=alerts.select(F.col("archive_number").alias("doc_id")),
    ))
    add(builders.build_cooccurrence(terms, tdim))
    # built ONCE: the hierarchy nodes also serve the indicator and geoname
    # builders below (rebuilding re-runs the gazetteer/type-dim joins)
    vocab_nodes, vocab_edges = builders.build_vocab_hierarchy(
        gazetteer, vocab_isa, tdim
    )
    add((vocab_nodes, vocab_edges))
    if pathogen_rels is not None and xref is not None:
        edge_parts.append(builders.build_pathogen_disease(pathogen_rels, xref))
    if phenotype_rels is not None:
        edge_parts.append(builders.build_disease_phenotype(phenotype_rels))
    if indicators_dev is not None and indicators_health is not None:
        add(builders.build_indicators(
            indicators_dev, indicators_health, vocab_nodes,
            location_map if location_map is not None
            else wb_location_map_df(spark),
        ))
    if geoname_terms is not None and geoname_partof is not None \
            and geoname_grounding is not None:
        add(builders.build_geonames(
            geoname_terms, geoname_partof, vocab_nodes, geoname_grounding,
        ))

    def _finalize():
        nodes = node_parts[0]
        for p in node_parts[1:]:
            nodes = nodes.unionByName(p)
        edges = edge_parts[0]
        for p in edge_parts[1:]:
            edges = edges.unionByName(p)
        n, e = builders.finalize_graph(nodes, edges)
        return n, e

    # persist the finalized nodes: the edges stage's dangling-edge drop
    # semi-joins against this same relation, so caching it stops the
    # second stage write from re-executing every upstream builder join
    # (the co-occurrence count included — previously both stage writes
    # re-ran the whole DAG). persist() is lazy: on a resume where both
    # stages are committed, neither build closure runs and nothing is
    # materialized.
    fin_nodes, fin_edges = _finalize()
    fin_nodes = fin_nodes.persist()
    nodes = run_stage(
        spark, root, "nodes", lambda: fin_nodes, force=force,
    )
    edges = run_stage(
        spark, root, "edges", lambda: fin_edges,
        partition_by=["pred"], force=force,
        bucket_by=("subj", edge_buckets) if edge_buckets else None,
    )
    fin_nodes.unpersist()

    pattern = None
    if cue_triples:
        pattern = run_stage(
            spark, root, "pattern_triples",
            lambda: triples.triples_from_sentence_groups(
                triples.explode_groups(doc_alerts)),
            force=force,
        )

    return {
        "extracted": extracted,
        "alerts": alerts,
        "mentions": None,
        "terms": terms,
        "closure": closure,
        "nodes": nodes,
        "edges": edges,
        "pattern_triples": pattern,
    }


def symptom_closure(edges: DataFrame,
                    nodes: DataFrame | None = None) -> DataFrame:
    """Closure over the union of isa and has_phenotype predicates — the
    `[:has_phenotype|isa*0..]` mixed path (kg/client.py:171-177, J8).

    Pass the KG nodes to also get depth-0 self-rows for nodes that appear
    in NO isa/has_phenotype edge — `*0..` must match such an anchor
    itself (same root-row issue as the main closure stage)."""
    rel = edges.filter(F.col("pred").isin("isa", "has_phenotype")).select(
        "subj", "obj"
    )
    if nodes is None:
        return closure_mod.transitive_closure(rel, "subj", "obj")
    return closure_mod.closure_with_roots(
        rel, nodes.select("curie"), child_col="subj", parent_col="obj"
    )
