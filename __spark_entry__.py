"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship KG query end-to-end on sf0.001 — page-ify the
documents table, extract (byte-exact state machine UDF), gazetteer-ground
with a broadcast trie, build mention edges, answer the conjunctive
query_graph through a closure table.

queries()/oracle_sql(): one entry per implemented operator family from
SURVEY.md §2 plus the training-data operators (dedup/similarity/text);
rows live in the outbreak_kg_spark.entry_queries registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from outbreak_kg_spark import entry_kg, entry_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return entry_kg.q_kg_query_graph(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return entry_queries.all_queries()


def oracle_sql() -> dict[str, str]:
    return entry_queries.all_oracle_sql()
