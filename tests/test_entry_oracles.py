"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row counts, column names, pandas dtype classes, and
order-insensitive canonicalized values.

Both sides are compared as PANDAS frames — the driver hashes pandas frames,
so this is the faithful contract: null timestamps render NaT on both sides,
DuckDB HUGEINT surfacing as float64 fails the dtype-class check (the
round-3 postmortem), and each entry's Spark plan and oracle SQL execute
exactly ONCE per suite run (value + dtype asserts share the frames).

Runs at sf0.001 for speed (the driver uses sf0.01)."""

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(v):
    # sequences/maps first: pd.isna / float checks raise or misfire on them
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return ("{"
                + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items()))
                + "}")
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return f"{f:.10g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)  # strings, timestamps (both sides pandas), None, NaT


def _rowset(df: "pd.DataFrame"):
    cols = sorted(df.columns)
    return sorted(
        "\x00".join(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def _dtype_class(dtype) -> str:
    """Collapse a pandas dtype to the class the driver's value-hash is
    sensitive to: int-vs-float is the one that bit us in round 3 (DuckDB
    HUGEINT -> float64 renders 123.0 where Spark renders 123)."""
    k = getattr(dtype, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "ts"
    return "obj"


from outbreak_kg_spark import entry_queries as _eq

# driver window (first 50 = all of queries()) PLUS the extras — identical
# contract for both
_ALL_Q = {**entry_mod.queries(), **_eq.extra_queries()}
_ALL_SQL = {**entry_mod.oracle_sql(), **_eq.extra_oracle_sql()}
NAMES = sorted(_ALL_Q.keys())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = _ALL_Q[name]
    sdf = q(spark, SF_DIR)
    spdf = sdf.toPandas()
    odf = ddb.sql(_ALL_SQL[name]).df()
    assert sorted(spdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch"
    )
    assert len(spdf) == len(odf), (
        f"{name}: row count {len(spdf)} vs oracle {len(odf)}"
    )
    # dtype-class parity (driver-faithful: the hash is over pandas frames).
    # A column that is all-NULL on one side legitimately degrades to
    # float64/object in pandas; only flag mismatches on non-empty data.
    mism = [
        (c, _dtype_class(spdf[c].dtype), _dtype_class(odf[c].dtype))
        for c in spdf.columns
        if _dtype_class(spdf[c].dtype) != _dtype_class(odf[c].dtype)
        and not (spdf[c].isna().all() or odf[c].isna().all())
    ]
    assert not mism, f"{name}: dtype class mismatch (spark vs oracle): {mism}"
    a, b = _rowset(spdf), _rowset(odf)
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
    assert a == b, f"{name}: value mismatch, e.g. {[(a[i], b[i]) for i in bad]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "alert_curie", "disease", "disease_isa", "geolocation", "geolocation_isa"
    ]


def test_every_entry_has_an_oracle():
    """The registry gives every row an oracle; this pins that the driver
    surface (__spark_entry__) serves one for exactly the queries it serves."""
    assert list(entry_mod.oracle_sql()) == list(entry_mod.queries())
