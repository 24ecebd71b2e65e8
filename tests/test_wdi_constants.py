"""The shipped World-Bank -> MeSH location map (round-1 gap #3): exact
parity with the reference constant and end-to-end effect in
build_indicators (differently-spelled countries are kept, not dropped)."""

import os

import pytest
from pyspark.sql import functions as F

from outbreak_kg_spark.builders import build_indicators
from outbreak_kg_spark.wdi_constants import (
    LOCATION_MESH_MAPPING,
    wb_location_map_df,
)


REF_CONSTANTS = "/root/reference/kg/constants.py"


@pytest.mark.skipif(not os.path.exists(REF_CONSTANTS),
                    reason="reference artifacts not present")
def test_map_matches_reference_constant():
    """Verbatim-as-data parity with kg/constants.py:3-44."""
    ref_ns: dict = {}
    with open(REF_CONSTANTS) as fh:
        exec(fh.read(), ref_ns)
    assert dict(LOCATION_MESH_MAPPING) == ref_ns["LOCATION_MESH_MAPPING"]


def test_build_indicators_keeps_wb_spellings(spark):
    """A WDI row spelled 'Viet Nam' / 'Korea, Rep.' must reach the MeSH
    geoloc node named 'Vietnam' / 'Republic of Korea'; an unmapped spelling
    with no matching node is dropped (reference inner-join semantics)."""
    cols = ["Country Name", "Series Code", "Series Name", "2019 [YR2019]"]
    health = spark.createDataFrame(
        [("Viet Nam", "SH.XPD", "Health expenditure", "1.5"),
         ("Korea, Rep.", "SH.XPD", "Health expenditure", "2.5"),
         ("Atlantis", "SH.XPD", "Health expenditure", "9.9")],
        cols,
    )
    dev = spark.createDataFrame([], ", ".join(f"`{c}` string" for c in cols))
    mesh_nodes = spark.createDataFrame(
        [("MESH:D014744", "Vietnam", ["geoloc", "entity"], "geoloc", None),
         ("MESH:D007723", "Republic of Korea", ["geoloc", "entity"],
          "geoloc", None)],
        "curie string, name string, labels array<string>, node_type string, "
        "timestamp string",
    )
    _nodes, edges = build_indicators(
        dev, health, mesh_nodes, wb_location_map_df(spark)
    )
    got = {(r.subj, r.obj): r.years_data for r in edges.collect()}
    assert ("MESH:D014744", "wdi:SH.XPD") in got
    assert ("MESH:D007723", "wdi:SH.XPD") in got
    assert got[("MESH:D014744", "wdi:SH.XPD")] == {"2019": 1.5}
    assert len(got) == 2  # Atlantis dropped


def test_pipeline_default_is_the_wb_map(spark):
    """build_kg's default location_map is the shipped constant, not empty."""
    import inspect

    from outbreak_kg_spark import pipeline

    src = inspect.getsource(pipeline.build_kg)
    assert "wb_location_map_df" in src
    assert wb_location_map_df(spark).count() == len(LOCATION_MESH_MAPPING)


def test_build_indicators_tolerates_duplicate_year_rows(spark):
    """A repeated (country, series) source row must not abort the build
    with DUPLICATED_MAP_KEY (Spark's default map policy); the last entry
    of the sorted (year, value) run wins — the reference's per-row dict
    build was last-wins too (kg/build.py:288-296)."""
    cols = ["Country Name", "Series Code", "Series Name", "2019 [YR2019]"]
    health = spark.createDataFrame(
        [("Viet Nam", "SH.XPD", "Health expenditure", "1.5"),
         ("Viet Nam", "SH.XPD", "Health expenditure", "2.0")],
        cols,
    )
    dev = spark.createDataFrame([], ", ".join(f"`{c}` string" for c in cols))
    mesh_nodes = spark.createDataFrame(
        [("MESH:D014744", "Vietnam", ["geoloc", "entity"], "geoloc", None)],
        "curie string, name string, labels array<string>, node_type string, "
        "timestamp string",
    )
    _nodes, edges = build_indicators(
        dev, health, mesh_nodes, wb_location_map_df(spark)
    )
    got = [r.years_data for r in edges.collect()]
    assert got and all(y["2019"] == 2.0 for y in got)


def test_duplicate_year_last_wins_from_csv_file(spark, tmp_path):
    """File-source variant of the duplicate-(country,series,year) dedup:
    the ordinal must come from the _metadata column (file path + block
    offset + in-split counter), because monotonically_increasing_id's
    partition high bits do NOT follow file order on multi-split reads.
    The LAST row of the file wins, like the reference's dict overwrite."""
    cols = ["Country Name", "Series Code", "Series Name", "2019 [YR2019]"]
    p = tmp_path / "health.csv"
    p.write_text(
        '"Country Name","Series Code","Series Name","2019 [YR2019]"\n'
        '"Viet Nam","SH.XPD","Health expenditure","9.9"\n'
        '"Viet Nam","SH.XPD","Health expenditure","2.0"\n'
    )
    health = spark.read.option("header", True).csv(str(p))
    dev = spark.createDataFrame([], ", ".join(f"`{c}` string" for c in cols))
    mesh_nodes = spark.createDataFrame(
        [("MESH:D014744", "Vietnam", ["geoloc", "entity"], "geoloc", None)],
        "curie string, name string, labels array<string>, node_type string, "
        "timestamp string",
    )
    _nodes, edges = build_indicators(
        dev, health, mesh_nodes, wb_location_map_df(spark)
    )
    got = [r.years_data for r in edges.collect()]
    assert got and all(y["2019"] == 2.0 for y in got)


def test_file_order_ordinal_follows_file_rows(spark, tmp_path):
    """_file_order_ordinal sorts file-source rows by (path, block, row)
    and falls back to monotonically_increasing_id for in-memory frames."""
    from outbreak_kg_spark.builders import _file_order_ordinal

    a = tmp_path / "a.csv"
    a.write_text("v\n" + "\n".join(f"r{i}" for i in range(50)) + "\n")
    df = spark.read.option("header", True).csv(str(a))
    ordered = [
        r.v for r in df.withColumn("_ord", _file_order_ordinal(df))
        .orderBy("_ord").collect()
    ]
    assert ordered == [f"r{i}" for i in range(50)]

    mem = spark.createDataFrame([(i,) for i in range(10)], "v int")
    assert mem.withColumn("_ord", _file_order_ordinal(mem)).count() == 10
