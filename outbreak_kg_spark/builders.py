"""KG assembly builders (SURVEY.md §2.5-2.6) — the engine's equivalents of
the reference's eight ``assemble_*`` jobs (kg/build.py:409-416), each a pure
DataFrame -> DataFrame function Catalyst plans end to end.

Output model: ``nodes(curie, name, labels, node_type, timestamp)`` and
``edges(subj, pred, obj, count, years_data, provenance)`` (schemas.py).
Dimension inputs (type dim, location map, xref, mesh node set) are always on
the broadcast side; fact-side shuffles are keyed on doc/alert ids (uniform)
or salted (hot entity pairs).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import DoubleType

from .ground import BUILD_EXCLUDE_NAMES
from .skew import grouped_pair_counts


@F.pandas_udf(DoubleType())  # DataType instance: no session needed at import
def _python_round3(v):
    """Exact CPython round(x, 3) — correctly-rounded decimal conversion of
    the BINARY double, which no built-in Spark rounding reproduces (see
    build_indicators). Arrow-batched; applied only to dimension-sized
    indicator tables."""
    return v.map(lambda x: None if x is None else round(x, 3))

def _file_order_ordinal(df: DataFrame):
    """Orderable struct that follows INPUT-FILE row order for file-based
    sources. monotonically_increasing_id alone is NOT file order on
    multi-split reads: Spark packs splits into partitions by size
    (descending), so the partition-index high bits can invert two splits
    of one file. The hidden ``_metadata`` column fixes the split:
    (file_path, file_block_start) orders splits by file then byte offset,
    and the id's low 33 bits (the per-partition record counter) increase
    in row order WITHIN a split — cross-split counter values never
    compare because the block-start field differs first. In-memory frames
    (createDataFrame — no _metadata) fall back to the raw id, which does
    follow element order there (parallelize assigns partition indexes in
    sequence)."""
    ctr = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    try:
        # cheap pre-gate: in-memory frames (createDataFrame) have no input
        # files at all — skip the probe entirely so the analyzer doesn't
        # log its (caught) UNRESOLVED_COLUMN as an ERROR on every synth run
        if not df.inputFiles():
            raise ValueError("no file inputs")
        # analysis-time availability probe (metadata cols are hidden —
        # absent from df.schema, resolvable only against a file relation)
        df.select(F.col("_metadata.file_path"),
                  F.col("_metadata.file_block_start"))
        return F.struct(
            F.col("_metadata.file_path").alias("f"),
            F.col("_metadata.file_block_start").alias("b"),
            ctr.alias("i"),
        )
    except (ValueError, AnalysisException):  # not a file source
        return F.struct(
            F.lit("").alias("f"),
            F.lit(0).cast("long").alias("b"),
            F.monotonically_increasing_id().alias("i"),
        )


# Typed-pair patterns that make a co-mention "interesting" (kg/build.py:
# 64-68) — the reference's relation-extraction rule (SURVEY.md A4).
INTERESTING_TYPE_PAIRS = [
    ("geoloc", "pathogen"),
    ("disease", "pathogen"),
    ("geoloc", "disease"),
]

def _empty_edge_extras():
    # built lazily: Column construction requires an active SparkSession
    return [
        F.lit(None).cast("long").alias("count"),
        F.lit(None).cast("map<string,double>").alias("years_data"),
    ]


def _node(curie, name, node_type, timestamp=None, entity=True):
    labels = (
        F.array(node_type, F.lit("entity")) if entity else F.array(node_type)
    )
    return [
        curie.alias("curie"),
        name.alias("name"),
        labels.alias("labels"),
        node_type.alias("node_type"),
        (timestamp if timestamp is not None else F.lit(None).cast("string")).alias(
            "timestamp"
        ),
    ]


def clean_outbreaks(outbreaks: DataFrame) -> DataFrame:
    """Strip embedded quotes from archiveNumber (kg/build.py:48-49)."""
    return outbreaks.withColumn(
        "archiveNumber", F.regexp_replace(F.col("archiveNumber").cast("string"), '"', "")
    )


def build_outbreaks(outbreaks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Outbreak nodes + alert->outbreak edges (kg/build.py:136-156).

    Node dedup by outbreak id (reference keeps the first-seen name,
    :139-145; we take min(name) for a deterministic distributed answer).
    """
    ob = clean_outbreaks(outbreaks)
    nodes = (
        ob.groupBy("ID")
        .agg(F.min("outbreakName").alias("name"))
        .select(
            *_node(
                F.concat(F.lit("outbreak:"), F.col("ID").cast("string")),
                F.col("name"),
                F.lit("outbreak"),
                entity=False,
            )
        )
    )
    edges = (
        ob.select(
            F.concat(F.lit("promed:"), "archiveNumber").alias("subj"),
            F.lit("has_outbreak").alias("pred"),
            F.concat(F.lit("outbreak:"), F.col("ID").cast("string")).alias("obj"),
            *_empty_edge_extras(),
            F.lit("outbreaks").alias("provenance"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
    return nodes, edges


def build_alert_nodes_and_mentions(
    terms: DataFrame,
    outbreaks: DataFrame,
    type_dim: DataFrame,
    exclude_names: set = BUILD_EXCLUDE_NAMES,
    alert_ids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Alert nodes + mentions edges (kg/build.py:159-186).

    terms: (doc_id, ns, id, entry_name) distinct per doc (build_kg's terms
    stage). alert_ids: one doc_id per valid alert — the reference emits a
    node for EVERY alert in terms_by_alert, including alerts with zero
    extractions
    (:164-172); defaults to the doc ids present in terms.
    Alert timestamp = first matching outbreak row's datePublished else ''
    (:165-170; we use min() for determinism). Mentions kept only for MESH
    terms typed disease/pathogen/geoloc (:176-177) and names outside the
    generic blocklist (:174-175).
    """
    ob = clean_outbreaks(outbreaks)
    first_ts = ob.groupBy("archiveNumber").agg(
        F.min(F.col("datePublished").cast("string")).alias("ts")
    )
    id_src = alert_ids if alert_ids is not None else terms
    nodes = (
        id_src.select("doc_id")
        .dropDuplicates()
        .join(broadcast(first_ts), F.col("doc_id") == F.col("archiveNumber"), "left")
        .select(
            *_node(
                F.concat(F.lit("promed:"), "doc_id"),
                F.col("doc_id"),
                F.lit("alert"),
                timestamp=F.coalesce("ts", F.lit("")),
                entity=False,
            )
        )
    )
    typed = terms.join(
        broadcast(type_dim),
        F.concat_ws(":", "ns", "id") == F.col("curie"),
        "inner",
    )
    edges = (
        typed.filter(
            (F.col("ns") == "MESH")
            & F.col("node_type").isin("disease", "pathogen", "geoloc")
            & ~F.col("entry_name").isin(list(exclude_names))
        )
        .select(
            F.concat(F.lit("promed:"), "doc_id").alias("subj"),
            F.lit("mentions").alias("pred"),
            F.concat(F.lit("MESH:"), "id").alias("obj"),
            *_empty_edge_extras(),
            F.lit("ner").alias("provenance"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
    return nodes, edges


def build_cooccurrence(
    terms: DataFrame,
    type_dim: DataFrame,
    exclude_names: set = BUILD_EXCLUDE_NAMES,
    salt: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """occurs_with edges with per-pair alert counts + typed nodes
    (kg/build.py:52-94).

    Pipeline: blocklist filter BEFORE the pair expansion (the reference's own
    hand-rolled pushdown, :62-63); one-shuffle grouped pair expansion with
    canonical order by entry name (:61; skew.grouped_pair_counts); typed-
    pattern filter between expansion and count (:64-68); salted two-phase
    count (hot entities make this the skew case, SURVEY.md §4.3.4).
    """
    typed = (
        terms.join(
            broadcast(type_dim),
            F.concat_ws(":", "ns", "id") == F.col("curie"),
            "inner",
        )
        .filter(~F.col("entry_name").isin(list(exclude_names)))
        .select("doc_id", "curie", "entry_name", "node_type")
    )
    pattern = F.array(*[F.array(F.lit(x), F.lit(y)) for x, y in INTERESTING_TYPE_PAIRS])

    def keep_interesting(flat: DataFrame) -> DataFrame:
        return flat.filter(
            F.array_contains(pattern, F.array("a_node_type", "b_node_type"))
            | F.array_contains(pattern, F.array("b_node_type", "a_node_type"))
        )

    counted = grouped_pair_counts(
        typed, group_col="doc_id",
        struct_cols=["entry_name", "curie", "node_type"],
        salt=salt, pair_filter=keep_interesting,
    )
    edges = counted.select(
        F.col("a_curie").alias("subj"),
        F.lit("occurs_with").alias("pred"),
        F.col("b_curie").alias("obj"),
        F.col("count"),
        F.lit(None).cast("map<string,double>").alias("years_data"),
        F.lit("cooccurrence").alias("provenance"),
    )
    nodes = (
        counted.select(
            F.col("a_curie").alias("curie"),
            F.col("a_entry_name").alias("name"),
            F.col("a_node_type").alias("node_type"),
        )
        .union(
            counted.select(
                F.col("b_curie"), F.col("b_entry_name"), F.col("b_node_type")
            )
        )
        .dropDuplicates(["curie"])
        .select(
            *_node(F.col("curie"), F.col("name"), F.col("node_type"))
        )
    )
    return nodes, edges


def build_vocab_hierarchy(
    gazetteer: DataFrame, vocab_isa: DataFrame, type_dim: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Typed vocabulary subtree nodes + same-type isa edges
    (kg/build.py:97-133): keep only disease/pathogen/geoloc entries; keep an
    isa edge only when child and parent carry the same type (:117-122)."""
    names = (
        gazetteer.filter(F.col("synonym") == F.col("entry_name"))
        .select(F.concat_ws(":", "ns", "id").alias("curie"),
                F.col("entry_name").alias("name"))
        .dropDuplicates(["curie"])
    )
    typed = broadcast(type_dim).filter(
        F.col("node_type").isin("disease", "pathogen", "geoloc")
    )
    nodes = names.join(typed, "curie").select(
        *_node(F.col("curie"), F.col("name"), F.col("node_type"))
    )
    ct = typed.select(F.col("curie").alias("child_curie"),
                      F.col("node_type").alias("ct"))
    pt = typed.select(F.col("curie").alias("parent_curie"),
                      F.col("node_type").alias("pt"))
    edges = (
        vocab_isa.join(broadcast(ct), "child_curie")
        .join(broadcast(pt), "parent_curie")
        .filter(F.col("ct") == F.col("pt"))
        .select(
            F.col("child_curie").alias("subj"),
            F.lit("isa").alias("pred"),
            F.col("parent_curie").alias("obj"),
            *_empty_edge_extras(),
            F.lit("vocab").alias("provenance"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
    return nodes, edges


def build_pathogen_disease(rels: DataFrame, xref: DataFrame) -> DataFrame:
    """has_pathogen edges (kg/build.py:189-213): drop umls-prefixed
    endpoints (:192-193), map each endpoint to MeSH via the xref dimension
    (:196-209 — the reference calls pyobo/ncbitaxon lookups per row; we join
    a materialized xref table), inner-join semantics drop unmapped rows.
    rels: (start_id, end_id) curie strings; xref: (ns, id, mesh_id)."""
    x = broadcast(
        xref.select(F.concat_ws(":", "ns", "id").alias("k"), "mesh_id")
        .dropDuplicates(["k"])
    )
    filtered = rels.filter(
        ~F.col("start_id").startswith("umls") & ~F.col("end_id").startswith("umls")
    )
    return (
        filtered.join(x.withColumnRenamed("mesh_id", "src_mesh"),
                      F.col("start_id") == F.col("k"))
        .drop("k")
        .join(x.withColumnRenamed("mesh_id", "tgt_mesh"),
              F.col("end_id") == F.col("k"))
        .select(
            F.concat(F.lit("MESH:"), "src_mesh").alias("subj"),
            F.lit("has_pathogen").alias("pred"),
            F.concat(F.lit("MESH:"), "tgt_mesh").alias("obj"),
            *_empty_edge_extras(),
            F.lit("pathogen_disease").alias("provenance"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )


def build_disease_phenotype(rels: DataFrame) -> DataFrame:
    """has_phenotype edges (kg/build.py:216-228): keep mesh-prefixed
    endpoints, uppercase the curies."""
    return (
        rels.filter(
            F.col("start_id").startswith("mesh") & F.col("end_id").startswith("mesh")
        )
        .select(
            F.upper("start_id").alias("subj"),
            F.lit("has_phenotype").alias("pred"),
            F.upper("end_id").alias("obj"),
            *_empty_edge_extras(),
            F.lit("disease_phenotype").alias("provenance"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )


def build_indicators(
    dev: DataFrame,
    health: DataFrame,
    mesh_nodes: DataFrame,
    location_map: DataFrame,
    id_cols: tuple = ("Country Name", "Series Code", "Series Name"),
) -> tuple[DataFrame, DataFrame]:
    """Indicator nodes + has_indicator edges with a native year->value map
    (kg/build.py:231-348).

    Steps: health series minus dev series (anti-join, :243-248); World-Bank
    name canonicalization via the 41-row map (broadcast left join +
    coalesce, :251-260); geoloc grounding filter (broadcast inner join to
    mesh geoloc nodes on name, :266-280); wide->long unpivot of year columns
    with unparseable values skipped and 3-place rounding (:288-296); map
    assembly per (country, series). years_data is MAP<STRING,DOUBLE> at rest
    (to_json only at the TSV-compat boundary).
    """
    cname, ccode, cser = id_cols
    lm = broadcast(location_map.select(
        F.col("src_name").alias("_lm_src"), F.col("mesh_name").alias("_lm_dst")
    ))
    geo = broadcast(
        mesh_nodes.filter(F.array_contains("labels", "geoloc"))
        .select(F.col("curie").alias("_geo_curie"), F.col("name").alias("_geo_name"))
        .dropDuplicates(["_geo_name"])
    )
    dev_codes = dev.select(F.col(ccode).alias("_code")).dropDuplicates()

    def prep(df: DataFrame, tag: str) -> DataFrame:
        year_cols = [c for c in df.columns if c not in id_cols]
        # file-order ordinal, captured BEFORE the joins/unpivot can reorder
        # rows: the reference's per-row dict build is last-wins in FILE
        # order for a repeated (country, series, year) cell (kg/build.py:
        # 288-296), so the dedup below must break year ties on input
        # position, not on value.
        df = df.withColumn("_ord", _file_order_ordinal(df))
        mapped = (
            df.join(lm, F.col(cname) == F.col("_lm_src"), "left")
            .withColumn("_country", F.coalesce("_lm_dst", F.col(cname)))
            .join(geo, F.col("_country") == F.col("_geo_name"), "inner")
        )
        # group per ORIGINAL input row (kg/build.py:283-308 emits one edge
        # per source row): two source spellings mapping to the same MeSH
        # geoloc stay two edges with their own years_data, like the
        # reference's per-row dict build — merging them would also collide
        # year keys in one map.
        long = mapped.unpivot(
            ["_geo_curie", F.col(cname).alias("_orig_country"), ccode, cser,
             "_ord"],
            year_cols, "year_col", "val",
        )
        parsed = (
            long.withColumn("_v", F.expr("try_cast(val as double)"))
            .filter(F.col("_v").isNotNull())
            .select(
                "_geo_curie",
                "_orig_country",
                F.col(ccode).alias("series_code"),
                F.col(cser).alias("series_name"),
                F.substring("year_col", 1, 4).alias("year"),
                # EXACT Python round(float(val), 3) (kg/build.py:296):
                # neither F.round (half-up) nor F.bround matches — bround
                # rounds the SHORTEST DECIMAL repr via BigDecimal, so a
                # cell like '0.1235' (binary 0.12349999...) becomes 0.124
                # where Python rounds the exact binary value to 0.123.
                # Indicator tables are dimension-sized (countries x
                # series), so a per-row Python round is not a hot path;
                # years_data byte-compat at the TSV boundary requires it.
                _python_round3(F.col("_v")).alias("value"),
                "_ord",
            )
        )
        # a source file can repeat a (country, series, year) cell; under
        # Spark's default mapKeyDedupPolicy=EXCEPTION a duplicate year key
        # would abort the whole build where the reference's per-row dict
        # assembly tolerates it (kg/build.py:288-296, last-wins in file
        # order). Sort each group's cells by (year, input ordinal) and keep
        # the LAST entry of each year run — the file-order last row wins,
        # exactly the reference's dict overwrite, with no extra exchange.
        arr = F.array_sort(F.collect_list(F.struct("year", "_ord", "value")))
        deduped = F.filter(
            arr,
            lambda s, i: (i == F.size(arr) - 1)
            | (s["year"] != F.get(arr, (i + 1).cast("int"))["year"]),
        )
        agg = parsed.groupBy(
            "_geo_curie", "_orig_country", "series_code", "series_name"
        ).agg(
            F.map_from_arrays(
                deduped.getField("year"),
                deduped.getField("value"),
            ).alias("years_data")
        )
        nodes = agg.select(
            *_node(
                F.concat(F.lit("wdi:"), "series_code"),
                F.col("series_name"),
                F.lit("indicator"),
                entity=False,
            )
        ).dropDuplicates(["curie"])
        edges = (
            agg.select(
                F.col("_geo_curie").alias("subj"),
                F.lit("has_indicator").alias("pred"),
                F.concat(F.lit("wdi:"), "series_code").alias("obj"),
                F.lit(None).cast("long").alias("count"),
                F.col("years_data"),
                F.lit(f"indicator_{tag}").alias("provenance"),
            )
            # set-dedup on the full payload like the reference's tuple set
            # (kg/build.py:301-308): parallel edges with distinct years_data
            # survive (maps aren't directly comparable -> compare as JSON)
            .withColumn("_yj", F.to_json("years_data"))
            .dropDuplicates(["subj", "pred", "obj", "_yj"])
            .drop("_yj")
        )
        return nodes, edges

    health_only = health.join(
        dev_codes, health[ccode] == F.col("_code"), "left_anti"
    )
    hn, he = prep(health_only, "health")
    dn, de = prep(dev, "dev")
    return hn.union(dn).dropDuplicates(["curie"]), he.union(de)


def build_geonames(
    geoname_terms: DataFrame,
    geoname_partof: DataFrame,
    mesh_nodes: DataFrame,
    geo_grounding: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """GeoNames nodes + isa edges with MeSH canonicalization
    (kg/build.py:351-407).

    geo_grounding: (geonames_id, mesh_curie nullable) — the materialized
    result of grounding each geoname name against the MeSH gazetteer
    (convert_geoname_to_mesh, :384-407; at scale this is the MinHash-LSH +
    connected-components canonicalization path, canonicalize.py). A geoname
    that grounds to MeSH is *not* emitted as a node (:361-363); a part_of
    parent is rewritten to its MeSH curie when groundable (:365-375,
    part_of -> isa).

    A grounding is honored only when the grounded curie actually EXISTS in
    mesh_nodes: the reference's convert_geoname_to_mesh (:400-406) filters
    mesh_node_df by the grounded curie and returns empty — i.e. ungrounded
    — when it is absent, so the geoname stays a geoname node / parent.
    """
    valid_mesh = mesh_nodes.select(F.col("curie").alias("_mesh")).dropDuplicates()
    g = broadcast(
        geo_grounding.select(
            F.col("geonames_id").alias("_gid"), F.col("mesh_curie").alias("_mesh")
        ).join(valid_mesh, "_mesh", "left_semi")
    )
    terms = geoname_terms.join(g, F.col("geonames_id") == F.col("_gid"), "left")
    nodes = (
        terms.filter(F.col("_mesh").isNull())
        .select(
            *_node(
                F.concat(F.lit("geonames:"), "geonames_id"),
                F.col("name"),
                F.lit("geoloc"),
                entity=False,
            )
        )
        .dropDuplicates(["curie"])
    )
    child_kept = terms.filter(F.col("_mesh").isNull()).select(
        F.col("geonames_id").alias("child_id")
    )
    parent_map = geoname_partof.join(
        g, F.col("parent_geonames_id") == F.col("_gid"), "left"
    ).select(
        "child_geonames_id",
        F.coalesce(
            "_mesh", F.concat(F.lit("geonames:"), "parent_geonames_id")
        ).alias("obj"),
    )
    edges = (
        parent_map.join(
            child_kept, F.col("child_geonames_id") == F.col("child_id"), "inner"
        )
        .select(
            F.concat(F.lit("geonames:"), "child_geonames_id").alias("subj"),
            F.lit("isa").alias("pred"),
            F.col("obj"),
            *_empty_edge_extras(),
            F.lit("geonames").alias("provenance"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
    return nodes, edges


def finalize_graph(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Graph-wide integrity pass replacing neo4j-admin import flags
    (kg/Dockerfile:100-114): --skip-duplicate-nodes == dropDuplicates(curie);
    --skip-bad-relationships == semi-join both edge endpoints against the
    node set."""
    n = nodes.dropDuplicates(["curie"])
    key = n.select("curie")
    e = (
        edges.join(key.withColumnRenamed("curie", "subj"), "subj", "left_semi")
        .join(key.withColumnRenamed("curie", "obj"), "obj", "left_semi")
        .select("subj", "pred", "obj", "count", "years_data", "provenance")
    )
    return n, e


def edges_to_tsv_rows(edges: DataFrame) -> DataFrame:
    """TSV-compat projection (sink K1): years_data map back to the JSON
    string the reference writes (kg/build.py:297), deterministic sort."""
    return edges.select(
        F.col("subj").alias(":START_ID"),
        F.col("pred").alias(":TYPE"),
        F.col("obj").alias(":END_ID"),
        F.col("count").alias("count:int"),
        F.to_json("years_data").alias("years_data:string"),
    ).orderBy(":START_ID", ":TYPE", ":END_ID")


def nodes_to_tsv_rows(nodes: DataFrame) -> DataFrame:
    """TSV-compat node projection: labels array back to the ';'-joined
    string (kg/build.py:83,113), neo4j bulk-import headers, deterministic
    sort (the reference sorts every artifact — all K1 sites)."""
    return nodes.select(
        F.col("curie").alias("curie:ID"),
        F.col("name").alias("name:string"),
        F.col("timestamp").alias("timestamp:string"),
        F.array_join("labels", ";").alias(":LABEL"),
    ).orderBy("curie:ID")


def write_tsv(df: DataFrame, path: str) -> None:
    """Write a deterministic single TSV with header — the neo4j-admin
    import format boundary (kg/Dockerfile:100-114). Single file by design:
    this sink exists for byte-compat with the reference artifacts, not for
    scale (the scale sink is the partitioned parquet/Iceberg table)."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("emptyValue", "")
        .csv(path)
    )
