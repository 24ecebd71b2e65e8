"""spark-submit entrypoint for the full pages -> KG pipeline (north rule:
"launched via spark-submit --py-files on a multi-executor cluster").

Usage (cluster):
    scripts/package_pyfiles.py          # builds dist/outbreak_kg_spark.zip
    spark-submit --py-files dist/outbreak_kg_spark.zip \
        --master <cluster> --num-executors <N> \
        scripts/run_pipeline.py --pages <uri> --vocab <uri> --out <uri>

Usage (sandbox smoke, synthetic corpus):
    spark-submit --master 'local[8]' \
        --py-files dist/outbreak_kg_spark.zip \
        scripts/run_pipeline.py --synth 500 --out /tmp/kg_out

Inputs are parquet (Iceberg tables in prod via catalog.py): pages with the
(url, warc_ts, html, text, lang) schema; vocabulary tables per
FIXTURES.md §4. Every stage checkpoints under --out with lineage rows;
re-running resumes idempotently.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", help="pages parquet/Iceberg uri")
    p.add_argument("--gazetteer", help="gazetteer parquet uri")
    p.add_argument("--vocab-isa", help="isa edges parquet uri")
    p.add_argument("--outbreaks", help="outbreaks parquet uri")
    p.add_argument("--synth", type=int, default=0,
                   help="generate a deterministic synthetic corpus of N docs "
                        "instead of reading inputs")
    p.add_argument("--out", required=True, help="output root (stages + kg)")
    p.add_argument("--force", action="store_true",
                   help="rebuild even if stages are committed")
    p.add_argument("--cue-triples", action="store_true",
                   help="also materialize the sentence-level cue-rule "
                        "triple stage (located_in/causes/case_count_of/"
                        "occurred_on) from the mentions checkpoint")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("outbreak-kg-build").getOrCreate()
    from outbreak_kg_spark import pipeline, synth

    t0 = time.monotonic()
    if args.synth:
        # ONE corpus generation for both frames (pages_df/outbreaks_df each
        # regenerate when called separately — doubled driver CPU at 100k+)
        pages, outbreaks = synth.frames_from_corpus(
            spark, synth.generate_corpus(args.synth)
        )
        gaz = synth.gazetteer_df(spark)
        isa = synth.vocab_isa_df(spark)
        extras = dict(
            pathogen_rels=synth.pathogen_disease_rels_df(spark),
            xref=synth.xref_df(spark),
            phenotype_rels=synth.phenotype_rels_df(spark),
            indicators_dev=synth.indicator_wide_df(spark, "dev"),
            indicators_health=synth.indicator_wide_df(spark, "health"),
            geoname_terms=synth.geoname_terms_df(spark),
            geoname_partof=synth.geoname_partof_df(spark),
            geoname_grounding=synth.geoname_grounding_df(spark),
            location_map=synth.location_map_df(spark),
        )
    else:
        if not (args.pages and args.gazetteer and args.vocab_isa
                and args.outbreaks):
            p.error("--pages/--gazetteer/--vocab-isa/--outbreaks required "
                    "unless --synth")
        pages = spark.read.parquet(args.pages)
        gaz = spark.read.parquet(args.gazetteer)
        isa = spark.read.parquet(args.vocab_isa)
        outbreaks = spark.read.parquet(args.outbreaks)
        extras = {}

    out = pipeline.build_kg(spark, args.out, pages, gaz, isa, outbreaks,
                            force=args.force,
                            cue_triples=args.cue_triples, **extras)
    stats = {
        "nodes": out["nodes"].count(),
        "edges": out["edges"].count(),
        "alerts": out["alerts"].count(),
        "terms": out["terms"].count(),
        "wall_sec": round(time.monotonic() - t0, 2),
    }
    if out["pattern_triples"] is not None:
        stats["pattern_triples"] = out["pattern_triples"].count()
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
