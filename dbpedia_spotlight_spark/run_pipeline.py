"""spark-submit entrypoint: the full annotate→triples pipeline as a job.

    spark-submit --py-files dbpedia_spotlight_spark.zip \
        dbpedia_spotlight_spark/run_pipeline.py \
        --corpus /data/web_pages --lexicon /models/en --out /data/triples \
        --mode annotate --confidence 0.3 --support 20 --resume-units 256

Covers the north_rule run shape (multi-executor via spark-submit,
checkpoint-resumable with per-partition lineage). Also callable in-process
via ``main(argv, spark=...)`` (tests).

Endpoints (--mode): annotate | candidates | spot — the reference's REST
surface as batch jobs (SURVEY §2.12); /disambiguate is
``sources.spotxml.disambiguate_xml`` over an XML column and is selected
with --mode disambiguate --xml-col <col>.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description="Spotlight-Spark pipeline job")
    ap.add_argument("--corpus", required=True,
                    help="parquet/iceberg dir of web_pages(url, warc_ts, html, text, lang)")
    ap.add_argument("--lexicon", required=True,
                    help="dir of lexicon parquet tables (model plane)")
    ap.add_argument("--out", required=True, help="output table root")
    ap.add_argument("--mode", default="annotate",
                    choices=["annotate", "candidates", "spot", "disambiguate",
                             "structured"])
    ap.add_argument("--xml-col", default="xml")
    ap.add_argument("--confidence", type=float, default=0.0)
    ap.add_argument("--support", type=int, default=0)
    ap.add_argument("--types", default="",
                    help="comma-separated ontology types (F3)")
    ap.add_argument("--policy", default="whitelist",
                    choices=["whitelist", "blacklist"])
    ap.add_argument("--disambiguator", default="generative",
                    choices=["generative", "tficf", "prior"])
    ap.add_argument("--k", type=int, default=1)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--coreference", action="store_true")
    ap.add_argument("--stemmer", default="identity",
                    choices=["identity", "porter"],
                    help="T2 token normalization (model-compile property)")
    ap.add_argument("--resume-units", type=int, default=0,
                    help=">0: write checkpoint-resumable url-hash units")
    ap.add_argument("--emit-triples", action="store_true", default=True)
    ap.add_argument("--no-emit-triples", dest="emit_triples",
                    action="store_false",
                    help="write raw annotations instead of triples")
    ap.add_argument("--base-triples", default="",
                    help="path of a prior (subj, pred, obj) snapshot: "
                         "also write the per-url-replace change log vs "
                         "it (<mode>_output_delta) — the incremental-"
                         "recrawl form of KG maintenance")
    ap.add_argument("--anchor-lexicon", action="store_true",
                    help="also aggregate the corpus's <a href> votes "
                         "into a pairCounts-shaped anchor_lexicon table "
                         "(fold into the model store offline via "
                         "plans/model_build.merge_count_tables)")
    ap.add_argument("--relations", action="store_true",
                    help="annotate mode only: also extract open "
                         "relation candidates between adjacent mentions "
                         "(operators/relations.py) into a counted "
                         "relations table, plus the n_docs-gated "
                         "relation_triples promotion")
    ap.add_argument("--relations-min-docs", type=int, default=2)
    return ap


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    from dbpedia_spotlight_spark.model import load_model
    from dbpedia_spotlight_spark.pipeline import (
        PipelineConfig, annotate, candidates, spot,
    )
    from dbpedia_spotlight_spark.sources.catalog import ParquetCatalog, unit_of
    from dbpedia_spotlight_spark.triples import all_triples

    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        spark = (
            SparkSession.builder.appName("spotlight-spark-annotate")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
            .getOrCreate()
        )

    cfg = PipelineConfig(
        confidence=args.confidence,
        support=args.support,
        types=tuple(t for t in args.types.split(",") if t),
        policy=args.policy,
        disambiguator=args.disambiguator,
        k=args.k,
        lang=args.lang or None,
        coreference=args.coreference,
    )
    corpus = spark.read.parquet(args.corpus)
    if args.mode != "structured":
        # the structured lane reads raw pages only — no model plane
        model = load_model(spark, args.lexicon, stemmer=args.stemmer)
        bc = spark.sparkContext.broadcast(model)

    if args.mode == "structured":
        from dbpedia_spotlight_spark.sources.structured_data import (
            jsonld_triples, meta_property_triples, microdata_triples,
        )
        meta = meta_property_triples(corpus).select(
            "url", F.col("url").alias("subj"), "pred", "obj",
            F.lit("meta").alias("lane"))
        out_df = (jsonld_triples(corpus)
                  .withColumn("lane", F.lit("jsonld"))
                  .unionByName(microdata_triples(corpus)
                               .withColumn("lane", F.lit("microdata")))
                  .unionByName(meta))
    elif args.mode == "annotate":
        out_df = annotate(spark, corpus, bc, cfg)
    elif args.mode == "candidates":
        out_df = candidates(spark, corpus, bc, cfg)
    elif args.mode == "spot":
        out_df = spot(spark, corpus, bc, cfg)
    else:  # disambiguate (pre-spotted XML)
        from dbpedia_spotlight_spark.sources.spotxml import disambiguate_xml
        out_df = disambiguate_xml(spark, corpus, bc, cfg,
                                  xml_col=args.xml_col)

    ann_df = out_df  # raw annotations, kept for --relations
    if args.emit_triples and args.mode in ("annotate", "disambiguate"):
        out_df = all_triples(out_df)
        key = "subj"
    else:
        key = "url"

    cat = ParquetCatalog(args.out)
    name = f"{args.mode}_output"
    if args.resume_units > 0:
        n = args.resume_units
        ran = cat.write_resumable(
            lambda u: out_df.filter(unit_of(F.col(key), n) == u), name, n
        )
        written = cat.read_units(spark, name)
        rows = written.count()
        stats = {"mode": args.mode, "rows": rows,
                 "units_executed_this_run": len(ran), "units_total": n}
    else:
        cat.write(out_df, name)
        written = cat.read(spark, name)
        rows = written.count()
        stats = {"mode": args.mode, "rows": rows}

    if "part_id" in written.columns:
        # north_rule: per-partition lineage + METRICS — one row per source
        # partition (rows emitted, distinct subjects), written next to the
        # output so a resume/audit can reconcile partitions against counts
        # without rescanning the triples
        metrics = written.groupBy("part_id").agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias(f"n_distinct_{key}"),
        )
        cat.write(metrics, f"{name}_metrics")
        stats["n_partitions"] = metrics.count()

    if args.base_triples:
        if not (args.emit_triples
                and args.mode in ("annotate", "disambiguate")):
            raise SystemExit("--base-triples requires triple emission")
        from dbpedia_spotlight_spark.triples import triple_delta
        base = spark.read.parquet(args.base_triples)
        # every corpus url is recrawled, also one that now yields no
        # triples (turned non-English, lost its mentions)
        cat.write(triple_delta(base, written, corpus), f"{name}_delta")
        by_change = {
            r["change"]: r["n"]
            for r in cat.read(spark, f"{name}_delta").groupBy("change")
            .agg(F.count("*").alias("n")).collect()
        }
        stats["delta_added"] = by_change.get("added", 0)
        stats["delta_removed"] = by_change.get("removed", 0)

    if args.anchor_lexicon:
        # KG-construct loop closure: the same crawl that yields triples
        # also yields next-build lexicon votes — one extra scan of the
        # corpus (html never shuffles), zero coupling to the annotate
        # lineage above.
        if "html" not in corpus.columns:
            raise SystemExit("--anchor-lexicon needs an 'html' column")
        from dbpedia_spotlight_spark.operators.anchors import (
            anchor_lexicon, extract_anchors,
        )
        cat.write(anchor_lexicon(extract_anchors(corpus)), "anchor_lexicon")
        stats["anchor_lexicon_rows"] = \
            cat.read(spark, "anchor_lexicon").count()

    if args.relations:
        if args.mode != "annotate":
            raise SystemExit("--relations requires --mode annotate")
        from dbpedia_spotlight_spark.operators.relations import (
            extract_relations, relation_triples,
        )
        if "html" in corpus.columns:
            from dbpedia_spotlight_spark.pipeline import extract_text
            docs = extract_text(corpus).select(
                "url", F.col("extracted_text").alias("text"))
        else:
            docs = corpus.select("url", "text")
        rel = extract_relations(
            ann_df.select("url", "begin", "end", "uri"), docs,
            id_col="url")
        cat.write(rel, "relations")
        cat.write(relation_triples(
            cat.read(spark, "relations"),
            min_docs=args.relations_min_docs), "relation_triples")
        stats["relation_rows"] = cat.read(spark, "relations").count()
        stats["relation_triples_rows"] = \
            cat.read(spark, "relation_triples").count()

    print(json.dumps(stats))
    if own_session:
        spark.stop()
    return stats


if __name__ == "__main__":
    main(sys.argv[1:])
