#!/usr/bin/env python
"""spark-submit entry point for the checkpointed extraction job.

Cluster usage (north rule: multi-executor, two cluster sizes):

    cd /root/repo && zip -qr /tmp/pdf2ocr_spark.zip pdf2ocr_spark
    spark-submit --py-files /tmp/pdf2ocr_spark.zip \
        --master <cluster-master> \
        jobs/run_extract.py \
        --sf-dir /root/testdata/sf0.1 --output /tmp/extract_out \
        --partitions 256 [--tile 40] [--no-resume]

Prints one JSON summary line (partitions processed/skipped, docs/sec from
the lineage relation) on completion. Sandbox evidence runs use
``--master local[8]`` vs ``local[32]`` (see BENCH/BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--tile", type=int, default=1)
    ap.add_argument("--formats", default="text,docx_para,html,markdown")
    ap.add_argument("--lang", default="eng")
    ap.add_argument("--allow-unknown-langs", action="store_true",
                    help="accept tesseract-shaped --lang codes outside the "
                         "engine's known map (warns; ref rejects codes not "
                         "in `tesseract --list-langs`)")
    ap.add_argument("--preserve-layout", action="store_true")
    ap.add_argument("--epub", action="store_true")
    ap.add_argument("--dpi", type=int, default=400)
    ap.add_argument("--batch-size", type=int, default=None)
    ap.add_argument("--max-sentences", type=int, default=0)
    ap.add_argument("--no-resume", action="store_true")
    # the raster/OCR stage is the only consumer of --dpi/--batch-size
    # (they control page-bitmap geometry and the per-doc render window);
    # it is opt-in because the text pipeline never renders pages
    ap.add_argument("--ocr-stats", action="store_true",
                    help="also run the rasterize+OCR round-trip stage and "
                         "write per-doc recovery stats to <output>/ocr_stats")
    ap.add_argument("--ocr-max-pages", type=int, default=4)
    # reference logging_config.py surface: --quiet silences everything but
    # the final JSON (Spark log level ERROR), --summary skips the per-run
    # aggregate block and reports only the partition counters
    ap.add_argument("--quiet", action="store_true")
    ap.add_argument("--summary-only", action="store_true")
    args = ap.parse_args()

    # validate job args driver-side before any Spark action (SURVEY §2.8;
    # ref config.py:93-152)
    from pdf2ocr_spark.config import ExtractConfig

    cfg = ExtractConfig(
        formats=tuple(f for f in args.formats.split(",") if f),
        lang=args.lang,
        preserve_layout=args.preserve_layout,
        epub=args.epub,
        dpi=args.dpi,
        num_partitions=args.partitions,
        batch_size=args.batch_size,
        max_sentences=args.max_sentences,
        allow_unknown_langs=args.allow_unknown_langs,
    )

    if not args.ocr_stats and (args.batch_size is not None or args.dpi != 400):
        # don't let operators think the text pipeline bounds bitmap memory:
        # only the raster stage consumes these knobs
        import sys

        print(
            "warning: --dpi/--batch-size only affect the raster/OCR stage; "
            "pass --ocr-stats to run it (the text pipeline renders no pages)",
            file=sys.stderr,
        )

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdf2ocr_spark-extract").getOrCreate()
    if args.quiet:
        spark.sparkContext.setLogLevel("ERROR")

    from pdf2ocr_spark.operators.checkpoint import run_checkpointed, summary
    from pdf2ocr_spark.pipeline import (
        load_documents,
        stripe_key,
        tile_documents,
    )

    t0 = time.perf_counter()
    # fan the small relation out BEFORE the tile explode: a single-file
    # corpus arrives as one scan split and would serialize the expansion
    # (Amdahl fraction that caps scaling; same move as pipeline.run_pipeline)
    documents = load_documents(spark, args.sf_dir).repartition(args.partitions)
    documents = tile_documents(documents, args.tile)
    # part_id is stripe_key, a hash of doc_id: the same map on every run,
    # so resume skips the right documents. run_checkpointed shuffles these
    # ~100-byte text rows and runs channel+extract as ONE fused Python
    # stage, so the nested span arrays are never exchanged — at 10^12 docs
    # the nested relation is the one you cannot afford to shuffle
    small = documents.withColumn("part_id", stripe_key(args.partitions))
    res = run_checkpointed(
        spark,
        small,
        args.output,
        num_partitions=args.partitions,
        formats=cfg.effective_formats,
        lang=cfg.lang,
        max_sentences=cfg.max_sentences,
        resume=not args.no_resume,
        fused_channel=True,
    )
    ocr = {}
    if args.ocr_stats:
        from pyspark.sql import functions as F

        from pdf2ocr_spark.operators.ocr import ocr_recover_stats

        st = ocr_recover_stats(
            small,
            max_pages_per_doc=args.ocr_max_pages,
            dpi=cfg.dpi,
            batch_size=cfg.batch_size,
        )
        st.write.mode("overwrite").parquet(f"{args.output}/ocr_stats")
        row = (
            spark.read.parquet(f"{args.output}/ocr_stats")
            .agg(
                F.sum("page_count").alias("pages_ocrd"),
                F.sum("recovered_matches").alias("pages_recovered"),
            )
            .collect()[0]
        )
        ocr = {"dpi": cfg.dpi, "batch_size": cfg.batch_size, **row.asDict()}
    wall = time.perf_counter() - t0

    stats = {}
    if not args.summary_only and (res["processed"] > 0 or res["skipped"] > 0):
        row = summary(spark, args.output).collect()[0]
        stats = row.asDict()

    out = {"result": res, "wall_sec": round(wall, 3), "summary": stats}
    if ocr:
        out["ocr"] = ocr
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
