"""End-to-end extraction pipeline (the engine's E1/E3 entry point —
SURVEY.md §3: job args -> read docs -> stripe_key repartition -> fused
extract kernel -> spans_out [+ lineage]).
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from pdf2ocr_spark.kernel.emit import ALL_FORMATS
from pdf2ocr_spark.operators.docgen import documents_to_docs
from pdf2ocr_spark.operators.extract import extract_spans_arrow, stripe_column, stripe_key


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle parallelism: a
    small single-file corpus arrives as ONE scan split, which would
    serialize every CPU-heavy per-row stage built on it. Round-robin (not
    by doc_id!) so a later ``repartition("doc_id")`` above an expensive
    stage is NOT elided as redundant — that exchange is what lets a
    self-join reuse one evaluation of the stage. Spark pushes no filter
    through a Python stage, so filter the input, not the stage's output."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def tile_documents(documents: DataFrame, factor: int) -> DataFrame:
    """Deterministically tile the documents relation ``factor``x with
    distinct doc_ids (doc_id*factor+replica). Each replica gets different
    seeded OCR noise downstream (doc_id keys the noise channel), so tiling
    scales WORK without degenerating the corpus — used by bench.py to
    amortize fixed job overhead when measuring scaling efficiency."""
    from pyspark.sql import functions as F

    if factor <= 1:
        return documents
    return documents.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    ).select(
        (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )


def load_docs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's input relation, derived deterministically from the
    documents table (kernel/docgen.py channel model), with the docgen
    stage fanned out over the session's slots."""
    return documents_to_docs(fan_out(load_documents(spark, sf_dir)))


def stripe_documents(documents: DataFrame, num_partitions: int) -> DataFrame:
    """``stripe_key`` repartition (document -> partition ``stripe_key(n)``)
    of the SMALL documents relation, before span expansion — the
    scale-critical move: the shuffle moves ~100-byte rows, not the
    expanded nested span arrays, and the downstream docgen+extract stages
    then run fused with no further shuffle."""
    return documents.repartition(num_partitions, stripe_column())


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
    num_partitions: Optional[int] = None,
    tile: int = 1,
) -> DataFrame:
    """documents.parquet -> stripe -> docs -> spans_out DataFrame (lazy).

    Physical plan: parquet scan -> ONE small-row shuffle (``stripe_key``)
    -> ONE fused docgen+extract ``mapInArrow`` stage (no nested-data
    shuffle).
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    documents = load_documents(spark, sf_dir)
    # a single small parquet file arrives as ONE input split, so the tile
    # explode and the stripe shuffle's map side would run in one task: fan
    # the small relation out first (tiny shuffle), THEN expand.
    documents = documents.repartition(num_partitions)
    striped = stripe_documents(tile_documents(documents, tile), num_partitions)
    # fused channel+extract: one Python pass, no nested-Arrow intermediate
    return extract_spans_arrow(
        striped, formats=formats, lang=lang, max_sentences=max_sentences
    )
