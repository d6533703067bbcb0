"""Incremental extraction via Structured Streaming.

The reference is a batch CLI (SURVEY.md §2.6: no streaming), but a
web-scale ingest pipeline receives documents continuously. This module
runs the fused ingest stage over a file-source stream: new parquet files
dropped into the input directory are discovered, processed exactly-once
(stream checkpoint), and appended to the spans sink. All stages are
stateless per document, so no watermark or state store is needed;
lineage-style resume comes from the streaming checkpoint itself
(offsets + file log).

Each micro-batch runs ONE Python stage:
``operators.extract.documents_to_spans`` (``mapInArrow``), docgen channel
and extraction kernel back to back in one worker pass. It emits the same
rows as the batch chain ``documents_to_docs`` -> ``extract_spans_arrow``,
without a second Python worker per task and without sending the nested
``array<struct>`` docs relation across the JVM/Python boundary twice.
Streaming micro-batches are already file-split, so no repartition.

``stream_extract_available_now`` uses Trigger.AvailableNow: process
everything currently present, then stop — the batch-parity mode used by
tests and backfills.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from pdf2ocr_spark.kernel.emit import ALL_FORMATS
from pdf2ocr_spark.operators.extract import documents_to_spans

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def start_extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
    available_now: bool = False,
):
    """Start the extraction stream; returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_dir)
    )
    spans = documents_to_spans(stream, formats, lang, max_sentences)
    writer = (
        spans.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    **kwargs,
) -> None:
    """Process all files currently in ``input_dir`` and stop (exactly-once
    across repeated invocations thanks to the stream checkpoint)."""
    q = start_extract_stream(
        spark, input_dir, output_dir, checkpoint_dir, available_now=True, **kwargs
    )
    q.awaitTermination()
