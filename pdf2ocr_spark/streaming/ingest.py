"""Incremental extraction via Structured Streaming, and the one file-stream
runner every streaming operator in this subpackage starts its query with.

The reference is a batch CLI (SURVEY.md §2.6: no streaming), but a
web-scale ingest pipeline receives documents continuously. This module
runs the fused ingest stage over a file-source stream: new parquet files
dropped into the input directory are discovered, processed exactly-once
(stream checkpoint), and appended to the spans sink. All stages are
stateless per document, so no watermark or state store is needed;
lineage-style resume comes from the streaming checkpoint itself
(offsets + file log).

Each micro-batch runs ONE Python stage:
``operators.extract.extract_spans_arrow`` (``mapInArrow``) over the small
``(doc_id, text, source)`` rows, docgen channel and extraction kernel back
to back in one worker pass, so the nested ``array<struct>`` docs relation
never crosses the JVM/Python boundary. Streaming micro-batches are already
file-split, so no repartition.

``stream_extract_available_now`` uses Trigger.AvailableNow: process
everything currently present, then stop — the batch-parity mode used by
tests and backfills.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from pdf2ocr_spark.kernel.emit import ALL_FORMATS
from pdf2ocr_spark.operators.extract import extract_spans_arrow

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def start_file_stream(
    spark: SparkSession,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame],
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    available_now: bool = True,
) -> StreamingQuery:
    """Parquet files in ``input_dir`` (read with ``schema``, at most
    ``max_files_per_trigger`` per micro-batch) -> ``transform`` -> an
    append-mode parquet sink at ``output_dir``, exactly-once through
    ``checkpoint_dir``. ``available_now`` drains what is present and
    stops (Trigger.AvailableNow); otherwise the default trigger runs
    until stopped."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )
    writer = (
        transform(stream)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    return start_file_stream(
        spark,
        DOCUMENTS_SCHEMA,
        lambda docs: extract_spans_arrow(docs, formats, lang, max_sentences),
        input_dir,
        output_dir,
        checkpoint_dir,
        max_files_per_trigger=8,
        available_now=available_now,
    )


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
