"""Continuous corpus refinement: the corpus_clean pipeline as a stream.

The batch ``corpus_clean`` query (plans/queries.py) is the end-to-end
training-data pipeline over a static corpus. A production ingest is
continuous — documents keep arriving — so this module runs its
per-document stages over a file-source documents stream, exactly-once
via the stream checkpoint:

    documents stream -> plans/queries.clean_gates (quality + repetition)
                     -> PII scrub (plans/queries._pii_scrubbed_col)
                     -> context-window chunking (plans/queries.chunk_windows)
                     -> append-only chunk sink

The gates, the scrub and the chunking are the batch definitions
themselves, not copies. (The batch corpus_clean additionally runs the
stratified SAMPLE first and scrubs a PII-seeded text — corpus-level and
oracle-fixture decisions, deliberately not per-document stream stages.)

Every stage is a stateless per-document projection/filter, so no
watermark or state store is needed — exactly the property that makes
the clean pipeline INCREMENTAL: chunks for a document are emitted once,
when its file arrives, and never revised. (Cross-document stages —
exact dedup — live in streaming/dedup.py with GroupState;
streaming/pipeline_chain.py chains the two.)

Batch parity is pinned by test_streaming_clean: over the same document
set, the streamed chunk relation equals clean_transform run as a static
query, and the kept documents equal the independent quality_score and
quality_repetition queries' gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf2ocr_spark.plans.queries import _pii_scrubbed_col, chunk_windows, clean_gates
from pdf2ocr_spark.streaming.ingest import DOCUMENTS_SCHEMA, start_file_stream


def clean_transform(docs: DataFrame) -> DataFrame:
    """The stateless clean pipeline as one composable transformation
    (works on a static OR streaming documents relation)."""
    return chunk_windows(
        clean_gates(docs),
        _pii_scrubbed_col(F.col("text")),
        ["doc_id", "lang", "quality_bp"],
    )


def run_clean_stream(
    spark, input_dir: str, output_dir: str, checkpoint_dir: str
) -> None:
    """AvailableNow runner: clean + chunk everything currently present,
    exactly-once, then stop."""
    start_file_stream(
        spark, DOCUMENTS_SCHEMA, clean_transform, input_dir, output_dir,
        checkpoint_dir, max_files_per_trigger=4,
    ).awaitTermination()
