"""The continuous training-data pipeline, chained END-TO-END in one
streaming query: documents stream -> stateful exact dedup (first-seen
keeps, cross-batch state) -> the stateless clean stages (quality +
repetition gates, PII scrub, context-window chunking) -> append-only
chunk sink.

This is the composition streaming/clean.py promises: clean.py proves
the stateless stages, dedup.py proves the keyed state — this module
runs them as ONE query, so a duplicate document arriving in a later
micro-batch (or a later RUN: the state lives in the stream checkpoint)
emits no chunks, exactly once, kill/restart-safe. An optional
DECONTAMINATION stage (bench_grams=...) drops documents overlapping the
eval suite before chunking — stateless, closure-shipped gram set.

Plan shape: ONE stateful exchange (groupBy text_hash for the dedup
state) followed by pure projections — the clean gates and the chunk
explode add no further shuffle. Batch parity is pinned by
test_streaming_pipeline: over the same files, the streamed chunk
relation equals clean_transform(exact-dedup-kept documents) run as a
static query.
"""

from __future__ import annotations

from pdf2ocr_spark.streaming.clean import clean_transform
from pdf2ocr_spark.streaming.dedup import streaming_dedup_keep
from pdf2ocr_spark.streaming.ingest import DOCUMENTS_SCHEMA, start_file_stream


def run_chained_stream(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    bench_grams: frozenset | None = None,
) -> None:
    """AvailableNow runner: dedup (+ optional decontamination gate) +
    clean + chunk everything currently present, exactly-once, then
    stop. ``bench_grams`` (from functions/decontam.collect_bench_grams)
    adds the stream-safe decontamination stage: documents sharing any
    n-gram with the benchmark set emit no chunks — a stateless per-row
    gate with the gram set closure-shipped per executor."""
    from pdf2ocr_spark.functions.decontam import overlap_gate
    from pdf2ocr_spark.plans.queries import DECONTAM_N

    def transform(stream):
        deduped = streaming_dedup_keep(stream)
        if bench_grams is not None:
            deduped = overlap_gate(deduped, bench_grams, DECONTAM_N)
        return clean_transform(deduped)

    start_file_stream(
        spark, DOCUMENTS_SCHEMA, transform, input_dir, output_dir,
        checkpoint_dir, max_files_per_trigger=4,
    ).awaitTermination()
