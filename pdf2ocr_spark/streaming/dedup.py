"""Stateful streaming deduplication (applyInPandasWithState).

A continuous ingest pipeline must drop documents whose exact text was
already seen in ANY earlier micro-batch — cross-batch state that
stateless operators cannot express. This operator keys the stream by a
text hash and keeps a per-key GroupState recording the first-seen doc:
the first arrival passes through, every later duplicate is emitted as a
tombstone row pointing at the keeper.

State design for 10^12 docs: the key is the 32-hex md5 of the normalized
text, so state size is bounded by DISTINCT documents (RocksDB state store
on a real cluster); no timeout is set because exact dedup has no
staleness horizon — swap in `GroupStateTimeout.ProcessingTimeTimeout`
and a TTL for windowed dedup.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pdf2ocr_spark.streaming.ingest import DOCUMENTS_SCHEMA, start_file_stream

DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("text_hash", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("is_duplicate", T.BooleanType()),
        T.StructField("keeper_doc_id", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("keeper_doc_id", T.LongType())])


def _dedup_fn(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One text-hash group of one micro-batch: every row comes back with
    ``is_duplicate`` and ``keeper_doc_id``. The keeper is the first-seen
    doc across batches (held in state) and the min doc_id within the
    batch that first sees the hash — the batch exact_dedup's rule."""
    # drain ALL Arrow chunks of the group before choosing the keeper: a
    # per-chunk choice would be chunk-order dependent when one
    # micro-batch spans multiple chunks
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values("doc_id", kind="stable", ignore_index=True)
    first_seen = not state.exists
    keeper = int(pdf["doc_id"].iloc[0]) if first_seen else state.get[0]
    state.update((keeper,))
    pdf["is_duplicate"] = pdf.index > 0 if first_seen else True
    pdf["keeper_doc_id"] = keeper
    yield pdf


def _dedup_decisions(keyed: DataFrame) -> DataFrame:
    """``keyed`` (text_hash, doc_id, any passthrough columns) -> the same
    rows plus is_duplicate and keeper_doc_id, exactly-once across
    micro-batches via GroupState."""
    out = T.StructType(
        keyed.schema.fields
        + [
            T.StructField("is_duplicate", T.BooleanType()),
            T.StructField("keeper_doc_id", T.LongType()),
        ]
    )
    return keyed.groupBy("text_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=out,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(stream: DataFrame) -> DataFrame:
    """documents stream -> dedup decisions (first-seen keeps, later dups
    tombstoned), exactly-once across micro-batches via GroupState."""
    keyed = stream.select(
        F.md5("text").alias("text_hash"), F.col("doc_id").cast("long").alias("doc_id")
    )
    return _dedup_decisions(keyed).select(*DEDUP_OUT_SCHEMA.fieldNames())


def run_dedup_stream(
    spark, input_dir: str, output_dir: str, checkpoint_dir: str
) -> None:
    """AvailableNow runner: process all files currently present, then stop."""
    start_file_stream(
        spark, DOCUMENTS_SCHEMA, streaming_exact_dedup, input_dir, output_dir,
        checkpoint_dir, max_files_per_trigger=4,
    ).awaitTermination()


def streaming_dedup_keep(stream: DataFrame) -> DataFrame:
    """documents stream -> first-seen documents only (full rows), the
    composable upstream gate of the chained clean pipeline
    (streaming/pipeline_chain.py): dedup state drops cross-batch
    duplicates BEFORE the stateless clean/chunk stages, so a document
    re-ingested in a later file produces no chunks at all."""
    decided = _dedup_decisions(stream.withColumn("text_hash", F.md5("text")))
    return decided.where(~F.col("is_duplicate")).select(
        *DOCUMENTS_SCHEMA.fieldNames()
    )
