"""Fixed relation schemas (SURVEY.md §1: the engine's data model)."""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

#: input relation: one row per document, interleaved text+media spans
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)

#: output relation: one row per emitted span
SPANS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

#: one checkpoint partition's lineage record (SURVEY.md §7 step 4: the
#: lineage table); operators/checkpoint.py owns the protocol around it
LINEAGE = T.StructType(
    [
        T.StructField("doc_count", T.LongType()),
        T.StructField("page_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("wall_sec", T.DoubleType()),
        T.StructField("docs_per_sec", T.DoubleType()),
        T.StructField("status", T.StringType()),  # "success" | "partial"
        T.StructField("errors", T.ArrayType(T.StringType())),
        # the doc->partition map and partition count n that produced this
        # partition: resume refuses any other (older engines wrote
        # 'nested', 'fused'...), which puts other documents there
        T.StructField("part_mode", T.StringType()),
        T.StructField("partitions", T.LongType()),
    ]
)

#: checkpoint output: spans_out, ``part_lineage``, then ``part_id`` last,
#: where a read of the partitioned sink puts it; all nullable. The one
#: lineage sentinel per part_id (no doc_id) holds its record as a
#: one-element array; span rows a null one (4 B in Arrow IPC, where a null
#: LINEAGE struct costs 60 B). Older struct ``lineage`` sinks read as null.
CHECKPOINT_OUT_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType) for f in SPANS_OUT_SCHEMA]
    + [
        T.StructField("part_lineage", T.ArrayType(LINEAGE)),
        T.StructField("part_id", T.IntegerType()),
    ]
)
