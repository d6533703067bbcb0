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

#: checkpoint output: spans_out plus ``part_id``, all nullable (the
#: lineage sentinel rows carry no doc_id)
CHECKPOINT_OUT_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType) for f in SPANS_OUT_SCHEMA]
    + [T.StructField("part_id", T.IntegerType())]
)
