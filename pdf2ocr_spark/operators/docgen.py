"""documents -> docs: derive the interleaved text+media corpus.

Turns the driver's clean ``documents`` relation into the engine's input
relation ``docs(doc_id, spans)`` via the deterministic synthetic
print-scan-OCR channel in :mod:`pdf2ocr_spark.kernel.docgen`. Runs as a
single ``mapInArrow`` stage (``arrowmap.map_rows``, no shuffle): each
input partition maps 1:1 to an output partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf2ocr_spark.arrowmap import map_rows
from pdf2ocr_spark.kernel.docgen import build_spans
from pdf2ocr_spark.schema import DOCS_SCHEMA


def documents_to_docs(documents: DataFrame) -> DataFrame:
    """(doc_id, text, source, ...) -> (doc_id string, spans array<struct>)."""
    return map_rows(
        documents.select(F.col("doc_id").cast("string"), "text", "source"),
        DOCS_SCHEMA,
        lambda doc_id, text, source: [(doc_id, build_spans(doc_id, text, source))],
    )
