"""Spark DataFrame operators wrapping the pure kernels."""

from pdf2ocr_spark.operators.docgen import documents_to_docs  # noqa: F401
from pdf2ocr_spark.operators.extract import extract_spans_arrow  # noqa: F401
