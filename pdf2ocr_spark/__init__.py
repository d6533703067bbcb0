"""pdf2ocr_spark — a PySpark-native main-content extraction engine.

Brand-new engine with the query/data-processing capabilities of the
reference CLI ``rdantassilva/pdf2ocr`` (read-only at /root/reference),
rebuilt Spark-first:

- input: a table of interleaved text + media documents
  ``docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
- per-document OCR-text recovery, reading-order paragraph reconstruction,
  header/footer boilerplate stripping, and multi-format span emission
  (text / markdown / html / docx_para / page_header / media_ref), all as
  vectorized ``mapInArrow`` stages (one Arrow idiom,
  :mod:`pdf2ocr_spark.arrowmap`; no per-row Python UDFs)
- per-partition lineage + checkpoint/resume
- training-data-pipeline operators (dedup, similarity search, text
  quality) as declarative DataFrame transforms

Layout:
    kernel/     pure Python/numpy compute (zero Spark imports, unit-testable)
    operators/  Spark DataFrame wrappers around the kernel + pipeline
    functions/  training-data operators (Catalyst + Arrow numpy kernels)
    sources/    IO abstraction (parquet now; Iceberg when catalog available)
    streaming/  incremental ingest via Structured Streaming

Importing the package installs :mod:`pdf2ocr_spark.zipguard`: every
engine closure imports the package in its Python worker, so reused
workers stop re-reading the unchanged Spark zips before each task.
"""

from pdf2ocr_spark import zipguard as _zipguard

_zipguard.install()

__version__ = "0.1.0"
