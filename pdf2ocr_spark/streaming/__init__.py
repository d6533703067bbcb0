"""Structured Streaming operators over parquet file streams, each started
by the one runner ``ingest.start_file_stream``: document ingest
(``ingest``), corpus clean (``clean``), exact dedup with GroupState
(``dedup``), dedup chained into clean (``pipeline_chain``),
sessionization (``sessions``) and watermarked windows (``windows``)."""

from pdf2ocr_spark.streaming.ingest import (  # noqa: F401
    start_extract_stream,
    stream_extract_available_now,
)
