"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine: ``pdf2ocr_spark`` (see SURVEY.md §7). Registered queries:

- SQL-expressible operators (SURVEY §2.2/§2.4/§2.5) with DuckDB oracles
  → pdf2ocr_spark/plans/queries.py
- the full extraction pipeline (paragraph-FSM based, inherently
  non-SQL-expressible per SURVEY §2.4) registered rows-only:
  ``extract_pipeline`` and ``docs_corpus`` have no oracle entry.
  ``extract_pipeline`` runs the one extraction path, the fused
  per-document kernel (``operators/extract.py``); there is no
  page-parallel variant, since one kernel call per document was faster
  on every corpus measured, 10,000-page documents included.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pdf2ocr_spark.pipeline import fan_out, load_docs_corpus, load_documents, run_pipeline
from pdf2ocr_spark.plans import ORACLE_SQL, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full OCR-text extraction pipeline over the sf0.001
    interleaved docs corpus; returns the spans_out relation."""
    return run_pipeline(spark, "/root/testdata/sf0.001", num_partitions=8)


def _q_extract_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_pipeline(spark, sf_dir, num_partitions=16)


def _q_docs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    # summarize the interleaved corpus per doc (rows-only check: the spans
    # array itself is the non-SQL-derivable part)
    return load_docs_corpus(spark, sf_dir).select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.size(F.filter("spans", lambda s: s["kind"] == "page")).alias("n_pages"),
        F.size(F.filter("spans", lambda s: s["kind"] == "media")).alias("n_media"),
    )


def _q_ocr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasterize -> §2.3 preprocess chain -> template decode, bounded to a
    sample of docs/pages (CPU-heavy raster kernel; rows-only check —
    self-validating via recovered_matches == page_count)."""
    from pdf2ocr_spark.operators.ocr import ocr_recover_stats

    docs = fan_out(load_documents(spark, sf_dir).where("doc_id < 50"))
    return ocr_recover_stats(docs, max_pages_per_doc=2)


def _q_ocr_roundtrip_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same round trip with the REAL tiled CLAHE in the Step-3 contrast
    slot (kernel/imageproc.clahe — what the reference computes with
    skimage installed, ref ocr.py:122-135); rows-only, self-validating
    via recovered_matches == page_count."""
    from pdf2ocr_spark.operators.ocr import ocr_recover_stats

    docs = fan_out(load_documents(spark, sf_dir).where("doc_id < 50"))
    return ocr_recover_stats(docs, max_pages_per_doc=2, adaptive=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = dict(QUERIES)
    out["extract_pipeline"] = _q_extract_pipeline
    out["docs_corpus"] = _q_docs_corpus
    out["ocr_roundtrip"] = _q_ocr_roundtrip
    out["ocr_roundtrip_adaptive"] = _q_ocr_roundtrip_adaptive
    out["media_features"] = _q_media_features
    # (similarity_ivf_trained moved to plans.QUERIES in round 5: the
    # Lloyd loop unrolls into per-round DuckDB CTEs, so it is
    # oracle-checked after all — see similarity_sql.sql_ivf_trained)
    return out


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal stage: media spans -> typed binary relation -> stubbed
    decode/feature-extract (deterministic fake decoder; rows-only check —
    the media span POSITIONS come from the seeded channel RNG, not
    SQL-derivable; the decode math itself is oracle-checked by the
    ``media_decode`` query). The array<float> feature is serialized to a
    comma-joined u8 string because the driver's canonicalizer sorts cell
    values and cannot hash list cells."""
    from pyspark.sql import functions as F

    from pdf2ocr_spark.operators.docgen import documents_to_docs
    from pdf2ocr_spark.operators.media import decode_media, media_table

    docs = documents_to_docs(fan_out(load_documents(spark, sf_dir).where("doc_id < 200")))
    feats = decode_media(media_table(docs), fake=True)
    return feats.select(
        "doc_id",
        "media_ref",
        "media_type",
        F.array_join(
            F.transform("feature", lambda x: F.round(x * 255).cast("int").cast("string")),
            ",",
        ).alias("feature_u8"),
        F.coalesce(F.col("thumb_w").cast("string"), F.lit("-")).alias("thumb_w"),
        F.coalesce(F.col("thumb_h").cast("string"), F.lit("-")).alias("thumb_h"),
    )


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; non-SQL-expressible ops (the paragraph
    FSM pipeline and the seeded corpus generator) are intentionally absent
    → rows-only check."""
    return dict(ORACLE_SQL)
