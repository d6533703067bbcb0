"""Heavy-document (page-parallel) extraction path: span-for-span
equivalence with the fused per-document path on the full corpus."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf2ocr_spark.operators.exploded import extract_spans_exploded
from pdf2ocr_spark.operators.extract import extract_spans_arrow
from pdf2ocr_spark.pipeline import load_docs_corpus

KEY = ["doc_id", "kind", "offset"]


@pytest.fixture(scope="module")
def docs_df(spark, sf_dir):
    return load_docs_corpus(spark, sf_dir).cache()


def canon(pdf):
    return (
        pdf.sort_values(KEY)
        .reset_index(drop=True)[["doc_id", "kind", "text", "media_ref", "offset"]]
    )


def test_exploded_equals_fused(spark, docs_df):
    # 150-doc slice keeps the suite fast; includes heavy (40x) docs by
    # construction (heavy rate ~4% -> ~6 heavy docs in slice)
    sample = docs_df.where(F.col("doc_id").cast("long") < 150)
    a = canon(extract_spans_arrow(sample).toPandas())
    b = canon(extract_spans_exploded(sample, num_partitions=8).toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_exploded_por_gate(spark, docs_df):
    sample = docs_df.where(F.col("doc_id").cast("long") < 60)
    a = canon(extract_spans_arrow(sample, lang="por").toPandas())
    b = canon(extract_spans_exploded(sample, lang="por").toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_exploded_subset_formats(spark, docs_df):
    sample = docs_df.where(F.col("doc_id").cast("long") < 60)
    for fmts in (["html"], ["docx_para"], ["text", "markdown"]):
        a = canon(extract_spans_arrow(sample, formats=fmts).toPandas())
        b = canon(extract_spans_exploded(sample, formats=fmts).toPandas())
        pd.testing.assert_frame_equal(a, b, obj=f"formats={fmts}")
