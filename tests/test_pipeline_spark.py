"""Spark integration tests: docs corpus generation, extraction pipeline,
partitioning-invariance (determinism), and parity vs the pure kernel run
single-process (the SURVEY §5 parity strategy: span-sequence equality on
(kind, text, media_ref, order) per document).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf2ocr_spark.kernel.docgen import build_spans
from pdf2ocr_spark.kernel.emit import extract_document
from pdf2ocr_spark.pipeline import load_docs_corpus, load_documents, run_pipeline


@pytest.fixture(scope="module")
def docs_df(spark, sf_dir):
    return load_docs_corpus(spark, sf_dir).cache()


def test_docs_corpus_shape(docs_df, spark, sf_dir):
    n_documents = load_documents(spark, sf_dir).count()
    assert docs_df.count() == n_documents
    row = docs_df.where(F.size("spans") > 0).first()
    kinds = {s["kind"] for s in row["spans"]}
    assert kinds <= {"page", "media"}
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == sorted(offsets)


def test_corpus_has_skew(docs_df):
    sizes = docs_df.select(F.size("spans").alias("n")).toPandas()["n"]
    assert sizes.max() >= 5 * max(1, int(sizes.median()))


def test_pipeline_end_to_end(spark, sf_dir):
    out = run_pipeline(spark, sf_dir, num_partitions=4)
    pdf = out.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"doc_id", "kind", "text", "media_ref", "offset"}
    assert set(pdf["kind"].unique()) <= {
        "text", "html", "docx_para", "markdown", "page_header", "media_ref",
    }
    # offsets dense per (doc_id, kind)
    g = pdf.groupby(["doc_id", "kind"])["offset"]
    assert (g.min() == 0).all()
    assert (g.max() + 1 == g.count()).all()


def test_partitioning_invariance(spark, sf_dir):
    a = run_pipeline(spark, sf_dir, num_partitions=2).toPandas()
    b = run_pipeline(spark, sf_dir, num_partitions=13).toPandas()
    key = ["doc_id", "kind", "offset"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_arrow_path_matches_pure_kernel(spark, docs_df):
    """extract_spans_arrow (the nested mapInArrow path) emits exactly the
    rows of the pure kernel run over the same collected docs rows."""
    from pdf2ocr_spark.operators.extract import extract_spans_arrow

    key = ["doc_id", "kind", "offset"]
    a = extract_spans_arrow(docs_df).toPandas().sort_values(key).reset_index(drop=True)
    rows = []
    for r in docs_df.collect():
        rows.extend(extract_document(r["doc_id"], [s.asDict() for s in r["spans"]]))
    b = (
        pd.DataFrame(rows, columns=["doc_id", "kind", "text", "media_ref", "offset"])
        .sort_values(key)
        .reset_index(drop=True)
    )
    b["offset"] = b["offset"].astype(a["offset"].dtype)
    pd.testing.assert_frame_equal(a, b)


def test_parity_vs_pure_kernel(spark, sf_dir, docs_df):
    """Spark pipeline output == single-process kernel run, span-for-span."""
    spark_out = (
        run_pipeline(spark, sf_dir, num_partitions=4)
        .toPandas()
        .sort_values(["doc_id", "kind", "offset"])
        .reset_index(drop=True)
    )

    documents = load_documents(spark, sf_dir).toPandas()
    rows = []
    for _, r in documents.iterrows():
        spans = build_spans(str(r["doc_id"]), r["text"], r["source"])
        rows.extend(extract_document(str(r["doc_id"]), spans))
    local = (
        pd.DataFrame(rows, columns=["doc_id", "kind", "text", "media_ref", "offset"])
        .sort_values(["doc_id", "kind", "offset"])
        .reset_index(drop=True)
    )
    local["offset"] = local["offset"].astype(spark_out["offset"].dtype)
    pd.testing.assert_frame_equal(spark_out, local)
