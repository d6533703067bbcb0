"""Structured Streaming ingest: batch parity + exactly-once incremental
processing across restarts (stream checkpoint)."""

import os
import re
import shutil
import tempfile

import pytest

from pdf2ocr_spark.pipeline import load_documents, run_pipeline
from pdf2ocr_spark.streaming.ingest import (
    start_extract_stream,
    stream_extract_available_now,
)


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="stream_")
    d = {
        "input": os.path.join(root, "in"),
        "output": os.path.join(root, "out"),
        "ckpt": os.path.join(root, "ckpt"),
    }
    os.makedirs(d["input"])
    yield d
    shutil.rmtree(root, ignore_errors=True)


def canon(pdf):
    return (
        pdf.sort_values(["doc_id", "kind", "offset"])
        .reset_index(drop=True)[["doc_id", "kind", "text", "media_ref", "offset"]]
    )


def test_stream_matches_batch_and_is_incremental(spark, sf_dir, dirs):
    import pandas as pd

    documents = load_documents(spark, sf_dir)
    first = documents.where("doc_id < 100")
    rest = documents.where("doc_id >= 100")

    # drop the first slice into the stream input and process
    first.write.mode("append").parquet(dirs["input"])
    stream_extract_available_now(spark, dirs["input"], dirs["output"], dirs["ckpt"])
    out1 = spark.read.parquet(dirs["output"]).toPandas()
    assert set(out1["doc_id"].astype(int)) <= set(range(100))

    # drop the rest; only NEW files are processed (checkpointed offsets)
    rest.write.mode("append").parquet(dirs["input"])
    stream_extract_available_now(spark, dirs["input"], dirs["output"], dirs["ckpt"])
    out2 = spark.read.parquet(dirs["output"]).toPandas()

    batch = run_pipeline(spark, sf_dir, num_partitions=4).toPandas()
    pd.testing.assert_frame_equal(canon(out2), canon(batch))

    # idempotent: a third run with no new files adds nothing
    stream_extract_available_now(spark, dirs["input"], dirs["output"], dirs["ckpt"])
    out3 = spark.read.parquet(dirs["output"])
    assert out3.count() == len(out2)


def test_stream_runs_one_python_stage(spark, sf_dir, dirs, capsys):
    """Each micro-batch runs the fused ingest stage: exactly one Python
    plan node (``MapInArrow``), no ``mapInPandas`` chain."""
    load_documents(spark, sf_dir).where("doc_id < 20").write.mode("append").parquet(
        dirs["input"]
    )
    q = start_extract_stream(
        spark, dirs["input"], dirs["output"], dirs["ckpt"], available_now=True
    )
    q.awaitTermination()
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    python_nodes = re.findall(r"\b\w*(?:InArrow|InPandas|EvalPython)\b", plan)
    assert python_nodes == ["MapInArrow"], plan
