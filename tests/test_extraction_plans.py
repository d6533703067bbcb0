"""Plan shape of every extraction path: one Python node (``MapInArrow``),
one doc -> partition key and one extraction path in the package."""

import ast
import inspect
import os
import re
import shutil
import tempfile

import pytest

import pdf2ocr_spark
from pdf2ocr_spark.operators.checkpoint import run_checkpointed
from pdf2ocr_spark.operators.extract import extract_spans_arrow
from pdf2ocr_spark.pipeline import (
    load_docs_corpus,
    load_documents,
    run_pipeline,
    stripe_key,
)

PYTHON_NODE = re.compile(r"\w*(?:InArrow|InPandas|EvalPython)\w*")
PACKAGE = os.path.dirname(pdf2ocr_spark.__file__)


@pytest.fixture()
def tmp():
    d = tempfile.mkdtemp(prefix="plans_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def python_nodes(spark, action):
    """Names of the Python plan nodes of every SQL execution ``action`` ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty(10_000)
    start = int(store.executionsCount())
    action()
    bus.waitUntilEmpty(10_000)
    names = []
    for e in conv.asJava(store.executionsList(start, 1 << 30)):
        for node in conv.asJava(store.planGraph(e.executionId()).allNodes()):
            if PYTHON_NODE.fullmatch(node.name()):
                names.append(node.name())
    return names


@pytest.fixture()
def nested_docs(spark, sf_dir, tmp):
    """The docs relation read back from parquet, so its own plan has no
    Python node (``documents_to_docs`` is one)."""
    path = os.path.join(tmp, "docs")
    load_docs_corpus(spark, sf_dir).limit(40).write.parquet(path)
    return spark.read.parquet(path)


def test_extract_spans_arrow_runs_one_map_in_arrow(spark, nested_docs):
    df = extract_spans_arrow(nested_docs)
    nodes = python_nodes(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert nodes == ["MapInArrow"]


def test_run_pipeline_runs_one_map_in_arrow(spark, sf_dir):
    df = run_pipeline(spark, sf_dir, num_partitions=4)
    nodes = python_nodes(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert nodes == ["MapInArrow"]


def test_ocr_roundtrip_runs_one_map_in_arrow(spark, sf_dir):
    """The OCR query reads the small rows: no docgen stage of its own."""
    import __spark_entry__

    df = __spark_entry__.queries()["ocr_roundtrip"](spark, sf_dir)
    nodes = python_nodes(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert nodes == ["MapInArrow"]


def test_checkpoint_modes_run_one_map_in_arrow(spark, sf_dir, nested_docs, tmp):
    nested = python_nodes(
        spark,
        lambda: run_checkpointed(spark, nested_docs, os.path.join(tmp, "n"), num_partitions=4),
    )
    small = (
        load_documents(spark, sf_dir)
        .limit(40)
        .withColumn("part_id", stripe_key(4))
        .repartition(4, "part_id")
    )
    fused = python_nodes(
        spark,
        lambda: run_checkpointed(
            spark, small, os.path.join(tmp, "f"), num_partitions=4, fused_channel=True
        ),
    )
    assert nested == ["MapInArrow"]
    assert fused == ["MapInArrow"]


def test_one_partition_key_and_no_pandas_extraction():
    sources = {}
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    sources[os.path.relpath(path, PACKAGE)] = fh.read()
    text = "\n".join(sources.values())
    assert "stable_part_id" not in text
    assert "skew_balanced" not in text
    assert [p for p, src in sources.items() if "def stripe_key(" in src] == [
        os.path.join("operators", "extract.py")
    ]
    # one Arrow idiom: no pandas stage in operators/, plans/ or
    # functions/, pandas imported only by streaming/'s stateful
    # applyInPandasWithState, one batch builder, and structs always
    # arrive as dicts
    for path, src in sources.items():
        top = path.split(os.sep)[0]
        if top in ("operators", "plans", "functions"):
            for idiom in ("pandas_udf", "mapInPandas", "applyInPandas"):
                assert idiom not in src, (path, idiom)
        if top != "streaming":
            assert "import pandas" not in src and "from pandas" not in src, path
    builders = ("RecordBatch.from_arrays", "Table.from_arrays")
    assert [p for p, src in sources.items() if any(b in src for b in builders)] == [
        "arrowmap.py"
    ]
    assert "isinstance(meta, dict)" not in text
    # one typed lineage record: no JSON codec, and its field list is
    # declared only in schema.py
    for codec in ("from_json", "json.dumps", "LINEAGE_JSON_SCHEMA", "import json"):
        assert codec not in text, codec
    from pdf2ocr_spark import schema

    def literals(src):
        return {
            n.value
            for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        }

    fields = set(schema.LINEAGE.names)
    assert [p for p, src in sources.items() if fields <= literals(src)] == ["schema.py"]
    # one owner of the lineage protocol, and a single-mode extraction kernel
    owner = os.path.join("operators", "checkpoint.py")
    for name in ("LINEAGE_KIND =", "PART_MAP =", "def _lineage("):
        assert [p for p, src in sources.items() if name in src] == [owner], name
    from pdf2ocr_spark.operators.extract import extraction_kernel

    assert list(inspect.signature(extraction_kernel).parameters) == [
        "formats",
        "lang",
        "max_sentences",
    ]
    # one extraction path: the fused kernel, with no page-parallel copy
    assert not os.path.exists(os.path.join(PACKAGE, "operators", "exploded.py"))

    def callers(src):
        """The functions in ``src`` that call ``extract_from_pages``."""
        return {
            fn.name
            for fn in ast.walk(ast.parse(src))
            if isinstance(fn, ast.FunctionDef)
            for node in ast.walk(fn)
            if isinstance(node, ast.Call)
            and getattr(node.func, "id", getattr(node.func, "attr", None))
            == "extract_from_pages"
        }

    assert {path: c for path, src in sources.items() if (c := callers(src))} == {
        os.path.join("operators", "extract.py"): {"extraction_kernel", "run"},
        os.path.join("operators", "checkpoint.py"): {"checkpoint_kernel", "run"},
        os.path.join("kernel", "emit.py"): {"extract_document"},
    }
