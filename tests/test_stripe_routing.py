"""The stripe shuffle sends part_id p to shuffle partition p, and the
checkpointed job runs its kernel+write stage on one task per slot, each
task holding whole part_ids; a resume under another partition count is
refused."""

import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf2ocr_spark.operators.checkpoint import read_lineage, run_checkpointed
from pdf2ocr_spark.pipeline import (
    load_docs_corpus,
    load_documents,
    stripe_documents,
    stripe_key,
)

PART_FILE = re.compile(r"part-(\d{5})-.*\.parquet")


@pytest.fixture()
def tmp():
    d = tempfile.mkdtemp(prefix="stripe_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(autouse=True)
def aqe_on(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


@pytest.fixture(scope="module")
def sf01(sf_dir):
    """The sf0.01 corpus next to the default test corpus."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


def executed_exchanges(spark, action):
    """Descriptions of the Exchange nodes of every SQL execution ``action`` ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty(10_000)
    start = int(store.executionsCount())
    action()
    bus.waitUntilEmpty(10_000)
    return [
        node.desc()
        for e in conv.asJava(store.executionsList(start, 1 << 30))
        for node in conv.asJava(store.planGraph(e.executionId()).allNodes())
        if node.name() == "Exchange"
    ]


def small_rows(spark, sf, n):
    """The job's input: text rows tagged with part_id and shuffled by it."""
    return (
        load_documents(spark, sf)
        .withColumn("part_id", stripe_key(n))
        .repartition(n, "part_id")
    )


@pytest.mark.parametrize("n", [8, 16, 64])
def test_stripe_documents_puts_part_id_p_in_partition_p(spark, sf01, n):
    rows = (
        stripe_documents(load_documents(spark, sf01), n)
        .select(F.spark_partition_id().alias("task"), stripe_key(n).alias("part_id"))
        .collect()
    )
    assert all(r["task"] == r["part_id"] for r in rows)
    assert {r["task"] for r in rows} == set(range(n))


@pytest.mark.parametrize("fused", [False, True], ids=["nested", "fused"])
@pytest.mark.parametrize("n", [8, 16, 64])
def test_checkpoint_runs_one_task_per_slot(spark, sf01, tmp, n, fused):
    docs = small_rows(spark, sf01, n) if fused else load_docs_corpus(spark, sf01)
    res = run_checkpointed(spark, docs, tmp, num_partitions=n, fused_channel=fused)
    assert res["processed"] == n

    combined = os.path.join(tmp, "combined")
    tasks = set()
    for k in range(n):
        files = [
            f for f in os.listdir(os.path.join(combined, f"part_id={k}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (k, files)
        tasks.add(PART_FILE.fullmatch(files[0]).group(1))
    assert len(tasks) == min(n, spark.sparkContext.defaultParallelism)

    lin = read_lineage(spark, tmp).toPandas()
    assert sorted(lin["part_id"]) == list(range(n))
    assert lin["doc_count"].sum() == load_documents(spark, sf01).count()


@pytest.mark.parametrize("n", [8, 16, 64])
def test_fused_mode_collapses_the_callers_shuffle(spark, sf01, tmp, n):
    small = small_rows(spark, sf01, n)
    exchanges = executed_exchanges(
        spark,
        lambda: run_checkpointed(spark, small, tmp, num_partitions=n, fused_channel=True),
    )
    assert sum("hashpartitioning" in d for d in exchanges) == 1, exchanges


def test_resume_with_another_partition_count_is_refused(spark, sf_dir, tmp):
    """A run that wrote part_ids 0..9 of 16 cannot be resumed at 8
    partitions: the same part_id holds other documents under n = 8, so
    skipping the "done" ones would drop documents."""
    first = (
        load_documents(spark, sf_dir)
        .withColumn("part_id", stripe_key(16))
        .where(F.col("part_id") < 10)
    )
    res = run_checkpointed(spark, first, tmp, num_partitions=16, fused_channel=True)
    assert res["processed"] == 10

    full = load_documents(spark, sf_dir).withColumn("part_id", stripe_key(8))
    with pytest.raises(ValueError, match="num_partitions") as err:
        run_checkpointed(spark, full, tmp, num_partitions=8, fused_channel=True)
    assert ", 16)" in str(err.value) and ", 8)" in str(err.value)
    res = run_checkpointed(
        spark, full, tmp, num_partitions=8, fused_channel=True, resume=False
    )
    assert (res["skipped"], res["processed"]) == (0, 8)
