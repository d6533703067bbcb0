"""Checkpoint/lineage/resume tests: kill-and-resume yields exactly-once
output; re-running a completed job is a no-op (SURVEY §7 step 4)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf2ocr_spark.operators.checkpoint import (
    read_lineage,
    read_spans,
    run_checkpointed,
    summary,
)
from pdf2ocr_spark.pipeline import load_docs_corpus, run_pipeline, stripe_key

N_PARTS = 8


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_docs_corpus(spark, sf_dir).cache()


def canon(pdf):
    return (
        pdf.sort_values(["doc_id", "kind", "offset"])
        .reset_index(drop=True)[["doc_id", "kind", "text", "media_ref", "offset"]]
    )


def test_full_run_writes_spans_and_lineage(spark, docs, outdir):
    res = run_checkpointed(spark, docs, outdir, num_partitions=N_PARTS)
    assert res["partitions"] == N_PARTS
    assert res["skipped"] == 0 and res["processed"] == N_PARTS
    assert set(res["phase_sec"]) == {"resume_check", "kernel_write", "verify"}

    spans = read_spans(spark, outdir)
    direct = run_pipeline(spark, "/root/testdata/sf0.001", num_partitions=4)
    import pandas as pd

    pd.testing.assert_frame_equal(canon(spans.toPandas()), canon(direct.toPandas()))

    lin = read_lineage(spark, outdir).toPandas()
    assert len(lin) == N_PARTS
    assert (lin["status"] == "success").all()
    assert lin["doc_count"].sum() == docs.count()
    assert (lin["docs_per_sec"].dropna() > 0).all()

    s = summary(spark, outdir).collect()[0]
    assert s["partitions_succeeded"] == N_PARTS
    assert s["doc_errors"] == 0


def test_kill_resume_exactly_once(spark, docs, outdir):
    # simulate a killed run: only partitions 0..2 got processed
    part = stripe_key(N_PARTS)
    partial = docs.withColumn("pid", part).where(F.col("pid") < 3).drop("pid")
    run_checkpointed(spark, partial, outdir, num_partitions=N_PARTS)
    # the kernel only saw docs of partitions 0-2, so lineage has 3 rows
    assert len(read_lineage(spark, outdir).toPandas()) == 3

    # resume with the FULL corpus: must process only the remaining 5
    res = run_checkpointed(spark, docs, outdir, num_partitions=N_PARTS)
    assert res["skipped"] == 3
    assert res["processed"] == 5

    spans = read_spans(spark, outdir).toPandas()
    direct = run_pipeline(spark, "/root/testdata/sf0.001", num_partitions=4).toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(canon(spans), canon(direct))

    # exactly-once: no duplicated (doc_id, kind, offset)
    assert not spans.duplicated(["doc_id", "kind", "offset"]).any()


def test_weight_striping_balances_partitions(spark, docs, outdir):
    """Skew evidence: despite Zipf page counts (40x heavy tail), the
    stripe_key partitioning (a hash of doc_id, which spreads heavy docs
    independently of each other) keeps per-partition page totals balanced
    (no partition carries more than ~2.5x the mean) — the north-rule skew
    criterion, measured from the lineage metrics themselves."""
    run_checkpointed(spark, docs, outdir, num_partitions=N_PARTS)
    lin = read_lineage(spark, outdir).toPandas()
    pages = lin["page_count"]
    assert len(pages) == N_PARTS
    assert pages.max() <= 2.5 * pages.mean()
    assert pages.min() >= 0.3 * pages.mean()


def _poison(spark):
    """One document whose first span has a null offset: no reading order."""
    from pdf2ocr_spark.schema import DOCS_SCHEMA

    return spark.createDataFrame(
        [("poison-doc", [
            {"kind": "page", "text": "ok.", "media_ref": None, "offset": None},
            {"kind": "page", "text": "boom.", "media_ref": None, "offset": 1},
        ])],
        schema=DOCS_SCHEMA,
    )


@pytest.mark.parametrize("stage", ["extract_spans_arrow", "ocr_recover_stats"])
def test_arrow_path_rejects_null_offset(spark, stage):
    """Without lineage there is nowhere to isolate the error: extraction,
    and the OCR stage reading pages the same way, fail naming the
    document instead of guessing a reading order."""
    from pyspark.errors import PythonException

    from pdf2ocr_spark.operators.extract import extract_spans_arrow
    from pdf2ocr_spark.operators.ocr import ocr_recover_stats

    run = {"extract_spans_arrow": extract_spans_arrow, "ocr_recover_stats": ocr_recover_stats}
    with pytest.raises(PythonException, match="'poison-doc' has a span with a null offset"):
        run[stage](_poison(spark)).collect()


def test_run_leaves_the_session_overwrite_mode_alone(spark, docs, outdir):
    """Dynamic partition overwrite is the sink's writer option: the
    caller's session keeps its own mode for every later overwrite."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try:
        run_checkpointed(spark, docs.limit(20), outdir, num_partitions=4)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)


def test_per_doc_error_isolation(spark, docs, sf_dir, outdir):
    """A document that crashes the kernel is recorded in lineage errors
    and marks its partition 'partial'; the job completes and every
    healthy doc is extracted (ref behavior: per-file try/except,
    converters/pdf.py:743-746). The kernel is a pure function of the
    document, so a resume counts the partial partition as done: it
    converges at once instead of re-failing the document forever."""
    import pandas as pd

    ids = [r["doc_id"] for r in docs.limit(50).select("doc_id").collect()]
    mixed = docs.where(F.col("doc_id").isin(ids)).unionByName(_poison(spark))
    run_checkpointed(spark, mixed, outdir, num_partitions=4)

    lin = read_lineage(spark, outdir).toPandas()
    all_errors = [e for errs in lin["errors"] for e in errs]
    assert len(all_errors) == 1
    assert all_errors[0].startswith("poison-doc:")
    failed = lin["errors"].map(len) > 0
    assert (lin.loc[failed, "status"] == "partial").all()
    assert (lin.loc[~failed, "status"] == "success").all()
    assert lin["doc_count"].sum() == 51
    assert summary(spark, outdir).collect()[0]["partitions_succeeded"] == len(lin) - 1

    spans = read_spans(spark, outdir).toPandas()
    assert "poison-doc" not in set(spans["doc_id"])
    assert spans["doc_id"].nunique() >= 45  # healthy docs extracted

    res = run_checkpointed(spark, mixed, outdir, num_partitions=4)
    assert res["processed"] == 0
    kept = read_lineage(spark, outdir).toPandas()
    assert kept.loc[kept["errors"].map(len) > 0, "status"].tolist() == ["partial"]
    spans = read_spans(spark, outdir).toPandas()
    direct = run_pipeline(spark, sf_dir, num_partitions=4).where(F.col("doc_id").isin(ids))
    pd.testing.assert_frame_equal(canon(spans), canon(direct.toPandas()))
    assert not spans.duplicated(["doc_id", "kind", "offset"]).any()


def test_completed_job_is_noop(spark, docs, outdir):
    run_checkpointed(spark, docs, outdir, num_partitions=N_PARTS)
    res = run_checkpointed(spark, docs, outdir, num_partitions=N_PARTS)
    assert res == {"partitions": N_PARTS, "skipped": N_PARTS, "processed": 0}


def test_no_resume_clears_stale_state(spark, docs, outdir):
    """resume=False on a pre-populated output dir must neither inherit
    stale spans nor count stale lineage rows as this run's work: a full
    8-partition run followed by a fresh (no-resume) run over a SUBSET
    reporting only the partitions the subset actually hit."""
    run_checkpointed(spark, docs, outdir, num_partitions=N_PARTS)

    part = stripe_key(N_PARTS)
    subset = docs.withColumn("pid", part).where(F.col("pid") < 3).drop("pid")
    res = run_checkpointed(
        spark, subset, outdir, num_partitions=N_PARTS, resume=False
    )
    # only the 3 partitions the subset populated count as processed —
    # the stale 8-partition state must not inflate the number
    assert res["skipped"] == 0
    assert res["processed"] == 3


def test_resume_with_only_empty_partitions_left_writes_nothing(spark, docs, outdir):
    """Partitions that never received documents stay planned; resuming
    when only they are left runs the write over zero rows, which must
    leave every completed partition's spans and lineage as they were."""
    part = stripe_key(N_PARTS)
    subset = docs.withColumn("pid", part).where(F.col("pid") < 3).drop("pid")
    first = run_checkpointed(spark, subset, outdir, num_partitions=N_PARTS)
    assert first["processed"] == 3
    before = canon(read_spans(spark, outdir).toPandas())

    again = run_checkpointed(spark, subset, outdir, num_partitions=N_PARTS)
    assert again["skipped"] == 3 and again["processed"] == 0
    import pandas as pd

    pd.testing.assert_frame_equal(canon(read_spans(spark, outdir).toPandas()), before)
    lin = read_lineage(spark, outdir).toPandas()
    assert len(lin) == 3 and lin["doc_count"].sum() == subset.count()

    # and the output contains ONLY the fresh run's spans
    spans = read_spans(spark, outdir).toPandas()
    subset_ids = {r["doc_id"] for r in subset.select("doc_id").collect()}
    assert set(spans["doc_id"]) <= subset_ids
    assert len(read_lineage(spark, outdir).toPandas()) == 3


def _small_with_part_id(spark, sf_dir, parts):
    from pdf2ocr_spark.pipeline import load_documents, stripe_key

    return (
        load_documents(spark, sf_dir)
        .withColumn("part_id", stripe_key(parts))
        .repartition(parts, "part_id")
    )


def test_fused_channel_matches_two_stage(spark, docs, sf_dir, outdir):
    """The fused channel+extract kernel (the job's zero-nested-shuffle
    path) must emit span-for-span the same relation as the two-stage
    docs -> extract path."""
    import pandas as pd

    small = _small_with_part_id(spark, sf_dir, N_PARTS)
    res = run_checkpointed(
        spark, small, outdir, num_partitions=N_PARTS, fused_channel=True
    )
    assert res["processed"] > 0 and res["skipped"] == 0

    fused = read_spans(spark, outdir).toPandas()
    two_stage_dir = outdir + "_two_stage"
    try:
        run_checkpointed(spark, docs, two_stage_dir, num_partitions=N_PARTS)
        two_stage = read_spans(spark, two_stage_dir).toPandas()
    finally:
        shutil.rmtree(two_stage_dir, ignore_errors=True)
    pd.testing.assert_frame_equal(canon(fused), canon(two_stage))

    # lineage covers every doc exactly once despite the caller-side part id
    lin = read_lineage(spark, outdir).toPandas()
    assert lin["doc_count"].sum() == small.count()
    assert (lin["status"] == "success").all()


def test_fused_channel_resume_is_noop_and_requires_part_id(spark, sf_dir, outdir):
    small = _small_with_part_id(spark, sf_dir, N_PARTS)
    first = run_checkpointed(
        spark, small, outdir, num_partitions=N_PARTS, fused_channel=True
    )
    assert first["processed"] > 0
    again = run_checkpointed(
        spark, small, outdir, num_partitions=N_PARTS, fused_channel=True
    )
    assert again["processed"] == 0
    assert again["skipped"] == first["processed"]

    with pytest.raises(ValueError, match="part_id"):
        run_checkpointed(
            spark,
            small.drop("part_id"),
            outdir + "_x",
            num_partitions=N_PARTS,
            fused_channel=True,
        )


def test_nested_run_resumed_by_fused_run_is_exactly_once(spark, docs, sf_dir, outdir):
    """Both modes partition by stripe_key, so a fused-mode resume of a
    killed nested-mode run skips exactly the documents it wrote."""
    import pandas as pd

    part = stripe_key(N_PARTS)
    partial = docs.withColumn("pid", part).where(F.col("pid") < 3).drop("pid")
    run_checkpointed(spark, partial, outdir, num_partitions=N_PARTS)

    small = _small_with_part_id(spark, sf_dir, N_PARTS)
    res = run_checkpointed(
        spark, small, outdir, num_partitions=N_PARTS, fused_channel=True
    )
    assert res["skipped"] == 3
    assert res["processed"] == 5

    spans = read_spans(spark, outdir).toPandas()
    direct = run_pipeline(spark, sf_dir, num_partitions=4).toPandas()
    pd.testing.assert_frame_equal(canon(spans), canon(direct))
    assert not spans.duplicated(["doc_id", "kind", "offset"]).any()


def test_resume_refuses_lineage_from_an_older_map(spark, docs, sf_dir, outdir):
    """Lineage written under another doc->partition map (older engines
    recorded 'fused' or 'nested') may hold different documents under the
    same part_id, and so may a sink whose sentinels carry the record in a
    struct ``lineage`` column (no ``part_lineage``, so no recorded map):
    resume refuses both; resume=False starts over."""
    from pdf2ocr_spark.operators.checkpoint import CHECKPOINT_OUT_SCHEMA

    src = outdir + "_src"
    foreign, struct_era = outdir + "/foreign", outdir + "/struct"
    try:
        run_checkpointed(spark, docs, src, num_partitions=N_PARTS)
        combined = spark.read.schema(CHECKPOINT_OUT_SCHEMA).parquet(src + "/combined")
        combined.withColumn(
            "part_lineage",
            F.transform("part_lineage", lambda r: r.withField("part_mode", F.lit("fused"))),
        ).write.partitionBy("part_id").parquet(foreign + "/combined")
        combined.withColumn("lineage", F.col("part_lineage")[0]).drop(
            "part_lineage"
        ).write.partitionBy("part_id").parquet(struct_era + "/combined")
    finally:
        shutil.rmtree(src, ignore_errors=True)
    assert set(read_lineage(spark, foreign).toPandas()["part_mode"]) == {"fused"}
    # every struct-era sentinel is still a lineage row, with a null record
    struct_lin = read_lineage(spark, struct_era).toPandas()
    assert len(struct_lin) == N_PARTS and struct_lin["status"].isna().all()

    small = _small_with_part_id(spark, sf_dir, N_PARTS)
    for old in (foreign, struct_era):
        with pytest.raises(ValueError, match="partitioning mode"):
            run_checkpointed(
                spark, small, old, num_partitions=N_PARTS, fused_channel=True
            )
        res = run_checkpointed(
            spark,
            small,
            old,
            num_partitions=N_PARTS,
            fused_channel=True,
            resume=False,
        )
        assert res["processed"] > 0


def test_checkpoint_kernel_lineage_column_is_narrow_on_span_rows(sf_dir):
    """Span rows cross the Arrow channel with a null ``part_lineage``
    array: at most 8 B of Arrow IPC each, where a null 9-field LINEAGE
    struct costs about 60 B. Runs the kernel in-process, without Spark."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pdf2ocr_spark.operators.checkpoint import LINEAGE_KIND, checkpoint_kernel

    small = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text", "source"])
    part_id = pa.array([i % 4 for i in range(small.num_rows)], pa.int32())
    batch = small.append_column("part_id", part_id).combine_chunks().to_batches()[0]
    out = pa.Table.from_batches(list(checkpoint_kernel(["text", "markdown"], "eng", None, 4)([batch])))

    spans = out.filter(pc.not_equal(out["kind"], LINEAGE_KIND)).select(["part_lineage"])
    assert spans.num_rows > 1000 and spans["part_lineage"].null_count == spans.num_rows

    def ipc_bytes(table):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        return sink.getvalue().size

    per_row = (ipc_bytes(spans) - ipc_bytes(spans.slice(0, 0))) / spans.num_rows
    assert per_row <= 8, per_row
    assert out.filter(pc.equal(out["kind"], LINEAGE_KIND)).num_rows == 4
