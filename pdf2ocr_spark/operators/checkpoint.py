"""Checkpointed extraction job: per-partition lineage + exactly-once resume.

The reference CLI has NO resume — a killed run redoes everything
(/root/reference/pdf2ocr/converters/pdf.py:919-927 only stops scheduling).
This engine checkpoints at partition granularity (north rule):

- every document gets a STABLE partition id (``part_id``) from the same
  weight-striped expression as ``skew_balanced`` — deterministic across
  runs and cluster sizes, so a resume sees the identical doc->partition map;
- the fused kernel emits, per Spark task, one sentinel '_lineage' row with
  real in-kernel metrics (doc/page/span counts, wall time, per-doc errors);
- spans and lineage are both written ``partitionBy(part_id)`` with dynamic
  partition overwrite, so re-processing a partition is idempotent
  (overwrite-by-partition, never append);
- ``resume``: partitions whose lineage row says 'success' are anti-joined
  away; only the remainder is computed. Running a completed job again is a
  no-op.

Error isolation mirrors the reference's per-file try/except
(pdf.py:743-746): a failing document is recorded in the partition's
lineage error list and the job continues.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf2ocr_spark.kernel.emit import ALL_FORMATS, extract_document

LINEAGE_KIND = "_lineage"

CHECKPOINT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("part_id", T.IntegerType()),
    ]
)

LINEAGE_JSON_SCHEMA = T.StructType(
    [
        T.StructField("doc_count", T.LongType()),
        T.StructField("page_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("wall_sec", T.DoubleType()),
        T.StructField("docs_per_sec", T.DoubleType()),
        T.StructField("status", T.StringType()),
        T.StructField("errors", T.ArrayType(T.StringType())),
        # which doc->partition map produced this partition: 'nested'
        # (stable_part_id on span counts) or 'fused' (pipeline.stripe_key
        # on text word counts) — resume refuses a mode mismatch, because
        # the two maps assign DIFFERENT documents to the same part_id and
        # skipping a "done" partition would then skip the wrong documents
        T.StructField("part_mode", T.StringType()),
    ]
)


def stable_part_id(num_partitions: int):
    """Deterministic weight-striped partition id (must match
    operators/extract.py:skew_balanced so bench and checkpoint agree)."""
    wclass = F.floor(F.log2(F.greatest(F.size("spans"), F.lit(1)) + 1))
    return F.pmod(
        F.xxhash64(F.col("doc_id"), wclass.cast("long")), F.lit(num_partitions)
    ).cast("int")


def _kernel(formats: Sequence[str], lang: str, max_sentences: Optional[int]):
    fmts = tuple(formats)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "kind", "text", "media_ref", "offset", "part_id"]
        # one Spark task can carry several part_id values (value-hash
        # collisions in repartition), so metrics are bucketed per part_id
        stats: dict[int, dict] = {}
        for pdf in batches:
            rows = []
            for doc_id, spans, pid in zip(pdf["doc_id"], pdf["spans"], pdf["part_id"]):
                pid = int(pid)
                st = stats.setdefault(
                    pid,
                    {"docs": 0, "pages": 0, "spans": 0, "wall": 0.0, "errors": []},
                )
                st["docs"] += 1
                st["pages"] += sum(1 for s in spans if s.get("kind") == "page")
                t0 = time.monotonic()
                try:
                    out = extract_document(doc_id, spans, fmts, lang, max_sentences)
                except Exception as exc:  # reference-style per-doc isolation
                    st["errors"].append(f"{doc_id}: {exc}")
                    st["wall"] += time.monotonic() - t0
                    continue
                st["wall"] += time.monotonic() - t0
                st["spans"] += len(out)
                rows.extend((*r, pid) for r in out)
            yield pd.DataFrame(rows, columns=cols)
        if stats:
            sentinels = []
            for pid, st in sorted(stats.items()):
                payload = json.dumps(
                    {
                        "doc_count": st["docs"],
                        "page_count": st["pages"],
                        "span_count": st["spans"],
                        "wall_sec": round(st["wall"], 4),
                        "docs_per_sec": (
                            round(st["docs"] / st["wall"], 3) if st["wall"] > 0 else None
                        ),
                        "status": "success",
                        "errors": st["errors"],
                        "part_mode": "nested",
                    }
                )
                sentinels.append([None, LINEAGE_KIND, payload, None, 0, pid])
            yield pd.DataFrame(sentinels, columns=cols)

    return run


def _kernel_fused(formats: Sequence[str], lang: str, max_sentences: Optional[int]):
    """Channel + extract in ONE Python pass over the SMALL text rows.

    The two-stage form (documents -> channel mapInPandas -> nested docs
    -> repartition(part_id) -> extract mapInPandas) shuffles the full
    nested span relation between the stages and pays a second
    nested-Arrow round trip; fused, the only shuffle in the whole job is
    the caller's ~100-byte-row repartition by the text-predicted
    part_id (pipeline.stripe_key), and the nested spans live only inside
    one Python worker. Runs as ``mapInArrow`` and emits RecordBatches
    directly: the span-heavy OUTPUT relation (~36 rows/doc) through
    pandas costs a per-row tuple -> DataFrame -> Arrow conversion that
    measured ~4-5x the kernel (same finding as extract_spans_arrow,
    operators/extract.py). Lineage metrics are identical to _kernel
    (pages counted from the spans the channel just built; wall covers
    channel+extract — the work this kernel actually does)."""
    import pyarrow as pa

    from pdf2ocr_spark.kernel.docgen import build_spans

    fmts = tuple(formats)
    names = ["doc_id", "kind", "text", "media_ref", "offset", "part_id"]

    def _batch(doc, kind, text, ref, off, pid):
        return pa.RecordBatch.from_arrays(
            [
                pa.array(doc, pa.string()),
                pa.array(kind, pa.string()),
                pa.array(text, pa.string()),
                pa.array(ref, pa.string()),
                pa.array(off, pa.int32()),
                pa.array(pid, pa.int32()),
            ],
            names=names,
        )

    def run(batches):
        stats: dict[int, dict] = {}
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            sources = batch.column("source").to_pylist()
            pids = batch.column("part_id").to_pylist()
            o_doc, o_kind, o_text, o_ref, o_off, o_pid = [], [], [], [], [], []
            for doc_id, text, source, pid in zip(doc_ids, texts, sources, pids):
                pid = int(pid)
                did = str(doc_id)
                st = stats.setdefault(
                    pid,
                    {"docs": 0, "pages": 0, "spans": 0, "wall": 0.0, "errors": []},
                )
                st["docs"] += 1
                t0 = time.monotonic()
                try:
                    spans = build_spans(did, text, source)
                    st["pages"] += sum(1 for s in spans if s.get("kind") == "page")
                    out = extract_document(did, spans, fmts, lang, max_sentences)
                except Exception as exc:  # reference-style per-doc isolation
                    st["errors"].append(f"{did}: {exc}")
                    st["wall"] += time.monotonic() - t0
                    continue
                st["wall"] += time.monotonic() - t0
                st["spans"] += len(out)
                for r in out:
                    o_doc.append(r[0])
                    o_kind.append(r[1])
                    o_text.append(r[2])
                    o_ref.append(r[3])
                    o_off.append(r[4])
                    o_pid.append(pid)
            yield _batch(o_doc, o_kind, o_text, o_ref, o_off, o_pid)
        if stats:
            s_doc, s_kind, s_text, s_ref, s_off, s_pid = [], [], [], [], [], []
            for pid, st in sorted(stats.items()):
                payload = json.dumps(
                    {
                        "doc_count": st["docs"],
                        "page_count": st["pages"],
                        "span_count": st["spans"],
                        "wall_sec": round(st["wall"], 4),
                        "docs_per_sec": (
                            round(st["docs"] / st["wall"], 3) if st["wall"] > 0 else None
                        ),
                        "status": "success",
                        "errors": st["errors"],
                        "part_mode": "fused",
                    }
                )
                s_doc.append(None)
                s_kind.append(LINEAGE_KIND)
                s_text.append(payload)
                s_ref.append(None)
                s_off.append(0)
                s_pid.append(pid)
            yield _batch(s_doc, s_kind, s_text, s_ref, s_off, s_pid)

    return run


def _completed_partitions(
    spark: SparkSession, output_dir: str
) -> tuple[set[int], set[str]]:
    """(done part_ids, partitioning modes recorded in their lineage)."""
    try:
        lin = read_lineage(spark, output_dir)
    except Exception:
        return set(), set()
    rows = (
        lin.where(F.col("status") == "success")
        .select("part_id", "part_mode")
        .collect()
    )
    return (
        {r["part_id"] for r in rows},
        {r["part_mode"] for r in rows if r["part_mode"] is not None},
    )


def run_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    num_partitions: int = 32,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
    resume: bool = True,
    fused_channel: bool = False,
) -> dict:
    """Execute the extraction job with per-partition checkpointing.

    Default mode consumes the nested ``docs(doc_id, spans)`` relation and
    shuffles it by ``stable_part_id``. ``fused_channel=True`` consumes the
    SMALL pre-channel relation ``(doc_id, text, source, part_id)`` instead
    and runs channel+extract in one Python pass: the caller computes a
    deterministic part_id on the text rows (``pipeline.stripe_key``) and
    repartitions the cheap side, so NO nested data is ever shuffled —
    the scale-critical layout for the spark-submit job.

    Returns a summary dict: partitions planned/skipped/processed.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    if fused_channel:
        if "part_id" not in docs.columns:
            raise ValueError(
                "fused_channel=True requires a caller-computed part_id "
                "column (pipeline.stripe_key) so resume sees the same "
                "doc -> partition mapping on every run"
            )
        tagged = docs
    else:
        tagged = docs.withColumn("part_id", stable_part_id(num_partitions))

    if not resume:
        # a fresh (non-resume) run must not inherit stale state: dynamic
        # partition overwrite preserves partitions this run never writes,
        # which would both leak old spans into read_spans() and inflate the
        # processed count (stale lineage rows read back as "present");
        # local-FS delete here — an object-store deployment would drop the
        # table / prefix through its catalog instead
        import shutil

        shutil.rmtree(os.path.join(output_dir, "combined"), ignore_errors=True)
    t_resume0 = time.monotonic()
    mode = "fused" if fused_channel else "nested"
    done, done_modes = (
        _completed_partitions(spark, output_dir) if resume else (set(), set())
    )
    if done and not done_modes:
        # lineage predates part_mode recording: the map that produced it
        # is UNKNOWN, so treating it as a match would reintroduce the
        # wrong-documents-skipped bug for exactly the dirs most at risk
        raise ValueError(
            f"output_dir {output_dir!r} has completed partitions whose "
            "lineage does not record a partitioning mode (written by an "
            "older engine); cannot verify the doc->partition map matches "
            f"this run's {mode!r}. Pass resume=False to start over."
        )
    if done and done_modes - {mode}:
        # fused mode partitions by pipeline.stripe_key (word-count weight),
        # non-fused by stable_part_id (span-count weight): the same part_id
        # holds DIFFERENT documents under the two maps, so resuming across
        # modes would skip "done" partitions whose documents this run never
        # wrote. Refuse instead of silently dropping documents.
        raise ValueError(
            f"output_dir {output_dir!r} was written in partitioning mode(s) "
            f"{sorted(done_modes)} but this run uses {mode!r}; resuming "
            "across modes silently applies a different doc->partition map. "
            "Re-run with the original mode, or resume=False to start over."
        )
    if done:
        tagged = tagged.where(~F.col("part_id").isin(list(done)))

    planned = num_partitions - len(done)
    # no isEmpty probe when partitions remain: it would cost the same pass
    # over the input's map side as the write itself. A remainder holding
    # no documents (only never-seen partitions left) makes the write below
    # a no-op, since dynamic overwrite replaces only the partitions it
    # writes.
    if planned <= 0:
        return {"partitions": num_partitions, "skipped": len(done), "processed": 0}
    t_resume = time.monotonic() - t_resume0

    # ONE shuffle + ONE kernel pass + ONE idempotent partition-overwrite
    # write; spans and lineage are views over the combined relation, so a
    # resumed/re-run partition atomically replaces both its spans and its
    # lineage row together (no spans-written-but-lineage-missing window).
    # In fused mode the caller already repartitioned the small rows by
    # part_id — repeating it here would put a second (elided or worse,
    # real) exchange in the plan.
    if fused_channel:
        out = tagged.select("doc_id", "text", "source", "part_id").mapInArrow(
            _kernel_fused(formats, lang, max_sentences),
            schema=CHECKPOINT_OUT_SCHEMA,
        )
    else:
        shuffled = tagged.repartition(num_partitions, "part_id")
        out = shuffled.select("doc_id", "spans", "part_id").mapInPandas(
            _kernel(formats, lang, max_sentences), schema=CHECKPOINT_OUT_SCHEMA
        )
    t_write0 = time.monotonic()
    out.write.mode("overwrite").partitionBy("part_id").parquet(
        os.path.join(output_dir, "combined")
    )
    t_write = time.monotonic() - t_write0

    # partitions that received ZERO documents emit no kernel sentinel (the
    # kernel never saw them), so `planned` is only an upper bound — count
    # processed from the lineage rows actually present after the write
    # (done-partitions keep their old rows under dynamic overwrite, so the
    # difference is exactly this run's work). A never-seen partition stays
    # unmarked and is re-planned on resume, which is a no-op (zero rows);
    # marking it done instead would wrongly skip its documents when a
    # resume is fed input the crashed run never read. The read-back scans
    # one lineage row per (task, partition) pair, one per partition when
    # the input is partitioned by part_id; the set drops repeats, so no
    # distinct (and its shuffle) is needed.
    t_verify0 = time.monotonic()
    present = {
        r["part_id"]
        for r in _combined(spark, output_dir)
        .where(F.col("kind") == LINEAGE_KIND)
        .select("part_id")
        .collect()
    }
    return {
        "partitions": num_partitions,
        "skipped": len(done),
        "processed": len(present - done),
        "phase_sec": {
            "resume_check": round(t_resume, 2),
            "kernel_write": round(t_write, 2),
            "verify": round(time.monotonic() - t_verify0, 2),
        },
    }


def _combined(spark: SparkSession, output_dir: str) -> DataFrame:
    # every writer above emits CHECKPOINT_OUT_SCHEMA; naming it skips the
    # schema inference (a parquet footer read) of each read-back
    return spark.read.schema(CHECKPOINT_OUT_SCHEMA).parquet(
        os.path.join(output_dir, "combined")
    )


def read_spans(spark: SparkSession, output_dir: str) -> DataFrame:
    return (
        _combined(spark, output_dir)
        .where(F.col("kind") != LINEAGE_KIND)
        .drop("part_id")
    )


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    return (
        _combined(spark, output_dir)
        .where(F.col("kind") == LINEAGE_KIND)
        .select("part_id", F.from_json("text", LINEAGE_JSON_SCHEMA).alias("m"))
        .select("part_id", "m.*")
    )


def summary(spark: SparkSession, output_dir: str) -> DataFrame:
    """The reference's end-of-run summary block (pdf.py:1016-1032) as an
    aggregate over the lineage relation."""
    lin = read_lineage(spark, output_dir)
    return lin.agg(
        F.sum("doc_count").alias("files_processed"),
        F.sum("span_count").alias("spans_emitted"),
        F.round(F.sum("wall_sec"), 3).alias("total_kernel_sec"),
        F.round(F.avg("wall_sec"), 4).alias("avg_sec_per_partition"),
        F.sum(F.when(F.col("status") == "success", 1).otherwise(0)).alias(
            "partitions_succeeded"
        ),
        F.sum(F.size("errors")).alias("doc_errors"),
    )
