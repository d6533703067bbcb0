"""Checkpointed extraction job: per-partition lineage + exactly-once resume.

The reference CLI has NO resume — a killed run redoes everything
(/root/reference/pdf2ocr/converters/pdf.py:919-927 only stops scheduling).
This engine checkpoints at partition granularity (north rule); this
module alone knows the lineage protocol:

- every document gets a STABLE partition id (``part_id``) from
  ``pipeline.stripe_key`` — deterministic across runs, cluster sizes and
  input shapes, so a resume sees the identical doc->partition map
  (``PART_MAP``); the kernel runs one task per slot over whole part_ids;
- ``checkpoint_kernel`` makes the extraction kernel's per-document call
  and emits one ``LINEAGE_KIND`` sentinel row per part_id whose
  ``part_lineage`` holds the partition's ``schema.LINEAGE`` record (doc/
  page/span counts, wall time, per-doc errors, status) as a one-element
  array, null on span rows;
- spans and lineage are both written ``partitionBy(part_id)`` with dynamic
  partition overwrite, so re-processing a partition is idempotent
  (overwrite-by-partition, never append);
- ``resume``: a partition is done when it has a lineage row, whatever its
  status; done partitions are filtered away and only the remainder is
  computed, so running a completed job again is a no-op.

Error isolation mirrors the reference's per-file try/except
(pdf.py:743-746): a failing document is recorded in the partition's
lineage error list, its partition's status is 'partial', and the job
continues. The kernel is a pure function of the document, so a re-run
would fail the same way: a resume keeps the partition. A task that dies
(executor loss, OOM kill) writes no lineage row, so a resume re-plans its
partition. To re-run a partition, delete its ``part_id=k`` directory or
pass ``resume=False``.
"""

from __future__ import annotations

import os
import time
from typing import Optional, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf2ocr_spark.arrowmap import arrow_schema, record_batch
from pdf2ocr_spark.kernel.emit import ALL_FORMATS, extract_from_pages
from pdf2ocr_spark.operators.extract import (
    document_columns,
    pages_reader,
    stripe_column,
    stripe_key,
)
from pdf2ocr_spark.schema import CHECKPOINT_OUT_SCHEMA

#: ``kind`` of the one lineage sentinel row per part_id
LINEAGE_KIND = "_lineage"

#: the doc -> part_id map, recorded in lineage ``part_mode`` next to its
#: ``partitions`` n: resume skips a "done" partition only under both
PART_MAP = "pmod(hash(cast(doc_id as string)), n)"


def checkpoint_kernel(formats: Sequence[str], lang: str, max_sentences: Optional[int], n: int):
    """The checkpoint job's ``mapInArrow`` function for ``n`` partitions.

    Input batches are the extraction kernel's plus ``part_id``; output is
    ``CHECKPOINT_OUT_SCHEMA`` rows. Each document runs the extraction
    kernel's call (``pages_reader`` then ``extract_from_pages``), timed,
    with its errors isolated (reference-style per-file try/except,
    pdf.py:743-746) into its partition's lineage. After the last batch one
    ``LINEAGE_KIND`` sentinel per ``part_id`` carries the record, with
    status 'partial' when any of its documents failed."""
    fmts = tuple(formats)
    schema = arrow_schema(CHECKPOINT_OUT_SCHEMA)

    def run(batches):
        # a task holds several whole part_ids (coalesce): bucket per part_id
        stats: dict[int, dict] = {}
        for batch in batches:
            doc_ids, pages_of = pages_reader(batch)
            pids = batch.column("part_id").to_pylist()
            out = []
            for i, doc_id in enumerate(doc_ids):
                st = stats.setdefault(
                    pids[i], {"docs": 0, "pages": 0, "spans": 0, "wall": 0.0, "errors": []}
                )
                st["docs"] += 1
                t0 = time.monotonic()
                try:
                    pages, media = pages_of(i)
                    st["pages"] += len(pages)
                    rows = extract_from_pages(doc_id, pages, media, fmts, lang, max_sentences)
                except Exception as exc:  # reference-style per-doc isolation
                    st["errors"].append(f"{doc_id}: {exc}")
                    rows = []
                st["wall"] += time.monotonic() - t0
                st["spans"] += len(rows)
                out.extend(row + (None, pids[i]) for row in rows)
            yield record_batch(out, schema)
        if stats:
            sentinels = [
                (None, LINEAGE_KIND, None, None, 0, [_lineage(st, n)], pid)
                for pid, st in sorted(stats.items())
            ]
            yield record_batch(sentinels, schema)

    return run


def _lineage(st: dict, n: int) -> tuple:
    """One partition's ``schema.LINEAGE`` record, in its field order."""
    docs, wall, errors = st["docs"], st["wall"], st["errors"]
    rate = round(docs / wall, 3) if wall > 0 else None
    status = "partial" if errors else "success"
    return docs, st["pages"], st["spans"], round(wall, 4), rate, status, errors, PART_MAP, n


def _lineage_rows(spark: SparkSession, output_dir: str) -> list:
    """``(part_id, part_mode, partitions)`` of every lineage row in the
    sink, none before its first write. A sink that predates
    ``part_lineage`` reads as (None, None), which resume refuses."""
    try:
        lin = read_lineage(spark, output_dir)
    except AnalysisException:  # no sink yet
        return []
    return lin.select("part_id", "part_mode", "partitions").collect()


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

    ``num_partitions`` is the resume granularity (part_ids, partition
    directories, lineage rows); the kernel runs ``min(num_partitions,
    slots)`` tasks over whole part_ids, as a Python task's fixed cost does
    not shrink with its work. ``docs`` is either document shape
    (``operators.extract.document_columns``): the nested ``docs(doc_id,
    spans)`` relation, or the SMALL pre-channel rows ``(doc_id, text,
    source)``, which the kernel runs channel+extract over in one Python
    pass, so NO nested data is ever shuffled — the scale-critical layout
    for the spark-submit job. Default mode tags ``docs`` with
    ``pipeline.stripe_key``; ``fused_channel=True`` takes the caller's own
    ``part_id`` column (computed with ``pipeline.stripe_key``). Both modes
    run the same stripe shuffle and map a document to the same part_id,
    so either can resume the other's output.

    Returns a summary dict: partitions planned/skipped/processed.
    """
    if fused_channel:
        if "part_id" not in docs.columns:
            raise ValueError(
                "fused_channel=True requires a caller-computed part_id "
                "column (pipeline.stripe_key) so resume sees the same "
                "doc -> partition mapping on every run"
            )
    else:
        docs = docs.withColumn("part_id", stripe_key(num_partitions))
    # part_id p -> shuffle partition p; the optimizer collapses a caller's
    # own repartition(n, "part_id") right below into this one
    tagged = docs.repartition(num_partitions, stripe_column())

    if not resume:
        # a fresh run must not inherit stale state: dynamic overwrite keeps
        # partitions this run never writes (old spans, and stale lineage
        # read back as "present"). Local-FS delete; an object store would
        # drop the table / prefix through its catalog instead
        import shutil

        shutil.rmtree(os.path.join(output_dir, "combined"), ignore_errors=True)
    t_resume0 = time.monotonic()
    rows = _lineage_rows(spark, output_dir) if resume else []
    done = {r.part_id for r in rows}
    maps = {(r.part_mode, r.partitions) for r in rows}
    this_map = (PART_MAP, num_partitions)
    if maps - {this_map}:
        # lineage that records no map (older sinks), another map or another
        # num_partitions may hold DIFFERENT documents under the same part_id:
        # skipping its "done" partitions could drop documents this map puts
        # there, and re-running the rest could leave stale ones. Refuse.
        raise ValueError(
            f"output_dir {output_dir!r} was written in partitioning mode(s) "
            f"{sorted(map(str, maps))} but this run uses {this_map}; "
            "resuming would apply a different doc->partition map (another "
            "map or num_partitions). Pass resume=False to start over."
        )
    if done:
        tagged = tagged.where(~F.col("part_id").isin(list(done)))

    planned = num_partitions - len(done)
    # no isEmpty probe when partitions remain: it would cost the same pass
    # over the input's map side as the write. A remainder holding no
    # documents (only never-seen partitions left) makes the write below a
    # no-op, since dynamic overwrite replaces only the partitions it writes.
    if planned <= 0:
        return {"partitions": num_partitions, "skipped": len(done), "processed": 0}
    t_resume = time.monotonic() - t_resume0

    # ONE shuffle + ONE kernel pass + ONE idempotent partition-overwrite
    # write; spans and lineage are views over the combined relation, so a
    # resumed/re-run partition atomically replaces both its spans and its
    # lineage row together (no spans-written-but-lineage-missing window).
    # One kernel task per slot over a contiguous run of whole shuffle
    # partitions, so each part_id still lands in one task and one file.
    out = (
        tagged.select(*document_columns(tagged), "part_id")
        .coalesce(min(num_partitions, spark.sparkContext.defaultParallelism))
        .mapInArrow(
            checkpoint_kernel(formats, lang, max_sentences, num_partitions),
            schema=CHECKPOINT_OUT_SCHEMA,
        )
    )
    t_write0 = time.monotonic()
    # a writer option, not the session conf: the caller's later
    # overwrites keep their own mode
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "part_id"
    ).parquet(os.path.join(output_dir, "combined"))
    t_write = time.monotonic() - t_write0

    # a partition that got ZERO documents emits no sentinel, so `planned`
    # is only an upper bound: count processed from the lineage rows present
    # after the write (done partitions keep their rows under dynamic
    # overwrite). A never-seen partition stays unmarked and is re-planned
    # on resume, a no-op; marking it done would skip its documents when a
    # resume reads input the crashed run never did. The read-back scans
    # one lineage row per partition, so no distinct (or shuffle) is needed.
    t_verify0 = time.monotonic()
    present = {r.part_id for r in _lineage_rows(spark, output_dir)}
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
        .drop("part_lineage", "part_id")
    )


def decode_lineage(combined: DataFrame) -> DataFrame:
    """The lineage rows of a ``CHECKPOINT_OUT_SCHEMA`` relation (the
    checkpoint kernel's output or a run's combined sink) as columns:
    ``part_id`` plus every ``schema.LINEAGE`` field. ``inline_outer``, not
    ``inline``: a sentinel whose array is null (an older sink) stays, as a
    row of nulls."""
    return combined.where(F.col("kind") == LINEAGE_KIND).select(
        "part_id", F.inline_outer("part_lineage")
    )


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    return decode_lineage(_combined(spark, output_dir))


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
