"""The benchmark's workloads. Each is a closed loop (one client, one job
at a time) over inputs generated from the run's seed, calling only the
engine's public functions.

A workload function takes a :class:`run.Context` and returns
``(end_to_end, per_layer)`` metric dicts. Its timed operation runs
through ``ctx.loop`` after an untimed warm-up on a small slice of the
inputs (``dedup_suite`` has none, see there); every op is checked
cheaply and the first op in full, outside the op's timed seconds.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow.parquet as pq

import gen
from probes import checking
from stats import arrow_rows, fingerprint, median, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sizes: see README.md for how they were chosen
STREAM_FILES = 48  # 6 micro-batches per drain (the module fixes 8 files/trigger)
STREAM_DOCS_PER_FILE = 32
WARMUP_FILES = 8  # the warm-up drain is one micro-batch
CKPT_DOCS = 4000
CKPT_PARTITIONS = 16
CKPT_LOST = 2
DEDUP_DOCS = 500
DEDUP_VECS = 500
REPLAY_DOCS = 400
WARMUP_DOCS = 400
DEDUP_QUERIES = (
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_applied",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "similarity_ivf_recall_gain",
)


# ---------------------------------------------------------------- shared


def replay_sample(table, seed: int) -> list[tuple[str, str, str]]:
    """A seeded sample of (doc_id, text, source) from a documents table."""
    rng = random.Random(seed)
    idx = sorted(rng.sample(range(table.num_rows), min(REPLAY_DOCS, table.num_rows)))
    sub = table.take(idx)
    return list(
        zip(
            map(str, sub.column("doc_id").to_pylist()),
            sub.column("text").to_pylist(),
            sub.column("source").to_pylist(),
        )
    )


def kernel_replay(ctx, docs: list[tuple[str, str, str]]) -> tuple[dict, list]:
    """Run the per-document kernel on ``docs`` in this plain Python
    process, outside Spark. Returns the per-doc costs and the emitted
    span rows in ``SPAN_COLUMNS`` order."""
    from pdf2ocr_spark.kernel.docgen import build_spans
    from pdf2ocr_spark.kernel.emit import ALL_FORMATS, extract_document

    with ctx.tracer.span("kernel.replay", docs=len(docs)):
        t0 = time.perf_counter()
        spans = [build_spans(d, text, src) for d, text, src in docs]
        t1 = time.perf_counter()
        out = [
            extract_document(d, s, ALL_FORMATS, "eng", None)
            for (d, _, _), s in zip(docs, spans)
        ]
        t2 = time.perf_counter()
    rows = [(r[0], r[1], r[4], r[2], r[3]) for doc in out for r in doc]
    n = len(docs)
    return {
        "kernel.docgen.ms_per_doc": 1e3 * (t1 - t0) / n,
        "kernel.emit.ms_per_doc": 1e3 * (t2 - t1) / n,
        "kernel.emit.spans_per_doc": len(rows) / n,
    }, rows


def non_kernel_share(ctx, replay: dict, docs: int, wall_s: float) -> float:
    """1 - (single-core kernel seconds for the op's docs) / (wall x slots)."""
    per_doc_ms = replay["kernel.docgen.ms_per_doc"] + replay["kernel.emit.ms_per_doc"]
    return 1.0 - docs * per_doc_ms / 1e3 / (wall_s * ctx.slots)


# ------------------------------------------------------- stream_ingest


def generate_stream(cache: str, seed: int):
    n = STREAM_FILES * STREAM_DOCS_PER_FILE

    def build(d):
        docs = gen.documents(seed, n)
        gen.write_drops(docs, os.path.join(d, "drops"), STREAM_FILES)
        warm = WARMUP_FILES * STREAM_DOCS_PER_FILE
        gen.write_drops(docs.slice(0, warm), os.path.join(d, "warmup"), WARMUP_FILES)

    return gen.cached(cache, "stream_ingest", seed, n, build)


def stream_ingest(ctx):
    """Drain the seed's parquet drops with ``start_extract_stream``
    (Trigger.AvailableNow) into its parquet sink; one op is one drain
    into a fresh sink and stream checkpoint."""
    from pdf2ocr_spark.operators.docgen import documents_to_docs
    from pdf2ocr_spark.operators.extract import extract_spans_arrow
    from pdf2ocr_spark.streaming.ingest import DOCUMENTS_SCHEMA, start_extract_stream

    spark = ctx.spark
    drops = os.path.join(ctx.inputs, "drops")
    n_docs = STREAM_FILES * STREAM_DOCS_PER_FILE
    expected = {}

    def drain(src, tag):
        out = ctx.workdir(f"drain{tag}", "out")
        chk = ctx.workdir(f"drain{tag}", "chk")
        with ctx.tracer.span("action.drain"):
            t0 = time.perf_counter()
            q = start_extract_stream(spark, src, out, chk, available_now=True)
            finished = q.awaitTermination(120)
            wall = time.perf_counter() - t0
        if not finished:
            q.stop()
            raise TimeoutError("stream drain did not finish within 120 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return out, wall, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def op(i, traced):
        out, wall, batches = drain(drops, i)
        with checking(spark):
            if not expected:
                # exactly-once: the sink holds exactly the spans that
                # extract_spans_arrow emits for the same documents
                ref = extract_spans_arrow(
                    documents_to_docs(spark.read.schema(DOCUMENTS_SCHEMA).parquet(drops))
                ).toArrow()
                sink = spark.read.parquet(out).toArrow()
                ctx.check(fingerprint(arrow_rows(sink)) == fingerprint(arrow_rows(ref)), "stream sink fingerprint")
                expected["rows"] = ref.num_rows
            else:
                ctx.check(spark.read.parquet(out).count() == expected["rows"], f"drain {i} row count")
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        return {"timed_s": wall, "batches": batches}

    def warmup():
        out, _, _ = drain(os.path.join(ctx.inputs, "warmup"), "warmup")
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)

    runs = ctx.loop(op, warmup)
    batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for r in runs for p in r.value["batches"]]
    e2e = {
        "docs_per_s": n_docs * len(runs) / sum(r.value["timed_s"] for r in runs),
        "op_s_p50": median(batch_s),
    }
    if not ctx.trace:
        return e2e, {}

    def phase(name):
        return median([p["durationMs"].get(name, 0) for r in runs for p in r.value["batches"]])

    replay, _ = kernel_replay(ctx, replay_sample(pq.read_table(drops), ctx.seed))
    t = tail(batch_s)
    layer = {
        **ctx.node_layers(runs),
        **replay,
        "extract.non_kernel_share": non_kernel_share(
            ctx, replay, n_docs, median([r.value["timed_s"] for r in runs])
        ),
        "stream.add_batch_ms": phase("addBatch"),
        "stream.query_planning_ms": phase("queryPlanning"),
        "stream.latest_offset_ms": phase("latestOffset"),
        "stream.wal_commit_ms": phase("walCommit"),
        "stream.commit_offsets_ms": phase("commitOffsets"),
        "stream.batches": float(len(batch_s)),
        # with ten samples or fewer no percentile has ten beyond it: the
        # maximum is reported, at percentile 100
        "stream.batch_s_tail": t[0] if t else max(batch_s),
        "stream.batch_tail_pct": t[1] if t else 100.0,
    }
    return e2e, layer


# --------------------------------------------------- checkpoint_resume


def generate_checkpoint(cache: str, seed: int):
    def build(d):
        docs = gen.documents(seed, CKPT_DOCS)
        pq.write_table(docs, os.path.join(d, "documents.parquet"))
        os.makedirs(os.path.join(d, "warmup"))
        pq.write_table(docs.slice(0, WARMUP_DOCS), os.path.join(d, "warmup", "documents.parquet"))

    return gen.cached(cache, "checkpoint_resume", seed, CKPT_DOCS, build)


def checkpoint_resume(ctx):
    """The shipped ``jobs/run_extract.py`` path, in-process. One op is a
    fresh write, a simulated crash (seeded partition directories
    deleted) and the resume; the first and the traced ops also rerun the
    completed job, untimed."""
    from pdf2ocr_spark.operators.checkpoint import read_lineage, read_spans, run_checkpointed, summary
    from pdf2ocr_spark.pipeline import load_documents, stripe_key, tile_documents
    from pyspark.sql import functions as F

    spark = ctx.spark
    parts = CKPT_PARTITIONS
    sample = replay_sample(pq.read_table(os.path.join(ctx.inputs, "documents.parquet")), ctx.seed)
    sample_ids = [d for d, _, _ in sample]
    replay = {}

    def job(src, out, resume):
        with ctx.tracer.span("construct"):
            documents = tile_documents(load_documents(spark, src).repartition(parts), 1)
            small = documents.withColumn("part_id", stripe_key(parts)).repartition(parts, "part_id")
        t0 = time.perf_counter()
        res = run_checkpointed(spark, small, out, num_partitions=parts, resume=resume, fused_channel=True)
        return res, time.perf_counter() - t0

    def sample_fingerprint(out):
        with checking(spark):
            spans = read_spans(spark, out).where(F.col("doc_id").isin(sample_ids)).toArrow()
            return fingerprint(arrow_rows(spans)), read_spans(spark, out).count()

    def cycle(src, n_docs, i, traced, warmup=False):
        out = ctx.workdir(f"cycle{i}")
        with ctx.tracer.span("action.fresh"):
            _, fresh_s = job(src, out, resume=False)
        if i == 0:
            # fresh output == plain-Python kernel replay on the doc sample
            metrics, rows = kernel_replay(ctx, sample)
            replay.update(metrics)
            fresh_fp = sample_fingerprint(out)
            ctx.check(fresh_fp[0] == fingerprint(rows), "fresh spans match the kernel replay")
        lineage = {}
        if traced:
            with checking(spark):
                lineage = dict(read_lineage(spark, out).select("part_id", "doc_count").collect())

        combined = os.path.join(out, "combined")
        present = sorted(d for d in os.listdir(combined) if d.startswith("part_id="))
        lost = random.Random(f"{ctx.seed}:{i}").sample(present, CKPT_LOST)
        for d in lost:
            shutil.rmtree(os.path.join(combined, d))
        t_crash = time.time()

        with ctx.tracer.span("action.resume"):
            resumed, resume_s = job(src, out, resume=True)
        if warmup:
            shutil.rmtree(out, ignore_errors=True)
            return None
        value = {"timed_s": fresh_s + resume_s, "fresh_s": fresh_s, "resume_s": resume_s, "resumed": resumed}
        with checking(spark):
            if i == 0 or traced:
                with ctx.tracer.span("action.rerun"):
                    rerun, value["rerun_s"] = job(src, out, resume=True)
                ctx.check(rerun["processed"] == 0, f"cycle {i} rerun is a no-op")
            value["summary"] = summ = summary(spark, out).collect()[0].asDict()
        ctx.check(summ["files_processed"] == n_docs, f"cycle {i} summary doc count")
        ctx.check(summ["doc_errors"] == 0, f"cycle {i} doc errors")
        if i == 0:
            ctx.check(sample_fingerprint(out) == fresh_fp, "resumed spans match the fresh run")
        if traced:
            redone = [
                int(d.split("=")[1]) for d in os.listdir(combined)
                if d.startswith("part_id=") and os.path.getmtime(os.path.join(combined, d)) >= t_crash
            ]
            lost_docs = sum(lineage.get(int(d.split("=")[1]), 0) for d in lost)
            value["rework_ratio"] = sum(lineage.get(p, 0) for p in redone) / max(1, lost_docs)
            value["sink_bytes"] = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(combined) for f in fs if f.endswith(".parquet")
            )
        shutil.rmtree(out, ignore_errors=True)
        return value

    def op(i, traced):
        return cycle(ctx.inputs, CKPT_DOCS, i, traced)

    def warmup():
        cycle(os.path.join(ctx.inputs, "warmup"), WARMUP_DOCS, "warmup", False, warmup=True)

    runs = ctx.loop(op, warmup)
    e2e = {
        "docs_per_s": CKPT_DOCS * len(runs) / sum(r.value["fresh_s"] for r in runs),
        "op_s_p50": median([r.value["resume_s"] for r in runs]),
    }
    if not ctx.trace:
        return e2e, {}
    values = [r.value for r in runs]

    def phase(name):
        return median([v["resumed"].get("phase_sec", {}).get(name, 0.0) for v in values])

    layer = {
        **ctx.node_layers(runs),
        **replay,
        "extract.non_kernel_share": non_kernel_share(
            ctx, replay, CKPT_DOCS, median([v["fresh_s"] for v in values])
        ),
        "checkpoint.resume_check_s": phase("resume_check"),
        "checkpoint.kernel_write_s": phase("kernel_write"),
        "checkpoint.verify_s": phase("verify"),
        "checkpoint.noop_rerun_s": median([v["rerun_s"] for v in values]),
        "checkpoint.rework_ratio": median([v["rework_ratio"] for v in values]),
        "checkpoint.sink_bytes_per_span": median(
            [v["sink_bytes"] / v["summary"]["spans_emitted"] for v in values]
        ),
        "checkpoint.doc_errors": float(sum(v["summary"]["doc_errors"] for v in values)),
    }
    return e2e, layer


# --------------------------------------------------------- dedup_suite


def generate_dedup(cache: str, seed: int):
    def build(d):
        pq.write_table(gen.documents(seed, DEDUP_DOCS), os.path.join(d, "documents.parquet"))
        pq.write_table(gen.embeddings(seed, DEDUP_VECS), os.path.join(d, "embeddings.parquet"))

    return gen.cached(cache, "dedup_suite", seed, DEDUP_DOCS, build)


def dtype_kinds(df) -> dict:
    """Column name -> numpy dtype kind, compared as the oracle-parity
    test does: ``1234567`` and ``1234567.0`` are different results."""
    return {c: df[c].dtype.kind for c in df.columns}


def dedup_oracle(inputs: str, normalize) -> dict:
    """Each query's ``ORACLE_SQL`` of this checkout, run in DuckDB over
    the inputs: query name -> (dtype kinds, normalized rows)."""
    import duckdb

    from pdf2ocr_spark.plans import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
        frames = {name: con.execute(ORACLE_SQL[name]).df() for name in DEDUP_QUERIES}
    finally:
        con.close()
    return {name: (dtype_kinds(df), normalize(df)) for name, df in frames.items()}


def oracle_normalize():
    """``normalize`` from the repository's oracle-parity test, imported
    from its file so this benchmark's own ``tests`` directory cannot
    shadow it."""
    import importlib.util

    path = os.path.join(ROOT, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("_oracle_parity", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.normalize


def dedup_suite(ctx):
    """One op is one pass over the six queries: construction (driver-side
    loops included) and a collect of each result."""
    from pdf2ocr_spark.plans import QUERIES

    spark = ctx.spark
    sc = spark.sparkContext
    normalize = oracle_normalize()
    t0 = time.perf_counter()
    oracle = dedup_oracle(ctx.inputs, normalize)
    ctx.log(f"DuckDB oracle computed in {time.perf_counter() - t0:.2f} s")

    # No warm-up: the passes are job-bound (a smaller input would cost
    # nearly as much), a pass takes ~20-30 s and a run affords one, so
    # the first pass in a fresh session is checked and timed.
    def op(i, traced):
        per_query = {}
        for name in DEDUP_QUERIES:
            group = f"perfbench-{name}-{i}"
            sc.setJobGroup(group, group)
            with ctx.tracer.span(f"construct.{name}"):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, ctx.inputs)
                t1 = time.perf_counter()
            with ctx.tracer.span(f"action.{name}"):
                pdf = df.toPandas()
                t2 = time.perf_counter()
            ctx.check((dtype_kinds(pdf), normalize(pdf)) == oracle[name], f"{name} pass {i} matches its DuckDB oracle")
            per_query[name] = {
                "construct_s": t1 - t0,
                "eval_s": t2 - t1,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            }
        suite_s = sum(q["construct_s"] + q["eval_s"] for q in per_query.values())
        return {"timed_s": suite_s, "queries": per_query}

    runs = ctx.loop(op)
    e2e = {
        "docs_per_s": DEDUP_DOCS * len(runs) / sum(r.value["timed_s"] for r in runs),
        "op_s_p50": median([r.value["timed_s"] for r in runs]),
    }
    if not ctx.trace:
        return e2e, {}
    values = [r.value for r in runs]
    layer = dict(ctx.node_layers(runs))
    for name in DEDUP_QUERIES:
        for key in ("construct_s", "eval_s", "jobs"):
            layer[f"query.{name}.{key}"] = median([v["queries"][name][key] for v in values])
    return e2e, layer


WORKLOADS = {
    "stream_ingest": (generate_stream, stream_ingest),
    "checkpoint_resume": (generate_checkpoint, checkpoint_resume),
    "dedup_suite": (generate_dedup, dedup_suite),
}
