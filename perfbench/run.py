#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed (cached under ``.perfbench_cache/``), starts Spark through
``pdf2ocr_spark.session.get_spark`` with its defaults on ``local[nproc]``,
checks the program's outputs, measures for ``--seconds`` and prints one
JSON line as the last line of standard output. ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones and writes the trace
spans to ``.perfbench_out/``. See README.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # warm session re-creations per run; setup_s is their median
RUN_LIMIT_S = 150  # stop starting new ops past this point of the run

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "op_s_p50": "s",
    "worker_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_in": "B",
    "python.bytes_out": "B",
    "python.run_max_over_med": "ratio",
    "exchange.bytes_written": "B",
    "exchange.part_max_over_med": "ratio",
    "scan.bytes": "B",
    "scan.time_s": "s",
    "spark.jobs_per_op": "count",
    "kernel.docgen.ms_per_doc": "ms",
    "kernel.emit.ms_per_doc": "ms",
    "kernel.emit.spans_per_doc": "count",
    "extract.non_kernel_share": "ratio",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.batches": "count",
    "stream.batch_s_tail": "s",
    "stream.batch_tail_pct": "%",
    "checkpoint.resume_check_s": "s",
    "checkpoint.kernel_write_s": "s",
    "checkpoint.verify_s": "s",
    "checkpoint.noop_rerun_s": "s",
    "checkpoint.rework_ratio": "ratio",
    "checkpoint.sink_bytes_per_span": "B",
    "checkpoint.doc_errors": "count",
    **{
        f"query.{q}.{k}": u
        for q in (
            "dedup_ngram_jaccard", "dedup_clusters", "dedup_applied",
            "dedup_simhash", "dedup_minhash_lsh", "similarity_ivf_recall_gain",
        )
        for k, u in (("construct_s", "s"), ("eval_s", "s"), ("jobs", "count"))
    },
    "trace.overhead_s": "s",
}


@dataclass
class Op:
    index: int
    trace_overhead_s: float
    value: dict
    nodes: list = field(default_factory=list)


@dataclass
class Context:
    spark: object
    inputs: str
    work: str
    seed: int
    seconds: float
    trace: bool
    slots: int
    tracer: object
    sql: object
    started: float
    attempted: int = 0
    failed: int = 0
    correct: bool = True

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.correct = False
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def log(self, what: str) -> None:
        print(f"perfbench: {what} at {time.perf_counter() - self.started:.1f} s", file=sys.stderr)

    def workdir(self, *parts) -> str:
        path = os.path.join(self.work, *map(str, parts))
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def loop(self, op, warmup=None) -> list[Op]:
        """Run ``warmup()`` untimed if given, then call ``op(i, traced)``
        until the ops' own timed seconds (``value["timed_s"]``, which
        leave out their correctness checks) add up to ``seconds``, and
        return the ops (at least one). In a traced run every op is traced:
        after it, the plan-node metrics of its SQL executions are read,
        and the time that takes is the op's tracing overhead. A warm-up
        or op that raises counts as failed."""
        if warmup is not None:
            self.attempted += 1
            try:
                warmup()
            except Exception:
                self.failed += 1
                self.correct = False
                traceback.print_exc()
            self.log("warm-up done")
        ops: list[Op] = []
        timed = 0.0
        i = 0
        while i == 0 or timed < self.seconds:
            if time.perf_counter() - self.started > RUN_LIMIT_S:
                break
            self.tracer.active = self.trace
            self.sql.skip()
            self.attempted += 1
            try:
                with self.tracer.span("op", op=i):
                    value = op(i, self.trace)
                t = time.perf_counter()
                nodes = self.sql.new_nodes() if self.trace else []
                overhead = time.perf_counter() - t
                if self.trace:
                    self.tracer.spans.append({"name": "spark.nodes", "op": i, "nodes": nodes})
                ops.append(Op(i, overhead, value, nodes))
                timed += value["timed_s"]
            except Exception:
                self.failed += 1
                self.correct = False
                traceback.print_exc()
            finally:
                self.tracer.active = False
            i += 1
        self.log(f"{len(ops)} timed ops done")
        if not ops:
            raise RuntimeError("every timed operation failed")
        return ops

    def node_layers(self, ops: list[Op]) -> dict:
        """Per-op medians of the Spark plan-node sums of traced ops, of
        their SQL execution count and of the tracing overhead."""
        from probes import fold_nodes
        from stats import median

        folded = [fold_nodes(o.nodes) for o in ops]
        out = {k: median([f[k] for f in folded]) for k in folded[0]}
        out["trace.overhead_s"] = median([o.trace_overhead_s for o in ops])
        out["spark.jobs_per_op"] = median([len({n["execution"] for n in o.nodes}) for o in ops])
        return out


def configure_environment(root: str, cache_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the package from it."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    for name, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[name] = os.path.join(cache_dir, sub)
        os.makedirs(os.environ[name], exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )


def first_python_job(spark) -> None:
    """A job with one task per slot through a Python worker."""

    def identity(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(16 * n, numPartitions=n).mapInPandas(identity, "id long").count()


def set_up(tracer):
    """Start the session cold (JVM start included), then stop and
    re-create it ``SETUPS`` times in the live JVM. One set-up is
    ``get_spark()`` plus the first Python job. Returns the last session,
    the cold set-up's (start, warm) seconds and those of each warm
    re-creation."""
    from pdf2ocr_spark.session import get_spark

    spark = None
    times = []
    for i in range(1 + SETUPS):
        if spark is not None:
            spark.stop()
        with tracer.span("setup", cold=i == 0):
            t0 = time.perf_counter()
            with tracer.span("get_spark"):
                spark = get_spark()
                spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            with tracer.span("first_python_job"):
                first_python_job(spark)
            t2 = time.perf_counter()
        times.append((t1 - t0, t2 - t1))
    return spark, times[0], times[1:]


def shut_down(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "pdf2ocr_spark", "__init__.py")):
        print(f"perfbench: no pdf2ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import workloads
    from probes import RssSampler, SqlMetrics, Tracer
    from stats import median

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    generate, run_workload = workloads.WORKLOADS[args.workload]

    cache_dir = os.path.join(ROOT, ".perfbench_cache")
    configure_environment(ROOT, cache_dir)
    inputs, gen_s = generate(os.path.join(cache_dir, "inputs"), args.seed)
    print(f"perfbench: inputs {inputs} generated in {gen_s:.3f} s", file=sys.stderr)

    tracer = Tracer()
    tracer.active = bool(args.trace)
    spark, cold, setups = set_up(tracer)
    tracer.active = False
    print(f"perfbench: cold set-up {sum(cold):.3f} s; set-up done at "
          f"{time.perf_counter() - started:.1f} s", file=sys.stderr)
    work = os.path.join(cache_dir, f"work-{os.getpid()}")
    ctx = Context(
        spark=spark, inputs=inputs, work=work, seed=args.seed,
        seconds=args.seconds, trace=bool(args.trace),
        slots=spark.sparkContext.defaultParallelism, tracer=tracer,
        sql=SqlMetrics(spark), started=started,
    )
    try:
        with RssSampler() as rss:
            try:
                e2e, layer = run_workload(ctx)
            except Exception:
                traceback.print_exc()
                ctx.attempted += 1
                ctx.failed += 1
                ctx.correct = False
                e2e, layer = {}, {}
    finally:
        shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = {
            **{k: 0.0 for k in PER_LAYER},  # layers this workload does not run
            **layer,
            "session.start_s": median([start for start, _ in setups]),
            "session.worker_warm_s": median([warm for _, warm in setups]),
        }
        units = PER_LAYER
        trace_path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path, {
            "workload": args.workload, "seed": args.seed, "metrics": values,
            "generation_s": gen_s, "cold_setup_s": {"start": cold[0], "warm": cold[1]},
        })
        print(f"perfbench: trace written to {trace_path}", file=sys.stderr)
    else:
        values = {
            "setup_s": median([a + b for a, b in setups]),
            "worker_peak_rss_mb": rss.peak_mb,
            **e2e,
        }
        units = END_TO_END
    missing = set(units) - set(values)
    if missing:
        print(f"perfbench: no value for {sorted(missing)}", file=sys.stderr)
        ctx.correct = False
    print(f"perfbench: run took {time.perf_counter() - started:.1f} s "
          f"({ctx.attempted} ops and checks)", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.correct and not missing,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
