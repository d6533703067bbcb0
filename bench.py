#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line on stdout).

Measures, on $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1):

1. per-query wall time for every registered oracle query (full evaluation
   via the noop sink — no driver collect),
2. the flagship extraction pipeline's docs/sec + pages/sec at TWO
   parallelism levels (local[N/4] vs local[N], same frozen input), and the
   throughput scaling efficiency between them — the sandbox stand-in for
   the north rule's N vs 4N executor criterion (BASELINE.md protocol).

Output: TWO JSON lines — a detail line first ({"metric": "..._detail",
"queries_split": {name: {construct, eval}}, "extract": {...}}), then a
compact headline line LAST ({"metric", "value", "unit", "sf",
"scaling_efficiency", "queries": {name: total_sec}, "total_bench_sec"})
kept under the driver's 2000-char tail capture so it always parses.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pdf2ocr_spark.session import default_cpus

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
#: the N vs 4N pair of pinned worker cores; the headline is the 4N run
SMALL_CPUS = max(1, CPUS // 8)
BIG_CPUS = min(CPUS, SMALL_CPUS * 4)
SKIP_SCALING = os.environ.get("BENCH_SKIP_SCALING", "") == "1"
#: 8 interleaved rounds: with ~50% of iterations landing in noise bursts
#: on bad nights, 4 rounds leave a ~±0.04 spread on the min-wall ratio
#: (observed invocation efficiencies 0.84/0.83/0.78 for identical code),
#: and one 6-round invocation read a SUPER-linear 1.036 because the
#: small level never caught a clean window while the wide level did
#: (round-4 ledger); 8 rounds give both levels enough clean-window
#: shots that the floor ratio stabilizes (8-round redo: 0.836)
BENCH_ITERS = int(os.environ.get("BENCH_ITERS", "8"))
#: repeat the timed extraction this many times per iteration and divide:
#: lets a cache-resident micro-corpus accumulate a measurable wall
BENCH_LOOPS = int(os.environ.get("BENCH_LOOPS", "1"))
#: the scaling runs tile the corpus to this many effective documents so the
#: measurement amortizes fixed job overhead (kernel work is ~0.25 ms/doc/core;
#: see BENCH/BASELINE.md protocol)
TARGET_DOCS = int(os.environ.get("BENCH_TARGET_DOCS", "1000000"))


def corpus_counts(tile: int) -> dict:
    """docs/pages of the tiled corpus, computed in DuckDB with the same
    md5-derived heavy-factor math as kernel/docgen.py — avoids spending a
    whole Spark docgen pass per scaling run just to count."""
    import duckdb

    q = f"""
    WITH tiled AS (
        SELECT d.doc_id * {tile} + r.rep AS doc_id, d.text
        FROM read_parquet('{SF_DIR}/documents.parquet') d,
             (SELECT unnest(range({tile})) AS rep) r
    ),
    sized AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS words,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':heavy'), 1, 8) AS BIGINT) / 4294967296.0 AS u,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':heavy'), 9, 8) AS BIGINT) / 4294967296.0 AS v
        FROM tiled
    ),
    f AS (
        SELECT doc_id, words,
               CASE WHEN u >= 1.0/24 THEN 1
                    ELSE least(40, greatest(2, CAST(floor(1.0 / greatest(v, 1.0/40)) AS INT)))
               END AS factor
        FROM sized
    )
    SELECT count(*) AS docs,
           sum(CAST(ceil(ceil(words * factor / 8.0) / 5.0) AS BIGINT)) AS pages
    FROM f
    """
    row = duckdb.sql(q).fetchone()
    return {"docs": int(row[0]), "pages": int(row[1])}


def _evaluate(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh_spark(cpus: int):
    from pdf2ocr_spark.session import get_spark

    return get_spark(
        app_name=f"bench-local{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )


def warm_python_workers(spark) -> None:
    """Spawn the session's Python/Arrow worker pool once before timing:
    the first Python stage otherwise pays ~5s of worker startup that
    would be attributed to whichever query runs it first."""
    spark.range(0, 10_000, 1, CPUS * 2).mapInArrow(
        lambda batches: batches, "id long"
    ).write.format("noop").mode("overwrite").save()


def time_queries(spark) -> tuple[dict, dict]:
    """Best-of-2 wall time per query: host-noise bursts on this shared VM
    hit single runs with 5-10x spikes (untouched queries drift in
    lockstep); the min of two runs is the reproducible number.

    Since round 3 the DataFrame CONSTRUCTION is inside the timed region:
    most queries build lazily in milliseconds, but iterative operators
    (the connected-components loop behind dedup_clusters) run driver-side
    actions while building — excluding construction would hide their real
    cost. Construction and evaluation are timed SEPARATELY (round-3
    verdict ask: a construction-time blip — py4j plan building is
    driver-side and noise-prone — must be distinguishable from a real
    evaluation regression), each field min'd independently across runs.

    Returns (totals, split): totals[name] = best total (the compact
    headline map, back-compatible with r01/r02), split[name] =
    {"construct": s, "eval": s} for the detail line."""
    from pdf2ocr_spark.plans import QUERIES

    warm_python_workers(spark)
    totals, split = {}, {}
    for name, fn in sorted(QUERIES.items()):
        walls, cons, evs = [], [], []
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            _evaluate(df)
            t2 = time.perf_counter()
            cons.append(t1 - t0)
            evs.append(t2 - t1)
            walls.append(t2 - t0)
        totals[name] = round(min(walls), 3)
        split[name] = {"construct": round(min(cons), 3), "eval": round(min(evs), 3)}
    return totals, split


def materialize_corpus(tile: int) -> str:
    """Write the tiled interleaved docs corpus (the input_hint relation:
    doc_id + nested spans) to a stripe_key-partitioned multi-file parquet —
    the production ingest layout: the table is bucketed by the stripe key at
    WRITE time (Iceberg bucket(doc_id)-style), so extraction reads
    pre-balanced partitions with NO shuffle. Idempotent per (sf, tile)."""
    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    cache = f"/tmp/pdf2ocr_bench_cache/{sf_name}_tile{tile}"
    if os.path.exists(os.path.join(cache, "_SUCCESS")):
        return cache
    from pdf2ocr_spark.operators.docgen import documents_to_docs
    from pdf2ocr_spark.pipeline import (
        load_documents,
        stripe_documents,
        tile_documents,
    )

    spark = _fresh_spark(CPUS)
    try:
        documents = load_documents(spark, SF_DIR).repartition(CPUS * 4)
        striped = stripe_documents(tile_documents(documents, tile), CPUS * 4)
        documents_to_docs(striped).write.mode("overwrite").parquet(cache)
    finally:
        spark.stop()
    return cache


def extract_run(
    cpus: int, tile: int, counts: dict | None = None, iters: int | None = None
) -> dict:
    """One full extraction at a given CORE COUNT over the MATERIALIZED
    nested corpus (identical bytes for every level): parquet scan ->
    mapInArrow extraction kernel, zero shuffle (the table is
    striped at write time — see materialize_corpus).

    The run executes in a subprocess pinned with ``taskset`` to the N
    worker cores plus one JVM service core per 4 workers (at least one),
    capped at the box: a bare ``local[N]`` only caps task slots while
    JVM/worker threads spill onto idle cores, and pinning to exactly N
    cores makes those JVM threads steal worker time in proportion 1/N.
    """
    import subprocess
    import sys

    if iters is None:
        iters = BENCH_ITERS
    if counts is None:
        counts = corpus_counts(tile)
    cache = materialize_corpus(tile)

    script = f"""
import time, json
from pdf2ocr_spark.session import get_spark
from pdf2ocr_spark.operators.extract import extract_spans_arrow
spark = get_spark(master="local[{cpus}]", shuffle_partitions={cpus},
                  extra_confs={{"spark.sql.files.maxPartitionBytes": "1m",
                               "spark.sql.files.openCostInBytes": "0"}})
docs = spark.read.parquet({cache!r})
probe = docs.limit(2000)
extract_spans_arrow(probe).write.format("noop").mode("overwrite").save()
for _ in range({iters}):
    t0 = time.perf_counter()
    for _ in range({BENCH_LOOPS}):
        extract_spans_arrow(docs).write.format("noop").mode("overwrite").save()
    print("WALL_SEC", (time.perf_counter() - t0) / {BENCH_LOOPS})
spark.stop()
"""
    pin_hi = min(CPUS, cpus + max(1, cpus // 4)) - 1
    cmd = ["taskset", "-c", f"0-{pin_hi}", sys.executable, "-c", script]
    cwd = os.path.dirname(os.path.abspath(__file__))
    proc = None
    for attempt in (1, 2):  # one retry: rare transient stalls observed in-sandbox
        try:
            proc = subprocess.run(
                cmd, capture_output=True, text=True, timeout=420, cwd=cwd
            )
        except subprocess.TimeoutExpired:
            if attempt == 2:
                raise
            continue
        if proc.returncode == 0:
            break
    if proc is None or proc.returncode != 0:
        raise RuntimeError(f"extract_run(local[{cpus}]) failed: {proc.stderr[-2000:]}")
    walls = sorted(
        float(l.split()[1])
        for l in proc.stdout.splitlines()
        if l.startswith("WALL_SEC")
    )
    # capability statistic = MIN of BENCH_ITERS: host/VM noise on this
    # shared box is strictly ADDITIVE (multi-minute bursts inflate walls
    # up to 2-3x — observed 16-core walls [28.4, 38.0, 63.9] for a config
    # that measures [10.0, 10.7, 11.3] in a quiet window), so the min is
    # the reproducible number; the full sorted list is kept for spread
    # transparency and the median recorded alongside.
    wall = walls[0]
    return {
        "cpus": cpus,
        "wall_sec": round(wall, 3),
        "wall_median_sec": round(walls[len(walls) // 2], 3),
        "walls": [round(w, 3) for w in walls],
        "docs": counts["docs"],
        "pages": counts["pages"],
        "docs_per_sec": round(counts["docs"] / wall, 2),
        "pages_per_sec": round(counts["pages"] / wall, 2),
        "counts": counts,
    }


def skew_spread(tile: int) -> dict:
    """Straggler evidence on the skewed corpus (the docgen channel gives
    ~1/24 of docs a heavy factor up to 40x pages — a Zipf-ish tail): run
    the checkpoint kernel over the corpus partitioned by
    ``stripe_key`` and report the spread of per-partition kernel walls.
    Balanced partitioning => max/p50 stays near 1 despite the tail."""
    import numpy as np

    from pdf2ocr_spark.operators.checkpoint import (
        CHECKPOINT_OUT_SCHEMA,
        checkpoint_kernel,
        decode_lineage,
    )
    from pdf2ocr_spark.pipeline import stripe_column, stripe_key

    cache = materialize_corpus(tile)
    n_parts = CPUS * 4
    spark = _fresh_spark(CPUS)
    try:
        docs = spark.read.parquet(cache).withColumn(
            "part_id", stripe_key(n_parts)
        )
        # one task per part_id: the stripe column sends part_id p to
        # shuffle partition p
        out = (
            docs.repartition(n_parts, stripe_column())
            .select("doc_id", "spans", "part_id")
            .mapInArrow(
                checkpoint_kernel(("text", "markdown"), "eng", None, n_parts),
                schema=CHECKPOINT_OUT_SCHEMA,
            )
        )
        lin = decode_lineage(out).select("wall_sec", "page_count").toPandas()
        walls = np.sort(lin["wall_sec"].to_numpy())
        p50 = float(np.median(walls))
        # can one partition straggle the stage? its wall as a fraction of
        # the work each task SLOT carries (4x over-partitioning means a
        # slow partition hides behind the other waves when this is < 1);
        # raw wall spread is contaminated by slot contention, so the
        # deterministic balance metric is the PAGE spread
        slot_work = float(walls.sum()) / CPUS
        return {
            "partitions": int(len(walls)),
            "pages_max_over_mean": round(
                float(lin["page_count"].max() / lin["page_count"].mean()), 3
            ),
            "wall_p50_sec": round(p50, 4),
            "wall_max_sec": round(float(walls[-1]), 4),
            "max_wall_over_slot_work": round(float(walls[-1]) / slot_work, 3),
        }
    finally:
        spark.stop()


def main() -> None:
    t_total0 = time.perf_counter()

    # scaling phase FIRST, before this process owns any JVM: the pinned
    # subprocess runs are the latency-sensitive measurements and must not
    # share the box with a lingering parent gateway JVM
    extract = {}
    if not SKIP_SCALING:
        import duckdb

        n_raw = duckdb.sql(
            f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'"
        ).fetchone()[0]
        tile = max(1, TARGET_DOCS // n_raw)
        counts = corpus_counts(tile)
        materialize_corpus(tile)
        # The official pair INTERLEAVES its iterations (N, 4N, N, 4N, ...)
        # rather than running each level's series back-to-back: host-noise
        # bursts on this VM last minutes — long enough to inflate ONE
        # level's whole series and fake the efficiency in either direction
        # (a burst over the small level once produced a "1.06 efficiency"
        # reading). Interleaved, a burst straddles both levels of a round
        # and the per-level min is taken across rounds.
        small_runs, big_runs = [], []
        for _ in range(BENCH_ITERS):
            small_runs.append(
                extract_run(SMALL_CPUS, tile, counts=counts, iters=1)
            )
            big_runs.append(extract_run(BIG_CPUS, tile, counts=counts, iters=1))

        def _combine(runs: list) -> dict:
            walls = sorted(w for r in runs for w in r["walls"])
            out = dict(runs[0])
            out.pop("counts", None)
            out["walls"] = walls
            out["wall_sec"] = walls[0]
            out["wall_median_sec"] = walls[len(walls) // 2]
            out["docs_per_sec"] = round(counts["docs"] / walls[0], 2)
            out["pages_per_sec"] = round(counts["pages"] / walls[0], 2)
            return out

        small = _combine(small_runs)
        big = _combine(big_runs)
        # headline = the pinned 4N run (see SMALL_CPUS note): full-box
        # walls on this VM are noise-dominated and not reproducible
        # across harnesses; the pinned pair is.
        headline = dict(big)
        ratio = BIG_CPUS / SMALL_CPUS
        eff = big["docs_per_sec"] / (ratio * small["docs_per_sec"])
        extract = {
            "tile": tile,
            "small": small,
            "big": big,
            "headline": headline,
            "scaling_ratio": ratio,
            "scaling_efficiency": round(eff, 3),
        }
        extract["skew"] = skew_spread(tile)

    spark = _fresh_spark(CPUS)
    try:
        timings, timings_split = time_queries(spark)
        # flagship timing at full parallelism is also a "query"
        from pdf2ocr_spark.pipeline import run_pipeline

        tc0 = time.perf_counter()
        df = run_pipeline(spark, SF_DIR, num_partitions=CPUS * 2)
        tc1 = time.perf_counter()
        _evaluate(df)
        tc2 = time.perf_counter()
        timings["extract_pipeline"] = round(tc2 - tc0, 3)
        timings_split["extract_pipeline"] = {
            "construct": round(tc1 - tc0, 3),
            "eval": round(tc2 - tc1, 3),
        }
    finally:
        spark.stop()

    total = round(time.perf_counter() - t_total0, 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Two stdout lines (round-3 verdict: the single detail-rich line
    # outgrew the driver's 2000-char tail capture and parsed as null):
    #   1. full detail — everything, for humans and the repo ledger;
    #   2. LAST: a compact headline guaranteed to fit the tail window
    #      completely, so the driver's JSON parse always has one whole
    #      line (the tail keeps the END of stdout — the last line is the
    #      one that must be small).
    detail = {
        "metric": "docs_per_sec_extraction_detail",
        "queries_split": timings_split,
        "extract": extract,
    }
    headline = {
        "metric": "docs_per_sec_extraction",
        "value": extract.get("headline", {}).get(
            "docs_per_sec", timings.get("extract_pipeline")
        ),
        "unit": "docs/sec" if extract else "sec",
        "sf": float(sf),
        "scaling_efficiency": extract.get("scaling_efficiency"),
        "queries": timings,
        "total_bench_sec": total,
    }
    line = json.dumps(headline)
    if len(line) > 1800:  # never let the headline outgrow the tail window
        headline["queries"] = {"see": "queries_split in detail line above"}
        line = json.dumps(headline)
    print(json.dumps(detail))
    print(line)


if __name__ == "__main__":
    sys.exit(main())
