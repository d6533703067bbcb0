#!/usr/bin/env python
"""Heavy-document straggler evidence for the one extraction path.

Builds a corpus with a handful of 1,000+-page documents plus a normal
background population, runs ``extract_spans_arrow`` (the fused
per-document kernel) over ``corpus.repartition(n, stripe_column())``,
and reads PER-TASK durations from Spark's own REST status API (the UI's
/api/v1 taskSummary endpoint) for the heaviest stages: the direct
measurement of how far a monster document straggles a stage.

The paragraph FSM is sequential per document, so one monster document
is one kernel call in one task, and the stage cannot finish before that
task does. The same background population without the monster
documents is the control: what the monsters ADD to the wall and to the
dominant stage's slowest task is the heavy-document cost.

Usage: python BENCH/heavy_doc_skew.py   (prints one JSON line)
Env:   SPARK_GRAFT_CPUS (the cores this process may use), HEAVY_DOCS
       (8 monster docs), HEAVY_PAGES (1000 pages per monster),
       HEAVY_NORMAL (2000 background docs), HEAVY_FORMATS (text,html).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
N_HEAVY = int(os.environ.get("HEAVY_DOCS", "8"))
PAGES_HEAVY = int(os.environ.get("HEAVY_PAGES", "1000"))
N_NORMAL = int(os.environ.get("HEAVY_NORMAL", "2000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: which span formats to emit. text,html is the round-4 headline corpus
#: (BENCH/BASELINE.md), so its walls compare with the rows recorded there;
#: the whole-document formats cost more per page (markdown, docx_para).
FORMATS = tuple(
    f for f in os.environ.get("HEAVY_FORMATS", "text,html").split(",") if f
)

# one docgen page = SENTENCES_PER_PAGE * WORDS_PER_SENTENCE words
from pdf2ocr_spark.kernel.docgen import (  # noqa: E402
    SENTENCES_PER_PAGE,
    WORDS_PER_SENTENCE,
)

WORDS_PER_PAGE = SENTENCES_PER_PAGE * WORDS_PER_SENTENCE


def build_corpus(spark):
    """Deterministic mixed corpus: N_HEAVY documents of >= PAGES_HEAVY
    pages (word lists tiled up front — heavy_factor may inflate further,
    which only strengthens the test) + N_NORMAL typical documents, all
    derived from the driver documents table."""
    from pyspark.sql import functions as F

    from pdf2ocr_spark.operators.docgen import documents_to_docs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    base = docs.limit(N_NORMAL).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source"
    )
    # monster docs: repeat the base text until >= PAGES_HEAVY pages
    seed = docs.limit(N_HEAVY).select("doc_id", "text", "source")
    reps = F.ceil(
        F.lit(PAGES_HEAVY * WORDS_PER_PAGE)
        / F.size(F.split("text", " "))
    ).cast("int")
    heavy = seed.select(
        F.concat(F.lit("heavy_"), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        F.array_join(
            F.array_repeat(F.col("text"), reps), " "
        ).alias("text"),
        "source",
    )
    small = base.unionByName(heavy).repartition(CPUS * 4)
    return documents_to_docs(small)


def task_summaries(spark, min_stage_id: int = 0) -> list[dict]:
    """Per-stage task-duration quantiles from the Spark REST API
    (stages with id < min_stage_id — warmup/corpus-build — excluded)."""
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def get(path):
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}{path}") as r:
            return json.load(r)

    out = []
    for st in get("/stages?status=COMPLETE"):
        sid, att = st["stageId"], st["attemptId"]
        if sid < min_stage_id:
            continue
        if st["numCompleteTasks"] < CPUS:  # only stages wide enough to skew
            continue
        try:
            q = get(
                f"/stages/{sid}/{att}/taskSummary"
                "?quantiles=0.0,0.5,0.75,0.95,1.0"
            )
        except Exception:
            continue
        dur = q.get("duration") or q.get("executorRunTime")
        if not dur:
            continue
        out.append(
            {
                "stage": sid,
                "name": st["name"].split("\n")[0][:60],
                "tasks": st["numCompleteTasks"],
                "task_ms_min": dur[0],
                "task_ms_p50": dur[1],
                "task_ms_p75": dur[2],
                "task_ms_p95": dur[3],
                "task_ms_max": dur[4],
                "stage_total_task_sec": round(
                    st["executorRunTime"] / 1000.0, 1
                ),
            }
        )
    return out


def main() -> None:
    from pdf2ocr_spark.operators.extract import extract_spans_arrow, stripe_column
    from pdf2ocr_spark.session import get_spark

    spark = get_spark(
        app_name="heavy-doc-skew",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 4,
        extra_confs={"spark.ui.enabled": "true", "spark.ui.port": "4055"},
    )
    def run_one(corpus):
        """Warmed, timed extraction over `corpus`; returns wall + the
        dominant stage's task-duration quantiles. The warmup pass spawns
        the session's Python/Arrow worker pool — otherwise the first
        task on each core pays 1-5 s of worker startup, which reads as a
        fake "straggler" in the task times."""
        out_df = extract_spans_arrow(
            corpus.repartition(CPUS * 4, stripe_column()), formats=FORMATS
        )
        out_df.write.format("noop").mode("overwrite").save()  # warmup
        first_timed_stage = (
            max(
                (
                    s["stageId"]
                    for s in json.load(
                        urllib.request.urlopen(
                            f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
                            f"{spark.sparkContext.applicationId}/stages"
                        )
                    )
                ),
                default=-1,
            )
            + 1
        )
        t0 = time.perf_counter()
        out_df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        stages = task_summaries(spark, min_stage_id=first_timed_stage)
        dom = max(stages, key=lambda s: s["stage_total_task_sec"])
        return wall, dom, stages

    def run_best(corpus, iters=3):
        """Min-wall pass of `iters` (additive host noise — the
        BENCH/BASELINE.md statistic); its stages are the clean-window
        measurement."""
        best = None
        for _ in range(iters):
            r = run_one(corpus)
            if best is None or r[0] < best[0]:
                best = r
        return best

    try:
        from pyspark.sql import functions as F

        corpus = build_corpus(spark).localCheckpoint()  # freeze input
        n_docs = corpus.count()
        pages = corpus.select(
            F.sum(F.size("spans")).alias("n"),
            F.max(F.size("spans")).alias("mx"),
        ).first()
        # CONTROL: the same background population with NO monster docs.
        # Raw task-time spread at these small task sizes (~0.5-1 s p50)
        # is dominated by host noise/GC, so the heavy-doc-ATTRIBUTABLE
        # straggle is what the monster docs ADD over the control, not
        # the absolute max/p75 ratio.
        control = corpus.where(
            ~F.col("doc_id").startswith("heavy_")
        ).localCheckpoint()
        n_pages_control = control.select(F.sum(F.size("spans"))).first()[0]

        wall_h, dom_h, stages_h = run_best(corpus)
        wall_c, dom_c, stages_c = run_best(control)

        attribution = round(dom_h["task_ms_max"] / dom_c["task_ms_max"], 3)
        print(
            json.dumps(
                {
                    "metric": "heavy_doc_skew",
                    "formats": list(FORMATS),
                    "cpus": CPUS,
                    "docs": n_docs,
                    "heavy_docs": N_HEAVY,
                    "pages_per_heavy_target": PAGES_HEAVY,
                    "spans_total": int(pages["n"]),
                    "spans_control": int(n_pages_control),
                    "spans_max_per_doc": int(pages["mx"]),
                    "wall_sec": round(wall_h, 2),
                    "wall_control_sec": round(wall_c, 2),
                    "dominant_stage": dom_h,
                    "dominant_stage_control": dom_c,
                    "straggler_spread_max_over_p75": round(
                        dom_h["task_ms_max"] / max(dom_h["task_ms_p75"], 1.0), 3
                    ),
                    "control_spread_max_over_p75": round(
                        dom_c["task_ms_max"] / max(dom_c["task_ms_p75"], 1.0), 3
                    ),
                    "heavy_attributable_straggle": attribution,
                    "stages": sorted(
                        stages_h, key=lambda s: -s["stage_total_task_sec"]
                    )[:6],
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
