"""One definition each: the package starts every file stream through one
runner, keeps one clean-gate / chunk-window / PII-scrub / dedup-state /
fan-out definition, and corpus_clean's gate filters stay above its
fan-out exchange. In the query layer: one line spec, one per-document
batch loop (no ``mapInPandas`` in plans/queries.py), one as-of join
call, one n-gram window, and none of the Catalyst line helpers the
per-document kernel replaced."""

import os
import re

import pdf2ocr_spark
from pdf2ocr_spark.plans import QUERIES
from pdf2ocr_spark.plans.queries import CLEAN_MIN_QUALITY_BP

PACKAGE = os.path.dirname(pdf2ocr_spark.__file__)


def _sources():
    out = {}
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    out[os.path.relpath(path, PACKAGE)] = f.read()
    return out


def _count(pattern, sources):
    return sum(len(re.findall(pattern, src)) for src in sources.values())


def test_one_definition_each():
    src = _sources()
    assert _count(r"\.readStream\b", src) == 1
    assert _count(r"\.writeStream\b", src) == 1
    # one chunk-window expression, one top-bigram gate, one PII scrub
    assert _count(r"F\.lit\(CHUNK_S\)", src) == 1
    assert _count(r"F\.aggregate\(", src) == 1
    assert _count(r'_PII_EMAIL, "<EMAIL>"', src) == 1
    # one dedup state function
    assert len(re.findall(r"state: GroupState", src["streaming/dedup.py"])) == 1
    assert [p for p, s in src.items() if re.search(r"def _?fan_out\b", s)] == ["pipeline.py"]
    assert _count(r"_fan_out_vecs", src) == 0
    # one line spec, one per-document loop, one as-of join call
    assert _count(r'"Journal of "', src) == 1
    assert src["plans/queries.py"].count("mapInPandas(") == 0
    assert src["plans/queries.py"].count("asof_join(") == 1
    dead = r"def (?:_body_lines|_all_lines|_tokens|_enriched_documents)\b"
    assert _count(dead, src) == 0
    # one n-gram window
    assert src["functions/decontam.py"].count("toks[i : i + n]") == 1


def test_corpus_clean_gates_sit_above_the_fan_out(spark, sf_dir):
    """Pushdown must not fold the quality/repetition filters into the
    single-split scan stage: they run above the round-robin exchange."""
    df = QUERIES["corpus_clean"](spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString().splitlines()
    exchanges = [i for i, line in enumerate(plan) if "Exchange " in line]
    assert len(exchanges) == 1, "\n".join(plan)
    assert "RoundRobinPartitioning" in plan[exchanges[0]]
    above, below = plan[: exchanges[0]], plan[exchanges[0] + 1 :]
    gates = [line for line in above if "Filter " in line]
    assert any(f">= {CLEAN_MIN_QUALITY_BP}" in line for line in gates), "quality gate"
    assert any("aggregate(" in line for line in gates), "repetition gate"
    assert not any(
        "array_distinct" in line or "aggregate(" in line for line in below
    ), "\n".join(below)
