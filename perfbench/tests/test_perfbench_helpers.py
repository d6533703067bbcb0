"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import io
import json
import os
import random
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from stats import fingerprint, parse_metric, tail  # noqa: E402


@pytest.mark.parametrize(
    "n, value, pct",
    [(11, 0, 100 / 11), (20, 9, 50.0), (40, 29, 75.0), (100, 89, 90.0), (1000, 989, 99.0)],
)
def test_tail_leaves_exactly_ten_samples_beyond(n, value, pct):
    values = list(range(n))
    random.Random(n).shuffle(values)
    got_value, got_pct = tail(values)
    assert got_value == value
    assert got_pct == pytest.approx(pct)
    assert sum(v > got_value for v in values) == 10


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert tail(list(range(n))) is None


ROWS = [
    ("1", "text", 0, "Hello world.", None),
    ("1", "html", 0, "<p>Hello world.</p>", None),
    ("1", "media_ref", 0, None, "media://1/0"),
    ("2", "text", 0, "Another doc.", None),
]


def test_fingerprint_ignores_row_order():
    shuffled = ROWS[:]
    random.Random(7).shuffle(shuffled)
    assert fingerprint(shuffled) == fingerprint(ROWS)
    assert fingerprint(reversed(ROWS)) == fingerprint(ROWS)


@pytest.mark.parametrize(
    "changed",
    [
        ROWS[:-1],  # a lost row
        ROWS + ROWS[:1],  # a duplicated row
        [ROWS[0][:2] + (1,) + ROWS[0][3:]] + ROWS[1:],  # an altered offset
        [ROWS[0][:3] + ("Hello world!", None)] + ROWS[1:],  # altered text
    ],
)
def test_fingerprint_detects_lost_duplicated_and_altered_rows(changed):
    assert fingerprint(changed) != fingerprint(ROWS)


def _parquet_bytes(table):
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


@pytest.mark.parametrize("make", [gen.documents, gen.embeddings])
def test_generators_are_deterministic_per_seed(make):
    assert _parquet_bytes(make(11, 300)) == _parquet_bytes(make(11, 300))


def test_a_different_seed_gives_different_rows():
    a, b = gen.documents(11, 300), gen.documents(12, 300)
    assert a.column("doc_id").to_pylist() == b.column("doc_id").to_pylist()
    assert a.column("text").to_pylist() != b.column("text").to_pylist()
    ea, eb = gen.embeddings(11, 50), gen.embeddings(12, 50)
    assert ea.column("embedding").to_pylist() != eb.column("embedding").to_pylist()


def test_documents_match_the_test_corpus_shape():
    t = gen.documents(3, 2000)
    words = [len(x.split()) for x in t.column("text").to_pylist()]
    assert min(words) >= 10 and max(words) <= 101  # 100 words + the dup marker
    assert t.column("n_chars").to_pylist() == [len(x) for x in t.column("text").to_pylist()]
    dups = sum(x.endswith(" dup") for x in t.column("text").to_pylist())
    assert 0.02 * 2000 < dups < 0.08 * 2000


def test_cache_builds_once_per_key(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        pq.write_table(gen.documents(5, 10), os.path.join(d, "documents.parquet"))

    first, gen_s = gen.cached(str(tmp_path), "w", 5, 10, build)
    again, again_s = gen.cached(str(tmp_path), "w", 5, 10, build)
    assert first == again and len(calls) == 1 and again_s == 0.0
    other, _ = gen.cached(str(tmp_path), "w", 6, 10, build)
    assert other != first and len(calls) == 2


@pytest.mark.parametrize(
    "text, expected",
    [
        ("12 ms", {"total": 0.012, "min": None, "med": None, "max": None}),
        ("17,968", {"total": 17968.0, "min": None, "med": None, "max": None}),
        ("0.0 B", {"total": 0.0, "min": None, "med": None, "max": None}),
        (
            "total (min, med, max (stageId: taskId))\n6.2 s (1.3 s, 1.8 s, 2.5 m (stage 3.0: task 2))",
            {"total": 6.2, "min": 1.3, "med": 1.8, "max": 150.0},
        ),
        (
            "total (min, med, max (stageId: taskId))\n2.0 KiB (512.0 B, 1.0 KiB, 1.5 KiB (stage 3.0: task 3))",
            {"total": 2048.0, "min": 512.0, "med": 1024.0, "max": 1536.0},
        ),
    ],
)
def test_parse_spark_metric_strings(text, expected):
    assert parse_metric(text) == pytest.approx(expected)


def test_benchmark_json_lists_exactly_the_reported_metrics():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    import workloads

    # dedup_suite is run by hand only (see README.md)
    assert [w["name"] for w in bench["workloads"]] == [w for w in workloads.WORKLOADS if w != "dedup_suite"]
