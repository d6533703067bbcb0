"""N-gram kernels for the decontamination query and the stream gate.

The pure-Catalyst form (transform over sequence with an
array_join(slice(...)) lambda, wrapped in array_distinct) runs the
whole per-element expression tree INTERPRETED — nested higher-order
functions never enter whole-stage codegen — and costs ~100x the Arrow
kernel at sf0.1 (the same finding that shaped the minhash signature
kernel, functions/dedup.py). Both stages here are one
``arrowmap.map_rows`` pass over the rows: per doc, join each token
window once and keep first-occurrence-distinct grams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pdf2ocr_spark.arrowmap import map_rows


def _ngrams(toks, n: int):
    """The space-joined n-token windows of ``toks``, in order (none when
    there are fewer than n tokens)."""
    for i in range(len(toks) - n + 1):
        yield " ".join(toks[i : i + n])


def counted_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, text) rows -> one (doc_id, n_grams, g) row per DISTINCT
    n-gram of the text's space-split tokens, in first-occurrence order,
    with the doc's distinct-gram count alongside (no rows when the doc
    has fewer than n tokens). One stage yields gram AND count, so the
    kernel evaluates exactly once per doc."""

    def grams(doc_id, text):
        # dict.fromkeys = ordered distinct
        gs = list(dict.fromkeys(_ngrams((text or "").split(" "), n)))
        return [(doc_id, len(gs), g) for g in gs]

    return map_rows(docs, "doc_id long, n_grams long, g string", grams)


def overlap_gate(docs: DataFrame, bench_grams: frozenset, n: int) -> DataFrame:
    """``docs`` rows whose ``text`` shares NO n-gram with the benchmark
    set — the STREAM-safe decontamination gate. The benchmark gram set
    ships in the stage closure (serialized once per executor, like a
    broadcast variable): an eval suite is small by definition —
    thousands of documents, not trillions — so its distinct grams fit
    executor memory, and the gate stays a stateless per-row map (no
    explode + regroup, which on a stream would need aggregation state).
    Membership checks short-circuit on the first hit."""
    text = docs.columns.index("text")

    def keep(*row):
        toks = (row[text] or "").split(" ")
        return [] if any(g in bench_grams for g in _ngrams(toks, n)) else [row]

    return map_rows(docs, docs.schema, keep)


def collect_bench_grams(docs, n: int, mod: int, prefix_toks: int) -> frozenset:
    """Driver-side build of the benchmark gram set from the same
    deterministic slice the batch decontaminate query uses (doc_id %
    mod == 0, first prefix_toks tokens). Bounded collect: the eval
    slice, not the corpus."""
    rows = (
        docs.where(F.col("doc_id") % mod == 0)
        .select(F.slice(F.split("text", " "), 1, prefix_toks).alias("t"))
        .collect()
    )
    return frozenset(g for r in rows for g in _ngrams(r["t"], n))
