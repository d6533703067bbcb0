"""Vectorized n-gram kernel for the decontamination query.

The pure-Catalyst form (transform over sequence with an
array_join(slice(...)) lambda, wrapped in array_distinct) runs the
whole per-element expression tree INTERPRETED — nested higher-order
functions never enter whole-stage codegen — and costs ~100x the Arrow
kernel at sf0.1 (the same finding that shaped the minhash signature
kernel, functions/dedup.py). One batched Python pass over the token
arrays is the designed fast path: per doc, join each token window once
and keep first-occurrence-distinct grams.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def _ngrams(toks, n: int):
    """The space-joined n-token windows of ``toks``, in order (none when
    there are fewer than n tokens)."""
    for i in range(len(toks) - n + 1):
        yield " ".join(toks[i : i + n])


def counted_ngrams_udf(n: int):
    """pandas_udf: array<string> tokens -> the doc's DISTINCT n-grams
    (first-occurrence order; empty when the doc has fewer than n tokens),
    each carrying the doc's distinct-gram count alongside the gram:
    ``array<struct<g:string, n:int>>``. Referencing one UDF column from
    several operators (size() + explode()) makes Catalyst materialize
    an ArrowEvalPython node PER REFERENCE; packing the count into the
    exploded element keeps the kernel at exactly ONE evaluation."""

    @F.pandas_udf("array<struct<g: string, n: int>>")
    def grams(tok_lists: pd.Series) -> pd.Series:
        out = []
        for t in tok_lists:
            # dict.fromkeys = ordered distinct
            gs = list(dict.fromkeys(_ngrams(list(t) if t is not None else [], n)))
            out.append([{"g": g, "n": len(gs)} for g in gs])
        return pd.Series(out)

    return grams


def overlap_gate_udf(bench_grams: frozenset, n: int):
    """pandas_udf: text -> True iff the document shares NO n-gram with
    the benchmark set — the STREAM-safe decontamination gate. The
    benchmark gram set ships in the UDF closure (serialized once per
    executor, like a broadcast variable): an eval suite is small by
    definition — thousands of documents, not trillions — so its
    distinct grams fit executor memory, and the gate stays a stateless
    per-row projection (no explode + regroup, which on a stream would
    need aggregation state). Membership checks short-circuit on the
    first hit."""

    @F.pandas_udf("boolean")
    def clean(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = (t or "").split(" ")
            out.append(not any(g in bench_grams for g in _ngrams(toks, n)))
        return pd.Series(out)

    return clean


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
