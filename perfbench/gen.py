"""Seeded input generators for the benchmark.

The tables have the shape and value distributions of the engine's
test corpus (``documents``: a 30-word vocabulary, 10-100 words per
document, ~5% near-duplicates marked by a trailing ``dup`` token, five
languages, twenty sources; ``embeddings``: 64-d unit vectors with ten
labels), but every row is drawn from ``numpy.random.Generator(PCG64(seed))``,
so a seed fully determines the bytes and a different seed gives
different rows. Nothing here reads the repository's test data.

Generated inputs are cached under ``<cache>/<workload>-s<seed>-n<size>``;
a directory is published by an atomic rename once complete, so an
interrupted run never leaves a half-written cache entry behind.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DUP_RATE = 0.05
EMBED_DIM = 64
N_LABELS = 10

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def documents(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents with doc_ids 0..n_docs-1, drawn from ``seed``."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lengths = rng.integers(10, 101, size=n_docs)
    word_ids = rng.integers(0, len(WORDS), size=int(lengths.sum()))
    ends = np.cumsum(lengths)
    # a near-duplicate copies an EARLIER document and appends the marker
    is_dup = rng.random(n_docs) < DUP_RATE
    is_dup[0] = False
    dup_of = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)

    texts: list[str] = []
    start = 0
    for i in range(n_docs):
        end = int(ends[i])
        if is_dup[i]:
            texts.append(texts[int(dup_of[i])] + " dup")
        else:
            texts.append(" ".join(WORDS[k] for k in word_ids[start:end]))
        start = end
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    """``n_vecs`` unit vectors (float32, 64-d) with vec_ids 0..n_vecs-1."""
    rng = np.random.Generator(np.random.PCG64(seed ^ 0x5EED))
    x = rng.standard_normal((n_vecs, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n_vecs * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, N_LABELS, size=n_vecs).astype(np.int32)),
        }
    )


def cached(cache_root: str, workload: str, seed: int, size: int, build) -> tuple[str, float]:
    """Return (directory, seconds spent generating) for this key.

    ``build(tmp_dir)`` writes the inputs; it runs only on a cache miss,
    and the generation time is 0.0 on a hit.
    """
    final = os.path.join(cache_root, f"{workload}-s{seed}-n{size}")
    if os.path.isdir(final):
        return final, 0.0
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    build(tmp)
    elapsed = time.perf_counter() - t0
    try:
        os.rename(tmp, final)
    except OSError:  # another run published the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return final, elapsed


def write_drops(table: pa.Table, directory: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` consecutive parquet drops."""
    os.makedirs(directory, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * per, per),
            os.path.join(directory, f"drop-{i:04d}.parquet"),
        )
