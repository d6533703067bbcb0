"""Similarity search over the embeddings relation (array<float>[64]).

- ``cosine_topk``     brute-force exact top-k for a deterministic query set
                      (baseline; O(Q*N) with Q small, shipped in the
                      scoring kernel's closure)
- ``ann_lsh_topk``    random-hyperplane LSH bucketing (sign-bit sketch) +
                      top-k within bucket — the scale path: buckets shrink
                      the candidate set ~2^planes-fold; at 10^12 rows the
                      bucket id becomes the table's partition key so a
                      query probes one partition.

All math is done in double precision with explicit sequential folds so the
DuckDB oracle (functions/similarity_sql.py) computes bit-comparable scores
(rounded to 4 decimals for the hash gate).

Dot products, norms, LSH signs and IVF cells are numpy kernels over Arrow
batches (see "vectorized scoring kernels" below), not per-row Python UDFs:
every stage is ``mapInArrow`` (``applyInArrow`` for the per-bucket pair
kernel) reading embeddings as one float64 matrix from the list column's
flat child and building its output with ``arrowmap.column_batch``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F

from pdf2ocr_spark.arrowmap import arrow_schema, column_batch
from pdf2ocr_spark.pipeline import fan_out

QUERY_STRIDE = 50  # vec_id % 50 == 0 -> deterministic query set
N_QUERIES = 100  # hard cap: query set is CONSTANT-size, not O(N)
TOP_K = 5
N_PLANES = 8
DIM = 64


def _query_filter(vec_id: Column) -> Column:
    """Deterministic bounded query set: every QUERY_STRIDE-th vector, capped
    at N_QUERIES ids. The cap is what keeps the exact baseline from going
    quadratic — with an unbounded stride the query side grows with N and the
    broadcast nested-loop scores O(N^2/stride) pairs."""
    return (vec_id % QUERY_STRIDE == 0) & (vec_id < QUERY_STRIDE * N_QUERIES)


# ---------------------------------------------------------------------------
# vectorized scoring kernels (round-6 optimization)
#
# The round-5 top-k operators computed every dot product / norm / LSH sign
# as Catalyst ``zip_with``+``aggregate`` folds. Higher-order-function
# lambdas are evaluated INTERPRETED per element (the same landmine the
# decontamination kernel documents), and the broadcast-join shape
# materialized the full N x N_QUERIES scored relation into the ranking
# window. These numpy kernels evaluate the identical IEEE operation
# sequence — acc = acc + x*y per dimension, in dimension order, all
# doubles, no FMA (numpy elementwise multiply and add are separate ufunc
# calls) — so every score/bucket/cell is BIT-IDENTICAL to those folds
# and the DuckDB oracle's sequential list_sum, while running ~50x
# faster and emitting only per-slab top-k candidates (guide §4.2).
# ---------------------------------------------------------------------------


def _seq_norms(M: np.ndarray) -> np.ndarray:
    """Sequential-fold L2 norms, same op order as DuckDB's list_sum:
    acc = acc + x_d * x_d over d, then sqrt."""
    acc = np.zeros(M.shape[0], dtype=np.float64)
    for d in range(M.shape[1]):
        acc = acc + M[:, d] * M[:, d]
    return np.sqrt(acc)


def _seq_dots(E: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(B, d) x (NQ, d) -> (B, NQ) dot products via the sequential
    per-dimension fold (acc = acc + e_d * q_d in d order) — the exact
    operation sequence of DuckDB's list_sum."""
    acc = np.zeros((E.shape[0], Q.shape[0]), dtype=np.float64)
    for d in range(E.shape[1]):
        acc = acc + E[:, d : d + 1] * Q[None, :, d]
    return acc


def _matrix(col: pa.Array) -> np.ndarray:
    """A list column (float or double embeddings) as one (rows, dim)
    float64 matrix, read from its flattened child — the float -> double
    widening is exact, as Spark's cast is. Embeddings are outside input:
    a null or a length that differs from the first row's is a
    ValueError, not a silently misaligned matrix."""
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if col.null_count or (len(lens) and (lens != lens[0]).any()):
        raise ValueError("embeddings must be non-null and of one length")
    dim = int(lens[0]) if len(lens) else 0
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(lens), dim)


def _collect_queries(embeddings: DataFrame) -> tuple:
    """Bounded collect of the deterministic query set (<= N_QUERIES rows
    by construction — the same constant-size contract as the IVF
    centroid collect), sorted by query_id."""
    rows = (
        embeddings.where(_query_filter(F.col("vec_id")))
        .select("vec_id", F.col("embedding").alias("e"))
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    Q = (
        np.array([r["e"] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, DIM), dtype=np.float64)
    )
    return qids, Q


def _topk_candidates(
    embeddings: DataFrame,
    qids: np.ndarray,
    Q: np.ndarray,
    k: int,
    mode: str,
    centroids: list | None = None,
) -> DataFrame:
    """Per-slab top-k candidate relation (query_id, neighbor_id, score)
    for the three top-k operators. ``mode``:

    - 'exact': every (row, query) pair scores (minus self);
    - 'lsh':   rows whose 8-plane bucket is in the query's multi-probe
               set (own bucket + N_PLANES Hamming-1 flips);
    - 'ivf':   rows whose IVF cell equals the query's cell.

    Emits ONLY each slab's top-k per query under the global
    (score desc, neighbor_id asc) order — selection-exact: the global
    top-k is a subset of the union of slab top-ks — so the caller's
    ranking window sees O(slabs * NQ * k) rows instead of the full
    candidate product."""
    qn = _seq_norms(Q) if len(Q) else np.zeros(0)
    P = qprobes = C = qcell = None
    pow2 = 1 << np.arange(N_PLANES, dtype=np.int64)
    if mode == "lsh":
        P = np.array(
            [_plane_coefs(p) for p in range(N_PLANES)], dtype=np.float64
        )
        qbucket = ((_seq_dots(Q, P) > 0).astype(np.int64) * pow2).sum(axis=1)
        masks = np.concatenate([[0], pow2])  # own bucket + 1-bit flips
        qprobes = qbucket[:, None] ^ masks[None, :]  # (NQ, N_PLANES+1)
    elif mode == "ivf":
        C = np.asarray(centroids, dtype=np.float64)
        qcell = (
            np.argmax(_seq_dots(Q, C), axis=1) if len(Q) else np.zeros(0, int)
        )

    schema = "query_id long, neighbor_id long, score double"
    out = arrow_schema(schema)

    def score(slab: pa.Table) -> pa.RecordBatch:
        ids = slab.column("vec_id").to_numpy()
        E = _matrix(slab.column("embedding").combine_chunks())
        nrm = _seq_norms(E)
        s = _seq_dots(E, Q) / (qn[None, :] * nrm[:, None])
        allowed = ids[:, None] != qids[None, :]
        if mode == "lsh":
            bucket = ((_seq_dots(E, P) > 0).astype(np.int64) * pow2).sum(axis=1)
            allowed &= (bucket[:, None, None] == qprobes[None, :, :]).any(axis=2)
        elif mode == "ivf":
            cell = np.argmax(_seq_dots(E, C), axis=1)
            allowed &= cell[:, None] == qcell[None, :]
        out_q, out_n, out_s = [], [], []
        for j in range(len(qids)):
            idx = np.flatnonzero(allowed[:, j])
            if len(idx) > k:
                order = np.lexsort((ids[idx], -s[idx, j]))[:k]
                idx = idx[order]
            out_q.append(np.full(len(idx), qids[j], dtype=np.int64))
            out_n.append(ids[idx])
            out_s.append(s[idx, j])
        return column_batch(
            [np.concatenate(out_q), np.concatenate(out_n), np.concatenate(out_s)], out
        )

    def kernel(batches):
        """Score slabs of >= 8192 rows: the session's small Arrow batches
        (the extraction kernel tunes maxRecordsPerBatch=128) are too
        small for the numpy kernels to amortize."""
        if len(qids) == 0:
            return
        buf, n = [], 0
        for b in batches:
            buf.append(b)
            n += b.num_rows
            if n >= 8192:
                yield score(pa.Table.from_batches(buf))
                buf, n = [], 0
        if n:
            yield score(pa.Table.from_batches(buf))

    base = fan_out(embeddings.select("vec_id", "embedding"))
    return base.mapInArrow(kernel, schema)


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Global (score desc, neighbor_id asc) ranking over the slab-local
    candidates; identical output contract to the round-5 window."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            # fixed-point score: round() differs by 1 ulp across engines
            F.floor(F.col("score") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("score_bp"),
        )
    )


def cosine_topk(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors for the query set. The bounded query
    set (constant-size by _query_filter) is collected once and shipped in
    the kernel closure; scoring + slab top-k run in one vectorized map
    stage, and only O(slabs * NQ * k) candidates reach the ranking
    window. Returns (query_id, neighbor_id, rank, score_bp), bit-identical
    to the round-5 broadcast-join + window form."""
    qids, Q = _collect_queries(embeddings)
    return _rank_topk(_topk_candidates(embeddings, qids, Q, k, "exact"), k)


def _plane_coefs(plane: int) -> list:
    """+-1 coefficients of the deterministic 'random' hyperplane:
    sign(md5(plane:d)). Computed in PYTHON — the md5 inputs are literals,
    so evaluating them driver-side and shipping ONE array literal per
    plane replaces the 64 per-dimension when(conv(md5(...))) subtrees the
    old form built (8 planes x 64 dims x ~6 expression nodes, each a
    py4j round-trip: 10-19 s of DataFrame CONSTRUCTION per query; the
    values are identical — pinned by test_plane_coefs_match_sql)."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1.0
        for d in range(DIM)
    ]


IVF_K = 16  # coarse-quantizer cells


def ivf_topk(
    embeddings: DataFrame,
    k: int = TOP_K,
    n_cells: int = IVF_K,
    centroids: list | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second ANN scale path
    next to ann_lsh_topk: a deterministic coarse quantizer (centroids =
    the first ``n_cells`` vectors; a trained k-means slots in via
    ``centroids=``) partitions the corpus into cells, and each query
    probes only its own cell. At scale the table is written partitioned
    by cell id, so a probe touches one partition. Round 6: one combined
    bounded collect fetches default centroids AND the query set in a
    single job, and scoring runs in the shared vectorized kernel
    (mode='ivf') instead of a broadcast join of interpreted HOF dots.
    Returns (query_id, neighbor_id, rank, score_bp); recall < 1 is the
    IVF approximation, deterministic in both engines."""
    if centroids is None:
        # ONE bounded collect serves centroid init and the query set
        rows = (
            embeddings.where(
                (F.col("vec_id") < n_cells) | _query_filter(F.col("vec_id"))
            )
            .select("vec_id", F.col("embedding").alias("e"))
            .collect()
        )
        rows.sort(key=lambda r: r["vec_id"])
        centroids = [r["e"] for r in rows if r["vec_id"] < n_cells]
        qrows = [
            r
            for r in rows
            if r["vec_id"] % QUERY_STRIDE == 0
            and r["vec_id"] < QUERY_STRIDE * N_QUERIES
        ]
        qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
        Q = (
            np.array([r["e"] for r in qrows], dtype=np.float64)
            if qrows
            else np.zeros((0, DIM), dtype=np.float64)
        )
    else:
        qids, Q = _collect_queries(embeddings)
    return _rank_topk(
        _topk_candidates(embeddings, qids, Q, k, "ivf", centroids=centroids), k
    )


NEAR_DUP_STRIDE = 20  # every 20th vector gets a perturbed twin
NEAR_DUP_SHIFT = 0.02  # additive shift: cos(v, v+c) ~ 0.987 for unit v
NEAR_DUP_MIN_BP = 9000  # near-dup threshold, fixed-point (cos >= 0.9)


def with_near_dup_vectors(embeddings: DataFrame) -> DataFrame:
    """Benchmark corpus for embedding near-dup detection, bucketed: the
    vectors plus a perturbed copy of every NEAR_DUP_STRIDE-th one
    (constant additive shift in double space), so true near-duplicates
    (cos ~0.99) exist by construction against a ~[-0.5, 0.5] random-pair
    background, as (vec_id, e: array<double>, bucket) rows where bucket
    is the 8-plane LSH bucket (sequential fold — bit-identical to the
    interpreted plane-sign HOFs it replaced). Twin ids = vec_id + 10^7
    (mirrors dedup.with_near_dup_corpus). One ``mapInArrow`` stage: the
    widening cast and the shift are the same IEEE operations Catalyst's
    cast and ``x + 0.02`` lambda evaluated, done in numpy."""
    P = np.array([_plane_coefs(p) for p in range(N_PLANES)], dtype=np.float64)
    pow2 = 1 << np.arange(N_PLANES, dtype=np.int64)
    schema = "vec_id long, e array<double>, bucket long"
    out = arrow_schema(schema)

    def widen(batch: pa.RecordBatch) -> pa.RecordBatch:
        ids = batch.column(0).to_numpy()
        E = _matrix(batch.column(1))
        twin = ids % NEAR_DUP_STRIDE == 0
        ids = np.concatenate([ids, ids[twin] + 10_000_000])
        E = np.concatenate([E, E[twin] + NEAR_DUP_SHIFT])
        bucket = ((_seq_dots(E, P) > 0).astype(np.int64) * pow2).sum(axis=1)
        return column_batch([ids, E, bucket], out)

    return embeddings.select("vec_id", "embedding").mapInArrow(
        lambda batches: (widen(b) for b in batches if b.num_rows), schema
    )


def embedding_near_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs (the fifth dedup mode of the
    training tier): pairs with cos >= 0.9, candidate set blocked by the
    8-plane LSH bucket — vectors in different buckets never meet, so the
    join fan-out is bounded by bucket occupancy, never all-pairs. Recall
    below 1.0 is inherent LSH semantics (a twin can flip a near-zero
    plane sign), deterministically identical in both engines.

    Round 6: the within-bucket pairing runs as ONE grouped kernel
    (``applyInArrow`` per bucket): each vector's 64 doubles cross the
    wire ONCE per bucket instead of once per candidate pair, and the
    B x B dot-product block is numpy instead of per-pair interpreted
    folds. One shuffle (by bucket), output only the cos >= 0.9 pairs."""
    schema = "vec_a long, vec_b long, cos_bp long"
    out = arrow_schema(schema)

    def pairs_in_bucket(tbl: pa.Table) -> pa.Table:
        ids = tbl.column("vec_id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        E = _matrix(tbl.column("e").combine_chunks())[order]
        nrm = _seq_norms(E)
        dots = _seq_dots(E, E)  # (n, n) sequential-fold grid
        # cos_bp exactly as the Catalyst form: dot / (nrm_a * nrm_b)
        # * 10000 + 0.5, floored — nrm_a is the SMALLER id's norm
        cos = dots / (nrm[:, None] * nrm[None, :]) * 10000 + 0.5
        ia, ib = np.triu_indices(len(ids), k=1)  # vec_a < vec_b via sorted ids
        bp = np.floor(cos[ia, ib]).astype(np.int64)
        keep = bp >= NEAR_DUP_MIN_BP
        return pa.Table.from_batches(
            [column_batch([ids[ia[keep]], ids[ib[keep]], bp[keep]], out)]
        )

    return (
        with_near_dup_vectors(embeddings)
        .groupBy("bucket")
        .applyInArrow(pairs_in_bucket, schema)
    )


def ann_lsh_topk(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    and its ``N_PLANES`` Hamming-1 neighbor buckets (multi-probe LSH —
    single-bucket probing recalls ~2% of true neighbors on this corpus;
    probing the 1-bit-flip buckets lifts recall ~10x for 9x candidates).
    Round 6: the bounded query set (buckets included) ships in the
    kernel closure and bucket assignment + probe matching + scoring run
    in the shared vectorized kernel (mode='lsh'), bit-identical to the
    round-5 interpreted-HOF broadcast-join form. Returns
    (query_id, neighbor_id, rank, score_bp) — may differ from exact
    top-k (that is the approximation), deterministically in both
    engines."""
    qids, Q = _collect_queries(embeddings)
    return _rank_topk(_topk_candidates(embeddings, qids, Q, k, "lsh"), k)


KMEANS_SCALE = 1_000_000  # fixed-point micro-units for order-free sums
KMEANS_TRAIN_ITERS = 3  # Lloyd rounds for the trained-IVF query + oracle


def kmeans_train(
    embeddings: DataFrame, n_cells: int = IVF_K, iters: int = 5
) -> tuple:
    """Distributed spherical k-means for the IVF coarse quantizer —
    closes the ANN loop (train -> index -> search -> recall-eval): the
    trained centroids slot straight into ``ivf_topk(centroids=...)``.

    Lloyd iterations, Spark-shaped: per round ONE map-side assignment
    (a closure-shipped numpy argmax over the centroids, the same
    sequential fold the IVF index uses — no join, no shuffle before the
    aggregate) and ONE K-row aggregation;
    the driver touches exactly ``n_cells`` rows per round (bounded
    collect, like the IVF index build).

    RERUN-STABLE BY CONSTRUCTION: float sums over a shuffled relation
    are partition-order-dependent, so a resumed 10^12-doc training job
    could derive different centroids from the same data. Instead the
    unit-normalized vectors are quantized to integer micro-units
    (KMEANS_SCALE) and every per-cell reduction is an INTEGER sum —
    commutative, order-free — with centroids recovered as exact
    rationals. The per-point objective contributions are integer bp,
    so the reported objective is order-free too. Spherical k-means
    (argmax-cosine assignment + renormalized mean update) improves the
    summed cosine monotonically; empty cells keep their previous
    centroid. Returns (centroids, history): centroids is the
    ``n_cells x dim`` float list for ``ivf_topk``, history the
    per-iteration (objective_bp, n_nonempty) list. An empty relation raises
    ``ValueError``; a null or ragged embedding fails in the quantization
    stage with ``_matrix``'s ``ValueError``, wrapped in ``PythonException``."""
    # Norm AND quantization in one kernel (round 6; the round-5 form
    # kept round() in an interpreted JVM transform — 1.3e6 per-element
    # evaluations at 10x). The norm is the sequential-fold kernel
    # (bit-identical to the old interpreted norm fold); the HALF_UP round is
    # the exact binary comparison floor(x) + (x - floor(x) >= 0.5),
    # which equals Spark's BigDecimal(valueOf).setScale(0, HALF_UP) for
    # every |x| < 2^51: n+0.5 is exactly representable, the shortest-
    # decimal repr BigDecimal.valueOf rounds on is value-faithful, so it
    # can never sit on the other side of an n+0.5 boundary than the
    # double itself, and x - floor(x) is exact by Sterbenz. Verified
    # hash-identical (trained centroids feed the bit-exact unrolled
    # DuckDB Lloyd oracle, the most sensitive sink in the suite).
    quant = "vec_id long, eq array<long>"
    quant_out = arrow_schema(quant)

    def quant_np(batch: pa.RecordBatch) -> pa.RecordBatch:
        M = _matrix(batch.column(1))
        nrm = _seq_norms(M)
        X = (M / nrm[:, None]) * KMEANS_SCALE
        fl = np.floor(X)
        q = (fl + (X - fl >= 0.5)).astype(np.int64)
        return column_batch([batch.column(0), q], quant_out)

    # fan out BEFORE the checkpoint: the single-row-group scan would pin
    # every Lloyd round's assign+aggregate job to one task (measured
    # 0.85 s/round -> ~0.2 s/round at 10x); the per-cell reductions are
    # integer sums, so the result is partition-independent by design
    base = (
        fan_out(embeddings.select("vec_id", "embedding"))
        .mapInArrow(
            lambda batches: (quant_np(b) for b in batches if b.num_rows), quant
        )
        .localCheckpoint()  # iterated over; don't replay the scan per round
    )

    # deterministic init: the n_cells smallest vec_ids (ordered take —
    # a `vec_id < n_cells` filter silently under-fills when ids are
    # sparse or offset, and a short centroid list would IndexError in
    # the empty-cell backfill below), unit-quantized back to floats
    init = base.orderBy("vec_id").limit(n_cells).collect()
    # the init fetch doubles as the empty guard and the dim probe
    # (round 6: the separate first() probe job is folded in here)
    if not init:
        raise ValueError("kmeans_train: embeddings relation is empty")
    dim = len(init[0]["eq"])
    cents = [
        [v / KMEANS_SCALE for v in r["eq"]]
        for r in sorted(init, key=lambda r: r["vec_id"])
    ]
    n_cells = len(cents)  # clamp: fewer vectors than requested cells

    # per-round partial aggregation INSIDE the kernel (round 6): each
    # task emits at most K rows of (cell, n, obj_bp, s0..s{dim-1}) and
    # the JVM aggregate reduces K*partitions tiny rows — the round-5
    # shape shipped every vector's (cell, bp) back through Arrow and ran
    # a 66-buffer hash aggregate over the full relation per round
    # (0.7 s/round -> ~0.2 s/round at 10x). The float dot products keep
    # the identical per-dimension accumulation order (a matmul's
    # pairwise summation could flip an argmax tie), and the per-cell
    # sums stay integer — order-free, so partial pre-aggregation cannot
    # change the result.
    out_schema = "cell long, n long, obj_bp long, " + ", ".join(
        f"s{i} long" for i in range(dim)
    )
    partials = arrow_schema(out_schema)
    history = []
    for _ in range(iters):
        C = np.asarray(cents, dtype=np.float64)

        def lloyd_partials(batches, C=C, dim=dim):
            K = C.shape[0]
            n_by = np.zeros(K, dtype=np.int64)
            obj_by = np.zeros(K, dtype=np.int64)
            s_by = np.zeros((K, dim), dtype=np.int64)
            for b in batches:
                if not b.num_rows:
                    continue
                E = b.column(1).flatten().to_numpy().reshape(b.num_rows, dim)
                Ef = E.astype(np.float64) / KMEANS_SCALE
                acc = np.zeros((Ef.shape[0], K), dtype=np.float64)
                for d in range(C.shape[1]):
                    acc += Ef[:, d : d + 1] * C[None, :, d]
                cell = np.argmax(acc, axis=1)
                best = acc[np.arange(len(Ef)), cell]
                bp = np.floor(best * 10000 + 0.5).astype(np.int64)
                n_by += np.bincount(cell, minlength=K)
                np.add.at(obj_by, cell, bp)
                np.add.at(s_by, cell, E)
            nz = np.nonzero(n_by)[0]
            if len(nz):
                yield column_batch([nz, n_by[nz], obj_by[nz], *s_by[nz].T], partials)

        stats = (
            base.mapInArrow(lloyd_partials, out_schema)
            .groupBy("cell")
            .agg(
                F.sum("n").alias("n"),
                F.sum("obj_bp").alias("obj_bp"),
                *[F.sum(F.col(f"s{i}")).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        obj = sum(r["obj_bp"] for r in stats)
        by_cell = {r["cell"]: r for r in stats}
        new_cents = []
        for k in range(n_cells):
            r = by_cell.get(k)
            if r is None:
                new_cents.append(cents[k])  # empty cell keeps its centroid
                continue
            v = np.array([r[f"s{i}"] for i in range(dim)], dtype=np.float64)
            v /= KMEANS_SCALE * r["n"]  # exact rational -> float mean
            # strict SEQUENTIAL fold for the renorm: np.sum pairwise-sums
            # above 8 elements, which differs in the last bits from the
            # left fold DuckDB's list_sum computes — and the unrolled
            # Lloyd oracle (similarity_sql.sql_ivf_trained) needs the
            # trained centroids bit-identical across engines. K rows
            # only, so the Python loop is free.
            n2 = 0.0
            for x in v.tolist():
                n2 += x * x
            n = float(np.sqrt(n2))
            new_cents.append((v / n if n > 0 else v).tolist())
        cents = new_cents
        history.append((int(obj), len(stats)))
    return cents, history
