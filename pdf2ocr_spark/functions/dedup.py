"""Deduplication operators (training-data pipeline tier).

All variants share one deterministic hash primitive available identically
in Spark and DuckDB: ``base_hash(s) = int(md5(s)[:8], 16)`` (first 32 bits
of md5 as a non-negative BIGINT), so every query here is oracle-checkable.

Implemented:
- exact dedup          md5(text) hash-groupBy (one shuffle, map-side combine)
- MinHash + LSH        word-shingles -> 16 permutations -> 4 bands ->
                       band-bucket self-join -> candidate pairs + est. Jaccard
- n-gram Jaccard       exact pairwise Jaccard via shingle inverted index
                       (join only docs sharing >=1 shingle — never all-pairs)
- SimHash              63-bit sign-sum fingerprint + Hamming-distance pairs
                       within 16-bit prefix blocks

Scale notes: every pairwise op is blocked (LSH band / shared shingle /
prefix) so the join fan-out is bounded by bucket sizes, not n^2; the
shingle inverted index is the classic web-dedup plan (Broder). The
documents relation at 10^12 rows would bucket the band join by
``bucket(band_hash)`` and rely on AQE skew splitting for hot shingles —
hot-shingle caps are applied below (shingle DF filtered to df < MAX_DF).

The Python kernels are numpy ``mapInArrow`` stages that build their
output with ``arrowmap.column_batch``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F

from pdf2ocr_spark.arrowmap import arrow_schema, column_batch
from pdf2ocr_spark.pipeline import fan_out

MINHASH_PRIME = 2147483647  # 2^31 - 1
N_PERM = 16
BANDS = 4
ROWS_PER_BAND = N_PERM // BANDS
SHINGLE_WORDS = 3
MAX_SHINGLE_DF = 1000  # inverted-index hot-shingle cap
SIMHASH_BITS = 63
SIMHASH_PREFIX_BITS = 16


def base_hash(col: Column) -> Column:
    """First 32 bits of md5 as BIGINT — identical to DuckDB's
    CAST('0x'||substr(md5(x),1,8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def word_shingles(text: Column, n: int = SHINGLE_WORDS) -> Column:
    """Distinct word n-gram shingles; short texts fall back to one shingle
    (the whole text)."""
    toks = F.split(text, " ")
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array(text))
    return grams


def with_near_dup_corpus(documents: DataFrame) -> DataFrame:
    """Benchmark corpus for near-dup detection: union the documents with a
    lightly mutated copy of every 10th doc (first word replaced), so true
    near-duplicates exist by construction. Mutant ids = doc_id + 10^7."""
    mutants = (
        documents.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.regexp_replace("text", "^[a-z]+ ", "zz ").alias("text"),
        )
    )
    return documents.select("doc_id", "text").unionByName(mutants)


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups over md5(text)."""
    return (
        documents.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_docs") >= 2)
    )


#: permutation j is (A_j*h + B_j) mod p, the ``perm_hash`` formula
#: functions/dedup_sql.py states for the DuckDB oracle
_PERM_A = (1103515245 * (np.arange(N_PERM, dtype=np.int64) + 1)) % MINHASH_PRIME
_PERM_B = (12345 * (np.arange(N_PERM, dtype=np.int64) + 7)) % MINHASH_PRIME


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>[N_PERM]) — min over shingles per permutation.

    The signature is a pure function of ONE row's shingle array, so it is
    computed entirely per-row — zero shuffle, fused into the scan stage.
    Round 1 exploded the shingle relation 16x and shuffled it twice
    (groupBy(doc,j) -> groupBy(doc)); at 10^12 docs that was 16x shuffle
    amplification of the largest intermediate for no reason.

    Split of work (round-6 rebuild, measured at 10x/local[32]): the JVM
    ships only the cheap codegen token split; shingle construction AND
    md5 hashing happen in one ``mapInArrow`` kernel, where
    ``pyarrow.compute.dictionary_encode`` dedupes the batch's shingle
    strings first so md5 runs once per DISTINCT shingle in the batch (a
    Zipf corpus repeats shingles heavily — the round-5 form evaluated an
    interpreted Catalyst md5 tree per shingle OCCURRENCE, ~2.6e6
    evaluations at 10x vs ~3e4 here); the 16-permutation min then runs
    as ONE numpy broadcast + minimum.reduceat over the whole Arrow
    batch. base_hash semantics are unchanged: int(md5(utf8)[:4].hex(),
    16) % p, verified hash-identical against the round-5 plan at
    sf0.01/0.1/10x.
    """
    schema = "doc_id long, sig array<long>"
    out = arrow_schema(schema)

    def perm_min(tokss: pa.Array) -> np.ndarray:
        # one C conversion of the flat child, sliced per row (a per-row
        # ``to_pylist`` boxes every token through a slow path)
        flat = tokss.flatten().to_numpy(zero_copy_only=False).tolist()
        sh_lists, start = [], 0
        for n in pc.list_value_length(tokss).to_numpy().tolist():
            toks, start = flat[start : start + n], start + n
            if n >= SHINGLE_WORDS:
                sh_lists.append(
                    dict.fromkeys(
                        " ".join(toks[i : i + SHINGLE_WORDS])
                        for i in range(n - SHINGLE_WORDS + 1)
                    )
                )
            else:
                sh_lists.append([" ".join(toks)])
        lens = np.fromiter(
            (len(s) for s in sh_lists), dtype=np.int64, count=len(sh_lists)
        )
        shingles = [s for sh in sh_lists for s in sh]
        codes, uniq = _distinct(pa.array(shingles, pa.string()))
        uh = np.fromiter(
            (
                int.from_bytes(hashlib.md5(u.encode()).digest()[:4], "big")
                % MINHASH_PRIME
                for u in uniq
            ),
            dtype=np.int64,
            count=len(uniq),
        )
        flat_h = uh[codes]
        # (N_PERM, total_shingles) permuted hashes; min per row via
        # reduceat (>= 1 shingle per row by construction)
        ph = (_PERM_A[:, None] * flat_h[None, :] + _PERM_B[:, None]) % MINHASH_PRIME
        return np.minimum.reduceat(ph, _offsets(lens), axis=1).T

    return docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).mapInArrow(
        lambda batches: (
            column_batch([b.column(0), perm_min(b.column(1))], out)
            for b in batches
            if b.num_rows
        ),
        schema,
    )


def _distinct(strings: pa.Array) -> tuple:
    """(per-string dense code, the distinct strings in first-occurrence
    order) via one ``dictionary_encode`` — a C hash table over the Arrow
    buffer."""
    enc = pc.dictionary_encode(strings)
    return enc.indices.to_numpy(), enc.dictionary.to_numpy(zero_copy_only=False)


def _offsets(lens: np.ndarray) -> np.ndarray:
    """Start of each row's segment in the flat child (``reduceat``)."""
    offsets = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    return offsets


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """Candidate near-dup pairs via banded LSH + minhash-agreement estimate.

    Returns (doc_a, doc_b, est_jaccard) for pairs sharing >=1 band.

    The signature relation is explicitly repartitioned before the band
    self-join: the Exchange materializes the (small: doc_id + 16 longs)
    signature rows so BOTH join sides read one ReusedExchange instead of
    re-running the md5-hashing signature subtree per side — without it the
    self-join doubles the dominant compute, and projection collapse
    re-inlines the hash tree into every downstream reference (measured
    58s -> 4s at sf0.1/local[32]). One small-row shuffle is the price; the
    band join shuffles the 4x-exploded band relation regardless.

    The corpus is also fanned out BEFORE hashing: a small single-file
    corpus arrives as ONE scan split, which would serialize the whole
    hashing stage (at production scale the table has thousands of splits
    and this shuffle moves each row once — the cost of co-parallelizing
    the CPU-heavy stage, same move as pipeline.stripe_documents).
    """
    corpus = fan_out(with_near_dup_corpus(documents))
    sigs = minhash_signatures(corpus).repartition("doc_id")
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(BANDS - 1))).alias("band"),
    ).select(
        "doc_id",
        "sig",
        "band",
        F.md5(
            F.array_join(
                F.slice("sig", F.col("band") * ROWS_PER_BAND + 1, ROWS_PER_BAND).cast(
                    "array<string>"
                ),
                ",",
            )
        ).alias("band_key"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        "band",
        "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        "band",
        "band_key",
    )
    # positions where the two signatures agree, as N_PERM indexed
    # equalities that codegen compiles (a higher-order-function lambda
    # would run interpreted, per element)
    agreement = sum(
        F.when(F.col("sig_a")[j] == F.col("sig_b")[j], 1).otherwise(0) for j in range(N_PERM)
    )
    pairs = (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (agreement / F.lit(float(N_PERM))).alias("est_jaccard"),
        )
        .distinct()
    )
    return pairs


#: output schema of the blocked-intersection kernel (see _jaccard_block_kernel)
#: per-SEGMENT dense pair-count budget (cells; 8M = one 64 MB int64
#: buffer). Bounds per-task MEMORY TRAFFIC, not single-task speed: kernel
#: tasks run cores-wide concurrently and every per-task allocation
#: multiplies page-fault/bandwidth pressure (the unsegmented 378 MB
#: matrix x 32 workers was measurable as 85-99% system CPU before the
#: allocator pins; segmentation keeps the high-water flat at ANY block
#: size). Blocks whose right side alone exceeds the budget fall back to
#: the packed-key sort path.
_BINCOUNT_MAX_CELLS = 8_000_000

_JACCARD_BLOCK_SCHEMA = (
    "doc_a long, doc_b long, n_inter long, sh_a long, sh_b long"
)


def _jaccard_block_kernel(threshold: float):
    """Per-(block_i, block_j) exact intersection counts, Arrow-native and
    numpy-vectorized (called per block pair by _jaccard_partition_kernel).

    Receives both blocks' per-doc rare-shingle arrays of int64
    ``xxhash64`` codes (their corpus-wide injectivity is asserted in-plan
    by ``ngram_jaccard_pairs``, so equal codes mean equal shingles). The
    codes never become Python objects: they stay in the record batch's
    contiguous Arrow buffers and densify into task-local codes with one
    ``np.unique`` over both sides. The co-occurrence enumeration walks
    the dense codes with sort/repeat arithmetic (no Python loop over
    shingles), counts pairs via one np.unique over packed 64-bit (row_a,
    row_b) keys, and emits ONLY pairs whose jaccard can still reach the
    threshold (pre-filter at threshold - 1e-4 — a margin 12 orders of
    magnitude above float64 error, so no qualifying pair is ever dropped;
    the final round()+filter runs in Catalyst with the exact original
    expression).
    """
    out_schema = arrow_schema(_JACCARD_BLOCK_SCHEMA)
    empty = column_batch([[]] * len(out_schema), out_schema)

    def _flat(tbl: pa.Table) -> tuple:
        """(flat child array, per-posting row index) for one side's rows —
        all buffer-level, no Python objects."""
        rset = tbl.column("rset").combine_chunks()
        lens = pc.list_value_length(rset).to_numpy(zero_copy_only=False)
        row_idx = np.repeat(np.arange(len(rset), dtype=np.int64), lens)
        return rset.flatten(), row_idx

    def kernel(tbl: pa.Table) -> pa.RecordBatch:
        side = tbl.column("side").to_numpy(zero_copy_only=False)
        diag = bool(
            tbl.column("i")[0].as_py() == tbl.column("j")[0].as_py()
        )
        left = tbl.filter(pa.array(side == 0))
        right = tbl.filter(pa.array(side == 1)) if not diag else left
        if not left.num_rows or not right.num_rows:
            return empty

        ls, lrow = _flat(left)
        rs, rrow = _flat(right) if not diag else (ls, lrow)
        # task-local dense shingle codes over BOTH sides: one C sort
        both = np.concatenate(
            [ls.to_numpy(zero_copy_only=False), rs.to_numpy(zero_copy_only=False)]
        )
        _, inv = np.unique(both, return_inverse=True)
        inv = inv.astype(np.int64, copy=False)
        lcode, rcode = inv[: len(ls)], inv[len(ls):]
        n_codes = int(inv.max()) + 1 if len(inv) else 0

        # sort each side's (code, row) postings by code
        lo = np.argsort(lcode, kind="stable")
        ro = np.argsort(rcode, kind="stable")
        lcode_s, lrow_s = lcode[lo], lrow[lo]
        rcode_s, rrow_s = rcode[ro], rrow[ro]
        # postings-list boundaries per code on each side
        lcnt = np.bincount(lcode_s, minlength=n_codes)
        rcnt = np.bincount(rcode_s, minlength=n_codes)
        rstart = np.zeros(n_codes, dtype=np.int64)
        np.cumsum(rcnt[:-1], out=rstart[1:])

        # Enumerate co-occurrences (every L posting crosses every R
        # posting of the same code — all repeat/arange arithmetic) and
        # count pairs, in LEFT-ROW SEGMENTS: each segment's dense count
        # buffer AND enumeration temporaries are bounded by
        # _BINCOUNT_MAX_CELLS whatever the block size, so per-task memory
        # stays flat as blocks grow (kernel tasks run cores-wide
        # concurrently — any per-task allocation multiplies; the
        # unsegmented dense matrix at 10x was 378 MB/task and the
        # unsegmented enumeration ~200 MB/task of temporaries).
        # Segments partition by left row, so their pair sets are
        # DISJOINT and results concatenate — no cross-segment merge.
        # Dense bincount counting (no sort over the packed keys, which
        # measured as the kernel floor: 125M distinct pairs at 10x);
        # the sort path remains only for blocks whose single right side
        # exceeds the cell budget.
        n_l = left.num_rows
        n_r = right.num_rows

        def _enum(lc, lr):
            """co-occurring (a_row_local, b_row) pairs for the L postings
            (lc=codes, lr=rows) — empty result -> (None, None)."""
            rep = rcnt[lc]
            total = int(rep.sum())
            if total == 0:
                return None, None
            a_rows = np.repeat(lr, rep)
            out_start = np.zeros(len(rep), dtype=np.int64)
            np.cumsum(rep[:-1], out=out_start[1:])
            within = (
                np.arange(total, dtype=np.int64) - np.repeat(out_start, rep)
            )
            b_rows = rrow_s[np.repeat(rstart[lc], rep) + within]
            return a_rows, b_rows

        if n_r <= _BINCOUNT_MAX_CELLS:
            seg_rows = max(1, _BINCOUNT_MAX_CELLS // n_r)
            ars, brs, nis = [], [], []
            for r0 in range(0, n_l, seg_rows):
                r1 = min(r0 + seg_rows, n_l)
                m = (lrow_s >= r0) & (lrow_s < r1)
                a_rows, b_rows = _enum(lcode_s[m], lrow_s[m] - r0)
                if a_rows is None:
                    continue
                if diag:
                    # each unordered pair is enumerated both ways; keep
                    # one orientation early (halves the count below)
                    keep_m = (a_rows + r0) < b_rows
                    a_rows, b_rows = a_rows[keep_m], b_rows[keep_m]
                    if not len(a_rows):
                        continue
                cnt = np.bincount(
                    a_rows * np.int64(n_r) + b_rows,
                    minlength=(r1 - r0) * n_r,
                )
                upair = np.flatnonzero(cnt)
                if not len(upair):
                    continue
                a_loc = upair // n_r
                nis.append(cnt[upair])
                ars.append(a_loc + r0)
                brs.append(upair - a_loc * n_r)
            if not ars:
                return empty
            ar = np.concatenate(ars)
            br = np.concatenate(brs)
            n_inter = np.concatenate(nis)
        else:
            a_rows, b_rows = _enum(lcode_s, lrow_s)
            if a_rows is None:
                return empty
            if diag:
                m = a_rows < b_rows
                a_rows, b_rows = a_rows[m], b_rows[m]
                if not len(a_rows):
                    return empty
            # narrowest packed key that fits halves the sort's memory
            # traffic (the dominant cost of this path)
            if n_l * n_r < 2**31:
                keys = (a_rows * np.int64(n_r) + b_rows).astype(np.int32)
            else:
                keys = a_rows * np.int64(n_r) + b_rows
            upair, n_inter = np.unique(keys, return_counts=True)
            upair = upair.astype(np.int64, copy=False)
            ar = upair // n_r
            br = upair - ar * n_r

        la_ids = left.column("doc_id").to_numpy(zero_copy_only=False)
        ra_ids = right.column("doc_id").to_numpy(zero_copy_only=False)
        la_nsh = left.column("n_sh").to_numpy(zero_copy_only=False)
        ra_nsh = right.column("n_sh").to_numpy(zero_copy_only=False)
        doc_a = la_ids[ar]
        doc_b = ra_ids[br]
        sh_a = la_nsh[ar]
        sh_b = ra_nsh[br]
        # each unordered pair was enumerated exactly once (the diagonal
        # early-mask keeps one local orientation); emit as (min, max)
        swap = doc_a > doc_b
        doc_a, doc_b = np.where(swap, doc_b, doc_a), np.where(swap, doc_a, doc_b)
        sh_a, sh_b = np.where(swap, sh_b, sh_a), np.where(swap, sh_a, sh_b)
        # lossless pre-filter: margin far above float64 rounding error
        keep = n_inter / (sh_a + sh_b - n_inter) >= threshold - 1e-4
        return column_batch(
            [doc_a[keep], doc_b[keep], n_inter[keep], sh_a[keep], sh_b[keep]],
            out_schema,
        )

    return kernel


def _jaccard_partition_kernel(threshold: float):
    """``mapInArrow`` wrapper: one task may hold SEVERAL (i, j) block
    pairs — the plan hash-partitions the replicated relation on an
    explicit pair id into ~4x more partitions than pairs, which bounds
    the kernel stage's wall at one block-pair per core wave. (The
    earlier ``groupBy(i, j).applyInArrow`` hashed ~36 pair keys into the
    session's 32 shuffle partitions: balls-in-bins placement put 3-4
    pairs on one task while a third of the cores sat empty — a
    deterministic straggler the pair-id spread removes. Empty partitions
    cost microseconds.) Each pair's rows are grouped here and handed to
    the exact per-pair kernel unchanged."""
    one_pair = _jaccard_block_kernel(threshold)

    def run(batches):
        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        if not tbl.num_rows:
            return
        pids = tbl.column("pid").to_numpy(zero_copy_only=False)
        for pid in np.unique(pids):
            yield one_pair(tbl.filter(pa.array(pids == pid)))

    return run


def ngram_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.5, blocks: int | None = None
) -> DataFrame:
    """Exact n-gram Jaccard via a BLOCKED all-pairs intersection kernel.

    The round-3..5 plan self-joined the shingle inverted index and
    hash-aggregated every co-occurrence row: sum_s df(s)^2 rows, which
    grows QUADRATICALLY with corpus density — 2.8e6 pair rows at sf0.1
    but 1.4e8 at 10x (24 s wall, almost all of it the two hash-aggregate
    passes + the 1e8-row exchange). The blocked form moves the pairwise
    work into a numpy kernel and NEVER shuffles a pair row (guide §8 —
    decide with small rows: the only wide shuffle left is B+1 copies of
    the per-doc shingle-set relation, linear in the corpus):

    - per doc: (doc_id, n_sh, rare-shingle array) — n_sh counts ALL
      distinct shingles, the array keeps df <= MAX_SHINGLE_DF ones
      (identical semantics to the old sizes/hot-cap split);
    - docs hash into B blocks (B ~ sqrt(2 * shuffle partitions), so
      B(B+1)/2 tasks ~ the session's parallelism; every unordered block
      pair is one task and every doc pair lands in exactly one task);
    - the kernel computes exact intersection counts for its block pair
      with sort/repeat postings arithmetic (C speed, no Python loop) and
      emits only pairs at/above threshold - 1e-4 — a handful of rows;
    - the ORIGINAL Catalyst expression computes round(jaccard, 4) and
      the >= threshold filter on those rows, so emitted values are
      bit-identical to the round-5 plan (verified by result hash at
      sf0.01/sf0.1/10x).

    Total kernel work is still sum_s df_rare(s)^2 integer ops — but as
    vectorized numpy over local arrays instead of shuffled+aggregated
    rows (measured ~20x cheaper per co-occurrence), and the B-way
    replication is the standard blocked all-pairs trade: bytes moved =
    (B+1) * index size, tunable against cluster width at 10^12 docs.

    NO SHINGLE STRING EVER CROSSES AN EXCHANGE (round-6): the kernel
    receives dense int64 codes — ``xxhash64(shingle)``, a codegen
    projection — so the (B+1)-way replication shuffles 8-byte longs
    instead of ~30-byte string objects (the string form's exchange +
    Arrow round-trip dominated the query: ~2/3 of wall at 10x).
    Exactness stays UNCONDITIONAL, not probabilistic: the same
    aggregation that detects hot shingles also carries a per-hash
    ``min(shingle) != max(shingle)`` collision witness (map-side
    combined, so only per-partition-distinct hashes ship their two
    witness strings), and the plan ASSERTS the corpus-wide collision
    count is zero before any hash-coded result is produced — on a
    colliding corpus the query fails loudly instead of returning an
    approximation. Under the asserted injectivity, per-hash df equals
    per-shingle df (the hot cap is unchanged) and code-intersections
    equal shingle-intersections.

    PRACTICAL BOUND: the gate makes the corpus size a hard limit. By the
    birthday bound, n distinct shingles contain a 64-bit hash collision
    with probability about 1 - exp(-n^2 / 2^65): 0.2% at 2^28 (2.7e8)
    distinct shingles, 3% at 2^30, 39% at 2^32 (4.3e9) and 86% at 2^33.
    Past about 2^32 distinct shingles — far below the 10^12-document
    scale the blocking is shaped for — expect this query to abort on
    the assertion rather than answer."""
    import math

    docs = fan_out(with_near_dup_corpus(documents))
    if blocks is None:
        n_part = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        blocks = max(2, int(math.ceil(math.sqrt(2 * n_part))))
    # explode_OUTER, deliberately: with a plain explode the optimizer's
    # InferFiltersFromGenerate rule synthesizes `size(arr)>0 AND
    # isnotnull(arr)`, filter-pushdown re-inlines the whole word_shingles
    # HOF into that predicate and pushes it to the parquet SCAN — two
    # extra interpreted evaluations per row on the pre-fan-out scan split
    # (measured 11 s of the 24 s total at 10x, single-threaded). The rule
    # skips outer generates; word_shingles never returns an empty/null
    # array (short texts fall back to [text]), so the outer variant emits
    # the identical rows.
    ex = (
        docs.select("doc_id", word_shingles(F.col("text")).alias("arr"))
        .withColumn("n_sh", F.size("arr"))
        .select(
            "doc_id", "n_sh", F.explode_outer("arr").alias("shingle")
        )
        .withColumn("h", F.xxhash64("shingle"))
    )
    # ONE aggregation yields the hot-hash set (df > MAX_SHINGLE_DF; tiny
    # and bounded at most total_occurrences/MAX_DF) AND the collision
    # witness; both ride a single-row broadcast. The witness wraps the
    # hot array via assert_true so column pruning can never drop the
    # exactness check while the hot set is in use. ``ex`` is evaluated
    # once per consumer (here and in ``kept`` below) — deliberately: the
    # shingle projection is cheap map-side compute, while sharing it via
    # an exchange would ship every occurrence STRING once (the round-5
    # repartition("doc_id") reuse seam, removed for exactly that reason).
    # Two-level aggregation, all HashAggregate: a direct
    # min(shingle)/max(shingle) witness planned as SortAggregate (string
    # agg BUFFERS are var-length, which HashAggregateExec cannot hold) —
    # a full sort of every shingle occurrence. Grouping by (h, shingle)
    # first keeps the strings as GROUP KEYS (var-length keys are fine),
    # map-side combines to the per-partition-distinct shingle set, and
    # the per-hash distinct-string count is then a plain fixed-width
    # count. The (h, shingle) exchange is the single place a shingle
    # string crosses the wire, dedup-compressed to the distinct
    # vocabulary.
    hs = ex.groupBy("h", "shingle").agg(F.count("*").alias("_c"))
    per_h = hs.groupBy("h").agg(
        F.sum("_c").alias("df"),
        F.count("*").alias("_n_str"),
    )
    gate = per_h.agg(
        # coalesce: sum over an EMPTY corpus is NULL, and assert_true
        # treats a NULL condition as failure — an empty input must gate
        # through (zero collisions), not crash
        F.coalesce(
            F.sum(F.when(F.col("_n_str") > 1, 1).otherwise(0)), F.lit(0)
        ).alias("_nc"),
        F.collect_list(
            F.when(F.col("df") > MAX_SHINGLE_DF, F.col("h"))
        ).alias("_hot"),
    ).select(
        F.when(
            F.assert_true(
                F.col("_nc") == F.lit(0),
                F.lit(
                    "xxhash64 shingle collision detected — the int64-coded "
                    "jaccard kernel would be inexact on this corpus"
                ),
            ).isNull(),
            F.col("_hot"),
        ).alias("hot_arr")
    )
    kept = (
        ex.crossJoin(F.broadcast(gate))
        .where(~F.array_contains("hot_arr", F.col("h")))
        .select("doc_id", "n_sh", "h")
    )
    docsets = kept.groupBy("doc_id").agg(
        F.max("n_sh").alias("n_sh"),
        F.collect_list("h").alias("rset"),
    )

    b = F.pmod(F.col("doc_id"), F.lit(blocks)).cast("int")
    with_b = docsets.withColumn("blk", b)
    # replicate each block to its B+1 block-pair tasks; the diagonal task
    # reads only the L copy (side 0) to avoid double-shipping
    left = with_b.select(
        "doc_id",
        "n_sh",
        "rset",
        F.col("blk").alias("i"),
        F.explode(
            F.sequence(F.col("blk"), F.lit(blocks - 1))
        ).alias("j"),
        F.lit(0).alias("side"),
    )
    right = with_b.where(F.col("blk") > 0).select(
        "doc_id",
        "n_sh",
        "rset",
        F.explode(
            F.sequence(F.lit(0), F.col("blk") - 1)
        ).alias("i"),
        F.col("blk").alias("j"),
        F.lit(1).alias("side"),
    )
    n_pairs = blocks * (blocks + 1) // 2
    counts = (
        left.unionByName(right)
        .withColumn("pid", F.col("i") * blocks + F.col("j"))
        .repartition(4 * n_pairs, "pid")
        .mapInArrow(_jaccard_partition_kernel(threshold), _JACCARD_BLOCK_SCHEMA)
    )
    return (
        counts.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sh_a") + F.col("sh_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """63-bit SimHash per doc: sign of the per-bit sum of +/-1 token-hash
    bits (distinct tokens, unweighted; bits 0..31 from md5(tok), 32..62
    from md5(tok+'#2') — identical to the DuckDB oracle's arithmetic).

    Null texts are coalesced to '' BEFORE the split (the kernel-era
    ``(text or '').split()`` guard, re-expressed in the JVM plan):
    ``F.split(NULL)`` yields a NULL array, the kernel would receive
    ``None`` and fail the whole task on its length. A null/empty doc
    fingerprints as hash('') — deterministic, and it keeps every
    ``reduceat`` segment non-empty (a zero-length segment would make
    ``np.add.reduceat`` return the NEXT row's first element, not zero).

    Work split (round-6 rebuild, same batch-dedup move as
    minhash_signatures): the JVM ships only the codegen'd distinct-token
    arrays; the ``mapInArrow`` kernel dictionary-encodes the batch's
    flattened tokens so the two md5s run once per DISTINCT token in the
    batch (the round-5 form evaluated two interpreted Catalyst md5 trees
    per token OCCURRENCE), unpacks bits for the unique tokens only,
    gathers per-occurrence bit rows, and does one ``add.reduceat``
    per-row bit-sum. Zero shuffle, fused into the scan; hash-identical
    to the round-5 plan at sf0.01/0.1/10x. (Round 1 exploded tokens x
    63 bits and shuffled the bits relation — 63x amplification, the
    scale killer.)
    """
    schema = "doc_id long, simhash long"
    out = arrow_schema(schema)
    powers = (np.uint64(1) << np.arange(SIMHASH_BITS, dtype=np.uint64)).astype(
        np.int64
    )

    def bits32(uniq: np.ndarray, suffix: str) -> np.ndarray:
        """(len(uniq), 32) bit rows of int(md5(u + suffix)[:4]); column b
        holds bit b (little-endian)."""
        h = np.fromiter(
            (
                int.from_bytes(hashlib.md5((u + suffix).encode()).digest()[:4], "big")
                for u in uniq
            ),
            dtype=np.int64,
            count=len(uniq),
        ).astype(np.uint32)
        return np.unpackbits(
            h.view(np.uint8).reshape(-1, 4)[:, ::-1], axis=1, bitorder="big"
        )[:, ::-1]

    def simhash_np(tokss: pa.Array) -> np.ndarray:
        lens = pc.list_value_length(tokss).to_numpy(zero_copy_only=False)
        codes, uniq = _distinct(tokss.flatten())
        # bits computed for UNIQUE tokens, gathered per occurrence
        ubits = np.concatenate(
            [bits32(uniq, ""), bits32(uniq, "#2")[:, : SIMHASH_BITS - 32]], axis=1
        ).astype(np.int64)
        ones = np.add.reduceat(ubits[codes], _offsets(lens), axis=0)
        s = 2 * ones - lens[:, None]  # sum of (+-1) per bit, per row
        return ((s > 0) * powers).sum(axis=1)

    toks = F.array_distinct(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
    # fan out before hashing: a single-split input would serialize the
    # kernel (see fan_out; no-op cost at production split counts)
    docs = fan_out(with_near_dup_corpus(documents))
    return docs.select("doc_id", toks.alias("toks")).mapInArrow(
        lambda batches: (
            column_batch([b.column(0), simhash_np(b.column(1))], out)
            for b in batches
            if b.num_rows
        ),
        schema,
    )


def simhash_pairs(documents: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on the top
    SIMHASH_PREFIX_BITS prefix (docs in different blocks never compared).

    Fingerprints are repartitioned before the blocked self-join so both
    sides share one ReusedExchange instead of running the fingerprint
    kernel twice, and the corpus is fanned out before hashing so a
    single-split input does not serialize the kernel (see
    minhash_lsh_pairs)."""
    fp = simhash_fingerprints(documents).repartition("doc_id")
    blocked = fp.select(
        "doc_id",
        "simhash",
        F.shiftright("simhash", SIMHASH_BITS - SIMHASH_PREFIX_BITS).alias("block"),
    )
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "block"
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "block"
    )
    return (
        a.join(b, "block")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    max_iters: int = 15,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of an undirected edge list (doc_a, doc_b):
    returns (node, cluster_id) where cluster_id = min node id reachable.

    Iterative min-label propagation WITH pointer doubling: each round
    every node takes (1) the min of its neighbors' labels (one hash join
    on the neighbor key + one min-aggregation) and (2) its current
    label's OWN label (label-chasing — the pointer-jumping step of the
    classic MapReduce connected-components algorithms, cf. Kiveris et
    al., "Connected Components in MapReduce and Beyond"). Step 2 halves
    the remaining pointer depth every round, so convergence needs
    O(log diameter) rounds, not O(diameter) — max_iters=15 covers any
    graph a 10^12-doc corpus can produce (2^15 effective diameter).
    Both steps ride ONE join per round: the pointer term is encoded as
    an extra (node, label) edge and the identity as (node, node), so
    the round is a single lookup + min-aggregation (see loop comment).

    Per-round lineage truncation (so round R's plan never re-runs rounds
    1..R-1) has two modes:

    - default ``localCheckpoint`` — blocks live on executor-local
      storage; fast, but once lineage is truncated a lost executor makes
      the job unrecoverable. Fine for short interactive runs.
    - ``checkpoint_dir=...`` — RELIABLE checkpointing for the production
      path: rounds persist to the configured fault-tolerant directory
      (HDFS/object store on a cluster), so a multi-hour 10^12-doc run
      survives executor loss. Each round is ``persist()``-ed first so
      the post-job checkpoint save reads the cached blocks instead of
      recomputing the round, then the previous round's cache is dropped.

    Both modes are non-eager: the round's ONE driver action below both
    materializes the round and reads the convergence witness (folding
    what used to be two jobs per round into one).

    Labels only ever decrease, so the label SUM is a strictly decreasing
    convergence witness: the loop stops the first round the sum is
    unchanged (the fixpoint is the unique component-min labeling,
    independent of join order — which is what makes the result
    oracle-checkable). The witness accumulates into decimal(38,0): a
    bigint sum over 10^12-scale labels can wrap silently in non-ANSI
    mode, which could mask (or fake) the fixpoint. If the budget is ever
    exhausted before the fixpoint the operator raises rather than
    silently returning a partial clustering.
    """
    reliable = checkpoint_dir is not None
    sc = edges.sparkSession.sparkContext
    # setCheckpointDir is a session-global mutation; snapshot and restore
    # it (finally-guarded) so an unrelated later .checkpoint() in the
    # same session doesn't silently land in this operator's directory
    prev_ckpt_dir = sc.getCheckpointDir() if reliable else None
    if reliable:
        sc.setCheckpointDir(checkpoint_dir)
    try:
        return _cc_iterate(edges, max_iters, reliable)
    finally:
        if reliable:
            _restore_checkpoint_dir(sc, prev_ckpt_dir)


def _restore_checkpoint_dir(sc, prev: str | None) -> None:
    """Put the session checkpoint dir back EXACTLY where it was.
    getCheckpointDir returns the UUID-resolved path and the public
    setter always nests a fresh UUID under its argument, so an exact
    restore must write the Scala field directly; if that internal
    setter ever disappears, fall back to the public setter — later
    checkpoints then land one UUID deeper but still under the caller's
    original parent directory (Option(null) clears the dir either way)."""
    try:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(prev)
        )
    except Exception:
        # public-setter fallback (nests one UUID deeper but stays under
        # the caller's parent dir); guarded so a failure here — this runs
        # inside a finally block — can never mask the original error
        try:
            sc.setCheckpointDir(prev)
        except Exception:
            import logging

            logging.getLogger(__name__).warning(
                "could not restore checkpoint dir to %r", prev
            )


def _cc_iterate(
    edges: DataFrame, max_iters: int, reliable: bool
) -> DataFrame:
    """Label-propagation loop body of ``connected_components`` (split out
    so the checkpoint-dir snapshot/restore can wrap it in one
    try/finally). Every action — including the reliable checkpoints,
    which save synchronously at job end — completes inside this call, so
    restoring the dir afterwards is safe."""
    cached: list[DataFrame] = []

    def _pin(df: DataFrame) -> DataFrame:
        if reliable:
            df = df.persist()
            cached.append(df)
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    # decimal(38,0) accumulator — wrap-proof convergence witness
    witness = F.sum(F.col("label").cast("decimal(38,0)")).alias("w")

    def _round_trip(labels: DataFrame):
        """ONE action: materializes the pinned round AND reads the
        witness (checkpoint saves run synchronously at job end, so the
        previous rounds' caches are droppable right after)."""
        s = labels.agg(witness).first()[0]
        while cached:
            cached.pop().unpersist()
        return s

    fwd = edges.select(F.col("doc_a").alias("node"), F.col("doc_b").alias("nbr"))
    und = fwd.unionByName(
        edges.select(F.col("doc_b").alias("node"), F.col("doc_a").alias("nbr"))
    )
    # materialize the edge list once; every round reuses these blocks.
    # Reliable mode checkpoints it EAGERLY and separately from the
    # per-round pins: a non-eager checkpoint mark on an ANCESTOR of the
    # round RDD is skipped by Spark's doCheckpoint (it stops at the
    # first marked RDD, checkpointAllMarkedAncestors defaults false), so
    # folding und into _pin would silently leave the edge list
    # unmaterialized and every round would recompute it from source —
    # exactly the cost the checkpoint mode exists to avoid. persist()
    # first so the eager save reads cache instead of recomputing.
    if reliable:
        und_cache = und.persist()
        und = und_cache.checkpoint(eager=True)
        und_cache.unpersist()
    else:
        und = und.localCheckpoint()
    labels = _pin(
        und.groupBy("node").agg(F.min("nbr").alias("nbr_min"))
        .select("node", F.least("node", "nbr_min").alias("label"))
    )
    prev_sum = _round_trip(labels)

    for _ in range(max_iters):
        # ONE join + ONE aggregation per round: the round update
        #   label' = min(label(node), min_nbr label(nbr), label(label(node)))
        # rides a single lookup by augmenting the edge list with a
        # self-edge (node, node) — contributes label(node) — and a
        # pointer edge (node, label(node)) — contributes label(label),
        # the pointer-doubling term; label values are always real node
        # ids, so the lookup is total and no coalesce legs are needed.
        # The earlier three-way join/coalesce form carried ~6 exchanges
        # per round; under AQE every exchange boundary is its own
        # scheduled job, and at bench scale the label relation is tiny,
        # so round wall ~ exchange count, not data.
        aug = und.unionByName(
            labels.select("node", F.col("label").alias("nbr"))
        ).unionByName(labels.select("node", F.col("node").alias("nbr")))
        labels = _pin(
            aug.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        cur_sum = _round_trip(labels)
        if cur_sum == prev_sum:
            return labels.select("node", F.col("label").alias("cluster_id"))
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "with pointer doubling this needs a graph of effective diameter "
        f"> 2^{max_iters}; raise max_iters"
    )


def dedup_cluster_assignments(
    documents: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Pairs -> CLUSTERS: the last step of a production dedup pipeline.

    The LSH band join emits candidate PAIRS; keeping one doc per pair is
    wrong when near-duplication is transitive (A~B, B~C => drop two of
    three). This operator closes the pair graph into connected
    components and emits (doc_id, cluster_id, cluster_size, is_keeper)
    with cluster_id = min doc_id of the component — the keep-list a
    10^12-doc training-data run would anti-join against its corpus.
    """
    pairs = minhash_lsh_pairs(documents).select("doc_a", "doc_b")
    comp = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "cluster_id")
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            "cluster_size",
            (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
        )
    )
