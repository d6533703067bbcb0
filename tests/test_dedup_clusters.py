"""Connected-components cluster assignment (functions/dedup.py
connected_components / dedup_cluster_assignments) + PII scrub semantics.

The full DuckDB-oracle parity for the registered ``dedup_clusters`` and
``pii_scrub`` queries runs in test_oracle_parity.py; these tests pin the
graph algorithm itself on hand-built topologies (transitivity is the
whole point of the operator — pairs alone under-delete) and the scrub's
per-kind behavior.
"""

from pyspark.sql import functions as F

from pdf2ocr_spark.functions.dedup import (
    connected_components,
    dedup_cluster_assignments,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _components(spark, pairs):
    rows = connected_components(_edges(spark, pairs)).collect()
    return {r["node"]: r["cluster_id"] for r in rows}


def test_chain_collapses_to_min(spark):
    # A-B, B-C, C-D: one component, label must propagate the full chain
    # (diameter 3 — more rounds than the init step covers)
    got = _components(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cycle_terminates(spark):
    got = _components(spark, [(5, 6), (6, 7), (7, 5)])
    assert got == {5: 5, 6: 5, 7: 5}


def test_star_hub_takes_min_leaf(spark):
    # hub id LARGER than the leaves: min label lives on a leaf
    got = _components(spark, [(10, 2), (10, 3), (10, 4)])
    assert got == {2: 2, 3: 2, 4: 2, 10: 2}


def test_disjoint_components_stay_apart(spark):
    got = _components(spark, [(1, 2), (7, 9), (9, 8)])
    assert got == {1: 1, 2: 1, 7: 7, 8: 7, 9: 7}


def test_cluster_assignments_contract(spark, sf_dir):
    out = dedup_cluster_assignments(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).toPandas()
    assert len(out), "near-dup corpus construction guarantees clusters"
    # exactly one keeper per cluster, and it carries the cluster id
    keepers = out[out.is_keeper]
    assert keepers.cluster_id.nunique() == out.cluster_id.nunique()
    assert (keepers.doc_id == keepers.cluster_id).all()
    # cluster_id is the component minimum
    assert (out.groupby("cluster_id").doc_id.min() ==
            out.groupby("cluster_id").doc_id.min().index).all()
    # sizes are consistent
    sizes = out.groupby("cluster_id").size()
    merged = out.set_index("cluster_id").cluster_size
    assert (sizes[merged.index] == merged).all()


def test_pii_scrub_redacts_every_kind(spark, sf_dir):
    from pdf2ocr_spark.plans.queries import q_pii_scrub

    out = q_pii_scrub(spark, sf_dir).limit(50).toPandas()
    assert (out.n_emails >= 1).all()
    assert (out.n_urls >= 1).all()
    assert (out.n_phones >= 1).all()
    joined = " ".join(out.scrubbed)
    assert "@example.com" not in joined
    assert "https://" not in joined
    assert "<EMAIL>" in joined and "<URL>" in joined and "<PHONE>" in joined


def test_doc_chunks_windowing(spark, sf_dir):
    from pdf2ocr_spark.plans.queries import CHUNK_S, CHUNK_W, q_doc_chunks

    out = q_doc_chunks(spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    assert out.doc_id.nunique() == len(docs), "every doc chunks"
    assert out.chunk_id.max() >= 1, "windowing must actually split docs"
    assert out.n_tokens.max() <= CHUNK_W
    # overlap: consecutive chunks of one doc share CHUNK_W - CHUNK_S tokens
    multi = out[out.doc_id == out[out.chunk_id >= 1].doc_id.iloc[0]]
    c0 = multi[multi.chunk_id == 0].chunk_text.iloc[0].split(" ")
    c1 = multi[multi.chunk_id == 1].chunk_text.iloc[0].split(" ")
    assert c0[CHUNK_S:CHUNK_W] == c1[: CHUNK_W - CHUNK_S]
    # reconstruction: stride-window union covers the doc exactly
    doc = docs[docs.doc_id == multi.doc_id.iloc[0]].text.iloc[0].split(" ")
    rebuilt = []
    for _, row in multi.sort_values("chunk_id").iterrows():
        rebuilt.extend(row.chunk_text.split(" ")[: CHUNK_S])
    assert rebuilt == doc[: len(rebuilt)] and len(rebuilt) >= len(doc) - CHUNK_W


def test_ann_recall_bounds(spark, sf_dir):
    from pdf2ocr_spark.plans.queries import q_ann_recall

    out = q_ann_recall(spark, sf_dir).toPandas()
    assert len(out), "one row per query point"
    assert ((out.recall_bp >= 0) & (out.recall_bp <= 10000)).all()
    assert (out.n_hits * 10000 / 5 >= out.recall_bp - 1).all()


def test_deep_chain_converges_logarithmically(spark):
    """A 40-node path has diameter 39: plain neighbor-min propagation
    needs ~39 rounds and would exhaust max_iters=15 (silently wrong
    before the pointer-doubling rewrite — now it raises instead);
    label-chasing halves pointer depth per round, so this converges
    well inside the budget."""
    got = _components(spark, [(i, i + 1) for i in range(100, 140)])
    assert got == {i: 100 for i in range(100, 141)}


def test_reliable_checkpoint_path_matches_local(spark, tmp_path):
    """checkpoint_dir= switches per-round lineage truncation from
    executor-local blocks to RELIABLE checkpointing (the production path:
    localCheckpoint blocks die with a lost executor once lineage is
    truncated). Same fixpoint, and the rounds actually hit the dir."""
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    pairs = [(1, 2), (2, 3), (3, 4), (9, 10)]
    rows = connected_components(_edges(spark, pairs), checkpoint_dir=ckpt).collect()
    got = {r["node"]: r["cluster_id"] for r in rows}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9, 10: 9}
    # reliable checkpoints were written (at least edge list + one round)
    ckpt_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert ckpt_files, "no reliable checkpoint data written"


def test_simhash_null_text_does_not_fail_task(spark):
    """A NULL text must not kill the whole task: F.split(NULL) hands the
    pandas_udf a None. The coalesce-to-'' guard (kernel-era
    ``(text or '').split()``) fingerprints null and '' identically."""
    from pdf2ocr_spark.functions.dedup import simhash_fingerprints

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert set(fp) >= {1, 2, 3}
    assert fp[1] == fp[2]  # null == '' after the guard
    assert fp[3] != fp[1]


def test_checkpoint_dir_restored_after_cc(spark, tmp_path):
    """connected_components(checkpoint_dir=...) must not leave its
    session-global setCheckpointDir mutation behind: a later unrelated
    .checkpoint() would silently write into this operator's directory."""
    from pdf2ocr_spark.functions.dedup import connected_components

    sc = spark.sparkContext
    prior = str(tmp_path / "prior_ckpt")
    sc.setCheckpointDir(prior)
    try:
        before = sc.getCheckpointDir()
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (8, 9)], "doc_a long, doc_b long"
        )
        out = connected_components(
            edges, checkpoint_dir=str(tmp_path / "cc_ckpt")
        )
        assert out.count() == 5
        assert sc.getCheckpointDir() == before, "checkpoint dir leaked"
    finally:
        # session-scoped fixture: leave no dir set for later tests
        sc._jsc.sc().setCheckpointDir(None)


def test_minhash_lsh_plan_has_no_lambda(spark, sf_dir):
    """The band key and the signature agreement are codegen'd expressions:
    a higher-order-function lambda would run interpreted per element."""
    from pdf2ocr_spark.plans.queries import QUERIES

    df = QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan
