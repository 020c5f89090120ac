"""Similarity-search correctness and recall floors (X3).

The LSH paths are approximate by construction; these tests pin a
measured recall floor against the exact plans at sf0.001 so a bucketing
regression (like the round-1 near-zero-recall defaults) fails loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_spark.operators import similarity as S
from graph_database_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def test_grid_pairs_match_naive_crossjoin(spark, emb):
    """The grid plan is a pure re-plan of exact all-pairs: identical
    result set to a reference crossJoin at any block count."""
    from graph_database_spark.functions.vectors import cosine_similarity

    v = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    naive = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine_similarity("va", "vb"), 6).alias("sim"))
        .where(F.col("sim") >= 0.35)
        .collect()
    }
    for blocks in (1, 4, 8):
        grid = {
            (r["id_a"], r["id_b"]): r["sim"]
            for r in S.cosine_pairs_above(emb, 0.35, grid_blocks=blocks).collect()
        }
        assert grid == naive, f"grid_blocks={blocks}"


def test_no_broadcast_or_cartesian_in_grid_plan(emb):
    plan = S.cosine_pairs_above(emb, 0.35)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_topk_recall(emb):
    """recall@10 of lsh_topk at the catalog's defaults (auto bits, 16
    tables) vs exact brute force, over every 50th vector as queries
    (the catalog's sampling); two runs are bit-identical (integer
    bucketing + rounded re-rank)."""
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = S.brute_force_topk(queries, emb, k=10)
    truth = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    run = lambda: sorted(
        (r["query_id"], r["cand_id"], r["sim"], r["rank"])
        for r in S.lsh_topk(queries, emb, k=10).collect()
    )
    first = run()
    approx = {(q, c) for q, c, _, _ in first}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.6, f"recall@10 = {recall:.3f}"
    assert first == run()


def test_lsh_topk_md5_twin_recall_and_determinism(emb):
    """The md5-parity leg at the explicit configuration its graph
    callers pass (4 bits, 8 tables): recall@10 vs brute force clears
    the same floor as at the defaults, and two runs are bit-identical."""
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = S.brute_force_topk(queries, emb, k=10)
    truth = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    run = lambda: sorted(
        (r["query_id"], r["cand_id"], r["sim"], r["rank"])
        for r in S.lsh_topk(queries, emb, k=10, n_bits=4, n_tables=8).collect()
    )
    first = run()
    approx = {(q, c) for q, c, _, _ in first}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.6, f"recall@10 = {recall:.3f}"
    assert first == run()


def test_lsh_topk_string_ids(spark):
    """Buckets holding only queries or only candidates score to an
    empty group; that frame must carry the input's id type. With 256
    buckets a table for 200 vectors most cells are one-sided, and
    string ids used to die in the Arrow conversion."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    ints = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    strs = ints.select(F.col("vec_id").cast("string").alias("vec_id"), "embedding")

    def topk(df):
        queries = df.where(F.col("vec_id").cast("string").endswith("7"))
        return S.lsh_topk(queries, df, k=5, n_bits=8, n_tables=2).collect()

    got = {(r["query_id"], r["cand_id"], r["sim"]) for r in topk(strs)}
    want = {(str(r["query_id"]), str(r["cand_id"]), r["sim"]) for r in topk(ints)}
    assert got and got == want


def test_lsh_pairs_above_recall(emb):
    exact = {(r["id_a"], r["id_b"]) for r in S.cosine_pairs_above(emb, 0.35).collect()}
    approx = {(r["id_a"], r["id_b"]) for r in S.lsh_pairs_above(emb, 0.35).collect()}
    assert approx <= exact  # in-bucket verify is exact: no false positives
    recall = len(approx & exact) / max(len(exact), 1)
    assert recall >= 0.5, f"pair recall = {recall:.3f}"


def test_lsh_all_identical_vectors(spark):
    """40 identical vectors share one (table, bucket) cell per table:
    the degenerate full cell of _np_bucket_dots. Every one of the
    C(40, 2) pairs comes back exactly once, and each query gets its k
    neighbours (ties on sim break by cand_id) and never itself."""
    n, k = 40, 5
    vec = [0.1, -0.2, 0.3, 0.4, -0.5, 0.6, 0.7, -0.8]
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<float>"
    )
    pairs = [(r["id_a"], r["id_b"]) for r in S.lsh_pairs_above(df, 0.99).collect()]
    assert sorted(pairs) == [(a, b) for a in range(n) for b in range(a + 1, n)]

    got = {}
    for r in S.lsh_topk(df, df, k=k).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"]))
    want = {
        q: list(enumerate([c for c in range(n) if c != q][:k], start=1))
        for q in range(n)
    }
    assert {q: sorted(v) for q, v in got.items()} == want
