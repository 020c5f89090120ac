"""Local Outlier Factor (Breunig et al. 2000) over an embedding column
— the density-RATIO anomaly detector completing the outlier family next
to embedding_outliers' global z-score and events_anomaly_mad's robust
univariate screen: a point is anomalous when its local density is small
RELATIVE to its neighbors' densities, so clusters of different
densities don't mask each other (the failure mode of any global
threshold).

Built entirely on the hash-verified kNN machinery: neighbors come from
``similarity.lsh_topk`` (LSH-bucketed candidates + exact in-bucket
re-rank, the knn_graph leg), distances are exact integer micro cosine
distances (1e6 - round(sim * 1e6)), and the LOF chain — k-distance,
reachability, local reachability density, the final ratio — is pure
integer arithmetic with truncating division, so the whole operator
hash-verifies against a DuckDB replay of the same bucket construction.

Semantics note: LOF is computed over the RETRIEVED neighbor graph (a
vector in a sparse bucket may have fewer than k neighbors; its
k-distance is then the max over what was retrieved). Every vector that
appears as someone's candidate shares that bucket, hence also has >= 1
neighbor of its own — the inner joins below are therefore lossless.

Scale posture: one (table, bucket) shuffle for candidates (occupancy
held at ~N/128 by _auto_bits), then three groupBys/joins keyed by
vector id over <= k*N scalar rows; the per-id frames (k-distance, lrd)
are |V|-bounded broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators.similarity import lsh_topk

__all__ = ["lof_scores"]


def lof_scores(
    vectors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    n_tables: int = 16,
) -> DataFrame:
    """``(vec_id, n_neighbors, kdist_micro, lrd_m, lof_micro)`` per
    vector with at least one retrieved neighbor. lof_micro ~ 1e6 means
    inlier; >> 1e6 means locally sparse relative to its neighborhood.

    Integer scaling: d_micro <= 2e6, so sum(reach) <= k * 2e6 and
    lrd_m = cnt * 1e9 div max(sum(reach), 1) lies in [500, cnt * 1e9];
    the final numerator sum(lrd_m) * 1e6 stays <= ~1e17 — inside int64
    (the max(.., 1) guard covers the all-duplicates degenerate bucket).
    """
    topk = lsh_topk(
        vectors, vectors, k=k, id_col=id_col, vec_col=vec_col,
        n_bits=n_bits, n_tables=n_tables,
    )
    # d feeds three consumers (k-distance, reachability, the final
    # neighbor-lrd aggregation) — reuse rule.
    d = topk.select(
        "query_id",
        "cand_id",
        F.expr(
            "1000000 - CAST(round(sim * 1000000.0, 0) AS BIGINT)"
        ).alias("d_micro"),
    ).localCheckpoint()
    kd = (
        d.groupBy(F.col("query_id").alias("id"))
        .agg(F.max("d_micro").alias("kdist"), F.count("*").alias("cnt"))
        .localCheckpoint()  # |V|-bounded, referenced twice
    )
    reach = d.join(
        F.broadcast(
            kd.select(F.col("id").alias("cand_id"), F.col("kdist").alias("kd_b"))
        ),
        "cand_id",
    ).select(
        "query_id", F.greatest("d_micro", "kd_b").alias("reach")
    )
    lrd = (
        reach.groupBy(F.col("query_id").alias("id"))
        .agg(
            F.expr(
                "(count(*) * 1000000000) div greatest(sum(reach), 1)"
            ).alias("lrd_m")
        )
        .localCheckpoint()  # |V|-bounded, referenced twice
    )
    agg = (
        d.join(
            F.broadcast(
                lrd.select(
                    F.col("id").alias("cand_id"), F.col("lrd_m").alias("lrd_b")
                )
            ),
            "cand_id",
        )
        .groupBy(F.col("query_id").alias("id"))
        .agg(F.sum("lrd_b").alias("slrd"), F.count("*").alias("cnt"))
    )
    return (
        agg.join(F.broadcast(lrd), "id")
        .join(F.broadcast(kd.select("id", "kdist")), "id")
        .select(
            F.col("id").alias(id_col),
            F.col("cnt").alias("n_neighbors"),
            F.col("kdist").alias("kdist_micro"),
            "lrd_m",
            F.expr("(slrd * 1000000) div (cnt * lrd_m)").alias("lof_micro"),
        )
    )
