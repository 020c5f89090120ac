"""SemDeDup: semantic (embedding-space) deduplication via
cluster-then-pairwise-cosine (Abbas et al., "SemDeDup", arXiv:2303.09540).

The modern LLM-corpus dedup method the hash/shingle family
(operators/dedup.py) cannot express: two documents with disjoint token
sets but near-identical embeddings are semantic duplicates. The standard
recipe — cluster the embedding space, compare pairs only WITHIN a
cluster, drop every vector whose cosine similarity to a lower-id
cluster-mate clears a threshold — avoids the all-pairs O(n²) meet the
same way IVF search does: the only wide shuffle is one hash-partition on
the cell key, and pairwise work is bounded by cell occupancy
(~N / n_centroids, the same knob discipline as operators/ivf.py).

Verification follows operators/ivf.py: the centroid draw is
md5-ordered, every vector is unit-normalized then quantized to BIGINT
micro-units, and both the cell-assignment argmax (ivf._best_cell) and
the pairwise cosine are INTEGER dot products
— order-exact cross-engine, so the full pipeline value-hashes against a
pure-SQL DuckDB oracle. No float ever crosses a group-sum.

Semantics note: the keep rule is the order-free form — vector ``a`` is a
duplicate iff SOME cluster-mate ``b`` with ``b.id < a.id`` has
``cos(a, b) >= tau`` — not the sequential greedy sweep (whose "kept"
recursion is inherently serial). Both engines express the EXISTS
identically; the paper's variants differ only in which member of a
duplicate clique survives.

Reference parity: the reference engine (src/main.js:1-296) has no
embedding surface; this extends SURVEY.md §2.11 X2/X3.

Scale posture at 100 TB: the quantized vectors shuffle ONCE on the cell
key (inherent — pairwise cosine needs both operands); cell occupancy is
controlled by n_centroids exactly like IVF cell size; the centroid model
is a bounded driver-side literal (n_centroids × dim longs, a few KB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.functions.vectors import l2_norm
from graph_database_spark.operators.ivf import _best_cell, _unit_centroid_micro
from graph_database_spark.operators.spread import spread

__all__ = ["semdedup_md5"]


def semdedup_md5(
    emb: DataFrame,
    n_centroids: int = 16,
    tau_micro2: int = 300_000_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector SemDeDup verdicts: ``(vec_id, cell, is_dup, dup_of,
    best_sim)``.

    ``tau_micro2`` is the cosine threshold in micro² units (unit micro
    vectors dot to ~cos·10¹²; 3e11 = cos 0.30). ``dup_of`` is the
    smallest qualifying lower id (deterministic representative),
    ``best_sim`` the largest qualifying integer dot; both NULL for
    non-duplicates.
    """
    cents = _unit_centroid_micro(emb, id_col, vec_col, n_centroids)
    # ONE constant-folded literal per centroid (CLAUDE.md: nested
    # F.array(F.lit(...)) is a py4j round-trip per cell).
    cent_lits = [
        F.expr("array(" + ",".join(f"{x}L" for x in c) + ")") for c in cents
    ]

    base = (
        spread(emb)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("nrm", l2_norm(F.col("v")))
        .withColumn(
            "snrm",
            F.when(F.col("nrm") == 0, F.lit(1.0)).otherwise(F.col("nrm")),
        )
    )
    # Unit micro vector: round((x / ||v||) * 1e6). snrm is a materialized
    # column, not an expression re-evaluated per array element.
    base = base.withColumn(
        "um",
        F.transform(
            F.col("v"),
            lambda x: F.round(x.cast("double") / F.col("snrm") * 1_000_000.0, 0).cast(
                "long"
            ),
        ),
    )
    sims = F.array(
        *[
            F.aggregate(
                F.zip_with("um", lit, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for lit in cent_lits
        ]
    )
    # argmax with FIRST-index tiebreak (mirrors the oracle's
    # row_number ORDER BY s DESC, c ASC).
    assigned = (
        base.withColumn("sims", sims)
        .select("id", "um", _best_cell().alias("cell"))
        # Referenced three ways below (both self-join sides + the final
        # left join) — checkpoint or the quantization re-derives per arm.
        .localCheckpoint()
    )

    a = assigned.select(
        F.col("id").alias("ida"), F.col("um").alias("uma"), "cell"
    )
    b = assigned.select(
        F.col("id").alias("idb"), F.col("um").alias("umb"), "cell"
    )
    qual = (
        a.join(b, "cell")
        .where(F.col("idb") < F.col("ida"))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("uma", "umb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .where(F.col("d") >= F.lit(int(tau_micro2)))
        .groupBy("ida")
        .agg(F.min("idb").alias("dup_of"), F.max("d").alias("best_sim"))
    )
    return (
        assigned.join(qual, assigned.id == qual.ida, "left")
        .select(
            F.col("id").alias("vec_id"),
            "cell",
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
            "best_sim",
        )
        .orderBy("vec_id")
    )
