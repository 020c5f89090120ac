"""IVF-style approximate nearest neighbor (SURVEY.md §2.11 X3 scale path).

Inverted-file search: partition the vector space into cells around a
small set of centroid vectors; index each candidate under its nearest
centroid; at query time probe only the ``n_probe`` nearest cells and
re-rank exactly inside them. Complements the random-hyperplane LSH path
(operators/similarity.py): IVF adapts to the data distribution (cells
follow the corpus), LSH is data-independent.

Centroid selection here is a deterministic hash-ordered draw of corpus
vectors (the ``n_centroids`` rows with smallest ``xxhash64(id)``) — the
honest stand-in for a k-means training pass (Spark ML KMeans would slot
in directly; the draw keeps every run and engine reproducible, which the
correctness harness requires). Centroids are a MODEL PARAMETER — a few
KB collected to the driver once and embedded into the plan as literals,
exactly how a trained quantizer ships — so cell assignment is a narrow,
shuffle-free map regardless of corpus size.

Scale posture: assignment O(n_centroids · dim) per row, row-local;
the only shuffles are the candidate/query meet on the cell key and the
per-query top-k window. Cell occupancy ~ N / n_centroids — raise
n_centroids with corpus size (same knob discipline as LSH n_bits).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["ivf_topk", "ivf_topk_md5"]


def _unit_centroids(candidates: DataFrame, id_col: str, vec_col: str, n_centroids: int):
    """Deterministic centroid draw, L2-normalized driver-side (bounded:
    n_centroids rows of dim floats — a model parameter, not data)."""
    rows = (
        candidates.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    out = []
    for r in rows:
        v = [float(x) for x in r[vec_col]]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([x / nrm for x in v])
    return out


def _cell_sims(vec_col, unit_centroids) -> "F.Column":
    """ARRAY<DOUBLE>[n_centroids] of <v, c_j> against the literal unit
    centroids — one zip_with+aggregate pass per centroid, all row-local."""
    sims = []
    for c in unit_centroids:
        lit = F.array(*[F.lit(x) for x in c])
        prod = F.zip_with(vec_col, lit, lambda a, b: a * b)
        sims.append(F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x))
    return F.array(*sims)


def _half_away(y: float) -> int:
    """round-half-away-from-zero — the rounding Spark's round() and
    DuckDB's round() share (Python's built-in round is banker's)."""
    return math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)


def _unit_centroid_micro(
    candidates: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[list[int]]:
    """md5-ordered centroid draw, L2-normalized then quantized to BIGINT
    micro-units driver-side. Every step is oracle-reproducible: the md5
    ordering in SQL, IEEE sqrt/divide (exactly specified, so Python and
    DuckDB agree bit-for-bit), and half-away rounding."""
    rows = (
        candidates.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    out = []
    for r in rows:
        v = [float(x) for x in r[vec_col]]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([_half_away((x / nrm) * 1_000_000.0) for x in v])
    return out


def ivf_topk_md5(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Hash-verifiable twin of ``ivf_topk`` (the md5-twin philosophy —
    see similarity.lsh_topk): same plan (driver-side bounded model,
    narrow cell assignment, one cell-key shuffle, exact in-cell
    re-rank), but the centroid draw is md5-ordered and cell similarity
    is an INTEGER micro-unit dot product, so cell assignment and probe
    ranking are order-exact cross-engine; the re-rank cosine is the
    rounded-6 form similarity_topk already verifies."""
    from graph_database_spark.functions.vectors import l2_norm
    from graph_database_spark.operators.spread import spread

    cents = _unit_centroid_micro(candidates, id_col, vec_col, n_centroids)
    n_cells = len(cents)
    # ONE constant-folded literal per centroid (CLAUDE.md: never nested
    # F.array(F.lit(...)) — one py4j round-trip per cell).
    cent_lits = [
        F.expr("array(" + ",".join(f"{x}L" for x in c) + ")") for c in cents
    ]

    def with_sims(df: DataFrame, suffix: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(f"id{suffix}"),
            F.col(vec_col).alias(f"v{suffix}"),
            l2_norm(F.col(vec_col)).alias(f"n{suffix}"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * 1_000_000.0, 0).cast("long"),
            ).alias("vm"),
        )
        sims = F.array(*[
            F.aggregate(
                F.zip_with("vm", lit, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for lit in cent_lits
        ])
        return base.withColumn("sims", sims).drop("vm")

    cand = with_sims(spread(candidates), "b").select(
        "idb", "vb", "nb",
        F.array_position(F.col("sims"), F.array_max(F.col("sims"))).cast("int").alias("cell"),
    )
    ranked_cells = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_cells)),
                    lambda i: F.struct(
                        F.element_at(F.col("sims"), i).alias("s"), i.alias("c")
                    ),
                )
            )
        ),
        1,
        min(n_probe, n_cells),
    )
    qry = with_sims(queries, "a").select(
        "ida", "va", "na",
        F.explode(F.transform(ranked_cells, lambda sc: sc["c"].cast("int"))).alias("cell"),
    )
    pairs = (
        qry.join(cand, "cell")
        .where(F.col("ida") != F.col("idb"))
        .select(
            F.col("ida").alias("query_id"),
            F.col("idb").alias("cand_id"),
            F.round(
                F.aggregate(
                    F.zip_with("va", "vb", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("sim"),
        )
        .dropDuplicates(["query_id", "cand_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k cosine neighbors: ``(query_id, cand_id, sim,
    rank)``. Recall < 1 by construction (a true neighbor indexed under a
    cell the query doesn't probe is missed); raise ``n_probe`` to buy
    recall — cost is linear in probed cells. Recall floor pinned by
    tests/test_ivf.py."""
    from graph_database_spark.functions.vectors import l2_norm
    from graph_database_spark.operators.spread import spread

    cents = _unit_centroids(candidates, id_col, vec_col, n_centroids)
    n_cells = len(cents)

    def with_sims(df: DataFrame, suffix: str) -> DataFrame:
        # sims materialized as a plain column BEFORE any expression that
        # references it twice (HOF capture rule, CLAUDE.md).
        return df.select(
            F.col(id_col).alias(f"id{suffix}"),
            F.col(vec_col).alias(f"v{suffix}"),
            l2_norm(F.col(vec_col)).alias(f"n{suffix}"),
            _cell_sims(F.col(vec_col), cents).alias("sims"),
        )

    cand = with_sims(spread(candidates), "b").select(
        "idb", "vb", "nb",
        F.array_position(F.col("sims"), F.array_max(F.col("sims"))).cast("int").alias("cell"),
    )

    ranked_cells = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_cells)),
                    lambda i: F.struct(
                        F.element_at(F.col("sims"), i).alias("s"), i.alias("c")
                    ),
                )
            )
        ),
        1,
        min(n_probe, n_cells),
    )
    qry = with_sims(queries, "a").select(
        "ida", "va", "na",
        F.explode(F.transform(ranked_cells, lambda sc: sc["c"].cast("int"))).alias("cell"),
    )

    pairs = (
        qry.join(cand, "cell")
        .where(F.col("ida") != F.col("idb"))
        .select(
            F.col("ida").alias("query_id"),
            F.col("idb").alias("cand_id"),
            F.round(
                F.aggregate(
                    F.zip_with("va", "vb", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("sim"),
        )
        # No pair dedup: each candidate sits in exactly one cell and the
        # probed cells are distinct, so (query, cand) pairs are already
        # unique — a dropDuplicates here was one extra shuffle on the
        # widest frame (removed r8; the md5 twin keeps its explicit
        # dedup to mirror the oracle's DISTINCT).
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )
