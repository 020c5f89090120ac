"""Sampled-source closeness centrality on the fixpoint skeleton.

The reference's one path-based analytic (the betweenness attempt,
src/main.js:108-125) never completed; closeness is the companion
centrality the north star's "GraphX for analytics" surface implies
(GraphFrames ships shortestPaths with a landmark set — same shape).

Formulation: multi-source unit-weight Bellman-Ford — the bfs_distances
relaxation with a ``source`` column carried through every round, so one
aggregate-messages shuffle per round relaxes ALL sources at once
(state is O(K * |V|) rows keyed (vertex, source), not K sequential
BFS runs). Sources are the K smallest vertex ids: deterministic, which
keeps the operator oracle-checkable — a sampled centrality with
rand()-picked landmarks can never be, and retry-stability at 1000
executors wants deterministic sampling anyway (SCALE.md).

Per source s the exact quantities are emitted: reached vertex count,
total hop distance, and closeness = (reached - 1) / total_dist (the
classic definition restricted to the reachable set, Wasserman-Faust
without the component scaling). At 100 TB: K bounds state linearly and
the per-round shuffle is the same edge-sized join bfs_distances pays;
rounds = max eccentricity over the landmark set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators.fixpoint import fixpoint, materialize
from graph_database_spark.plans.copurchase import symmetrize

__all__ = ["closeness_sampled"]


def closeness_sampled(
    edges: DataFrame, n_sources: int = 8, max_iterations: int = 64
) -> DataFrame:
    """``(source, reached, total_dist, closeness)`` for the
    ``n_sources`` smallest vertex ids. Raises if any landmark's
    eccentricity exceeds ``max_iterations`` (partial distances would
    silently understate total_dist)."""
    sym = materialize(symmetrize(edges))
    verts = sym.select(F.col("v").alias("id")).distinct()
    sources = verts.orderBy("id").limit(n_sources).select(F.col("id").alias("s"))

    init = verts.crossJoin(F.broadcast(sources)).select(
        "s",
        "id",
        F.when(F.col("id") == F.col("s"), F.lit(0)).cast("long").alias("dist"),
    )

    def step(state: DataFrame) -> DataFrame:
        # Two shuffles, not three: the reached frontier's +1 messages
        # join onto the edge list (shuffle 1), then ONE min-groupBy over
        # messages UNION current state replaces the aggregate-then-
        # join-back shape (which cost a groupBy and a join). min() skips
        # nothing it shouldn't: unreached rows carry NULL and lose to
        # any arriving distance. Measured 12.0s -> 8.8s at sf0.1.
        msgs = state.where(F.col("dist").isNotNull()).select(
            F.col("id").alias("v"), "s", (F.col("dist") + F.lit(1)).alias("dist")
        )
        incoming = sym.join(msgs, "v").select(
            "s", F.col("n").alias("id"), "dist",
            F.lit(None).cast("long").alias("prev"),
        )
        # State rows smuggle their own dist as `prev` through max() so
        # the convergence probe is a narrow filter, not a join job.
        keep = state.select("s", "id", "dist", F.col("dist").alias("prev"))
        return (
            incoming.unionByName(keep)
            .groupBy("id", "s")
            .agg(F.min("dist").alias("dist"), F.max("prev").alias("prev"))
            .select("s", "id", "dist", "prev")
        )

    out = fixpoint(
        init, step, max_iterations, name="closeness_sampled", fuse=3,
        probe=F.sum((~F.col("dist").eqNullSafe(F.col("prev"))).cast("long")),
    )
    return (
        out.where(F.col("dist").isNotNull())
        .groupBy(F.col("s").alias("source"))
        .agg(
            F.count("*").alias("reached"),
            F.sum("dist").alias("total_dist"),
            F.round(
                F.when(
                    F.sum("dist") > 0,
                    (F.count("*") - F.lit(1)) / F.sum("dist"),
                ),
                6,
            ).alias("closeness"),
            # Harmonic centrality rides the same distances: sum of 1/d
            # over reached non-self vertices — finite on disconnected
            # graphs where classic closeness needs the reachable-set
            # restriction (Boldi-Vigna's argument for preferring it).
            F.round(
                F.sum(F.when(F.col("dist") > 0, F.lit(1.0) / F.col("dist"))),
                6,
            ).alias("harmonic"),
            # Landmark eccentricity — max over the same distances; the
            # max across landmarks lower-bounds the graph diameter.
            F.max("dist").alias("eccentricity"),
        )
    )
