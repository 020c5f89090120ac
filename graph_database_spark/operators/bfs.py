"""Unweighted shortest-path distances (BFS) on the fixpoint skeleton.

The reference's query language can express path patterns but the
reference itself never ships a distance computation (its betweenness
attempt, src/main.js:108-125, is its only path-based analytic); this is
the GraphX-style `ShortestPaths` analog the north star names
(BASELINE.json: "GraphX for analytics").

Formulation: Bellman-Ford on unit weights rather than frontier BFS —
``dist(v) = min(dist(v), 1 + min_{u in N(v)} dist(u))`` iterated to
fixpoint. The frontier variant tracks a shrinking active set but needs
an extra anti-join per round; the relaxation variant is one
aggregate-messages shuffle per round over O(|V|) state and converges in
eccentricity(source) rounds — at 100 TB the state frame (id, dist) is
tiny next to the edge frame, and the per-round edge join is the same
shuffle either way. Unreached vertices carry NULL dist throughout
(never a sentinel: ANSI mode makes MAX_INT + 1 an overflow error, and
``min``/``least`` already skip NULLs with exactly the semantics BFS
relaxation needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from graph_database_spark.operators.fixpoint import fixpoint, materialize
from graph_database_spark.plans.copurchase import symmetrize

__all__ = ["bfs_distances"]


def bfs_distances(
    edges: DataFrame, source: int | None = None, max_iterations: int = 64
) -> DataFrame:
    """``(id, dist)`` — hop count from ``source`` for every reachable
    vertex. ``source`` defaults to the minimum vertex id (deterministic
    without a caller-supplied root). Raises if the graph's eccentricity
    exceeds ``max_iterations`` (a silently partial distance map is a
    wrong one)."""
    # The default source is read off the symmetrized checkpoint as an
    # observe() metric, so it costs no job of its own.
    lowest = Observation()
    sym = materialize(symmetrize(edges).observe(lowest, F.min("v").alias("v")))
    verts = sym.select(F.col("v").alias("id")).distinct()
    if source is None:
        source = lowest.get["v"]

    init = verts.select(
        "id",
        F.when(F.col("id") == F.lit(source), F.lit(0)).cast("long").alias("dist"),
    )

    def step(state: DataFrame) -> DataFrame:
        # Two shuffles per round, not three: reached-frontier +1
        # messages join the edge list, then one min-groupBy over
        # messages UNION state — the aggregate-then-join-back shape
        # costs an extra shuffle (see closeness.py for the measured
        # win). NULL dist rows ride through the union and lose the min
        # to any arriving distance.
        msgs = state.where(F.col("dist").isNotNull()).select(
            F.col("id").alias("v"), (F.col("dist") + F.lit(1)).alias("dist")
        )
        incoming = (
            sym.join(msgs, "v")
            .select(
                F.col("n").alias("id"), "dist",
                F.lit(None).cast("long").alias("prev"),
            )
        )
        # The state row smuggles its own dist as `prev` through max()
        # (messages carry NULL), so the convergence probe needs no
        # old-vs-new join job — one narrow filter on the new state.
        keep = state.select("id", "dist", F.col("dist").alias("prev"))
        return (
            incoming.unionByName(keep)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"), F.max("prev").alias("prev"))
        )

    # Distances are monotone non-increasing; fixpoint == no row changed,
    # read off the prev column carried by the state — as an observe()
    # metric riding the checkpoint job (no separate probe job).
    out = fixpoint(
        init, step, None, max_iterations, name="bfs_distances", fuse=3,
        probe=F.sum((~F.col("dist").eqNullSafe(F.col("prev"))).cast("long")),
    )
    return out.where(F.col("dist").isNotNull()).select("id", "dist")
