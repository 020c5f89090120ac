"""Connected components over an undirected edge set (hash-min iteration).

The graph-analytics primitive the dedup pipeline needs: near-dup PAIRS
(MinHash/SimHash/embedding) only become deduplication when transitively
grouped — component id = the group, lowest doc id = the keeper.

Algorithm: iterative label propagation to the neighborhood minimum
("hash-min"): every vertex starts labeled with itself; each round every
vertex takes the min label among itself and its neighbors; converged when
no label changes. Rounds ~ component diameter; each round is ONE shuffle
(groupBy vertex) over |E| propagated labels — the standard scalable
formulation (cf. Kiveris et al., "Connected Components in MapReduce and
Beyond"). The round loop is the shared fixpoint skeleton
(operators/fixpoint.py): coalesced + checkpointed state, isEmpty
convergence probe, and a hard error on round-budget exhaustion — hash-min
needs rounds ~ diameter, and silently returning partial labels would hand
downstream dedup wrong keepers (ADVICE r2).

At 100 TB: state is one (vertex, label) row per vertex and the shuffle
key is the vertex id — uniform. Diameter-bound rounds are the cost knob;
near-dup graphs have tiny diameters (clusters are cliques-ish), so this
converges in 2-4 rounds there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators.fixpoint import aggregate_messages, fixpoint, materialize
from graph_database_spark.plans.copurchase import symmetrize

__all__ = ["connected_components", "dedup_groups"]


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """``(id, component)`` — component = min vertex id reachable.

    Isolated vertices don't exist here by construction (every id comes
    from an edge); callers with a separate vertex set can left-join and
    coalesce(component, id). Raises RuntimeError if the component
    diameter exceeds ``max_iterations`` rounds."""
    sym = materialize(symmetrize(edges))
    labels = (
        sym.select(F.col("v").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )

    def step(state: DataFrame) -> DataFrame:
        # Min label among self and neighbors — one aggregate-messages
        # round, inlined so the self row can smuggle its own label as
        # `prev` through max() (neighbor messages carry NULL); the
        # convergence probe then reads the new state alone, no join job.
        incoming = sym.join(
            state.select(F.col("id").alias("v"), "component"), "v"
        ).select(
            F.col("n").alias("id"), "component",
            F.lit(None).cast("long").alias("prev"),
        )
        keep = state.select(
            "id", "component", F.col("component").alias("prev")
        )
        return (
            incoming.unionByName(keep)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max("prev").alias("prev"),
            )
        )

    out = fixpoint(
        labels, step, max_iterations,
        name="connected_components", fuse=3,
        probe=F.sum((F.col("component") != F.col("prev")).cast("long")),
    )
    return out.select("id", "component")


def dedup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Near-dup pair list -> dedup decision:
    ``(id, keep_id, is_keeper)`` — one row per document that appears in
    any pair; keep_id = the component minimum (the survivor)."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    cc = connected_components(edges)
    return cc.select(
        "id",
        F.col("component").alias("keep_id"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )
