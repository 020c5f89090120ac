"""Distributed greedy graph coloring (speculate-and-resolve).

Gebremedhin-Manne-style speculative coloring: every round, EVERY
uncolored vertex tentatively takes the smallest color absent from its
already-colored neighborhood; conflicts (two adjacent same-round picks
of the same color) are then resolved by keeping the higher
(md5-priority, id) endpoint and un-coloring the other. Priorities are
md5-derived (deterministic, retry-stable — the same argument as
operators/mis.py's Luby rounds), so the full coloring is a pure
function of the graph. Colors are bounded by max-degree + 1.

This replaced the r6 Jones-Plassmann formulation (only local
priority-maxima colored per round) for two measured reasons
(VERDICT r6 #2 — JP was the slowest query in the suite at 29-36 s):

- **Rounds: 51 -> 11** at sf0.1 (speculation colors every
  conflict-free vertex per round, not just priority maxima);
- **Work per round shrinks geometrically**: the loop carries the
  ACTIVE subgraph — edges whose endpoints are both uncolored — as
  state, exactly the kcore-oracle edge-state pattern. A neighbor's
  color is delivered into the vertex's accumulated ``used`` array the
  round it is won, and the edge is dropped; later rounds never touch
  the full edge set again (sf0.1 active-edge profile: 228k, 201k,
  153k, 100k, 59k, 30k, 13k, 5k, 1k, ...).

At 100 TB the same shape holds: per-round shuffles are keyed by vertex
id over a frame that starts at |E| and decays geometrically; the
``used`` arrays are bounded by the final color count (max-degree + 1 in
the worst case, 11 colors here), not by degree.

The reference has no coloring (or any vertex-labeling algorithm —
src/main.js ships only the five Cypher analytics); this rounds out the
symmetry-breaking family (MIS, LPA) the GraphX-style surface implies.
Register allocation, parallel scheduling, and conflict-free data
partitioning are the classic uses; in a data pipeline it batch-groups
mutually-adjacent entities so no batch contains a conflicting pair.

Hash-verified: the catalog's DuckDB oracle replays the same speculate/
resolve recurrence as a recursive CTE over the edge list with
per-endpoint (color, priority) columns, round budget pinned on both
sides; tests/test_r6_operators.py additionally asserts properness (no
monochromatic edge), determinism, and the max-degree+1 bound.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators.fixpoint import materialize, state_partitions
from graph_database_spark.operators.sketches import md5_hash60
from graph_database_spark.plans.copurchase import symmetrize

__all__ = ["graph_coloring"]


def _priority(col):
    return md5_hash60(F.concat(F.lit("jp|"), col.cast("string")))


def graph_coloring(edges: DataFrame, max_iterations: int = 24) -> DataFrame:
    """``(id, color)`` — proper coloring, color in [0, max_degree].

    ``max_iterations`` is pinned to the oracle's recursive-CTE round
    budget (catalog.ORACLES["graph_coloring"]): on exhaustion with
    uncolored vertices left this RAISES rather than returning a partial
    coloring the oracle would mismatch (q_graph_mis pattern).
    """
    spark = edges.sparkSession
    parts = state_partitions(spark)
    sym = symmetrize(edges)
    # Active edge state: both endpoints uncolored. The neighbor's static
    # priority rides the edge so the conflict pass never rejoins it.
    act_e = materialize(
        sym.select("v", "n", _priority(F.col("n")).alias("n_p")), parts
    )
    act_v = materialize(
        act_e.select(F.col("v").alias("id"))
        .distinct()
        .select(
            "id",
            _priority(F.col("id")).alias("p"),
            F.expr("CAST(array() AS array<int>)").alias("used"),
        ),
        parts,
    )
    # smallest color not in `used`: sequence(0, |used|) always contains
    # a free slot (pigeonhole).
    mex = F.expr(
        "filter(sequence(0, size(used)), x -> NOT array_contains(used, x))[0]"
    ).cast("int")

    from pyspark.sql import Observation

    done: list[DataFrame] = []
    n_act = act_v.count()
    for _round in range(max_iterations):
        if n_act == 0:
            break
        # The vertex-state frames (tent picks, conflict losers, round
        # winners) are all bounded by the ACTIVE vertex count, which the
        # convergence probe already measures — broadcast them while they
        # fit (5M rows ~ a few hundred MB, standard executor headroom)
        # so every per-round join is map-side; beyond that fall back to
        # keyed shuffle joins, which is the 100 TB-safe default.
        bc = F.broadcast if n_act <= 5_000_000 else (lambda df: df)
        # Speculate: every active vertex picks mex(used). Narrow
        # projection over the checkpointed state — no shuffle, so the
        # consumers below re-derive it for free.
        tent = act_v.select("id", "p", mex.alias("tc"))
        # Resolve: a pick is lost iff some ACTIVE neighbor picked the
        # same color with a higher (priority, id). act_e holds exactly
        # the active-active adjacency, so no colored-state filter is
        # needed.
        losers = (
            act_e.join(
                bc(tent.select(F.col("id").alias("n"), F.col("tc").alias("n_tc"))),
                "n",
            )
            .join(bc(tent.select(F.col("id").alias("v"), "tc", "p")), "v")
            .where(F.col("n_tc") == F.col("tc"))
            .where(
                F.struct(F.col("n_p").alias("p"), F.col("n").alias("id"))
                > F.struct(F.col("p").alias("p"), F.col("v").alias("id"))
            )
            .select(F.col("v").alias("id"))
            .distinct()
        )
        winners = (
            tent.join(bc(losers), "id", "left_anti")
            .select("id", F.col("tc").alias("color"))
            .localCheckpoint()
        )
        done.append(winners)
        # Deliver each winner's color into its surviving neighbors'
        # `used` arrays, then drop every edge touching a winner.
        w_n = winners.select(F.col("id").alias("n"), F.col("color").alias("n_color"))
        delivered = (
            act_e.join(bc(w_n), "n")
            .groupBy("v")
            .agg(F.collect_set("n_color").alias("new_used"))
            .withColumnRenamed("v", "id")
        )
        # The active-vertex count rides the state checkpoint as an
        # observe() metric (r14 optimization round) — the separate
        # per-round count() job is gone.
        obs = Observation(f"coloring_r{_round}")
        act_v = materialize(
            act_v.join(bc(winners.select("id")), "id", "left_anti")
            .join(bc(delivered), "id", "left")
            .select(
                "id",
                "p",
                F.when(F.col("new_used").isNull(), F.col("used"))
                .otherwise(F.array_union("used", "new_used"))
                .alias("used"),
            )
            .observe(obs, F.count(F.lit(1)).alias("n")),
            parts,
        )
        act_e = materialize(
            act_e.join(bc(winners.select(F.col("id").alias("v"))), "v", "left_anti")
            .join(bc(winners.select(F.col("id").alias("n"))), "n", "left_anti"),
            parts,
        )
        n_act = obs.get["n"] or 0
    if n_act != 0:
        raise RuntimeError(
            f"graph_coloring did not converge in {max_iterations} iterations; "
            "raise max_iterations (and the oracle's pinned budget with it)"
        )
    if not done:
        return act_v.select("id", F.lit(None).cast("int").alias("color"))
    return reduce(DataFrame.unionByName, done)
