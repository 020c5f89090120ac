"""Label propagation community detection on the fixpoint skeleton.

Each vertex starts in its own community; every round it adopts the most
frequent label among its neighbors (ties -> smallest label, making every
round deterministic — vanilla LPA's random tie-breaking is exactly what
an oracle-checked engine can't have). Converged when no label changes;
LPA can oscillate on bipartite-ish structures, so the round budget
returns the last iterate instead of raising (anytime semantics, like
PageRank).

Per round: one shuffle to count neighbor labels per (vertex, label),
one to argmax per vertex — both keyed by vertex id. State is one row
per vertex. The reference has no community detection; this extends the
analytics surface the north star names (BASELINE.json "GraphX for
analytics") on the same aggregate-messages machinery as components /
PageRank / k-core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators.fixpoint import fixpoint, materialize
from graph_database_spark.plans.copurchase import symmetrize

__all__ = ["label_propagation"]


def label_propagation(
    edges: DataFrame,
    max_iterations: int = 10,
    mode: str = "auto",
    hub_threshold: int = 1 << 18,
) -> DataFrame:
    """``(id, community)`` — community = the converged (or
    ``max_iterations``-th) propagated label; labels are vertex ids.

    ``mode`` selects the per-round mode computation (both produce
    IDENTICAL labels — argmax(neighbor-label count) with smallest-label
    tie-break — pinned by tests/test_graph_analytics.py):

    - ``"sorted"``: collect + sort the neighbor-label array per vertex,
      longest-run scan. Two shuffles/round, but a super-hub's whole
      label list lands on ONE task — fine up to ~hub_threshold degree.
    - ``"counted"``: pre-aggregate (vertex, label) counts, then argmax.
      Three shuffles/round, but the (id, label) pre-aggregate is
      map-side combinable so a hub's messages spread across tasks — the
      power-law-safe shape (VERDICT r5 #4).
    - ``"auto"``: one max-degree probe on the (already materialized)
      symmetrized edges picks counted iff max degree > hub_threshold.
    """
    if mode not in ("auto", "sorted", "counted"):
        raise ValueError(f"unknown mode {mode!r}")
    sym = materialize(symmetrize(edges))
    if mode == "auto":
        max_deg = (
            sym.groupBy("v").agg(F.count("*").alias("d")).agg(F.max("d")).first()[0]
        )
        mode = "counted" if (max_deg or 0) > hub_threshold else "sorted"
    labels = (
        sym.select(F.col("v").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("community"))
    )

    def step_counted(state: DataFrame) -> DataFrame:
        # Hub-safe two-stage aggregation: count per (vertex, label) —
        # partial/map-side combinable, so a super-hub's messages never
        # concentrate — then argmax(count, -label) via a struct min.
        # The self row (community NULL) rides the SAME first groupBy:
        # its (id, NULL) group carries prev, its struct is NULL so the
        # argmax min() skips it.
        incoming = sym.join(
            state.select(F.col("id").alias("v"), "community"), "v"
        ).select(
            F.col("n").alias("id"), "community",
            F.lit(None).cast("long").alias("prev"),
        )
        keep = state.select(
            "id",
            F.lit(None).cast(state.schema["community"].dataType).alias("community"),
            F.col("community").alias("prev"),
        )
        counted = (
            incoming.unionByName(keep)
            .groupBy("id", "community")
            .agg(F.count("community").alias("cnt"), F.max("prev").alias("prev"))
        )
        best = F.min(
            F.when(
                F.col("community").isNotNull(),
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("community").alias("community"),
                ),
            )
        )
        return counted.groupBy("id").agg(
            best.alias("best"), F.max("prev").alias("prev")
        ).select("id", F.col("best.community").alias("community"), "prev")

    def step(state: DataFrame) -> DataFrame:
        # Mode of the neighbor labels with smallest-label tie-break, in
        # TWO shuffles (join + one groupBy) instead of three (the
        # count-per-(id,label) pre-aggregate needed its own shuffle):
        # collect the labels, sort ascending, and fold a longest-run
        # scan over the sorted array row-locally. Runs of equal labels
        # are contiguous after the sort and the fold keeps a STRICTLY
        # longer run only, so ties resolve to the smallest label — the
        # same argmax(count, -label) the two-stage form computed.
        # Row-local cost is O(deg log deg); label lists are
        # neighborhood-sized, the same order as the messages the
        # two-stage form shuffled (caveat: a super-hub's list lands on
        # one task — step_counted spreads it; mode="auto" probes max
        # degree and switches over past hub_threshold).
        incoming = sym.join(
            state.select(F.col("id").alias("v"), "community"), "v"
        ).select(
            F.col("n").alias("id"), "community",
            F.lit(None).cast("long").alias("prev"),
        )
        # The self row carries community=NULL so collect_list skips it
        # (the mode stays a NEIGHBOR majority) while its `prev` column
        # smuggles the old label through max() — the convergence probe
        # then needs no old-vs-new join job.
        keep = state.select(
            "id",
            F.lit(None).cast(state.schema["community"].dataType).alias("community"),
            F.col("community").alias("prev"),
        )
        incoming = incoming.unionByName(keep)
        labels_sorted = F.sort_array(F.collect_list("community"))
        zero = F.lit(0).cast("long")
        init_acc = F.struct(
            F.lit(-1).cast("long").alias("best"),
            zero.alias("best_n"),
            F.lit(-1).cast("long").alias("cur"),
            zero.alias("cur_n"),
        )

        def fold(acc, x):
            cur_n = F.when(x == acc["cur"], acc["cur_n"] + 1).otherwise(F.lit(1).cast("long"))
            better = cur_n > acc["best_n"]
            return F.struct(
                F.when(better, x).otherwise(acc["best"]).alias("best"),
                F.when(better, cur_n).otherwise(acc["best_n"]).alias("best_n"),
                x.alias("cur"),
                cur_n.alias("cur_n"),
            )

        mode = F.aggregate(labels_sorted, init_acc, fold, lambda acc: acc["best"])
        return incoming.groupBy("id").agg(
            mode.alias("community"), F.max("prev").alias("prev")
        )

    out = fixpoint(
        labels,
        step_counted if mode == "counted" else step,
        max_iterations,
        name="label_propagation",
        on_exhaust="return",
        probe=F.sum((F.col("community") != F.col("prev")).cast("long")),
    )
    return out.select("id", "community")
