"""k-truss decomposition — edge-level cohesion peeling.

The k-truss is the maximal subgraph whose every edge closes at least
k-2 triangles inside it — a stricter community core than the k-core
(every k-truss edge set is inside the (k-1)-core). Like k_core the
state is the surviving EDGE SET; unlike it the per-round metric is
edge support (triangles through the edge), so each round pays one
wedge self-join + one groupBy — the same hub-bounded shuffle pattern
as triangle counting, repeated until no edge falls below k-2.

Oracle-checked since r5: recursive SQL can't reference the survivor
set three times per round (both wedge legs + the closure probe), but a
fixed UNROLL can — catalog._build_ktruss_sql emits one peel round per
CTE block; peeling is monotone, so rounds past the fixpoint are no-ops
and a fixed depth is safe. Hand-computed truss fixtures additionally
pin the peel cascade (tests/test_graph_analytics.py).

At 100 TB: rounds are bounded by the peel depth (small in practice);
per-round cost is the triangle join on the SHRINKING survivor set, and
the first round dominates — exactly the profile of the batch k-truss
literature (e.g. the MapReduce truss decomposition of Cohen 2008).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators.fixpoint import fixpoint

__all__ = ["k_truss"]


def _support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle count inside the edge set: (src, dst, support)."""
    sym = edges.selectExpr("src AS v", "dst AS n").unionByName(
        edges.selectExpr("dst AS v", "src AS n")
    )
    a, b = sym.alias("a"), sym.alias("b")
    wedges = a.join(
        b, (F.col("a.v") == F.col("b.v")) & (F.col("a.n") < F.col("b.n"))
    ).select(
        F.col("a.v").alias("w"), F.col("a.n").alias("src"), F.col("b.n").alias("dst")
    )
    tri = wedges.join(edges, ["src", "dst"], "left_semi")
    # Each closed wedge (w, u, v) is one triangle counted at its (u, v)
    # edge; every triangle appears as a closed wedge once per corner, so
    # each of its three edges gets counted exactly once.
    return tri.groupBy("src", "dst").agg(F.count("*").alias("support"))


def k_truss(edges: DataFrame, k: int, max_iterations: int = 100) -> DataFrame:
    """``(src, dst, support)`` — the edges of the k-truss with their
    in-truss support (empty when none). ``edges`` must be canonical
    (src < dst, unique)."""
    if k < 3:
        raise ValueError("k-truss is defined for k >= 3")

    def step(e: DataFrame) -> DataFrame:
        sup = _support(e)
        keep = sup.where(F.col("support") >= k - 2).select("src", "dst")
        # Edges in no triangle never appear in sup — they are dropped
        # implicitly, which is correct: support 0 < k - 2.
        return keep

    core = fixpoint(
        edges.select("src", "dst"), step, None, max_iterations, name="k_truss",
        probe=F.count(F.lit(1)),
        probe_done=lambda prev, cur: prev is not None and cur == prev,
        probe_seed=True,
    )
    return _support(core)
