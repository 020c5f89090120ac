"""PageRank over the undirected (symmetrized) graph, in integer
nano-units.

Built entirely on the shared fixpoint skeleton (operators/fixpoint.py) —
the operator itself is the textbook update

    r'(v) = (1 - d) * pref(v) + d * sum_{u in N(v)} w(u,v) * r(u) / s(u)

with one message-join + one groupBy per round (the aggregate-then-join-
back shape costs a third shuffle; see SCALE.md). The reference has no
PageRank (its only centrality attempt, betweenness, never completed —
src/main.js:108-125); this extends the analytics surface toward the
north star's "GraphX for analytics" (BASELINE.json).

Variants, all the same fixpoint:
  - classic: pref uniform 1/N, w = 1, s = degree;
  - weighted (``weight_col``): w = the integer edge weight, s = vertex
    strength (sum of incident weights);
  - personalized (``sources``): pref = 1/|S| on the source set, 0
    elsewhere — teleports return to the seeds, ranks decay with
    distance from them (the recsys / similarity-walk form).

Exactness: ranks are snapped to BIGINT nano-units (1e-9) after every
round, so the per-vertex message sum is an INTEGER sum — independent
of partition order — and the remaining float ops (teleport + damping
scale, one divide per vertex) are single IEEE expressions mirrored
operand-for-operand in the unrolled-SQL oracle
(catalog._build_pagerank_q_sql), hence bit-identical across engines.
The convergence probe is exact too: max |Δrank_nano| is an integer, so
the early stop lands on the same round in Spark and in DuckDB.
Rounding adds at most ~0.5 nano-units per vertex per round (the drift
bound tests/test_graph_analytics.py derives against float numpy).

Scale posture: state is (id, deg, pref, rank_nano, prev) — one row per
vertex; each round is one shuffle keyed by vertex id; the static
deg/pref columns and the previous rank ride the state (smuggled
through max() in the aggregation) instead of rejoining. On the
symmetrized graph every vertex has degree >= 1, so there is no
dangling-mass redistribution term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegralType

from graph_database_spark.operators.fixpoint import fixpoint, materialize
from graph_database_spark.plans.copurchase import symmetrize

__all__ = ["pagerank"]

NANO = 1_000_000_000


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iterations: int = 20,
    tol: float = 1e-6,
    weight_col: str | None = None,
    sources: DataFrame | None = None,
) -> DataFrame:
    """``(id, rank_nano)`` — PageRank in integer nano-units, stopping at
    the first round whose max |Δrank_nano| is below ``tol * 1e9``, or
    at the ``max_iterations``-th iterate (anytime semantics: a fixed
    round budget is the standard production contract; ``tol=0.0``
    always runs the full budget).

    ``weight_col``: optional INTEGRAL weight column on ``edges``
    (canonical one-row-per-undirected-edge; the weight applies in both
    directions); any other type raises ``ValueError`` rather than
    truncating fractional weights to zero-strength edges.
    ``sources``: optional one-column DataFrame of seed vertex ids for
    personalized PageRank."""
    if weight_col is None:
        sym = symmetrize(edges).withColumn("w", F.lit(1).cast("long"))
    else:
        wtype = edges.schema[weight_col].dataType
        if not isinstance(wtype, IntegralType):
            raise ValueError(
                f"pagerank weight column {weight_col!r} must be integral, "
                f"got {wtype.simpleString()}"
            )
        # e feeds both union branches — checkpoint so a derived weighted
        # edge build (e.g. copurchase_edges_weighted) is planned once.
        e = edges.select(
            F.col("src").alias("v"),
            F.col("dst").alias("n"),
            F.col(weight_col).cast("long").alias("w"),
        ).localCheckpoint()
        sym = e.unionByName(
            e.select(F.col("n").alias("v"), F.col("v").alias("n"), "w")
        )
    sym = materialize(sym)
    deg = materialize(
        sym.groupBy(F.col("v").alias("id")).agg(F.sum("w").alias("deg"))
    )
    n = deg.count()
    if n == 0:
        return deg.select("id", F.lit(0).cast("long").alias("rank_nano"))
    # The nano-scaled teleport preference rides the state as a DOUBLE
    # column (uniform: 1e9/n everywhere; personalized: 1e9/|S| on the
    # seed set, 0 elsewhere). Python float ops mirror the oracle's
    # expression tree exactly — same operands, same order.
    if sources is None:
        pref_df = deg.select("id", F.lit(float(NANO) / n).alias("pref"))
    else:
        # Count only IN-GRAPH seeds: the left join below drops seeds
        # absent from deg, and counting them anyway would silently leak
        # the absent seeds' share of the teleport mass (ADVICE r5).
        src = (
            sources.toDF("id")
            .distinct()
            .join(deg.select("id"), "id", "left_semi")
            .localCheckpoint()
        )
        s_cnt = src.count()
        if s_cnt == 0:
            raise ValueError(
                "personalized pagerank needs a non-empty in-graph source set"
            )
        pref_df = deg.select("id").join(
            src.withColumn("pref", F.lit(float(NANO) / s_cnt)), "id", "left"
        ).select("id", F.coalesce("pref", F.lit(0.0)).alias("pref"))
    # Initial distribution = pref: sums to 1e9 in every variant, and for
    # the personalized form it is also the better starting iterate.
    init = deg.join(pref_df, "id").select(
        "id",
        "deg",
        "pref",
        F.round(F.col("pref"), 0).cast("long").alias("rank_nano"),
        F.lit(None).cast("long").alias("prev"),
    )

    def step(state: DataFrame) -> DataFrame:
        # Two shuffles, not three: the join-back that kept the state
        # total is replaced by unioning a zero-contribution self row
        # per vertex into the one groupBy; the self row smuggles the
        # static deg and pref columns — AND the previous rank — through
        # max() (messages carry NULL for all three). The rank/strength
        # ratio is rounded per VERTEX before the join; the per-EDGE
        # weight multiplies after.
        msgs = sym.join(
            state.select(
                F.col("id").alias("v"),
                F.round(
                    F.col("rank_nano").cast("double")
                    / F.col("deg").cast("double"),
                    0,
                )
                .cast("long")
                .alias("ratio"),
            ),
            "v",
        ).select(
            F.col("n").alias("id"),
            (F.col("ratio") * F.col("w")).alias("m"),
            F.lit(None).cast("long").alias("deg"),
            F.lit(None).cast("double").alias("pref"),
            F.lit(None).cast("long").alias("prev"),
        )
        selfr = state.select(
            "id",
            F.lit(0).cast("long").alias("m"),
            "deg",
            "pref",
            F.col("rank_nano").alias("prev"),
        )
        return (
            msgs.unionByName(selfr)
            .groupBy("id")
            .agg(
                F.round(
                    F.lit(1.0 - damping) * F.max("pref")
                    + F.lit(damping) * F.sum("m").cast("double"),
                    0,
                )
                .cast("long")
                .alias("rank_nano"),
                F.max("deg").alias("deg"),
                F.max("pref").alias("pref"),
                F.max("prev").alias("prev"),
            )
        )

    # `prev` rides the state, so the max-delta convergence probe is an
    # observe() metric on the checkpoint job — no separate job, no join.
    # The oracle compares against the same Python float threshold.
    threshold = tol * NANO
    out = fixpoint(
        init,
        step,
        max_iterations,
        name="pagerank",
        on_exhaust="return",
        probe=F.max(F.abs(F.col("rank_nano") - F.col("prev"))),
        probe_done=lambda prev, cur: cur is not None and cur < threshold,
    )
    return out.select("id", "rank_nano")
