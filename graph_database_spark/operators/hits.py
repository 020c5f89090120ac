"""HITS (hubs & authorities) over a bipartite directed graph, quantized.

The reference's analytics surface stops at degree-style aggregates
(src/main.js:49-106); HITS is the natural next centrality for the
bipartite customer->part structure the synthetic tables induce — hubs
are buyers whose baskets concentrate on authoritative parts, authorities
are parts bought by strong hubs (Kleinberg's mutual-reinforcement pair,
the classic users-x-items form).

Quantization contract (the operators/pagerank one): every score
vector is snapped to integer nano-units after each normalization, so
the per-node message sums are BIGINT sums — partition-order-exact — and
the only float arithmetic per round is ONE expression
``round(1e9 * raw / tot)`` whose operand tree the DuckDB oracle mirrors
exactly. L1 normalization (scores sum to ~1e9) rather than the textbook
L2: the total is then an integer aggregate, keeping the round's float
surface to that single division.

Scale posture: state is one row per side-node; each half-round is the
edge join (shuffle keyed by the sending side) plus one groupBy on the
receiving side, with a 1-row total broadcast — the same two-shuffle
relax step the other fixpoints pay, alternating sides. Overflow bound:
round-1 totals are |E| * 1e9 < 2^63 up to ~9e9 edges; after the first
normalization the total collapses to ~max_degree * 1e9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators.fixpoint import materialize

__all__ = ["hits_quantized"]

_SCALE = 1_000_000_000


def _normalize(raw: DataFrame, key: str) -> DataFrame:
    """Snap a raw integer score column to nano-units summing to ~1e9.

    ``raw`` is materialized by the caller (it feeds both the total and
    the per-row divide)."""
    tot = raw.agg(F.sum("raw").alias("t"))
    return raw.crossJoin(F.broadcast(tot)).select(
        key,
        F.round(
            F.lit(float(_SCALE))
            * F.col("raw").cast("double")
            / F.col("t").cast("double"),
            0,
        )
        .cast("long")
        .alias("score"),
    )


def hits_quantized(bipartite: DataFrame, iterations: int = 6) -> DataFrame:
    """``(id, kind, score_nano)`` — ``iterations`` HITS rounds over a
    bipartite edge set ``(hub, auth)``; ``kind`` is 'hub' or 'auth'.

    Each round: auth(p) = sum of hub scores over in-edges, L1-normalized
    to nano-units; then hub(c) = sum of the new auth scores over
    out-edges, normalized likewise. Deterministic end-to-end — the
    integer sums are order-free and the normalization divide is a single
    IEEE expression — so the whole iteration is oracle-checkable.
    """
    bip = materialize(bipartite.select("hub", "auth").distinct())
    hubs = bip.select("hub").distinct()
    h = materialize(hubs.select("hub", F.lit(_SCALE).cast("long").alias("score")))
    a = None
    for _ in range(iterations):
        # Only the raw sums are checkpointed: each feeds two consumers
        # (its own total + the per-row divide) and truncates the round's
        # lineage; the normalized frames are thin single-consumer
        # projections over a checkpointed parent, so materializing them
        # too would only add per-round job overhead.
        a_raw = materialize(
            bip.join(h, "hub").groupBy("auth").agg(F.sum("score").alias("raw"))
        )
        a = _normalize(a_raw, "auth")
        h_raw = materialize(
            bip.join(a, "auth").groupBy("hub").agg(F.sum("score").alias("raw"))
        )
        h = _normalize(h_raw, "hub")
    return h.select(
        F.col("hub").alias("id"), F.lit("hub").alias("kind"),
        F.col("score").alias("score_nano"),
    ).unionByName(
        a.select(
            F.col("auth").alias("id"), F.lit("auth").alias("kind"),
            F.col("score").alias("score_nano"),
        )
    )
