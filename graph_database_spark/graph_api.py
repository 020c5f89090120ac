"""Unified property-graph facade — the "switch from the reference"
entry point.

The reference is a graph database driven through one client object
(src/main.js:6 — every query goes through `db.cypherQuery(...)` on a
loaded graph). This facade is that surface re-expressed Spark-first:
construct one `SparkGraph` over an edge DataFrame (plus optional
vertex properties) and every analytic the engine implements hangs off
it as a method returning a DataFrame — lazily planned, so chaining
facade calls composes into one Catalyst plan per action exactly like
hand-written operator calls.

Nothing here adds execution machinery: each method delegates to the
operator modules (which individually carry the 100 TB design notes and
oracle verification); the facade only fixes the column-name contract
(``src``/``dst`` edges, ``id`` vertices) once, instead of per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators import graph as G
from graph_database_spark.operators.betweenness import betweenness
from graph_database_spark.operators.bfs import bfs_distances
from graph_database_spark.operators.closeness import closeness_sampled
from graph_database_spark.operators.components import connected_components
from graph_database_spark.operators.kcore import k_core
from graph_database_spark.operators.labelprop import label_propagation
from graph_database_spark.operators.motif import find_motif
from graph_database_spark.operators.pagerank import pagerank

__all__ = ["SparkGraph"]


class SparkGraph:
    """An undirected simple graph over DataFrames.

    ``edges``: two-column DataFrame; any column names, remapped to the
    canonical ``(src, dst)`` with src < dst and self-loops dropped (the
    reference's loader invariant, src/main.js:224-239). ``vertices``:
    optional ``(id, ...props)`` frame for property-joined analytics.
    """

    def __init__(
        self,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        src: str = "src",
        dst: str = "dst",
    ) -> None:
        e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        self.edges = (
            e.where(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
            )
            .distinct()
        )
        self._vertices = vertices

    # -- structure ---------------------------------------------------------
    @property
    def vertices(self) -> DataFrame:
        if self._vertices is not None:
            return self._vertices
        return G.degree(self.edges).select("id")

    def node_count(self) -> DataFrame:
        return G.node_count(self.edges)

    def edge_count(self) -> DataFrame:
        return G.edge_count(self.edges)

    def degrees(self) -> DataFrame:
        return G.degree(self.edges)

    # -- local topology ----------------------------------------------------
    def triangles(self) -> DataFrame:
        return G.triangle_edges(self.edges)

    def triangle_count(self) -> DataFrame:
        return G.triangle_count(self.edges)

    def clustering_coefficient(self) -> DataFrame:
        return G.clustering_coefficient(self.edges)

    def link_prediction(self, min_common: int = 2, top_k: int = 100) -> DataFrame:
        return G.link_prediction(self.edges, min_common=min_common, top_k=top_k)

    def find(self, pattern: str, distinct_vertices: bool = True) -> DataFrame:
        """GraphFrames-style motif search, e.g. ``a-b; b-c; !a-c``."""
        return find_motif(self.edges, pattern, distinct_vertices=distinct_vertices)

    # -- iterative analytics ----------------------------------------------
    def connected_components(self, max_iterations: int = 50) -> DataFrame:
        return connected_components(self.edges, max_iterations=max_iterations)

    def pagerank(
        self,
        damping: float = 0.85,
        max_iterations: int = 20,
        weight_col: str | None = None,
        sources: DataFrame | None = None,
    ) -> DataFrame:
        """``(id, rank_nano)`` — operators.pagerank, ranks in integer
        nano-units (1e-9) with its default early stop."""
        return pagerank(
            self.edges,
            damping=damping,
            max_iterations=max_iterations,
            weight_col=weight_col,
            sources=sources,
        )

    def k_core(self, k: int) -> DataFrame:
        return k_core(self.edges, k)

    def k_truss(self, k: int) -> DataFrame:
        from graph_database_spark.operators.truss import k_truss

        return k_truss(self.edges, k)

    def label_propagation(self, max_iterations: int = 10) -> DataFrame:
        return label_propagation(self.edges, max_iterations=max_iterations)

    def bfs(self, source: int | None = None) -> DataFrame:
        return bfs_distances(self.edges, source=source)

    def closeness(self, n_sources: int = 8) -> DataFrame:
        return closeness_sampled(self.edges, n_sources=n_sources)

    def betweenness(self, num_sources: int | None = None) -> DataFrame:
        return betweenness(self.edges, num_sources=num_sources)

    def maximal_matching(self, max_iterations: int = 16) -> DataFrame:
        """Deterministic Israeli-Itai maximal matching (r9) — the
        merge-disjoint-pairs-in-waves schedule (operators/matching.py)."""
        from graph_database_spark.operators.matching import greedy_matching

        return greedy_matching(self.edges, max_iterations=max_iterations)

    def maximal_independent_set(self, max_iterations: int = 32) -> DataFrame:
        """Luby MIS over the canonical edges (operators/mis.py)."""
        from graph_database_spark.operators.mis import luby_mis

        return luby_mis(self.edges, max_iterations=max_iterations)
