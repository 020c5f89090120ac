"""SparkGraph facade: canonicalization contract + delegation sanity.

The operators themselves are pinned by their own fixtures/oracles; this
suite checks the facade's one real behavior (edge canonicalization) and
that cross-method invariants hold through the delegation layer.
"""

from __future__ import annotations

from graph_database_spark.graph_api import SparkGraph


def _g(spark):
    # Messy input: duplicates, both directions, a self-loop, custom names.
    rows = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (3, 4), (3, 4)]
    df = spark.createDataFrame(rows, "u long, w long")
    return SparkGraph(df, src="u", dst="w")


def test_canonicalization(spark):
    g = _g(spark)
    edges = {(r["src"], r["dst"]) for r in g.edges.collect()}
    assert edges == {(1, 2), (2, 3), (1, 3), (3, 4)}
    assert g.node_count().first()[0] == 4
    assert g.edge_count().first()[0] == 4


def test_triangle_invariant(spark):
    g = _g(spark)
    per_vertex = {r["id"]: r["triangles"] for r in g.triangles().collect()}
    assert per_vertex == {1: 1, 2: 1, 3: 1, 4: 0}
    assert g.triangle_count().first()[0] == 1


def test_iterative_delegation(spark):
    g = _g(spark)
    comps = {r["component"] for r in g.connected_components().collect()}
    assert len(comps) == 1
    dists = {r["id"]: r["dist"] for r in g.bfs(source=1).collect()}
    assert dists == {1: 0, 2: 1, 3: 1, 4: 2}
    ranks = g.pagerank(max_iterations=5).collect()
    # Mass is 1e9 nano-units up to rounding: <= 0.5 per vertex at the
    # start, then per round <= 0.5 per vertex plus 0.85 * 0.5 per unit
    # of strength (4 vertices, strength sum 8).
    drift = 0.5 * 4 + 5 * (0.5 * 4 + 0.85 * 0.5 * 8)
    assert abs(sum(r["rank_nano"] for r in ranks) - 1e9) <= drift


def test_motif_open_wedge(spark):
    g = _g(spark)
    # Open wedges a-b-c with a,c non-adjacent: only 1-3-4 / 2-3-4 shapes.
    rows = g.find("a-b; b-c; !a-c").collect()
    wedges = {(r["a"], r["b"], r["c"]) for r in rows}
    assert all(b == 3 and (4 in (a, c)) for a, b, c in wedges)
