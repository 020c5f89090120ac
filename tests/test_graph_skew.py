"""Salted wedge-join (hub skew) tests — VERDICT r6 #5.

The wedge self-join's cost concentrates C(deg, 2) rows in a single join
key per hub; AQE's skew splitting cannot spread a SELF-join key, so
past _WEDGE_SALT_THRESHOLD the operators switch to the block-pair grid
(_wedge_pairs). These tests pin (a) the probe's block selection, and
(b) row-for-row identical results between the plain and salted paths
on a hub graph, with and without center-attribute extras.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_spark.operators.graph import (
    _grid_blocks_for,
    _hub_probe,
    _wedge_pairs,
    _WEDGE_SALT_THRESHOLD,
    degree,
    triangle_edges,
)
from graph_database_spark.plans.copurchase import symmetrize


def test_grid_blocks_probe_boundaries():
    assert _grid_blocks_for(None) == 1
    assert _grid_blocks_for(100) == 1
    assert _grid_blocks_for(_WEDGE_SALT_THRESHOLD) == 1
    assert _grid_blocks_for(_WEDGE_SALT_THRESHOLD + 1) == 2
    assert _grid_blocks_for(20_000) == 3
    assert _grid_blocks_for(10**9) == 16


def _hub_edges(spark, n_spokes: int, n_chords: int):
    # Star center 0 with n_spokes spokes, plus chords (i, i+1) closing
    # triangles through the hub. Canonical src < dst.
    spokes = [(0, i) for i in range(1, n_spokes + 1)]
    chords = [(i, i + 1) for i in range(1, n_chords + 1)]
    return spark.createDataFrame(spokes + chords, "src long, dst long")


def test_salted_wedges_match_plain(spark):
    edges = _hub_edges(spark, n_spokes=4000, n_chords=300).localCheckpoint()
    sym = symmetrize(edges)
    plain = _wedge_pairs(sym, 1)
    salted = _wedge_pairs(sym, 8)
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).isEmpty()
    assert salted.exceptAll(plain).isEmpty()


def test_salted_wedges_carry_center_extras(spark):
    edges = _hub_edges(spark, n_spokes=50, n_chords=10).localCheckpoint()
    nbr = symmetrize(edges).withColumn(
        "unit", F.col("v").cast("long") * 7 + 1
    )
    plain = _wedge_pairs(nbr, 1)
    salted = _wedge_pairs(nbr, 4)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_triangle_edges_salted_matches_plain_on_hub(spark):
    edges = _hub_edges(spark, n_spokes=4000, n_chords=300).localCheckpoint()
    plain = {r["id"]: r["triangles"] for r in triangle_edges(edges, grid_blocks=1).collect()}
    salted = {r["id"]: r["triangles"] for r in triangle_edges(edges, grid_blocks=8).collect()}
    assert plain == salted
    # the hub closes one triangle per chord
    assert plain[0] == 300


@pytest.mark.parametrize("n_spokes, blocks", [(4000, 1), (_WEDGE_SALT_THRESHOLD + 500, 2)])
def test_hub_probe_matches_first_probe(spark, n_spokes, blocks):
    # The max degree read through observe() on the degree checkpoint
    # picks the grid a separate first() probe of the same frame picks.
    edges = _hub_edges(spark, n_spokes=n_spokes, n_chords=300).localCheckpoint()
    deg, got = _hub_probe(edges)
    first = _grid_blocks_for(degree(edges).agg(F.max("degree")).first()[0])
    assert got == first == blocks
    assert sorted(map(tuple, deg.collect())) == sorted(map(tuple, degree(edges).collect()))
