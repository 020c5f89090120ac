"""End-to-end pipeline: the CLI writes golden-identical output files."""

from __future__ import annotations

import os
from itertools import combinations

import pytest

from graph_database_spark.pipeline import run_ego
from graph_database_spark.sources import snap


@pytest.mark.skipif(
    not os.path.isdir(snap.REFERENCE_DATA),
    reason=f"reference SNAP data absent: {snap.REFERENCE_DATA}",
)
def test_pipeline_reproduces_golden_outputs(spark, tmp_path):
    for ego in ("0", "107"):
        m = run_ego(spark, snap.REFERENCE_DATA, str(tmp_path), ego)
        assert m["nodes"] > 0
        got = (tmp_path / f"{ego}.proofs").read_text()
        assert got == open(f"{snap.REFERENCE_OUTPUT}/{ego}.proofs").read()
        ours = set((tmp_path / f"{ego}.metrics").read_text().splitlines())
        golden = set(open(f"{snap.REFERENCE_OUTPUT}/{ego}.metrics").read().splitlines())
        assert ours == golden


# Hand-built ego network "9". Feature bits: 0-1 hometown, 2-3 school.
# Alters 1, 2, 3 share (hometown 1, school 3) and form a triangle; 4 and
# 5 share (hometown 2, school 4) but are not connected; 6 has no school;
# 3-4-6 is an open wedge. The ego shares 4's and 5's pair, so two of its
# spokes are connected same-pair edges.
FEATNAMES = [
    "hometown;id;anonymized feature 1",
    "hometown;id;anonymized feature 2",
    "education;school;id;anonymized feature 3",
    "education;school;id;anonymized feature 4",
]
FEAT = {1: "1010", 2: "1010", 3: "1010", 4: "0101", 5: "0101", 6: "1000"}
EGO, EGOFEAT = 9, "0101"
EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 6), (6, 5)]


def _js(x):
    return str(int(x)) if x == int(x) else repr(x)


def _brute_force():
    """Expected ``.proofs`` text and ``.metrics`` line set, by plain
    Python over the fixture's edge list and feature bits."""
    und = {frozenset(e) for e in EDGES} | {frozenset((EGO, v)) for v in FEAT}
    nodes = set().union(*und)
    adj = {v: {u for e in und if v in e for u in e if u != v} for v in nodes}

    def pair(bits):
        hometown = [FEATNAMES[i] for i in (0, 1) if bits[i] == "1"]
        school = [FEATNAMES[i] for i in (2, 3) if bits[i] == "1"]
        return (hometown[-1], school[-1]) if hometown and school else None

    attrs = {v: pair(b) for v, b in FEAT.items()} | {EGO: pair(EGOFEAT)}
    same = [
        (a, b) for a in nodes for b in nodes
        if attrs[a] is not None and attrs[a] == attrs[b]
    ]
    den = len(same)  # ordered pairs, self pairs included
    num = sum(1 for a, b in same if b in adj[a])
    pct = num / den * 100
    proofs = (
        "Proof 1 (czhao13-01): \n"
        f"People having same hometown and same university: {den}\n"
        "People having same hometown and same university and who are "
        f"connected: {num}\n"
        f"Percentage of the latter: {_js(pct)}\n"
        f"Hypothesis 1 {'proved' if pct > 50 else 'disproved'} for this ego network.\n"
    )
    metrics = {"Metrics: ", f"Node count: {len(nodes)}", f"Edge count: {len(und)}"}
    for v in nodes - {EGO}:
        d = len(adj[v])
        closed = sum(1 for a, b in combinations(adj[v], 2) if b in adj[a])
        metrics.add(f"Clustering coefficient for {v}: {_js(closed / (d * (d - 1) / 2))}")
    return proofs, metrics


def test_pipeline_on_hand_built_ego_network(spark, tmp_path):
    data, out = tmp_path / "data", tmp_path / "out"
    data.mkdir()
    (data / "9.featnames").write_text(
        "".join(f"{i} {name}\n" for i, name in enumerate(FEATNAMES))
    )
    (data / "9.feat").write_text(
        "".join(f"{v} {' '.join(b)}\n" for v, b in FEAT.items())
    )
    (data / "9.egofeat").write_text(" ".join(EGOFEAT) + "\n")
    (data / "9.edges").write_text("".join(f"{a} {b}\n" for a, b in EDGES))
    (data / "9.circles").write_text("circle0\t1\t2\n")

    run_ego(spark, str(data), str(out), str(EGO))

    proofs, metrics = _brute_force()
    assert (out / "9.proofs").read_text() == proofs
    assert set((out / "9.metrics").read_text().splitlines()) == metrics
