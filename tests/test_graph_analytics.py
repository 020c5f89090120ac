"""PageRank and k-core fixtures vs hand-computed / numpy oracles."""

from __future__ import annotations

import numpy as np
import pytest

from graph_database_spark.operators.kcore import k_core
from graph_database_spark.operators.pagerank import pagerank


def _dense(edges, weights, sources, mass, dtype):
    """Symmetrized dense adjacency (edge weights, default 1) and the
    teleport vector: ``mass`` spread uniformly, or over ``sources``."""
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n), dtype=dtype)
    for j, (a, b) in enumerate(edges):
        w = 1 if weights is None else weights[j]
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = w
    pref = np.zeros(n)
    if sources is None:
        pref[:] = mass / n
    else:
        for s in sources:
            pref[idx[s]] = mass / len(sources)
    return nodes, idx, adj, pref


def numpy_ppr(edges, damping, iters, weights=None, sources=None):
    """Float power iteration on the symmetrized graph — the oracle for
    classic, weighted and personalized PageRank."""
    nodes, idx, adj, pref = _dense(edges, weights, sources, 1.0, np.float64)
    strength = adj.sum(axis=1)
    r = pref.copy()
    for _ in range(iters):
        r = (1 - damping) * pref + damping * adj.T @ (r / strength)
    return {v: r[idx[v]] for v in nodes}


def _half_up(x):
    """Spark's round(x, 0) on values >= 0 (HALF_UP)."""
    return np.floor(x + 0.5).astype(np.int64)


def nano_rounds(edges, damping, iters, weights=None, sources=None):
    """Integer mirror of operators.pagerank: the nano-unit rank vector
    after every round, ``[r0, r1, ..., r_iters]`` as ``{id: int}`` dicts.
    Same IEEE expressions as the kernel, operand for operand."""
    nodes, idx, adj, pref = _dense(edges, weights, sources, 1e9, np.int64)
    deg = adj.sum(axis=1)
    r = _half_up(pref)
    out = [r]
    for _ in range(iters):
        ratio = _half_up(r.astype(np.float64) / deg.astype(np.float64))
        m = adj.T @ ratio
        r = _half_up((1.0 - damping) * pref + damping * m.astype(np.float64))
        out.append(r)
    return [{v: int(x[idx[v]]) for v in nodes} for x in out]


def drift_bound(edges, damping, iters, weights=None):
    """L1 bound, in rank units, on |nano/1e9 - float| after ``iters``
    rounds: r0 rounds each vertex by <= 0.5 nano; every round adds
    <= 0.5 per ratio times its strength over all messages (damped) and
    <= 0.5 per vertex on the final round, and the damped walk operator
    does not grow L1 error."""
    n = len({v for e in edges for v in e})
    strength_sum = 2 * (len(edges) if weights is None else sum(weights))
    per_round = damping * 0.5 * strength_sum + 0.5 * n
    return (0.5 * n + iters * per_round) * 1e-9


def stop_round(rounds, threshold=1000.0):
    """The first round k >= 1 with max |r_k - r_{k-1}| < threshold, or
    the last round — the kernel's early-stop rule."""
    for k in range(1, len(rounds)):
        d = max(abs(rounds[k][v] - rounds[k - 1][v]) for v in rounds[k])
        if d < threshold:
            return k
    return len(rounds) - 1


def _ranks(df):
    return {r["id"]: r["rank_nano"] for r in df.collect()}


EDGES = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 5), (3, 5), (5, 6)]
WEIGHTS = [3, 1, 2, 5, 1, 4, 2, 1]


def test_pagerank_matches_numpy(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    # tol=0 forces exactly max_iterations rounds on both sides.
    ours = _ranks(pagerank(df, damping=0.85, max_iterations=15, tol=0.0))
    assert ours == nano_rounds(EDGES, 0.85, 15)[15]
    ref = numpy_ppr(EDGES, 0.85, 15)
    bound = drift_bound(EDGES, 0.85, 15)
    assert set(ours) == set(ref)
    for v in ref:
        assert abs(ours[v] / 1e9 - ref[v]) < bound, (v, ours[v], ref[v])


def test_pagerank_mass_conserved(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    ranks = _ranks(pagerank(df, max_iterations=10, tol=0.0))
    assert abs(sum(ranks.values()) / 1e9 - 1.0) < drift_bound(EDGES, 0.85, 10)


def test_pagerank_converges_before_budget(spark):
    # Symmetric triangle: uniform ranks from round 1; converges instantly.
    tri = [(1, 2), (2, 3), (1, 3)]
    df = spark.createDataFrame(tri, "src long, dst long")
    ours = _ranks(pagerank(df, max_iterations=50))
    rounds = nano_rounds(tri, 0.85, 50)
    assert stop_round(rounds) == 1
    assert ours == rounds[1]
    for v in (1, 2, 3):
        assert abs(ours[v] / 1e9 - 1 / 3) < drift_bound(tri, 0.85, 1)


@pytest.mark.parametrize("variant", ["classic", "weighted", "personalized"])
def test_pagerank_default_tol_stops_at_mirror_round(spark, variant):
    # The default tol=1e-6 stops at the mirror's first round whose max
    # |Δ| is below 1000 nano-units — before the 50-round budget — and
    # returns exactly that round's ranks.
    weights = WEIGHTS if variant == "weighted" else None
    sources = [0] if variant == "personalized" else None
    rows = [(a, b, w) for (a, b), w in zip(EDGES, WEIGHTS)]
    df = spark.createDataFrame(rows, "src long, dst long, weight long")
    kwargs = {}
    if weights:
        kwargs["weight_col"] = "weight"
    if sources:
        kwargs["sources"] = spark.createDataFrame([(0,)], "id long")
    rounds = nano_rounds(EDGES, 0.85, 50, weights=weights, sources=sources)
    k = stop_round(rounds)
    assert k < 50
    assert _ranks(pagerank(df, max_iterations=50, **kwargs)) == rounds[k]
    # One round fewer is a different answer, so the stop round matters.
    assert rounds[k] != rounds[k - 1]


def test_kcore_triangle_with_pendant(spark):
    # Triangle {1,2,3} + pendant 4-3: the 2-core is the triangle.
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long")
    rows = {r["id"]: r["degree"] for r in k_core(df, k=2).collect()}
    assert rows == {1: 2, 2: 2, 3: 2}


def test_kcore_path_is_empty_at_2(spark):
    # A path has no 2-core: peeling eats it end-in (worst-case rounds).
    df = spark.createDataFrame([(i, i + 1) for i in range(10)], "src long, dst long")
    assert k_core(df, k=2).count() == 0


def test_kcore_full_graph_at_k1(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    rows = {r["id"]: r["degree"] for r in k_core(df, k=1).collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5, 6}


def test_label_propagation_two_cliques(spark):
    from graph_database_spark.operators.labelprop import label_propagation

    # Two 4-cliques joined by a single bridge edge: intra-clique majority
    # pins each side to its own community.
    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    df = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    out = {r["id"]: r["community"] for r in label_propagation(df).collect()}
    assert len({out[v] for v in range(4)}) == 1
    assert len({out[v] for v in range(10, 14)}) == 1
    assert out[0] != out[10]


def test_label_propagation_counted_path_matches_sorted(spark):
    # The hub-safe two-stage (counted) mode must produce IDENTICAL labels
    # to the sorted-array mode on a hub-heavy graph: a 40-spoke star
    # (vertex 0 the hub) with two 4-cliques hanging off spokes, plus a
    # bridge — exercises majority ties (every spoke sees only the hub),
    # hub argmax, and multi-round convergence.
    from graph_database_spark.operators.labelprop import label_propagation

    star = [(0, i) for i in range(1, 41)]
    c1 = [(a, b) for a in range(50, 54) for b in range(a + 1, 54)]
    df = spark.createDataFrame(
        star + c1 + [(1, 50)], "src long, dst long"
    )
    by_mode = {}
    for mode in ("sorted", "counted"):
        by_mode[mode] = {
            r["id"]: r["community"]
            for r in label_propagation(df, mode=mode).collect()
        }
    assert by_mode["sorted"] == by_mode["counted"]
    # auto on a hub graph with a tiny threshold takes the counted path
    # and still agrees.
    auto = {
        r["id"]: r["community"]
        for r in label_propagation(df, mode="auto", hub_threshold=8).collect()
    }
    assert auto == by_mode["sorted"]


# ---------------------------------------------------------------------------
# BFS distances
# ---------------------------------------------------------------------------


def test_bfs_distances_path_and_cycle(spark):
    from graph_database_spark.operators.bfs import bfs_distances

    # Path 0-1-2-3 plus chord 0-3 (cycle shortens 3 to dist 1), and an
    # unreachable pair 10-11 that must be absent from the output.
    edges = [(0, 1), (1, 2), (2, 3), (0, 3), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["dist"] for r in bfs_distances(df, source=0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1}


def test_bfs_distances_default_source_is_min_id(spark):
    from graph_database_spark.operators.bfs import bfs_distances

    df = spark.createDataFrame([(7, 5), (5, 9)], "src long, dst long")
    got = {r["id"]: r["dist"] for r in bfs_distances(df).collect()}
    assert got == {5: 0, 7: 1, 9: 1}


def _random_graph(seed, n=30, m=70):
    import random

    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        a, b = rng.sample(range(3, 3 + n), 2)
        edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def _adjacency(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def test_bfs_distances_default_source_equals_passed_min(spark):
    from collections import deque

    from graph_database_spark.operators.bfs import bfs_distances

    edges = _random_graph(7) + [(90, 91)]  # plus an unreachable pair
    adj = _adjacency(edges)
    src = min(adj)
    want, queue = {src: 0}, deque([src])
    while queue:
        v = queue.popleft()
        for n in adj[v]:
            if n not in want:
                want[n] = want[v] + 1
                queue.append(n)
    df = spark.createDataFrame(edges, "src long, dst long")
    defaulted = sorted(map(tuple, bfs_distances(df).collect()))
    passed = sorted(map(tuple, bfs_distances(df, source=src).collect()))
    assert defaulted == passed == sorted(want.items())


def test_kcore_matches_python_peel(spark):
    edges = _random_graph(11)
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (1, 3, 4, 6):
        adj = _adjacency(edges)
        while True:
            dead = [v for v, ns in adj.items() if len(ns) < k]
            if not dead:
                break
            for v in dead:
                for n in adj.pop(v):
                    if n in adj:
                        adj[n].discard(v)
        want = {v: len(ns) for v, ns in adj.items()}
        got = {r["id"]: r["degree"] for r in k_core(df, k=k).collect()}
        assert got == want, k
    empty = spark.createDataFrame([], "src long, dst long")
    assert k_core(empty, k=2).count() == 0


def test_closeness_path_graph(spark):
    # Path 0-1-2-3 with 2 landmarks (smallest ids 0, 1):
    # source 0: dists 0,1,2,3 -> reached 4, total 6, closeness 3/6
    # source 1: dists 1,0,1,2 -> reached 4, total 4, closeness 3/4
    from graph_database_spark.operators.closeness import closeness_sampled

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    rows = {r["source"]: r for r in closeness_sampled(df, n_sources=2).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["reached"] == 4 and rows[0]["total_dist"] == 6
    assert abs(rows[0]["closeness"] - 0.5) < 1e-9
    assert rows[1]["reached"] == 4 and rows[1]["total_dist"] == 4
    assert abs(rows[1]["closeness"] - 0.75) < 1e-9


def test_closeness_disconnected(spark):
    # Two components; landmarks 0 and 1 live in the pair component —
    # closeness only counts the reachable set.
    from graph_database_spark.operators.closeness import closeness_sampled

    df = spark.createDataFrame([(0, 1), (5, 6), (6, 7)], "src long, dst long")
    rows = {r["source"]: r for r in closeness_sampled(df, n_sources=2).collect()}
    assert rows[0]["reached"] == 2 and rows[0]["total_dist"] == 1
    assert abs(rows[0]["closeness"] - 1.0) < 1e-9


def test_pagerank_weighted_matches_numpy(spark):
    rows = [(a, b, w) for (a, b), w in zip(EDGES, WEIGHTS)]
    df = spark.createDataFrame(rows, "src long, dst long, weight long")
    ours = _ranks(pagerank(df, max_iterations=15, tol=0.0, weight_col="weight"))
    assert ours == nano_rounds(EDGES, 0.85, 15, weights=WEIGHTS)[15]
    ref = numpy_ppr(EDGES, 0.85, 15, weights=WEIGHTS)
    bound = drift_bound(EDGES, 0.85, 15, weights=WEIGHTS)
    for v in ref:
        assert abs(ours[v] / 1e9 - ref[v]) < bound, (v, ours[v], ref[v])


def test_pagerank_rejects_fractional_weights(spark):
    # A DOUBLE weight would be truncated by the BIGINT cast (0.5 -> 0,
    # a zero-strength vertex); the schema check raises before any job.
    rows = [(a, b, float(w)) for (a, b), w in zip(EDGES, WEIGHTS)]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    with pytest.raises(ValueError, match="integral"):
        pagerank(df, weight_col="weight")


def test_pagerank_personalized(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    src = spark.createDataFrame([(0,)], "id long")
    ours = _ranks(pagerank(df, max_iterations=15, tol=0.0, sources=src))
    assert ours == nano_rounds(EDGES, 0.85, 15, sources=[0])[15]
    ref = numpy_ppr(EDGES, 0.85, 15, sources=[0])
    bound = drift_bound(EDGES, 0.85, 15)
    for v in ref:
        assert abs(ours[v] / 1e9 - ref[v]) < bound, (v, ours[v], ref[v])
    # Seed-adjacent mass dominates: the seed outranks the far end.
    assert ours[0] > ours[6]
    assert abs(sum(ours.values()) / 1e9 - 1.0) < bound


def test_ktruss_k4_with_pendant(spark):
    from graph_database_spark.operators.truss import k_truss

    # K4 on {1,2,3,4} (every edge in 2 triangles) + pendant 4-5.
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(k4 + [(4, 5)], "src long, dst long")
    got = {(r["src"], r["dst"]): r["support"] for r in k_truss(df, k=4).collect()}
    assert got == {e: 2 for e in k4}


def test_ktruss_cascade(spark):
    from graph_database_spark.operators.truss import k_truss

    # Two triangles sharing edge (2,3): each outer edge closes 1
    # triangle, the shared edge closes 2. The 4-truss is empty — after
    # the outer edges (support 1 < 2) peel, the shared edge loses its
    # triangles too: the cascade matters, a one-shot filter would keep it.
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    assert k_truss(df, k=4).count() == 0
    got3 = {(r["src"], r["dst"]) for r in k_truss(df, k=3).collect()}
    assert got3 == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}


def test_link_scores_brute_force(spark):
    # AA/RA/Jaccard over non-adjacent wedge pairs vs a python oracle.
    import math

    from graph_database_spark.operators.graph import link_scores

    df = spark.createDataFrame(EDGES, "src long, dst long")
    adj: dict[int, set[int]] = {}
    for a, b in EDGES:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if v in adj[u]:
                continue
            cn = adj[u] & adj[v]
            if len(cn) < 2:
                continue
            aa = sum(round(1e6 / math.log(len(adj[w]))) for w in cn)
            ra = sum(round(1e6 / len(adj[w])) for w in cn)
            jac = round(len(cn) / (len(adj[u]) + len(adj[v]) - len(cn)), 6)
            want[(u, v)] = (len(cn), aa, ra, jac)
    got = {
        (r.id_a, r.id_b): (r.common, r.aa_micro, r.ra_micro, r.jaccard)
        for r in link_scores(df).collect()
    }
    assert got == want


def test_graph_drift_consecutive_months(spark):
    from graph_database_spark.catalog import q_graph_drift

    rows = q_graph_drift(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected at least one consecutive month pair"
    for r in rows:
        assert 0 <= r.n_common <= min(r.n_prev, r.n_edges)
        assert 0.0 <= r.jaccard <= 1.0


def test_zipf_slope_negative_on_power_law(spark):
    from graph_database_spark.catalog import q_zipf_slope

    r = q_zipf_slope(spark, "/root/testdata/sf0.001").collect()[0]
    # Frequencies fall with rank, so the ln-ln OLS slope must be negative.
    assert r.n_terms > 10
    assert r.slope < 0


def test_triad_census_identity(spark):
    from graph_database_spark.catalog import q_triad_census

    r = q_triad_census(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_wedges == r.n_open + 3 * r.n_triangles
    assert abs(r.transitivity - round(3 * r.n_triangles / r.n_wedges, 6)) < 1e-9


def test_degree_powerlaw_alpha_positive(spark):
    from graph_database_spark.catalog import q_degree_powerlaw

    r = q_degree_powerlaw(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_tail > 0
    assert r.alpha is not None and r.alpha > 1.0


def brute_coreness(edges):
    """Sequential peeling — the textbook coreness oracle."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    alive = dict(adj)
    k = 0
    while alive:
        k += 1
        changed = True
        while changed:
            dead = [v for v, ns in alive.items() if len(ns) < k + 1]
            changed = bool(dead)
            for v in dead:
                core[v] = k
                for u in alive[v]:
                    alive[u].discard(v)
                del alive[v]
    return core


def test_coreness_matches_brute_force(spark):
    from graph_database_spark.operators.kcore import coreness

    # Two triangles sharing a vertex + a pendant path: cores 1 and 2.
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.core for r in coreness(df).collect()}
    assert got == brute_coreness(edges)


def test_coreness_consistent_with_k_core(spark):
    from graph_database_spark.operators.kcore import coreness, k_core

    df = spark.createDataFrame(EDGES, "src long, dst long")
    cores = {r.id: r.core for r in coreness(df).collect()}
    assert {r.id: r.core for r in coreness(df).collect()} == brute_coreness(EDGES)
    for k in (1, 2, 3):
        members = {r["id"] for r in k_core(df, k).collect()}
        assert members == {v for v, c in cores.items() if c >= k}


def test_rectangle_count_hand_cases(spark):
    from graph_database_spark.operators.graph import rectangle_count

    # One plain 4-cycle.
    c4 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    assert rectangle_count(c4).collect()[0]["n_rectangles"] == 1
    # K4 contains three 4-cycles (one per perfect matching of diagonals).
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)],
        "src long, dst long",
    )
    assert rectangle_count(k4).collect()[0]["n_rectangles"] == 3
    # A triangle has none.
    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    assert rectangle_count(tri).collect()[0]["n_rectangles"] == 0
