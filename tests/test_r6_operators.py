"""Hand-computed fixtures for the round-6 additions: duplicate-span
coverage, mutual-kNN, burstiness, hourly resample, weighted sampling,
Katz, global stats, label centroids."""

from __future__ import annotations

import math
from datetime import datetime

from pyspark.sql import functions as F

from graph_database_spark.operators.dedup import duplicate_span_coverage
from graph_database_spark.operators.events import burstiness, cumulative_users
from graph_database_spark.operators.graph import global_stats
from graph_database_spark.operators.katz import katz_centrality
from graph_database_spark.operators.sampling import weighted_sample_es
from graph_database_spark.operators.similarity import (
    label_centroid_sim,
    mutual_knn_graph,
)
from graph_database_spark.operators.temporal import resample_hourly


def ts(s):
    return datetime.fromisoformat(s)


def test_duplicate_span_coverage_counts(spark):
    # doc 1 and doc 2 share the 3-gram "a b c"; doc 3 is clean.
    docs = spark.createDataFrame(
        [
            (1, "a b c x y"),
            (2, "q a b c z"),
            (3, "u v w r s"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicate_span_coverage(docs, n=3).collect()
    }
    assert out[1]["dup_spans"] == 1 and out[1]["covered_tokens"] == 3
    assert out[2]["dup_spans"] == 1 and out[2]["covered_tokens"] == 3
    assert out[3]["dup_spans"] == 0 and out[3]["covered_tokens"] == 0
    assert out[1]["coverage"] == 3 / 5


def test_duplicate_span_coverage_overlapping_spans_union(spark):
    # "a a a a a" twice: every 2-gram duplicated; union covers ALL
    # positions, not 2 x spans.
    docs = spark.createDataFrame(
        [(1, "a a a a a"), (2, "a a a a a")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in duplicate_span_coverage(docs, n=2).collect()}
    assert out[1]["dup_spans"] == 4
    assert out[1]["covered_tokens"] == 5
    assert out[1]["coverage"] == 1.0


def test_mutual_knn_graph_symmetry_and_ranks(spark):
    # 1 and 2 are each other's top neighbor; 3 is far from both.
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    # method="exact" pins the mutuality/rank semantics on a geometric
    # fixture (the default lsh path is bucketed: on 3 near-random
    # 2-d points candidate recall is not guaranteed).
    rows = mutual_knn_graph(vecs, k=1, method="exact").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["rank_ab"] == 1 and r["rank_ba"] == 1
    # with k=2 every pair is mutual on 3 points
    assert mutual_knn_graph(vecs, k=2, method="exact").count() == 3


def test_mutual_knn_graph_lsh_md5_sims_are_exact(spark):
    # The LSH path's edges re-rank with the EXACT rounded-6 cosine: any
    # edge it emits must carry the same sim the brute-force scorer
    # assigns that pair (candidate recall may drop edges, never rescore
    # them). Clustered vectors guarantee a non-empty result.
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0]
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in base]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = mutual_knn_graph(vecs, k=3, method="lsh")
    assert got.count() > 0
    from graph_database_spark.operators.similarity import brute_force_topk

    exact = brute_force_topk(vecs, vecs, k=40, max_broadcast_rows=None).select(
        F.col("query_id").alias("id_a"),
        F.col("cand_id").alias("id_b"),
        F.col("sim").alias("exact_sim"),
    )
    joined = got.join(exact, ["id_a", "id_b"], "left")
    assert joined.where(
        F.col("exact_sim").isNull() | (F.col("exact_sim") != F.col("sim"))
    ).isEmpty()


def test_burstiness_periodic_vs_bursty(spark):
    # user 1: perfectly periodic (sigma=0 -> B=-1); user 2: bursty gaps.
    rows = []
    for i in range(5):
        rows.append((1, i, ts(f"2024-01-01T0{i}:00:00")))
    for i, h in enumerate([0, 1, 1, 1, 9]):
        rows.append((2, 10 + i, ts(f"2024-01-01T0{h}:00:0{i}")))
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = {r["user_id"]: r.asDict() for r in burstiness(ev).collect()}
    assert out[1]["burstiness"] == -1.0
    assert out[1]["cv"] == 0.0
    assert out[1]["mean_gap"] == 3600.0
    assert out[2]["burstiness"] > 0  # heavy-tailed gaps


def test_resample_hourly_interpolation(spark):
    # observations at hours 0 and 3 (values 1.0 and 4.0): hours 1, 2 are
    # gaps with linear interpolation 2.0, 3.0 and ffill 1.0.
    ev = spark.createDataFrame(
        [
            (1, ts("2024-01-01T00:10:00"), 1.0),
            (1, ts("2024-01-01T03:20:00"), 4.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = {
        r["hour"].hour: r.asDict() for r in resample_hourly(ev).collect()
    }
    assert len(out) == 4
    assert out[0]["is_gap"] == 0 and out[0]["v_interp"] == 1.0
    assert out[1]["is_gap"] == 1 and out[1]["v_interp"] == 2.0
    assert out[2]["v_interp"] == 3.0 and out[2]["v_ffill"] == 1.0
    assert out[3]["n_events"] == 1 and out[3]["v_interp"] == 4.0


def test_cumulative_users_first_seen(spark):
    ev = spark.createDataFrame(
        [
            (1, ts("2024-01-01T05:00:00")),
            (1, ts("2024-01-02T05:00:00")),  # repeat user: not new on day 2
            (2, ts("2024-01-02T06:00:00")),
            (3, ts("2024-01-02T07:00:00")),
        ],
        "user_id long, ts timestamp",
    )
    out = {r["day"].day: r.asDict() for r in cumulative_users(ev).collect()}
    assert out[1]["new_users"] == 1 and out[1]["cum_users"] == 1
    assert out[2]["new_users"] == 2 and out[2]["cum_users"] == 3


def test_weighted_sample_matches_local_replica(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(i, 10 + 7 * (i % 13)) for i in range(200)],
        "doc_id long, n_chars long",
    )
    got = [r["doc_id"] for r in weighted_sample_es(docs, k=20).collect()]

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        u = (h + 1) / 1152921504606846976.0
        return round(-math.log(u) / w * 1e6)

    expect = sorted(
        ((key(i, 10 + 7 * (i % 13)), i) for i in range(200))
    )[:20]
    assert got == [i for _, i in expect]


def test_katz_on_path_graph(spark):
    # path 1-2-3: by hand, horizon 2, beta=1/2:
    # w1 = degrees (1,2,1); w2(1)=w1(2)=2, w2(2)=w1(1)+w1(3)=2, w2(3)=2
    # katz_num(v) = 2*w1 + w2 -> 1:4, 2:6, 3:4 ; katz = num/4
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = {r["id"]: r.asDict() for r in katz_centrality(edges, horizon=2).collect()}
    assert out[1]["katz_num"] == 4 and out[1]["katz"] == 1.0
    assert out[2]["katz_num"] == 6 and out[2]["katz"] == 1.5
    assert out[3]["katz_num"] == 4


def test_global_stats_triangle_plus_tail(spark):
    # triangle 1-2-3 plus pendant 4 on 1: V=4, E=4, T=1,
    # degrees (3,2,2,1) -> wedges = 3+1+1+0 = 5, transitivity 3/5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "src long, dst long"
    )
    r = global_stats(edges.localCheckpoint()).collect()[0].asDict()
    assert r["n_nodes"] == 4 and r["n_edges"] == 4
    assert r["wedges"] == 5 and r["n_triangles"] == 1
    assert r["transitivity"] == 3 / 5
    assert r["avg_degree"] == 2.0
    assert r["density"] == 8 / 12


def test_label_centroid_sim_orthogonal_vs_identical(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 1.0], 1),
            (4, [1.0, 0.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        (r["label_a"], r["label_b"]): r.asDict()
        for r in label_centroid_sim(vecs).collect()
    }
    assert out[(0, 1)]["sim"] == 0.0
    assert out[(0, 2)]["sim"] == 1.0
    assert out[(1, 2)]["sim"] == 0.0
    assert out[(0, 1)]["n_a"] == 2 and out[(0, 1)]["n_b"] == 1


def test_compression_ratio_pins_zlib(spark):
    import zlib

    docs = spark.createDataFrame(
        [
            (1, "a a a a a a a a a a a a"),       # highly compressible
            (2, "the quick brown fox jumps"),     # ordinary text
        ],
        "doc_id long, text string",
    )
    from graph_database_spark.operators.text import compression_ratio

    out = {r["doc_id"]: r.asDict() for r in compression_ratio(docs).collect()}
    for i, t in [(1, "a a a a a a a a a a a a"), (2, "the quick brown fox jumps")]:
        raw = t.encode()
        assert out[i]["n_bytes"] == len(raw)
        assert out[i]["n_compressed"] == len(zlib.compress(raw, 6))
        assert out[i]["ratio"] == len(zlib.compress(raw, 6)) / len(raw)
    assert out[1]["ratio"] < out[2]["ratio"]


def test_ngram_containment_subsumption(spark):
    from graph_database_spark.operators.dedup import ngram_containment_pairs

    # doc 1 is fully contained in doc 2 (prefix quote); Jaccard is only
    # ~3/8 but containment_a = 1.0.
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    rows = ngram_containment_pairs(docs, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["cont_a"] == 1.0 and r["cont_a"] > r["cont_b"]
    assert r["inter"] == r["n_a"] == 3


def test_hybrid_rrf_fuses_both_legs(spark):
    from graph_database_spark.operators.retrieval import hybrid_rrf_search

    docs = spark.createDataFrame(
        [
            (1, "spark join window spark join"),
            (2, "spark window table"),
            (3, "completely unrelated words here"),
            (4, "join window spark"),
        ],
        "doc_id long, text string",
    )
    out = hybrid_rrf_search(docs, ["spark", "join", "window"], top=4).collect()
    by_id = {r["doc_id"]: r.asDict() for r in out}
    # every matching doc appears in both legs; doc 3 only in dense (all
    # docs get a dense rank — cosine 0 still ranks)
    assert by_id[1]["in_lex"] == 1 and by_id[1]["in_dense"] == 1
    assert by_id[3]["in_lex"] == 0 and by_id[3]["in_dense"] == 1
    # fused ranking is total and 1-based
    assert sorted(r["rank"] for r in out) == [1, 2, 3, 4]
    assert by_id[3]["rank"] == 4


def test_rolling_median_hand_values(spark):
    from graph_database_spark.operators.temporal import rolling_median

    ev = spark.createDataFrame(
        [
            (1, 1, ts("2024-01-01T00:00:00"), 5.0),
            (1, 2, ts("2024-01-01T01:00:00"), 1.0),
            (1, 3, ts("2024-01-01T02:00:00"), 9.0),
            (1, 4, ts("2024-01-01T03:00:00"), 2.0),
        ],
        "user_id long, event_id long, ts timestamp, value double",
    )
    out = {r["event_id"]: r["roll_median"] for r in rolling_median(ev).collect()}
    assert out[1] == 5.0          # [5]
    assert out[2] == 3.0          # [1,5] -> (1+5)/2
    assert out[3] == 5.0          # [1,5,9]
    assert out[4] == 3.5          # [1,2,5,9] -> (2+5)/2


def test_graph_coloring_proper_and_deterministic(spark):
    from graph_database_spark.operators.coloring import graph_coloring

    # wheel-ish graph: hub 0 to 1..6 plus a 6-cycle — max degree 6
    spokes = [(0, i) for i in range(1, 7)]
    cycle = [(i, i % 6 + 1) for i in range(1, 7)]
    edges = spark.createDataFrame(spokes + cycle, "src long, dst long")
    colors = {r["id"]: r["color"] for r in graph_coloring(edges).collect()}
    assert set(colors) == set(range(7))
    for s, d in spokes + cycle:
        assert colors[s] != colors[d], (s, d)
    assert max(colors.values()) <= 6  # Jones-Plassmann bound: maxdeg + 1 colors
    colors2 = {r["id"]: r["color"] for r in graph_coloring(edges).collect()}
    assert colors == colors2  # md5 priorities: pure function of the graph


def test_densest_subgraph_finds_planted_clique(spark):
    from graph_database_spark.operators.densest import densest_subgraph

    # K6 (density 15/6 = 2.5) plus a long sparse path (density ~1):
    # the peel must isolate the clique.
    k6 = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    path = [(100 + i, 101 + i) for i in range(30)]
    edges = spark.createDataFrame(k6 + path, "src long, dst long")
    r = densest_subgraph(edges).collect()[0].asDict()
    assert r["n_nodes"] == 6 and r["n_edges"] == 15
    assert r["density"] == 2.5


def test_column_entropy_bounds_on_real_table(spark):
    import math

    from graph_database_spark.catalog import QUERIES

    rows = QUERIES["column_entropy"](spark, "/root/testdata/sf0.001").collect()
    assert {r["column"] for r in rows} == {
        "l_returnflag", "l_linestatus", "o_orderpriority", "o_orderstatus"
    }
    for r in rows:
        # 0 <= H <= ln(k), with micro-unit snapping slack
        assert 0 <= r["entropy"] <= math.log(r["n_distinct"]) + 1e-5, r
        assert r["entropy_micro"] == round(r["entropy"] * 1e6)


def test_edge_betweenness_path_graph(spark):
    from graph_database_spark.operators.betweenness import edge_betweenness

    # path 0-1-2-3, all sources: middle edge carries the most paths.
    # Hand count (per source s, paths s->t crossing the edge):
    # (0,1): 3+1+1+1 = 6;  (1,2): 2+2+2+2 = 8;  (2,3): 6.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    out = {
        (r["src"], r["dst"]): r["edge_betweenness"]
        for r in edge_betweenness(edges).collect()
    }
    assert out == {(0, 1): 6, (1, 2): 8, (2, 3): 6}


def test_edge_betweenness_diamond_splits_paths(spark):
    from graph_database_spark.operators.betweenness import edge_betweenness

    # 4-cycle 0-1-3-2-0: two shortest paths between opposite corners,
    # each edge carries 6 by symmetry (hand-derived).
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    out = {
        (r["src"], r["dst"]): r["edge_betweenness"]
        for r in edge_betweenness(edges).collect()
    }
    assert set(out.values()) == {6}
    assert len(out) == 4


def test_mutual_knn_lsh_recall_floor(spark):
    # The catalog's (n_bits=4, n_tables=16) pin must keep mutual-edge
    # recall vs the exact graph above 0.8 on the driver corpus (the
    # synthetic embeddings sit near the random-cosine noise floor —
    # LSH's hardest case; measured 0.888 at sf0.001, 0.88-0.92 at
    # sf0.01/0.1). Guards against silently re-narrowing the buckets.
    from graph_database_spark.operators.similarity import mutual_knn_graph
    from graph_database_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").localCheckpoint()
    exact = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_graph(emb, k=10, method="exact").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_graph(
            emb, k=10, method="lsh", n_bits=4, n_tables=16
        ).collect()
    }
    assert len(exact & lsh) / len(exact) >= 0.8


def test_cusum_step_shift(spark):
    # user 1: mean steps 0 -> 10 halfway. With P_k = cumsum(n*xm - T):
    # terms (micro) = [-3e7]*3 + [+3e7]*3, P = [-3,-6,-9,-6,-3,0]e7,
    # dev_up peaks at the last event with 9e7 (n-micro units).
    from graph_database_spark.operators.events import cusum_changepoints

    rows = [
        (1, i, ts(f"2024-01-01T0{i}:00:00"), 0.0 if i < 4 else 10.0)
        for i in range(1, 7)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    r = cusum_changepoints(ev).collect()[0]
    assert r["n_events"] == 6
    assert r["shift_up"] == 90_000_000
    assert r["cp_event_id"] == 6
    # downward deviation: running max (-3e7) to the trough (-9e7)
    assert r["shift_dn"] == 60_000_000
