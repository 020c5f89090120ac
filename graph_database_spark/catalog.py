"""Declared query catalog: Spark implementation + DuckDB oracle per query.

This is the driver-facing surface (SURVEY.md §2.12): every key maps to a
``(spark, sf_dir) -> DataFrame`` callable, and — for SQL-expressible
operators — an ANSI-SQL oracle string that DuckDB runs on the same
parquet tables. Column names and types are aligned on both sides because
the driver hash-compares values after sorting columns by name.

Engine-portability rules used throughout:
  - counts/ids stay integral; DuckDB aggregates are CAST to BIGINT to
    match Spark's types;
  - any float born from multi-row summation is round()ed on both sides
    (summation order is engine- and partition-dependent);
  - single IEEE divisions of exact integers are left unrounded — they are
    bit-identical across engines;
  - window rankings always carry a unique tiebreak column.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from graph_database_spark.operators import dedup as D
from graph_database_spark.operators import events as E
from graph_database_spark.operators import graph as G
from graph_database_spark.operators import multimodal as MM
from graph_database_spark.operators import retrieval as R
from graph_database_spark.operators import similarity as S
from graph_database_spark.operators import temporal as TP
from graph_database_spark.operators import text as T
from graph_database_spark.operators.betweenness import betweenness
from graph_database_spark.operators.hits import hits_quantized
from graph_database_spark.operators.sketches import md5_hash60
from graph_database_spark.functions.textnorm import text_fingerprint, tokens
from graph_database_spark.functions.vectors import l2_norm
from graph_database_spark.plans.copurchase import copurchase_edges, copurchase_vertices
from graph_database_spark.sources.parquet import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------

_CP = """
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p,
                    date_trunc('month', o.o_orderdate) AS w
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""

GRAPH_CTES = f"""
cp AS ({_CP}),
edges AS (
    SELECT DISTINCT a.c AS src, b.c AS dst
    FROM cp a JOIN cp b ON a.p = b.p AND a.w = b.w AND a.c < b.c
),
sym AS (
    SELECT src AS v, dst AS n FROM edges
    UNION ALL
    SELECT dst AS v, src AS n FROM edges
),
verts AS (
    SELECT c_custkey AS id, c_nationkey AS attr_a, c_mktsegment AS attr_b
    FROM customer WHERE c_custkey IN (SELECT v FROM sym)
)
"""

_PAIR_DEN = """
    SELECT coalesce(sum(n * n), 0) AS cooccurring FROM (
        SELECT count(*) AS n FROM verts
        WHERE attr_a IS NOT NULL AND attr_b IS NOT NULL
        GROUP BY attr_a, attr_b
    ) g
"""

_PAIR_NUM = """
    SELECT 2 * count(*) AS connected
    FROM edges e
    JOIN verts a ON e.src = a.id
    JOIN verts b ON e.dst = b.id
    WHERE a.attr_a = b.attr_a AND a.attr_b = b.attr_b
"""


def _utc(spark: SparkSession) -> None:
    # Timestamp results must not depend on the host timezone of whichever
    # session the driver hands us; the DuckDB oracle is TZ-naive.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _graph(spark, sf_dir):
    # The derived edge set feeds two or more downstream aggregates in the
    # proof-1 queries; localCheckpoint materializes the (part, month)
    # self-join once instead of re-deriving it per branch. The vertex set
    # is checkpointed too: hypothesis_pct's numerator/denominator branches
    # each re-derive the member semi-join otherwise (12 pre-AQE Exchanges
    # measured in r2's plan dump; the checkpoint bounds it).
    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    return copurchase_vertices(spark, sf_dir, edges).localCheckpoint(), edges


# ---------------------------------------------------------------------------
# Reference query surface (SURVEY.md §2.12, anchors in operators/graph.py)
# ---------------------------------------------------------------------------


def _edges(spark, sf_dir):
    # Graph operators reference the edge set several times (symmetrize,
    # wedge joins, degree); a checkpoint derives the co-purchase pipeline
    # once instead of once per reference (without it the clustering-
    # coefficient plan carries 41 pre-AQE Exchange nodes; with it, 7).
    return copurchase_edges(spark, sf_dir).localCheckpoint()


def q_node_count(spark, sf_dir):
    return G.node_count(copurchase_edges(spark, sf_dir))


def q_edge_count(spark, sf_dir):
    return G.edge_count(copurchase_edges(spark, sf_dir))


def q_cooccurrence_pairs(spark, sf_dir):
    v, _ = _graph(spark, sf_dir)
    return G.cooccurrence_pairs(v).select(F.col("pairs").cast("bigint").alias("pairs"))


def q_connected_pairs(spark, sf_dir):
    v, e = _graph(spark, sf_dir)
    return G.connected_pairs(v, e).select(F.col("pairs").cast("bigint").alias("pairs"))


def q_hypothesis_pct(spark, sf_dir):
    v, e = _graph(spark, sf_dir)
    return G.hypothesis_verdict(v, e).select(
        F.col("connected").cast("bigint").alias("connected"),
        F.col("cooccurring").cast("bigint").alias("cooccurring"),
        "pct",
        "verdict",
    )


def q_degree(spark, sf_dir):
    return G.degree(_edges(spark, sf_dir))


def q_triangle_edges(spark, sf_dir):
    return G.triangle_edges(_edges(spark, sf_dir))


def q_clustering_coefficient(spark, sf_dir):
    return G.clustering_coefficient(_edges(spark, sf_dir))


def q_edge_embeddedness(spark, sf_dir):
    # Edge-resolution tie strength (r12): common-neighbor count +
    # endpoint-excluded neighborhood Jaccard (exact ppm) per canonical
    # co-purchase edge — common = 0 marks local bridges. Same
    # hub-salted wedge plan as triangle_edges, grouped by the wedge
    # endpoints instead of the corner.
    return G.edge_embeddedness(_edges(spark, sf_dir))


def q_local_bridges(spark, sf_dir):
    # Bridge census over the embeddedness frame (r12): how much of the
    # graph's connectivity hangs on triangle-free ties — one row,
    # integer ppm.
    emb = G.edge_embeddedness(_edges(spark, sf_dir))
    return emb.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum((F.col("common") == 0).cast("long"))
        .cast("long")
        .alias("n_local_bridges"),
        F.expr(
            "(sum(CASE WHEN common = 0 THEN 1 ELSE 0 END) * 1000000)"
            " div count(*)"
        )
        .cast("long")
        .alias("bridge_ppm"),
        F.max("common").cast("long").alias("max_embeddedness"),
    )


def q_feature_decode(spark, sf_dir):
    # Last-bit-wins analog (src/main.js:185-197, M5): per order, the
    # attributes of the highest-positioned lineitem win. The ordering key
    # (linenumber, partkey, suppkey) is unique per order — deterministic.
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_linenumber"), F.desc("l_partkey"), F.desc("l_suppkey")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_partkey").alias("last_part"),
            F.col("l_suppkey").alias("last_supp"),
        )
    )


def q_circles_membership(spark, sf_dir):
    # Long-form membership table (src/main.js:284-296 analog): nation as
    # the circle. Broadcast join — nation is a bounded dimension.
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("circle"), F.col("c_custkey").alias("member")
    )


def q_pagerank_personalized(spark, sf_dir):
    # Hash-verified personalized PageRank seeded at the 4 smallest vertex
    # ids (deterministic seed set) — the recsys similarity-walk form —
    # with the default early stop, against the stop-rule unrolled oracle.
    from graph_database_spark.operators.pagerank import pagerank

    # edges feeds the seed derivation (twice) AND the pagerank build —
    # checkpoint so the co-purchase pipeline is planned once.
    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    seeds = (
        edges.selectExpr("src AS id")
        .unionByName(edges.selectExpr("dst AS id"))
        .distinct()
        .orderBy("id")
        .limit(4)
    )
    return pagerank(edges, sources=seeds)


def q_pagerank(spark, sf_dir):
    # Hash-verified PageRank over the co-purchase graph: integer
    # nano-unit ranks, stopping at the first round with max |Δ| below
    # 1e-6 (an exact integer probe), against an unrolled DuckDB oracle
    # that applies the same stop rule (_build_pagerank_q_sql).
    from graph_database_spark.operators.pagerank import pagerank

    return pagerank(copurchase_edges(spark, sf_dir))


def q_pagerank_quantized(spark, sf_dir):
    # Hash-verified iterative numerics: a fixed budget of ten PageRank
    # rounds (tol=0 disables the early stop) in integer nano-units
    # (integer message sums are partition-order-independent), against a
    # ten-CTE unrolled DuckDB oracle.
    from graph_database_spark.operators.pagerank import pagerank

    return pagerank(copurchase_edges(spark, sf_dir), max_iterations=10, tol=0.0)


def q_events_ewma(spark, sf_dir):
    # Per-user trailing EWMA (alpha=1/2, 16-event frame) — dyadic weights
    # over micro-unit integers, so the windowed sum is exact cross-engine.
    return TP.ewma_trailing(load_table(spark, sf_dir, "events"))


def q_kcore(spark, sf_dir):
    # Hash-verified (integer degrees): the 4-core of the co-purchase
    # graph — the graph-cleaning primitive — vs a DuckDB recursive-CTE
    # peeling oracle whose per-round state is the surviving edge set.
    from graph_database_spark.operators.kcore import k_core

    return k_core(copurchase_edges(spark, sf_dir), k=4)


def q_bfs_distances(spark, sf_dir):
    # Hash-verified vs a DuckDB recursive-CTE walk (integer hop counts,
    # so no float canonicalization concerns): BFS distances from the
    # minimum vertex id over the co-purchase graph, on the shared
    # aggregate-messages fixpoint.
    from graph_database_spark.operators.bfs import bfs_distances

    return bfs_distances(copurchase_edges(spark, sf_dir))


def q_betweenness(spark, sf_dir):
    # Hash-verified since r5 (no reference golden exists — BASELINE.md):
    # sigma and g are integer path counts, so the sampled-source stress
    # centrality is order-exact against an unrolled-BFS DuckDB oracle
    # (_build_betweenness_sql). The reference's own attempt never
    # completed (src/main.js:108-125).
    edges = copurchase_edges(spark, sf_dir)
    # Level budget pinned to the oracle's 12 unrolled BFS levels
    # (_build_betweenness_sql): a dataset whose sampled-source
    # eccentricity exceeds it makes the engine RAISE instead of
    # hash-mismatching a truncated oracle (q_graph_mis pattern).
    return betweenness(edges, num_sources=32, max_iterations=12)


# ---------------------------------------------------------------------------
# LLM-pipeline extensions (SURVEY.md §2.11)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


def q_dedup_norm(spark, sf_dir):
    return D.normalized_dedup(load_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    return T.fingerprints(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash(spark, sf_dir):
    return D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.3)


def q_dedup_simhash(spark, sf_dir):
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.3)


def q_text_embedding_neardup(spark, sf_dir):
    # Raw text -> md5 hashing-trick features kept as RAW integer count
    # vectors -> exact grid cosine pairs: the full featurize-then-match
    # composition, hash-verified (cosine is scale-invariant, so skipping
    # normalization keeps the similarity semantics while dot products
    # are exact integer sums and norms IEEE sqrt of exact integers).
    # Zero vectors (all buckets cancelled) are excluded on BOTH sides —
    # their cosine is 0/0 = NaN, which compares as 'large' in both
    # engines.
    emb = T.hash_embedding(
        load_table(spark, sf_dir, "documents"), dim=64
    ).where(F.exists("embedding", lambda x: x != 0.0))
    return S.cosine_pairs_above(
        emb, threshold=0.8, id_col="doc_id", vec_col="embedding"
    )


def q_doc_chunks(spark, sf_dir):
    # RAG / training-window chunking: overlapping 32-token windows with
    # stride 24 — row-local HOFs, no shuffle; hash-verified incl. the
    # chunk text itself.
    return T.doc_chunks(
        load_table(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


def q_winnow_fingerprints(spark, sf_dir):
    # MOSS winnowing (Schleimer et al. 2003): guaranteed-overlap
    # substring fingerprints — md5 60-bit shingle hashes, rightmost-min
    # window selection, hash-verified cross-engine.
    return D.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=5, window=4
    )


def q_text_embedding_neardup_md5(spark, sf_dir):
    # text_embedding_neardup under its own name, kept because queries()
    # lists it; the md5 hashing trick is the only text featurizer.
    return q_text_embedding_neardup(spark, sf_dir)


def q_staged_dedup(spark, sf_dir):
    # Rows-only (the oracle would need a recursive-CTE components step):
    # the staged production pipeline — normalized-fingerprint collapse,
    # then MinHash components over the survivors. Semantics pinned by
    # tests/test_dedup.py; its pair stage is dedup_minhash's.
    return D.staged_dedup(load_table(spark, sf_dir, "documents"), threshold=0.3)


def q_text_token_stats(spark, sf_dir):
    return T.token_stats(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    return T.language_id(load_table(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    return T.quality_score(load_table(spark, sf_dir, "documents"))


def q_similarity_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return S.brute_force_topk(queries, emb, k=10)


def q_embedding_neardup(spark, sf_dir):
    return S.cosine_pairs_above(load_table(spark, sf_dir, "embeddings"), threshold=0.35)


def q_embedding_neardup_lsh(spark, sf_dir):
    # The sub-quadratic scale path (LSH buckets + exact in-bucket verify)
    # at its defaults: corpus-count-derived width, 16 tables. The oracle
    # replays the md5 buckets; recall vs the exact plan is pinned by
    # tests/test_similarity.py.
    return S.lsh_pairs_above(load_table(spark, sf_dir, "embeddings"), threshold=0.35)


def q_ann_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return S.lsh_topk(queries, emb, k=10)


def q_ann_lsh_md5(spark, sf_dir):
    # ann_lsh at a pinned width (6 bits, 8 tables): md5 hyperplane signs
    # + integer micro-unit sums make the bucketing order-exact, and the
    # in-bucket rounded cosine is the form similarity_topk already
    # verifies — so the full LSH machinery (signs -> sums -> bit-fold ->
    # bucket join -> re-rank) is cross-engine checked at a second shape.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return S.lsh_topk(queries, emb, k=10, n_bits=6, n_tables=8)


def q_embedding_neardup_lsh_md5(spark, sf_dir):
    # embedding_neardup_lsh at the pinned width of ann_lsh_md5.
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_pairs_above(emb, threshold=0.35, n_bits=6, n_tables=8)


def q_snap_metrics(spark, sf_dir):
    """Reference-dataset parity: per ego network, the golden node/edge
    counts and proof-1 numerator/denominator (golden values pinned in
    tests/test_snap_golden.py). Ignores sf_dir — reads the read-only
    reference dataset itself.

    Each network's one-row metric frame is localCheckpoint-ed before the
    union: a single lazy plan over all ten networks stacks ~60 joins and
    blows up task-binary size/driver heap on small-heap sessions; the
    checkpoint bounds the plan per network (the reference data is KB-scale,
    so materializing ten 1-row frames is free)."""
    from graph_database_spark.operators.graph import hypothesis_verdict, node_count
    from graph_database_spark.sources import snap

    out = None
    for ego in snap.EGO_CENTERS:
        v, e, _ = snap.load_ego_network(spark, snap.REFERENCE_DATA, ego)
        m = (
            node_count(e)
            .crossJoin(G.edge_count(e))
            .crossJoin(hypothesis_verdict(v, e).select("connected", "cooccurring"))
            .select(
                F.lit(ego).alias("ego"), "node_count", "edge_count",
                "connected", "cooccurring",
            )
            .localCheckpoint()
        )
        out = m if out is None else out.union(m)
    return out


def q_json_extract_events(spark, sf_dir):
    return E.json_extract_stats(load_table(spark, sf_dir, "events"))


def q_events_hourly(spark, sf_dir):
    _utc(spark)
    return E.hourly_rollup(load_table(spark, sf_dir, "events"))


def q_events_sessionize(spark, sf_dir):
    _utc(spark)
    return E.sessionize(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# General OLAP surface (windows / top-k / set ops / grouping sets —
# categories the reference lacks, SURVEY.md §2.5-2.7, engine must have)
# ---------------------------------------------------------------------------


def q_top3_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("count_order"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def q_events_sliding_1h(spark, sf_dir):
    # Time-based sliding window (RANGE BETWEEN INTERVAL): count + value
    # sum over the trailing hour per user. The frame is expressed on
    # unix microseconds — the exact resolution both engines store after
    # the nanos truncation in sources/parquet.load_table — so the
    # inclusive [ts-1h, ts] bound is identical on both sides. One
    # shuffle on user_id.
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("value_1h"),
    )


def q_grouping_sets_orders(spark, sf_dir):
    # Explicit GROUPING SETS (beyond rollup/cube): per-status and
    # per-priority totals plus the grand total in one pass — map-side
    # partial aggregation expands the sets before the single shuffle.
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


def q_ntile_orders(spark, sf_dir):
    # ntile ranking with the catalog's unique-tiebreak rule (ties on
    # price fall to orderkey, making bucket assignment deterministic on
    # both engines); partitioned by order year so no global single-
    # partition sort exists at scale.
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.ntile(4)
        .over(
            Window.partitionBy(F.year("o_orderdate")).orderBy(
                "o_totalprice", "o_orderkey"
            )
        )
        .alias("price_quartile"),
    )


def q_distinct_users_hll(spark, sf_dir):
    # Deterministic md5-based HyperLogLog (operators/sketches.hll_distinct):
    # integer register sums + no ln() correction make the estimate
    # bit-reproducible in DuckDB, so — like the KMV twin — the sketch's
    # VALUES are oracle-checked, not just its row count. The production
    # alternative, Spark's built-in approx_count_distinct (HLL++), has
    # engine-internal estimates; its error bound is pinned separately in
    # tests/test_sketches_and_sinks.py.
    from graph_database_spark.operators.sketches import hll_distinct

    e = load_table(spark, sf_dir, "events")
    return hll_distinct(e, "user_id", group_by="event_type")


def q_fd_violations(spark, sf_dir):
    # Functional-dependency profiling (r9): for candidate FDs A -> B,
    # count determinant values with more than one dependent value and
    # the minimum rows to delete to make the FD hold (sum over
    # violating groups of group_size - max_dep_count) — the data-
    # quality audit next to fk_integrity/column_stats that schema
    # discovery tools run. One aggregation per FD over (A, B) counts;
    # everything integer.
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fds = [
        ("lineitem", "l_orderkey", "l_linestatus", li),
        ("lineitem", "l_partkey", "l_returnflag", li),
        ("orders", "o_custkey", "o_orderpriority", o),
        ("orders", "o_orderkey", "o_orderstatus", o),
    ]
    out = None
    for table, det, dep, df in fds:
        ab = df.groupBy(F.col(det).alias("a"), F.col(dep).alias("b")).agg(
            F.count("*").alias("n")
        )
        g = ab.groupBy("a").agg(
            F.count("*").alias("n_dep"),
            F.sum("n").alias("rows"),
            F.max("n").alias("max_n"),
        )
        row = g.agg(
            F.lit(table).alias("table_name"),
            F.lit(det).alias("det_col"),
            F.lit(dep).alias("dep_col"),
            F.count("*").alias("n_det_values"),
            F.sum((F.col("n_dep") > 1).cast("long")).alias("n_violating"),
            F.sum(F.col("rows") - F.col("max_n")).alias("min_repair_rows"),
        ).select(
            "table_name", "det_col", "dep_col",
            "n_det_values", "n_violating", "min_repair_rows",
        )
        out = row if out is None else out.unionByName(row)
    return out


def q_ab_test_welch(spark, sf_dir):
    # Welch's two-sample t (r9): the continuous A/B readout next to
    # chi_square_events' categorical one — users md5-assigned to arms,
    # per-user purchase revenue compared. Moments are integer-cents
    # sums (partition-order-exact); the t statistic is built from them
    # with only exactly-specified IEEE ops (divide, subtract, sqrt), so
    # round-6 is cross-engine stable with no micro-snapping needed.
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
        )
        .select(
            (
                md5_hash60(F.concat(F.lit("ab|"), F.col("user_id").cast("string")))
                % 2
            ).alias("arm"),
            "cents",
        )
    )
    g = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    a = g.where(F.col("arm") == 0).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = g.where(F.col("arm") == 1).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    j = a.crossJoin(b)
    mean = lambda s, n: s.cast("double") / n.cast("double")  # noqa: E731
    var = lambda ss, s, n: (  # unbiased: (n*ss - s^2) / (n*(n-1))  # noqa: E731
        (n * ss - s * s).cast("double") / (n * (n - 1)).cast("double")
    )
    ma, mb = mean(F.col("sa"), F.col("na")), mean(F.col("sb"), F.col("nb"))
    va, vb = var(F.col("ssa"), F.col("sa"), F.col("na")), var(
        F.col("ssb"), F.col("sb"), F.col("nb")
    )
    t = (ma - mb) / F.sqrt(
        va / F.col("na").cast("double") + vb / F.col("nb").cast("double")
    )
    return j.select(
        "na",
        "nb",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
    )


def q_bleu_pairs(spark, sf_dir):
    # BLEU-4 between adjacent-id doc pairs (r9): the generation-eval
    # metric over the same n-gram machinery the dedup family trusts —
    # modified precisions + brevity penalty, log-space exact integer
    # micro-units (operators/evalmetrics.bleu_pairs).
    from graph_database_spark.operators.evalmetrics import bleu_pairs

    return bleu_pairs(load_table(spark, sf_dir, "documents"))


def q_isotonic_calibration(spark, sf_dir):
    # Exact isotonic regression (r9): calibration curve of "is English"
    # on document length — the monotone-fit companion to score_auc's
    # discrimination readout. Distributed minimax formulation == the
    # unique PAV solution; pure-integer micro means, no floats
    # (operators/evalmetrics.isotonic_fit).
    from graph_database_spark.operators.evalmetrics import isotonic_fit

    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").alias("is_en")
    )
    return isotonic_fit(docs, "n_chars", "is_en")


def q_decision_stump(spark, sf_dir):
    # Exact depth-1 decision-tree training (r9): best Gini split per
    # lineitem feature predicting returned-flag — the distributed
    # split-search primitive under every tree ensemble, integer-exact
    # outputs with the impurity double used only for ordering
    # (operators/evalmetrics.gini_best_splits).
    from graph_database_spark.operators.evalmetrics import gini_best_splits

    li = load_table(spark, sf_dir, "lineitem")
    feats = {
        "qty": F.round(F.col("l_quantity"), 0),
        "disc": F.round(F.col("l_discount") * 100, 0),
        "tax": F.round(F.col("l_tax") * 100, 0),
        "month": F.month("l_shipdate"),
    }
    li = li.withColumn("is_ret", (F.col("l_returnflag") == "R").cast("int"))
    return gini_best_splits(li, feats, "is_ret")


def q_rouge_l(spark, sf_dir):
    # ROUGE-L F1 between adjacent-id doc pairs (r9): the LCS-based
    # generation-eval companion to bleu_pairs — DP run row-locally by a
    # JVM aggregate HOF via the prefix-max row identity; F1 = 2L/(c+r)
    # stays a pure integer rational (operators/evalmetrics.rouge_l_pairs).
    from graph_database_spark.operators.evalmetrics import rouge_l_pairs

    return rouge_l_pairs(load_table(spark, sf_dir, "documents"))


# Candidate key columns for inclusion-dependency discovery: one list
# drives BOTH engines (q_inclusion_deps and its oracle below).
_IND_COLS = [
    ("nation", "n_nationkey"),
    ("region", "r_regionkey"),
    ("nation", "n_regionkey"),
    ("customer", "c_custkey"),
    ("customer", "c_nationkey"),
    ("supplier", "s_suppkey"),
    ("supplier", "s_nationkey"),
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("part", "p_partkey"),
]


def q_inclusion_deps(spark, sf_dir):
    # Inclusion-dependency discovery (r9): which key columns' value sets
    # are subsets of which — FK DISCOVERY, the profiling complement to
    # fk_integrity's declared-FK audit. SINDY-style single-pass design
    # (Kruse et al., BTW 2015): distinct (column, value) pairs, ONE
    # shuffle grouping by value to collect the column set containing it,
    # then a c^2-bounded row-local expansion v -> (a in S, b not in S)
    # counts the violations of every ordered pair at once — NO pairwise
    # anti-joins (c^2 joins at 100 TB), and the value shuffle is the
    # same one a single dedup pass pays.
    legs = [
        load_table(spark, sf_dir, t).select(
            F.lit(f"{t}.{c}").alias("col"), F.col(c).cast("long").alias("val")
        )
        for t, c in _IND_COLS
    ]
    flat = reduce(lambda a, b: a.unionByName(b), legs).distinct()
    all_cols = ", ".join(f"'{t}.{c}'" for t, c in _IND_COLS)
    per_val = flat.groupBy("val").agg(F.collect_set("col").alias("s"))
    miss = (
        per_val.select(
            F.explode(
                F.expr(
                    f"flatten(transform(s, a -> transform("
                    f"filter(array({all_cols}), b -> NOT array_contains(s, b)),"
                    f" b -> struct(a AS a, b AS b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("col_a"), F.col("p.b").alias("col_b"))
        .agg(F.count("*").alias("n_missing"))
    )
    sizes = flat.groupBy(F.col("col").alias("col_a")).agg(
        F.count("*").alias("n_a")
    )
    cols_df = spark.createDataFrame(
        [(f"{t}.{c}",) for t, c in _IND_COLS], "c string"
    )
    # Broadcast both tiny literal sides: a plain crossJoin of two
    # parallelized frames plans as a 32x32-partition CartesianProduct.
    pairs = (
        cols_df.select(F.col("c").alias("col_a"))
        .crossJoin(F.broadcast(cols_df.select(F.col("c").alias("col_b"))))
        .where(F.col("col_a") != F.col("col_b"))
    )
    return (
        sizes.join(F.broadcast(pairs), "col_a")
        .join(miss, ["col_a", "col_b"], "left")
        .select(
            "col_a",
            "col_b",
            "n_a",
            F.coalesce("n_missing", F.lit(0).cast("long")).alias("n_missing"),
            (F.coalesce("n_missing", F.lit(0)) == 0).alias("included"),
        )
    )


def q_jaro_winkler(spark, sf_dir):
    # Jaro-Winkler scoring over the record_linkage blocked pair space
    # (r9): the prefix-weighted, transposition-tolerant second leg of
    # the linkage family — exact integer micro scores, greedy window
    # matching replayed by the oracle's recursive CTE
    # (operators/linkage.with_jaro_winkler).
    from graph_database_spark.operators.linkage import (
        block_self_pairs,
        with_jaro_winkler,
    )

    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("blk", F.element_at(F.split("p_name", " "), -1))
    )
    pairs = block_self_pairs(names, "blk", "p_name").select(
        F.col("a.p_name").alias("name_a"),
        F.col("b.p_name").alias("name_b"),
        F.col("a.blk").alias("blk"),
    )
    return with_jaro_winkler(pairs, "name_a", "name_b")


def q_readability(spark, sf_dir):
    # Flesch-style readability (r9): vowel-group syllable proxy +
    # extraction-based counts, score in integer micro-units — the
    # classic pretraining quality signal quality_score's ratio family
    # was missing (operators/text.readability).
    return T.readability(load_table(spark, sf_dir, "documents"))


def q_score_auc(spark, sf_dir):
    # Exact tie-corrected Mann-Whitney AUC (r9): does document LENGTH
    # separate English from non-English docs? The eval primitive every
    # quality-signal pipeline needs, computed float-free over the
    # distinct-score universe (operators/rank.rank_auc).
    from graph_database_spark.operators.rank import rank_auc

    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").alias("is_en")
    )
    return rank_auc(docs, "n_chars", "is_en")


def q_embedding_gram(spark, sf_dir):
    # Quantized Gram matrix X^T X (r9): the covariance building block
    # behind PCA/whitening, hash-verified — embeddings snap to integer
    # milli-units first so the d(d+1)/2 cell sums are exact under any
    # partition order (float dot-sums are not; the PCA path itself
    # stays rows-only for that reason). Plan shape: the upper-triangle
    # products are generated ROW-LOCALLY by a nested JVM HOF (no
    # self-join — a (vec, dim) self-join would shuffle the exploded
    # frame), then ONE map-side-combinable shuffle on (i, j). 2080
    # cells at dim 64 regardless of corpus size.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(
            "transform(embedding, x ->"
            " CAST(round(CAST(x AS DOUBLE) * CAST(1000 AS DOUBLE), 0)"
            " AS BIGINT))"
        ).alias("q")
    )
    pairs = q.select(
        F.explode(
            F.expr(
                "flatten(transform(q, (xi, i) ->"
                " transform(slice(q, i + 1, size(q) - i), (xj, jj) ->"
                " struct(i AS i, i + jj AS j, xi * xj AS p))))"
            )
        ).alias("c")
    )
    return (
        pairs.select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("dot"))
        .select(F.col("i").cast("int").alias("i"), F.col("j").cast("int").alias("j"), "dot")
    )


def _km_user_frame(spark, sf_dir):
    """Shared per-user lifetime census for the Kaplan-Meier family:
    one row per user with (dur_h, death) — activity lifetime in whole
    hours between first and last event, and the churn indicator (last
    event predates the corpus horizon by > 6 hours). All arithmetic is
    integer microseconds from ``unix_micros`` over the normalized ts
    (sources/parquet.normalize_events_ts truncates any ns vintage)."""
    e = load_table(spark, sf_dir, "events")
    horizon = e.agg(F.max(F.expr("unix_micros(ts)")).alias("hmax_us"))
    return (
        e.groupBy("user_id")
        .agg(
            F.min(F.expr("unix_micros(ts)")).alias("t0_us"),
            F.max(F.expr("unix_micros(ts)")).alias("t1_us"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.expr("(t1_us - t0_us) div 3600000000").alias("dur_h"),
            (
                F.col("t1_us") < F.col("hmax_us") - F.lit(21600000000)
            ).cast("int").alias("death"),
        )
    )


def q_km_horizon_probe(spark, sf_dir):
    # Diagnostic 1 of the km_survival bisection (VERDICT r10 next-#1):
    # the raw ingest epochs as one row. If THIS diverges on the driver
    # gate, the red row is in the events ingest itself (a ts-encoding
    # cast the two engines disagree on), before any KM logic runs.
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count("*").alias("n_events"),
        F.min(F.expr("unix_micros(ts)")).alias("tmin_us"),
        F.max(F.expr("unix_micros(ts)")).alias("tmax_us"),
    )


def q_km_user_lifetimes(spark, sf_dir):
    # Diagnostic 2: the per-user (dur_h, death) census as a grouped
    # count frame — the km_survival input before any risk-set math.
    # Red here but green on km_horizon_probe ⇒ the per-user min/max or
    # the 6h death cutoff is where the engines diverge.
    users = _km_user_frame(spark, sf_dir)
    return (
        users.groupBy("dur_h", "death")
        .agg(F.count("*").alias("n_users"))
    )


def q_km_risk_table(spark, sf_dir):
    # Diagnostic 3: the pre-fold risk table (dur_h, n_at, n_deaths,
    # n_risk) with the same death-row filter km_survival applies — the
    # full pipeline MINUS the driver-side product fold and the oracle's
    # recursive CTE. Red here but green on km_user_lifetimes ⇒ the
    # running-count window / total; only km_survival red ⇒ the fold or
    # the recursion replay.
    users = _km_user_frame(spark, sf_dir)
    total = users.count()  # bounded driver-side model (one integer)
    by_dur = users.groupBy("dur_h").agg(
        F.count("*").alias("n_at"),
        F.sum("death").alias("n_deaths"),
    )
    w = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, -1)
    return (
        by_dur.withColumn(
            "n_risk", F.lit(total) - F.coalesce(F.sum("n_at").over(w), F.lit(0))
        )
        .where((F.col("n_deaths") > 0) & (F.col("n_risk") > F.col("n_deaths")))
        .select("dur_h", "n_at", "n_deaths", "n_risk")
    )


def q_km_survival(spark, sf_dir):
    # Kaplan-Meier survival curve (r9, rebuilt r10 after the driver
    # gate's first-ever red row, decomposed r11 into the three gated
    # diagnostics above): per-user activity lifetime (hours between
    # first and last event); a user "churns" (death observed) when
    # their last event predates the corpus horizon by > 6 hours,
    # otherwise censored — the product-limit estimator every retention
    # team plots. r10 hardening (VERDICT r9 #1): the r9 shape carried
    # two libm transcendentals (a round-snapped ln per factor and a
    # derived round(exp(...), 6) survival double) plus a
    # timestamp-INTERVAL death cutoff — three boundary hazards against
    # a regenerated driver input. All three are gone:
    #   * the death cutoff compares explicit unix_micros integers
    #     (vintage-proof: both engines truncate ns -> us identically);
    #   * survival is an EXACT integer recurrence, no ln/exp at all:
    #     surv_nano_k = surv_nano_{k-1} * (n_k - d_k) div n_k starting
    #     from 1e9 — every step is integer floor division, identical in
    #     any engine. Headroom: 1e9 * n_risk stays under 2^63 while the
    #     user universe is < 9.2e9 (world-population scale).
    # The per-death-time factors are a bounded model frame (<= corpus
    # span in hours, ~720 rows — same documented bound as before), so
    # the sequential product folds on the driver like
    # markov_attribution's value iteration; the oracle replays it as a
    # recursive CTE.
    km = (
        q_km_risk_table(spark, sf_dir)
        .select("dur_h", "n_risk", "n_deaths")
        .orderBy("dur_h")
    )
    rows = km.collect()  # bounded: <= distinct lifetime hours (~720)
    surv = 10**9
    out = []
    for r in rows:
        surv = surv * (r["n_risk"] - r["n_deaths"]) // r["n_risk"]
        out.append((r["dur_h"], r["n_risk"], r["n_deaths"], surv))
    return spark.createDataFrame(
        out, "dur_h BIGINT, n_risk BIGINT, n_deaths BIGINT, surv_nano BIGINT"
    )


def q_parts_skyline(spark, sf_dir):
    # 2-D skyline / Pareto frontier (r9): parts not dominated on
    # (retailprice, size) — dominance = <= in both, < in at least one.
    # The O(n^2) NOT-EXISTS definition collapses, in 2-D, to one
    # vocabulary-sized price-group aggregation + a lag window over
    # DISTINCT prices (strict running min of group-min sizes): a part
    # survives iff it has the min size of its price group AND that min
    # beats every strictly-cheaper group's. Scale shape: one groupBy
    # on price, a window over |distinct prices| rows, one semi-join
    # back — no pairwise compare anywhere.
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    g = p.groupBy("p_retailprice").agg(F.min("p_size").alias("msize"))
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    keep = g.select(
        "p_retailprice",
        "msize",
        F.min("msize").over(w).alias("strict_min"),
    ).where(
        F.col("strict_min").isNull() | (F.col("msize") < F.col("strict_min"))
    )
    return p.join(
        keep.select("p_retailprice", "msize"), "p_retailprice"
    ).where(F.col("p_size") == F.col("msize")).select(
        "p_partkey", "p_retailprice", "p_size"
    )


def q_purchase_attribution(spark, sf_dir):
    # Last-touch attribution (r9): each purchase event credits the
    # user's immediately preceding event (any type) as the converting
    # channel — the marketing-analytics read the funnel family
    # (event_funnel, conversion_latency) was missing. One lag window
    # per user, purchase values in integer cents, one combinable
    # channel rollup.
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    attributed = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("prev_type"), F.lit("none")).alias("channel"),
            "cents",
        )
    )
    return attributed.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        F.sum("cents").alias("attributed_cents"),
    )


def q_timedecay_attribution(spark, sf_dir):
    # Time-decay attribution (r9): completes the attribution trio
    # (last-touch, U-shaped, decay) — each touch in a purchase's
    # journey gets weight 2^-(age_hours div 12), a DYADIC decay whose
    # credits cents*1e6*w / sum(w) are exact integers: weights are
    # powers of two with exponent <= 24 (capped, CLAUDE.md bit-width
    # rule), the normalizing sum is a per-journey BIGINT, and the
    # division is the half-up micro idiom.
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = e.withColumn(
        "jny",
        F.coalesce(
            F.sum((F.col("event_type") == "purchase").cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).localCheckpoint()
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "jny", "cents", F.col("ts").alias("pts")
    )
    touches = e.where(F.col("event_type") != "purchase").select(
        "user_id", "jny", F.col("event_type").alias("channel"), "ts"
    )
    jt = touches.join(purchases, ["user_id", "jny"]).withColumn(
        "wgt",
        F.expr(
            "CAST(shiftleft(1, 24 - CAST(least("
            "(unix_micros(pts) - unix_micros(ts)) div 43200000000, 24)"
            " AS INT)) AS BIGINT)"
        ),
    )
    tot = jt.groupBy("user_id", "jny").agg(F.sum("wgt").alias("tw"))
    credited = jt.join(tot, ["user_id", "jny"]).select(
        "channel",
        F.expr(
            "(2 * cents * 1000000 * wgt + tw) div (2 * tw)"
        ).alias("credit"),
    )
    return credited.groupBy("channel").agg(
        F.count("*").alias("n_credits"),
        F.sum("credit").alias("credit_micro_cents"),
    )


_UCB_MAXL = "9223372036854775807"


def _ucb_expr(tvar: str) -> str:
    # UCB1 score of arm struct x at time index tvar — engine-portable
    # (valid Spark SQL and DuckDB modulo // vs div, patched below):
    # unplayed arms get the BIGINT-max sentinel (forced bootstrap pick,
    # ties on arm name), else exact half-up micro mean + the
    # micro-snapped exploration bonus 50 * sqrt(2 ln t / n).
    return (
        f"CASE WHEN x.n = 0 THEN CAST({_UCB_MAXL} AS BIGINT)"
        " ELSE (2 * x.s + x.n) div (2 * x.n)"
        " + CAST(round(CAST(50 AS DOUBLE)"
        f" * sqrt(CAST(2 AS DOUBLE) * ln(CAST({tvar} AS DOUBLE))"
        " / CAST(x.n AS DOUBLE)) * CAST(1000000 AS DOUBLE), 0)"
        " AS BIGINT) END"
    )


_LOGIT_ROUNDS = 4
# Fellegi-Sunter EM rounds (q_fellegi_sunter + its oracle builder).
_FS_ROUNDS = 5

# Misra-Gries fold geometry shared by q_mg_heavy_hitters, its oracle
# builder, and the streaming sink's batch twin.
_MG_K = 8
_MG_BUCKETS = 30


def _mg_merge(state: dict, delta: dict, k: int = _MG_K) -> dict:
    from graph_database_spark.operators.sketches import mg_merge

    return mg_merge(state, delta, k)


def q_woe_iv(spark, sf_dir):
    # Weight-of-evidence / information-value profiling (r9): the
    # credit-scoring feature screen — per (feature, bin):
    # WOE = ln((pos_b/pos_tot)/(neg_b/neg_tot)) micro-snapped, and the
    # feature's IV = sum (p_pos - p_neg) * WOE accumulated in exact
    # integer micro^2 units (PPM-weighted micro-WOE terms). Same
    # binned-stats frame as decision_stump; Laplace +1 per bin keeps
    # the ratios finite.
    li = load_table(spark, sf_dir, "lineitem")
    flat = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("qty").alias("feature"),
                    F.round("l_quantity", 0).cast("long").alias("bin"),
                ),
                F.struct(
                    F.lit("disc").alias("feature"),
                    F.round(F.col("l_discount") * 100, 0).cast("long").alias("bin"),
                ),
                F.struct(
                    F.lit("month").alias("feature"),
                    F.month("l_shipdate").cast("long").alias("bin"),
                ),
            )
        ).alias("fv"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    ).select("fv.feature", "fv.bin", "y")
    stats = flat.groupBy("feature", "bin").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    wt = Window.partitionBy("feature")
    scored = stats.select(
        "feature",
        "bin",
        "pos",
        "neg",
        F.sum("pos").over(wt).alias("pt"),
        F.sum("neg").over(wt).alias("nt"),
    ).select(
        "feature",
        "bin",
        "pos",
        "neg",
        # ln of a ratio of exact integer products (Laplace-smoothed),
        # snapped to micro before any further arithmetic.
        F.expr(
            "CAST(round(ln(CAST((pos + 1) * (nt + 1) AS DOUBLE)"
            " / CAST((neg + 1) * (pt + 1) AS DOUBLE))"
            " * CAST(1000000 AS DOUBLE), 0) AS BIGINT)"
        ).alias("woe_micro"),
        # distribution gap in exact ppm: half-up of pos/pt - neg/nt.
        F.expr(
            "(2 * pos * 1000000 + pt) div (2 * pt)"
            " - (2 * neg * 1000000 + nt) div (2 * nt)"
        ).alias("gap_ppm"),
    )
    return scored.select(
        "feature",
        "bin",
        "pos",
        "neg",
        "woe_micro",
        "gap_ppm",
        F.sum(F.col("gap_ppm") * F.col("woe_micro"))
        .over(wt)
        .alias("iv_feature_micro2"),
    )


def q_seasonal_decompose(spark, sf_dir):
    # Classical decomposition (r9): daily revenue = trend (centered
    # 7-day moving average, full windows only) + seasonal (pseudo-
    # weekday mean of the detrended series) + residual — the STL-lite
    # readout behind order_seasonality. Everything in exact integer
    # micro-cents (half-up divisions); weekday = (t-1) % 7 from the
    # day INDEX, not calendar dayofweek (Spark and DuckDB disagree on
    # week-start conventions). Windows run over the bounded day
    # universe (documented: |days|, metadata-sized at any SF).
    e = load_table(spark, sf_dir, "events")
    first = e.agg(F.min(F.to_date("ts")).alias("d0"))
    daily = (
        e.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(first))
        .groupBy(
            (F.datediff(F.to_date("ts"), F.col("d0")) + 1).alias("t")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
        )
    )
    w7 = Window.orderBy("t").rowsBetween(-3, 3)
    d1 = daily.select(
        "t",
        ((F.col("t") - 1) % 7).alias("wd"),
        "cents",
        F.count("*").over(w7).alias("c7"),
        F.sum("cents").over(w7).alias("s7"),
    ).select(
        "t",
        "wd",
        "cents",
        F.expr(
            "CASE WHEN c7 = 7 THEN (2 * s7 * 1000000 + 7) div 14 END"
        ).alias("trend_micro"),
    )
    d2 = d1.withColumn(
        "detr", F.col("cents") * 1000000 - F.col("trend_micro")
    ).localCheckpoint()
    seas = (
        d2.where(F.col("detr").isNotNull())
        .groupBy("wd")
        .agg(F.sum("detr").alias("sd"), F.count("*").alias("nd"))
        .select(
            "wd", F.expr("(2 * sd + nd) div (2 * nd)").alias("seasonal_micro")
        )
    )
    return d2.join(F.broadcast(seas), "wd").select(
        "t",
        "wd",
        "cents",
        "trend_micro",
        "seasonal_micro",
        (F.col("detr") - F.col("seasonal_micro")).alias("residual_micro"),
    )


def q_mase_backtest(spark, sf_dir):
    # Forecast backtest (r9): seasonal-naive forecast (value 7 days
    # back) vs the naive-1 baseline over the daily revenue series,
    # scored by MASE = MAE_forecast / MAE_naive — the scale-free
    # forecast-accuracy standard (Hyndman & Koehler 2006). Absolute
    # errors are exact integer cents; MASE is one IEEE division.
    e = load_table(spark, sf_dir, "events")
    first = e.agg(F.min(F.to_date("ts")).alias("d0"))
    daily = (
        e.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(first))
        .groupBy((F.datediff(F.to_date("ts"), F.col("d0")) + 1).alias("t"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
        )
    )
    w = Window.orderBy("t")
    lagged = daily.select(
        "t",
        "cents",
        F.lag("cents", 7).over(w).alias("f7"),
        F.lag("cents", 1).over(w).alias("f1"),
    ).where(F.col("f7").isNotNull() & F.col("f1").isNotNull())
    return lagged.agg(
        F.count("*").alias("n_eval"),
        F.sum(F.abs(F.col("cents") - F.col("f7"))).alias("sae_seasonal"),
        F.sum(F.abs(F.col("cents") - F.col("f1"))).alias("sae_naive"),
        F.expr(
            "CAST(sum(abs(cents - f7)) AS DOUBLE)"
            " / CAST(sum(abs(cents - f1)) AS DOUBLE)"
        ).alias("mase"),
    )


def q_temporal_reachability(spark, sf_dir):
    # Time-respecting reachability (r9): earliest-arrival months over
    # the TEMPORAL co-purchase graph (edges live in the month they were
    # formed; a path may only traverse non-decreasing months) — the
    # temporal-graph query static BFS cannot express, on the shared
    # min-fold skeleton (operators/treach.py, sssp's pinned-budget
    # contract).
    from graph_database_spark.operators.treach import temporal_reachability

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_partkey").alias("p"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).cast("long").alias("w"),
        )
        .distinct()
    )
    te = (
        cp.alias("a")
        .join(
            cp.alias("b"),
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("a.c") < F.col("b.c")),
        )
        .select(
            F.col("a.c").alias("src"),
            F.col("b.c").alias("dst"),
            F.col("a.w").alias("t"),
        )
        .distinct()
    )
    return temporal_reachability(te)


def q_pit_features(spark, sf_dir):
    # Point-in-time training matrix (r9): the leakage-safe feature/label
    # split every churn model needs — features aggregate events STRICTLY
    # BEFORE the cutoff (day 20 of the corpus), the label is "purchased
    # on/after the cutoff"; nothing after the cutoff can reach a feature
    # column by construction (the temporal analog of group_split's
    # leakage guard). Exact integers throughout.
    e = load_table(spark, sf_dir, "events")
    first = e.agg(F.min(F.to_date("ts")).alias("d0"))
    d = (
        e.crossJoin(F.broadcast(first))
        .select(
            "user_id",
            "event_type",
            (F.datediff(F.to_date("ts"), F.col("d0")) + 1).alias("t"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    feats = (
        d.where(F.col("t") < 20)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purchases"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents"))
                .otherwise(F.lit(0))
            ).alias("spend_cents"),
            F.countDistinct("t").alias("active_days"),
            F.max("t").cast("long").alias("last_seen_day"),
        )
    )
    label = (
        d.where((F.col("t") >= 20) & (F.col("event_type") == "purchase"))
        .select("user_id")
        .distinct()
        .withColumn("label", F.lit(1).cast("long"))
    )
    return (
        feats.join(label, "user_id", "left")
        .select(
            "user_id",
            "n_events",
            "n_purchases",
            "spend_cents",
            "active_days",
            "last_seen_day",
            F.coalesce("label", F.lit(0).cast("long")).alias("label"),
        )
    )


def q_prf_search(spark, sf_dir):
    # Pseudo-relevance feedback (r9): Rocchio/RM3-style two-pass BM25 —
    # top-5 first-pass docs vote 3 expansion terms, second pass
    # re-scores with 1.0/0.5 ppm weights. The query-expansion leg the
    # retrieval stack (bm25 -> hybrid RRF) was missing
    # (operators/retrieval.prf_search).
    return R.prf_search(load_table(spark, sf_dir, "documents"), BM25_QUERY)


def q_k_anonymity_audit(spark, sf_dir):
    # k-anonymity / l-diversity audit (r9): the privacy family's
    # release-readiness check next to dp_order_stats' noised releases —
    # per quasi-identifier group (nation x market segment x
    # account-balance band): group size (k), distinct sensitive values
    # (l, sensitive = order priority of the member's orders), and the
    # flags a disclosure review needs (k < 5, l < 2). Pure counts.
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey).select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(round(c_acctbal) AS BIGINT) div 1000").alias("bal_band"),
        "o_orderpriority",
    )
    g = j.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderpriority").alias("l_div"),
    )
    return g.select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        "bal_band",
        "n_rows",
        "l_div",
        (F.col("n_rows") < 5).alias("k_violation"),
        (F.col("l_div") < 2).alias("l_violation"),
    )


def q_quantile_digest(spark, sf_dir):
    # Deterministic q-digest (r9): the sketch family's quantile leg —
    # bottom-up compressed dyadic summary of the document-length
    # distribution (operators/qdigest.py); mergeable (leaf counts sum),
    # O(compression * levels) nodes, rank error <= n/compression.
    from graph_database_spark.operators.qdigest import qdigest_build

    docs = load_table(spark, sf_dir, "documents")
    return qdigest_build(docs, "n_chars")


def q_quantile_digest_read(spark, sf_dir):
    # Quantile READ path over the q-digest (r9): p50/p90/p99 answered
    # from digest nodes only — order nodes by interval upper bound,
    # running count, first node reaching ceil(q*n/100). The window
    # runs over the bounded digest (O(compression * levels) nodes).
    from graph_database_spark.operators.qdigest import qdigest_build

    docs = load_table(spark, sf_dir, "documents")
    nodes = qdigest_build(docs, "n_chars")
    n = docs.count()
    w = Window.orderBy("ub", "lvl", "idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = nodes.select("ub", "lvl", "idx", F.sum("cnt").over(w).alias("run"))
    out = None
    for q in (50, 90, 99):
        tq = (q * n + 99) // 100  # ceil over positive ints
        row = (
            run.where(F.col("run") >= tq)
            .agg(F.min("ub").alias("est_ub"))
            .select(
                F.lit(q).cast("long").alias("q"),
                F.lit(tq).cast("long").alias("target_rank"),
                "est_ub",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def q_t_closeness(spark, sf_dir):
    # t-closeness audit (r12): completes the release-readiness triad
    # with k_anonymity_audit (k) and its l-diversity column — per
    # quasi-identifier group, the ORDERED-attribute Earth-Mover's
    # distance between the group's sensitive distribution (order
    # priority rank 1..5) and the global one, t = sum_i |F_g(i) -
    # F(i)| / (m-1) over the m-1 cumulative boundaries (Li et al.
    # 2007). Exact integers throughout: t_ppm = sum|cumG_i*N -
    # cum_i*n_g| * 1e6 div (n_g*N*(m-1)); headroom 4*n_g*N*1e6 needs
    # N < ~1.5e6 rows — past sf1, band the cents instead. Frames are
    # groups x 4 boundaries.
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey).select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(round(c_acctbal) AS BIGINT) div 1000").alias(
            "bal_band"
        ),
        F.expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").alias(
            "p"
        ),
    )
    bounds = spark.range(1, 5).select(F.col("id").alias("i"))
    bi = (
        j.crossJoin(F.broadcast(bounds))
        .groupBy("nation", "segment", "bal_band", "i")
        .agg(
            F.count("*").alias("n_g"),
            F.sum((F.col("p") <= F.col("i")).cast("long")).alias("cum_g"),
        )
    )
    glob = (
        j.crossJoin(F.broadcast(bounds))
        .groupBy("i")
        .agg(
            F.count("*").alias("n_all"),
            F.sum((F.col("p") <= F.col("i")).cast("long")).alias("cum_all"),
        )
    )
    return (
        bi.join(F.broadcast(glob), "i")
        .groupBy("nation", "segment", "bal_band")
        .agg(
            F.max("n_g").cast("long").alias("n_rows"),
            F.expr(
                "(sum(abs(cum_g * n_all - cum_all * n_g)) * 1000000)"
                " div (max(n_g) * max(n_all) * 4)"
            )
            .cast("long")
            .alias("t_ppm"),
        )
    )


def q_neyman_allocation(spark, sf_dir):
    # Neyman-optimal stratified sampling allocation (r9): split a
    # 100-row sampling budget across sources proportional to N_h*sd_h
    # (the variance-minimizing allocation), with the largest-remainder
    # method making the integer split EXACT: per-stratum weights are
    # milli-snapped sqrt's (the micro rule, milli for headroom), floors
    # via integer div, and the leftover units go to the largest integer
    # remainders (source-name tiebreak). Windows run over the bounded
    # source universe.
    budget = 100
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").alias("nh"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss"),
    )
    g = g.withColumn(
        "wh",
        F.expr(
            "CAST(round(CAST(nh AS DOUBLE)"
            " * sqrt(CAST(nh * ss - s * s AS DOUBLE)"
            " / CAST(nh * (nh - 1) AS DOUBLE))"
            " * CAST(1000 AS DOUBLE), 0) AS BIGINT)"
        ),
    )
    wt = Window.partitionBy()
    g = g.withColumn("w_tot", F.sum("wh").over(wt)).withColumn(
        "base", F.expr(f"({budget} * wh) div w_tot")
    ).withColumn("rem", F.expr(f"{budget} * wh - base * w_tot")).withColumn(
        "leftover", F.expr(f"{budget} - sum(base) OVER ()")
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    return g.select(
        "source",
        "nh",
        "wh",
        (
            F.col("base")
            + (F.row_number().over(wr) <= F.col("leftover")).cast("long")
        ).alias("alloc"),
    )


def q_temperature_mixing(spark, sf_dir):
    # Temperature-scaled language mixing (r12): the multilingual
    # alpha-sampling rule (weight ∝ count^alpha, alpha = 1/2) that
    # up-weights low-resource languages relative to proportional
    # sampling — THE mixture knob multilingual LM corpora are built
    # with. One milli-snapped sqrt per language (micro rule), then
    # neyman_allocation's exact largest-remainder integer split of a
    # 1000-doc budget; rate_ppm exposes the realized per-language
    # sampling rate. Window universe = |languages|.
    budget = 1000
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(F.count("*").alias("nh"))
    g = g.withColumn(
        "wh",
        F.expr(
            "CAST(round(sqrt(CAST(nh AS DOUBLE)) * CAST(1000 AS DOUBLE),"
            " 0) AS BIGINT)"
        ),
    )
    wt = Window.partitionBy()
    g = (
        g.withColumn("w_tot", F.sum("wh").over(wt))
        .withColumn("base", F.expr(f"({budget} * wh) div w_tot"))
        .withColumn("rem", F.expr(f"{budget} * wh - base * w_tot"))
        .withColumn("leftover", F.expr(f"{budget} - sum(base) OVER ()"))
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("lang").asc())
    return g.select(
        "lang",
        "nh",
        "wh",
        (
            F.col("base")
            + (F.row_number().over(wr) <= F.col("leftover")).cast("long")
        ).alias("alloc"),
    ).withColumn(
        "rate_ppm", F.expr("(alloc * 1000000) div nh").cast("long")
    )


def q_image_ahash(spark, sf_dir):
    # Perceptual average-hash near-dup pairs (r9): the multimodal ->
    # dedup bridge — 64 strided samples of each media payload (the
    # deterministic byte stand-in, attach_media), thresholded at the
    # exact mean (64*px > sum, integer compare), packed into a 64-char
    # bit STRING (no 64-bit shifts — the DuckDB bit-63 trap), candidate
    # pairs from 4 x 16-bit BANDS (the MinHash banding discipline on
    # Hamming space), exact Hamming <= 16 verify. All JVM-side; the
    # whole chain replays in the oracle. Occupancy posture: the hottest
    # 16-bit bucket holds ~2% of the corpus at sf0.1; at larger corpora
    # the band layout is the knob (2 x 32-bit bands at 1e9 docs — the
    # string fingerprint makes widths free), the same corpus-derived
    # sizing rule as similarity._auto_bits.
    from graph_database_spark.operators.spread import spread

    # spread (r15): the 64-sample ascii fold below is compute-heavy and
    # the small scan arrives as ONE partition — the CLAUDE.md spread
    # rule (fingerprint stage measured 1.3 s single-task at sf0.1).
    docs = spread(
        load_table(spark, sf_dir, "documents").where(F.length("text") >= 64)
    )
    d = docs.select(
        F.col("doc_id").alias("media_id"),
        F.length("text").alias("n"),
        "text",
    )
    d = d.withColumn(
        "px",
        F.expr(
            "transform(sequence(1, 64), i ->"
            " CAST(ascii(substring(text, 1 + ((i - 1) * n) div 64, 1))"
            " AS BIGINT))"
        ),
    )
    # Materialize the pixel sum as a column first — an aggregate()
    # referenced inside the bit-transform lambda would re-run per
    # element (CLAUDE.md HOF rule).
    d = d.withColumn(
        "sp", F.expr("aggregate(px, CAST(0 AS BIGINT), (a, x) -> a + x)")
    )
    # w1/w2 (r15): the 64-bit fingerprint packed ONCE per doc into two
    # 32-bit words (conv base-2, bit width 32 <= 31+1 per word value —
    # each word < 2^32, no sign-bit shift anywhere). Hamming is then
    # bit_count(xor) per word pair — the same integer the old 64
    # interpreted substring compares produced, at 4 codegen'd calls per
    # pair — and the candidate dedup shuffles four longs instead of two
    # 64-char strings (scalar-ride rule).
    d = d.withColumn(
        "fp",
        F.expr(
            "array_join(transform(px, p -> IF(64 * p > sp, '1', '0')), '')"
        ),
    ).select(
        "media_id",
        "fp",
        F.expr("CAST(conv(substring(fp, 1, 32), 2, 10) AS BIGINT)").alias("w1"),
        F.expr("CAST(conv(substring(fp, 33, 32), 2, 10) AS BIGINT)").alias("w2"),
    ).localCheckpoint()
    bands = d.select(
        "media_id",
        "w1",
        "w2",
        F.explode(F.expr("sequence(0, 3)")).alias("b"),
        "fp",
    ).select(
        "media_id", "w1", "w2", "b",
        F.expr("substring(fp, 1 + 16 * b, 16)").alias("bv"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("c"),
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.bv") == F.col("c.bv"))
            & (F.col("a.media_id") < F.col("c.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("c.media_id").alias("id_b"),
            F.col("a.w1").alias("wa1"),
            F.col("a.w2").alias("wa2"),
            F.col("c.w1").alias("wb1"),
            F.col("c.w2").alias("wb2"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.expr(
                "CAST(bit_count(wa1 ^ wb1) + bit_count(wa2 ^ wb2) AS BIGINT)"
            ),
        )
        .where(F.col("hamming") <= 16)
        .select("id_a", "id_b", "hamming")
    )


def q_sequential_rules(spark, sf_dir):
    # Sequential association rules (r9): for every ordered event-type
    # pair (a, b), how many users did a STRICTLY BEFORE their first b —
    # the temporal rule mining event_transitions' adjacent-step view
    # misses (first-touch ordering, not adjacency). Per (user, type)
    # FIRST timestamps collapse the stream to <= 5 rows per user, the
    # pair meet is a user-keyed equi-self-join of that tiny frame, and
    # support/confidence are exact half-up ppm integers.
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t0")
    ).localCheckpoint()
    n_users = e.select("user_id").distinct().count()
    a = firsts.select(
        "user_id", F.col("event_type").alias("a"), F.col("t0").alias("ta")
    )
    b = firsts.select(
        "user_id", F.col("event_type").alias("b"), F.col("t0").alias("tb")
    )
    pairs = (
        a.join(b, "user_id")
        .where((F.col("a") != F.col("b")) & (F.col("ta") < F.col("tb")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
    )
    na = firsts.groupBy(F.col("event_type").alias("a")).agg(
        F.count("*").alias("n_a")
    )
    return (
        pairs.join(F.broadcast(na), "a")
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            F.expr(
                f"(2 * n_ab * 1000000 + {n_users}) div (2 * {n_users})"
            ).alias("support_ppm"),
            F.expr("(2 * n_ab * 1000000 + n_a) div (2 * n_a)").alias(
                "confidence_ppm"
            ),
        )
    )


def q_sorted_neighborhood(spark, sf_dir):
    # Sorted-neighborhood linkage candidates (r9): the third blocking
    # strategy (head-noun blocks, soundex, sorted window) — order the
    # distinct name universe lexicographically (distributed
    # global_rank), then candidates are pairs within rank distance 3,
    # generated as an EQUI-join on (rank + offset) so the shuffle is
    # keyed, never a rank-range theta join. Levenshtein on the
    # survivors only.
    from graph_database_spark.operators.rank import global_rank

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    ranked = global_rank(names, ["p_name"], out_col="r")
    left = (
        ranked.withColumn("off", F.explode(F.expr("sequence(1, 3)")))
        .select(
            F.col("p_name").alias("name_a"),
            (F.col("r") + F.col("off")).alias("r2"),
        )
    )
    right = ranked.select(F.col("p_name").alias("name_b"), F.col("r").alias("r2"))
    return left.join(right, "r2").select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
    )


def q_target_encoding(spark, sf_dir):
    # Leave-one-out target encoding (r9): the high-cardinality
    # categorical encoder — each row's brand is replaced by the
    # smoothed return rate of its brand EXCLUDING the row itself
    # (leakage-safe by construction, the group_split discipline at
    # row grain): enc = (s_g - y + m*prior) / (n_g - 1 + m), m = 10,
    # prior = global rate. The value is one exact rational
    # ((s_g - y)*N + m*S) / ((n_g + m - 1)*N), emitted half-up micro.
    # Group stats come from a groupBy + broadcast join back — no
    # per-group windows.
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    g = rows.groupBy("p_brand").agg(
        F.sum("y").alias("sg"), F.count("*").alias("ng")
    )
    tot = rows.agg(F.sum("y").alias("st"), F.count("*").alias("nt"))
    return (
        rows.join(F.broadcast(g), "p_brand")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_brand",
            "y",
            F.expr(
                "(2 * ((sg - y) * nt + 10 * st) * 1000000"
                " + (ng + 9) * nt) div (2 * (ng + 9) * nt)"
            ).alias("enc_micro"),
        )
    )


def q_logistic_calibration(spark, sf_dir):
    # Newton-fitted logistic regression (r9): p(is_en | length) =
    # sigmoid(w0 + w1*(n_chars - 300)), 4 IRLS rounds — the first
    # gradient-TRAINED convex model in the repo (kmeans/PQ are
    # assignment loops). Exactness: each round's per-row sigmoid and
    # variance are micro-snapped BEFORE the five sufficient sums
    # (partition-order-exact BIGINTs), and the 2x2 Newton solve runs
    # over those integers with the identical IEEE expression tree on
    # the driver (python floats) and in the oracle's unrolled CTEs —
    # every w_k is the same double on both engines. The collect per
    # round is a bounded model fetch (one 5-integer row), the kmeans
    # discipline.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            (F.col("n_chars") - 300).cast("long").alias("zi"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .localCheckpoint()
    )
    w0, w1 = 0.0, 0.0
    for _ in range(_LOGIT_ROUNDS):
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.lit(w0) + F.lit(w1) * F.col("zi").cast("double")))
        )
        pm = F.round(p * F.lit(1000000.0), 0).cast("long")
        wm = F.round(p * (F.lit(1.0) - p) * F.lit(1000000.0), 0).cast("long")
        r = docs.agg(
            F.sum(F.col("y") * 1000000 - pm).alias("g0"),
            F.sum(F.col("zi") * (F.col("y") * 1000000 - pm)).alias("g1"),
            F.sum(wm).alias("h00"),
            F.sum(F.col("zi") * wm).alias("h01"),
            F.sum(F.col("zi") * F.col("zi") * wm).alias("h11"),
        ).collect()[0]
        det = float(r["h00"]) * float(r["h11"]) - float(r["h01"]) * float(
            r["h01"]
        )
        w0 = w0 + (
            float(r["h11"]) * float(r["g0"]) - float(r["h01"]) * float(r["g1"])
        ) / det
        w1 = w1 + (
            float(r["h00"]) * float(r["g1"]) - float(r["h01"]) * float(r["g0"])
        ) / det
    return docs.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("pos"),
        F.lit(w0).alias("w0"),
        F.lit(w1).alias("w1"),
    )


def q_rolling_beta(spark, sf_dir):
    # 7-day rolling OLS slope of daily order revenue vs time (r12):
    # the local-trend readout between theil_sen_trend (one global
    # robust slope) and holt_linear (recursive state) — a windowed
    # regression whose sufficient stats ride ONE frame-bounded window
    # pass. n is pinned at 7 by the dense day grid (missing days
    # contribute 0 revenue), so the slope is the usual identical-
    # operand IEEE chain over exact BIGINT window sums. The calendar
    # frame is day-count-sized; the single unpartitioned window runs
    # over ~2.5k rows regardless of order volume.
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(F.min("o_orderdate").alias("d0"),
                   F.max("o_orderdate").alias("d1"))
    daily = (
        o.crossJoin(F.broadcast(bounds))
        .groupBy((F.datediff("o_orderdate", "d0") + 1).alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    span = bounds.select((F.datediff("d1", "d0") + 1).alias("n_days"))
    dense = (
        span.select(F.explode(F.expr("sequence(1, n_days)")).alias("day"))
        .join(daily, "day", "left")
        .select(
            F.col("day").cast("long").alias("day"),
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    s = (
        dense.withColumn("n", F.count("*").over(w7))
        .withColumn("sx", F.sum("day").over(w7))
        .withColumn("sy", F.sum("cents").over(w7))
        .withColumn("sxx", F.sum(F.col("day") * F.col("day")).over(w7))
        .withColumn("sxy", F.sum(F.col("day") * F.col("cents")).over(w7))
        .where(F.col("n") == 7)
    )
    return s.select(
        "day",
        "cents",
        F.expr(
            "CAST(7 * sxy - sx * sy AS DOUBLE)"
            " / CAST(7 * sxx - sx * sx AS DOUBLE)"
        ).alias("slope"),
    )


def q_regression_discontinuity(spark, sf_dir):
    # Sharp regression discontinuity (r12): local linear fit on each
    # side of a 150k-dollar order-value cutoff within a +-50k band,
    # outcome = lineitems per order; tau = intercept gap at the cutoff
    # — the causal-inference leg next to diff_in_diff (time) and
    # synthetic_control (units), completing the design trio.
    # Determinism: the running variable is TENS of dollars via
    # non-negative `d div 10 - 15000` (Spark div truncates toward zero,
    # DuckDB // floors — they agree only on non-negative operands, so
    # the shift happens AFTER the division; CLAUDE.md rule). All five
    # sufficient stats per side are exact BIGINTs; slope/intercept/tau
    # are identical-operand IEEE chains (ols_price_model's pattern).
    # Headroom: |x| <= 5000, so n * sxx <= n^2 * 2.5e7 needs n < 1.9e7
    # band orders — fine past sf1; beyond that, hundreds units.
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(round(o_totalprice) AS BIGINT) div 10 - 15000"
        ).alias("xt"),
    )
    y = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("y"))
    )
    j = o.join(y, o.o_orderkey == y.l_orderkey).where(
        F.abs(F.col("xt")) <= 5000
    )
    right = F.col("xt") >= 0

    def side_aggs(cond, tag):
        return [
            F.sum(cond.cast("long")).alias(f"n_{tag}"),
            F.sum(F.when(cond, F.col("xt")).otherwise(0)).alias(f"sx_{tag}"),
            F.sum(F.when(cond, F.col("y")).otherwise(0)).alias(f"sy_{tag}"),
            F.sum(
                F.when(cond, F.col("xt") * F.col("xt")).otherwise(0)
            ).alias(f"sxx_{tag}"),
            F.sum(
                F.when(cond, F.col("xt") * F.col("y")).otherwise(0)
            ).alias(f"sxy_{tag}"),
        ]

    g = j.agg(*side_aggs(~right, "l"), *side_aggs(right, "r"))

    def fit(tag):
        b = (
            f"CAST(n_{tag} * sxy_{tag} - sx_{tag} * sy_{tag} AS DOUBLE)"
            f" / CAST(n_{tag} * sxx_{tag} - sx_{tag} * sx_{tag} AS DOUBLE)"
        )
        a = (
            f"(CAST(sy_{tag} AS DOUBLE) - {b} * CAST(sx_{tag} AS DOUBLE))"
            f" / CAST(n_{tag} AS DOUBLE)"
        )
        return b, a

    bl, al = fit("l")
    br, ar = fit("r")
    return g.select(
        F.col("n_l").cast("long").alias("n_left"),
        F.col("n_r").cast("long").alias("n_right"),
        F.expr(bl).alias("slope_left"),
        F.expr(br).alias("slope_right"),
        F.expr(al).alias("icept_left"),
        F.expr(ar).alias("icept_right"),
    ).select(
        "*",
        (F.col("icept_right") - F.col("icept_left")).alias("tau"),
    )


def q_ols_price_model(spark, sf_dir):
    # Per-brand ordinary least squares (r9): price-vs-quantity fit from
    # the five INTEGER sufficient statistics (n, Sx, Sy, Sxx, Sxy in
    # cents) — the closed-form GLM next to theil_sen_trend's robust
    # slope. slope/intercept/r2 are chains of exactly-specified IEEE
    # ops over identical integer operands, hence bit-identical
    # cross-engine with no rounding (the repo's single-division rule,
    # extended: every intermediate double is identical, so composites
    # are too). y is whole DOLLARS, not cents: n * Syy must clear 2^63
    # (the events_autocorr milli-not-micro precedent) — dollars give
    # ~500x headroom past sf0.1.
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.round("l_quantity", 0).cast("long").alias("x"),
        F.round("l_extendedprice", 0).cast("long").alias("y"),
    )
    g = j.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return g.select(
        "p_brand",
        "n",
        "sx",
        "sy",
        "sxy",
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE)"
        ).alias("slope"),
        F.expr(
            "(CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " / CAST(n AS DOUBLE)"
        ).alias("intercept"),
        F.expr(
            "(CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE))"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE))"
        ).alias("r2"),
    )


def q_kfold_cv(spark, sf_dir):
    # 5-fold cross-validated OLS (r10): the model-eval primitive the
    # training-pipeline family was missing — md5 folds (the group_split
    # discipline), each fold's model fitted on the COMPLEMENT via
    # subtraction of integer sufficient statistics (fold sums computed
    # once, one combinable shuffle — never 5 passes), slope/intercept
    # as identical-operand IEEE chains (ols_price_model), and the test
    # SSE made order-exact by FLOOR-snapping each prediction to whole
    # dollars before the integer residual square. Each stat is cast to
    # DOUBLE individually before the cross products: with 4/5 of the
    # corpus in every complement, n*sxy overflows int64 where the
    # per-brand OLS never could. Fully distributed — no driver loop.
    li = load_table(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.expr(
            "CAST(conv(substr(md5(concat('kf|',"
            " CAST(l_orderkey AS STRING), '|',"
            " CAST(l_linenumber AS STRING))), 1, 4), 16, 10) AS BIGINT)"
            " % 5"
        ).alias("fold"),
        F.round("l_quantity", 0).cast("long").alias("x"),
        F.round("l_extendedprice", 0).cast("long").alias("y"),
    ).localCheckpoint()  # feeds the stats pass and the scoring pass
    fs = rows_.groupBy("fold").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = rows_.agg(
        F.count("*").alias("tn"),
        F.sum("x").alias("tsx"),
        F.sum("y").alias("tsy"),
        F.sum(F.col("x") * F.col("x")).alias("tsxx"),
        F.sum(F.col("x") * F.col("y")).alias("tsxy"),
    )
    num = (
        "(CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)"
        " - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))"
    )
    den = (
        "(CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)"
        " - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE))"
    )
    mdl = fs.crossJoin(F.broadcast(tot)).select(
        "fold",
        F.expr(f"{num} / {den}").alias("slope"),
        F.expr(
            f"(CAST(tsy - sy AS DOUBLE) - {num} / {den}"
            " * CAST(tsx - sx AS DOUBLE)) / CAST(tn - n AS DOUBLE)"
        ).alias("intercept"),
    )
    return (
        rows_.join(F.broadcast(mdl), "fold")
        .withColumn(
            "r",
            F.expr(
                "y - CAST(floor(intercept + slope * CAST(x AS DOUBLE))"
                " AS BIGINT)"
            ),
        )
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_test"),
            F.max("slope").alias("slope"),
            F.max("intercept").alias("intercept"),
            F.sum(F.col("r") * F.col("r")).alias("sse_test"),
        )
    )


def q_quantile_treatment_effect(spark, sf_dir):
    # Quantile treatment effects (r11): WHERE in the outcome
    # distribution does the treatment act — the distributional readout
    # ab_test_welch (means) and mannwhitney_test (ranks) cannot give.
    # Deciles of URGENT vs LOW order value as exact TYPE-1 order
    # statistics (value at rank ceil(p*n), 1-based) in integer cents —
    # no interpolation, so no dyadic-ratio rounding hazard
    # (events_resample lesson) and ties need no ordering beyond the
    # value itself. Shape: one (grp, cents) count shuffle, a cumulative
    # window over the VALUE GRID partitioned by group (weighted_median
    # class — never a raw-corpus global window), and a 9-row broadcast
    # band join picking the row whose cumulative range covers each
    # decile rank: rank_k = ceil(k*n/10) = (k*n + 9) div 10.
    o = load_table(spark, sf_dir, "orders")
    src = o.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("grp"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    counts = src.groupBy("grp", "cents").agg(F.count("*").alias("cnt"))
    wcum = Window.partitionBy("grp").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grid = counts.withColumn("cum", F.sum("cnt").over(wcum)).localCheckpoint()
    ns = grid.groupBy("grp").agg(F.max("cum").alias("n"))
    deciles = spark.range(1, 10).select(F.col("id").alias("k"))
    # rename the rank frame's group key: ns derives from grid, so a
    # bare `grp` on both join sides is an ambiguous self-reference
    ranks = ns.crossJoin(F.broadcast(deciles)).select(
        F.col("grp").alias("rgrp"), "k", F.expr("(k * n + 9) div 10").alias("rk")
    )
    picked = grid.join(
        F.broadcast(ranks),
        (F.col("grp") == F.col("rgrp"))
        & (F.col("cum") >= F.col("rk"))
        & (F.col("cum") - F.col("cnt") < F.col("rk")),
    ).select(F.col("rgrp").alias("g"), "k", F.col("cents").alias("q"))
    u = picked.where(F.col("g") == 1).select(
        "k", F.col("q").alias("q_urgent_cents")
    )
    l = picked.where(F.col("g") == 0).select(
        "k", F.col("q").alias("q_low_cents")
    )
    return u.join(l, "k").select(
        F.col("k").cast("long").alias("decile"),
        "q_urgent_cents",
        "q_low_cents",
        (F.col("q_urgent_cents") - F.col("q_low_cents")).alias("qte_cents"),
    )


def q_source_influence(spark, sf_dir):
    # Leave-one-source-out influence (r11): the data-valuation readout
    # a curation pipeline runs before dropping a source — for every
    # document source, fit the token-count -> char-length OLS on ALL
    # OTHER sources (complement subtraction of integer sufficient
    # stats, the kfold_cv idiom: one combinable stats shuffle, never
    # |sources| passes) and score the held-out source's SSE with
    # floor-snapped integer residuals. A source whose rows the
    # rest-of-corpus model predicts badly is distribution-shifted —
    # exactly what LOGO influence measures. sse_per_row_micro makes
    # sources comparable across sizes in exact integers. Fully
    # distributed; no driver loop.
    docs = load_table(spark, sf_dir, "documents")
    rows_ = docs.select(
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("x"),
        F.length("text").cast("long").alias("y"),
    ).localCheckpoint()  # feeds the stats pass and the scoring pass
    fs = rows_.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = rows_.agg(
        F.count("*").alias("tn"),
        F.sum("x").alias("tsx"),
        F.sum("y").alias("tsy"),
        F.sum(F.col("x") * F.col("x")).alias("tsxx"),
        F.sum(F.col("x") * F.col("y")).alias("tsxy"),
    )
    num = (
        "(CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)"
        " - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))"
    )
    den = (
        "(CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)"
        " - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE))"
    )
    mdl = fs.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(f"{num} / {den}").alias("slope"),
        F.expr(
            f"(CAST(tsy - sy AS DOUBLE) - {num} / {den}"
            " * CAST(tsx - sx AS DOUBLE)) / CAST(tn - n AS DOUBLE)"
        ).alias("intercept"),
    )
    return (
        rows_.join(F.broadcast(mdl), "source")
        .withColumn(
            "r",
            F.expr(
                "y - CAST(floor(intercept + slope * CAST(x AS DOUBLE))"
                " AS BIGINT)"
            ),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_test"),
            F.max("slope").alias("slope"),
            F.max("intercept").alias("intercept"),
            F.sum(F.col("r") * F.col("r")).alias("sse_test"),
        )
        .withColumn(
            "sse_per_row_micro",
            F.expr("(sse_test * 1000000) div n_test"),
        )
    )


def q_ucb_replay(spark, sf_dir):
    # Deterministic UCB1 bandit replay (r9): the sequential-decision
    # primitive — replay 30 daily batches, each day choosing the
    # event-type "arm" with the highest UCB1 score over the rewards
    # accumulated SO FAR (reward = that day's exact micro mean value of
    # the chosen arm; unseen arms bootstrap first). The whole episode
    # folds in ONE JVM aggregate HOF over a single collected-struct row
    # (bounded: days x arms cells); the oracle replays it with an
    # INDEPENDENT recursive-CTE formulation — two different engines,
    # two different control-flow encodings, one integer trace.
    e = load_table(spark, sf_dir, "events")
    first = e.agg(F.min(F.to_date("ts")).alias("d0"))
    rewards = (
        e.crossJoin(F.broadcast(first))
        .groupBy(
            (F.datediff(F.to_date("ts"), F.col("d0")) + 1).alias("t"),
            F.col("event_type").alias("a"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sc"),
        )
        .select(
            "t", "a", F.expr("(2 * sc * 10000 + n) div (2 * n)").alias("r")
        )
    )
    one = rewards.agg(
        F.collect_list(F.struct("t", "a", "r")).alias("rw"),
        F.max("t").alias("tmax"),
        F.array_sort(F.collect_set("a")).alias("arms_list"),
    )
    ucb = _ucb_expr("t")
    scored = f"transform(st.arms, x -> struct(x.a AS a, {ucb} AS ucb))"
    pick = (
        f"aggregate({scored},"
        " struct(CAST(NULL AS STRING) AS a,"
        " CAST(-9223372036854775808 AS BIGINT) AS ucb),"
        " (b, x) -> IF(b.a IS NULL OR x.ucb > b.ucb"
        " OR (x.ucb = b.ucb AND x.a < b.a), x, b))"
    )
    r_look = (
        f"coalesce(element_at(filter(rw, y -> y.t = t"
        f" AND y.a = {pick}.a), 1).r, CAST(0 AS BIGINT))"
    )
    step = (
        "struct("
        f"transform(st.arms, x -> IF(x.a = {pick}.a,"
        f" struct(x.a AS a, x.n + 1 AS n, x.s + {r_look} AS s), x)) AS arms,"
        f" concat(st.picks, array(struct(t AS day, {pick}.a AS arm,"
        f" {pick}.ucb AS ucb, {r_look} AS reward))) AS picks)"
    )
    fold = (
        "aggregate(sequence(1, tmax),"
        " struct(transform(arms_list, a -> struct(a AS a,"
        " CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS s)) AS arms,"
        " CAST(array() AS ARRAY<STRUCT<day: INT, arm: STRING,"
        " ucb: BIGINT, reward: BIGINT>>) AS picks),"
        f" (st, t) -> {step},"
        " st -> st.picks)"
    )
    return (
        one.select(F.explode(F.expr(fold)).alias("p"))
        .select(
            F.col("p.day").cast("long").alias("day"),
            F.col("p.arm").alias("arm"),
            F.expr(
                f"CASE WHEN p.ucb = CAST({_UCB_MAXL} AS BIGINT)"
                " THEN CAST(NULL AS BIGINT) ELSE p.ucb END"
            ).alias("ucb_micro"),
            F.col("p.reward").alias("reward_micro"),
        )
    )


def q_corpus_policy(spark, sf_dir):
    # Per-document keep/drop POLICY verdicts (r9): the filter stage a
    # pretraining pipeline actually ships — ordered rules (language ->
    # length -> PII -> quality) with the FIRST failing rule as the
    # reason code, composing lang truth, quality_score, and the staged
    # PII scan over planted spans. Reason-coded drops are what a
    # curation dashboard audits; corpus_curation gives the post-filter
    # census, this gives the row-level why.
    from graph_database_spark.operators import pii

    docs = load_table(spark, sf_dir, "documents")
    q = T.quality_score(docs).select("doc_id", "n_tokens", "quality")
    p = pii.pii_scan(pii.plant_pii(docs)).select("doc_id", "has_pii")
    j = docs.select("doc_id", "lang").join(q, "doc_id").join(p, "doc_id")
    return j.select(
        "doc_id",
        "lang",
        "n_tokens",
        "has_pii",
        "quality",
        F.when(F.col("lang") != "en", F.lit("drop:lang"))
        .when(F.col("n_tokens") < 20, F.lit("drop:short"))
        .when(F.col("has_pii") == 1, F.lit("drop:pii"))
        .when(F.col("quality") < 0.5, F.lit("drop:quality"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


def q_soundex_blocks(spark, sf_dir):
    # American Soundex phonetic keys (r9): the classic linkage BLOCKING
    # code over head nouns — the third linkage leg (edit distance,
    # Jaro-Winkler, phonetic). Exact standard semantics incl. the h/w
    # transparency rule, as one JVM aggregate fold vs a recursive-CTE
    # replay (operators/linkage.with_soundex).
    from graph_database_spark.operators.linkage import with_soundex

    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("blk", F.element_at(F.split("p_name", " "), -1))
    )
    return with_soundex(names, "blk")


def q_quantile_normalize(spark, sf_dir):
    # Cross-source quantile normalization (r9): map every document's
    # length onto the POOLED length distribution at its within-source
    # quantile — the batch-effect correction a multi-source corpus mix
    # needs before thresholding on raw lengths. Distributed: ONE
    # global_rank over (source, value, id) gives within-source ranks
    # after subtracting per-source offsets (min-rank groupBy), a second
    # global_rank indexes the pooled distribution, and the lookup index
    # ceil(r * N / n_s) is exact integer arithmetic. No per-source
    # unpartitioned windows anywhere.
    from graph_database_spark.operators.rank import global_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ranked = global_rank(docs, ["source", "n_chars", "doc_id"], out_col="r")
    offs = ranked.groupBy("source").agg(
        (F.min("r") - 1).alias("off"), F.count("*").alias("n_s")
    )
    pooled = global_rank(docs, ["n_chars", "doc_id"], out_col="idx").select(
        F.col("idx"), F.col("n_chars").alias("norm_chars")
    )
    total = docs.agg(F.count("*").alias("nn"))
    keyed = (
        ranked.join(F.broadcast(offs), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr("((r - off) * nn + n_s - 1) div n_s").alias("idx"),
        )
    )
    return keyed.join(pooled, "idx").select(
        "doc_id", "source", "n_chars", "norm_chars"
    )


def q_diff_in_diff(spark, sf_dir):
    # Difference-in-differences (r9): md5 arms x before/after the exact
    # corpus time midpoint — the causal 2x2 next to ab_test_welch.
    # Per-user purchase cents per period, each cell mean snapped to
    # half-up micro-cents, DiD = (m11-m10) - (m01-m00) in pure BIGINTs.
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    pu = (
        e.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (F.unix_micros("ts") >= F.expr("(lo + hi) div 2"))
            .cast("long")
            .alias("period"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("user_id", "period")
        .agg(F.sum("cents").alias("cents"))
        .select(
            (
                md5_hash60(F.concat(F.lit("ab|"), F.col("user_id").cast("string")))
                % 2
            ).alias("arm"),
            "period",
            "cents",
        )
    )
    g = pu.groupBy("arm", "period").agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    cells = g.agg(
        *[
            F.max(
                F.when(
                    (F.col("arm") == a) & (F.col("period") == p), F.col(c)
                )
            ).alias(f"{c}{a}{p}")
            for a in (0, 1)
            for p in (0, 1)
            for c in ("n", "s")
        ]
    )
    micro = "((2 * s{a}{p} * 1000000 + n{a}{p}) div (2 * n{a}{p}))"
    m = {f"m{a}{p}": micro.format(a=a, p=p) for a in (0, 1) for p in (0, 1)}
    return cells.select(
        "n00",
        "s00",
        "n01",
        "s01",
        "n10",
        "s10",
        "n11",
        "s11",
        F.expr(
            f"({m['m11']} - {m['m10']}) - ({m['m01']} - {m['m00']})"
        ).alias("did_micro"),
    )


def q_position_attribution(spark, sf_dir):
    # U-shaped multi-touch attribution (r9): each purchase's journey
    # (the events since the user's previous purchase) splits credit
    # 40/20/40 across first / middles / last touch — the position-based
    # model next to purchase_attribution's last-touch. Journeys are
    # delimited with one per-user prefix count of purchases; every
    # per-touch credit is an exact half-up micro-cent integer division,
    # so the rollup is BIGINT-exact on both engines. Touchless
    # purchases credit 'none'.
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = e.withColumn(
        "jny",
        F.coalesce(
            F.sum((F.col("event_type") == "purchase").cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).localCheckpoint()
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "jny", "cents"
    )
    wj = Window.partitionBy("user_id", "jny").orderBy("ts", "event_id")
    wjd = Window.partitionBy("user_id", "jny").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    touches = (
        e.where(F.col("event_type") != "purchase")
        .select(
            "user_id",
            "jny",
            F.col("event_type").alias("channel"),
            F.row_number().over(wj).alias("ra"),
            F.row_number().over(wjd).alias("rd"),
            F.count("*").over(Window.partitionBy("user_id", "jny")).alias("n"),
        )
    )
    credited = touches.join(purchases, ["user_id", "jny"]).select(
        "channel",
        F.expr(
            "CASE"
            " WHEN n = 1 THEN cents * 1000000"
            " WHEN n = 2 THEN (2 * cents * 1000000 + 2) div (2 * 2)"
            " WHEN ra = 1 OR rd = 1 THEN"
            "   (2 * cents * 1000000 * 2 + 5) div (2 * 5)"
            " ELSE (2 * cents * 1000000 + 5 * (n - 2)) div (2 * 5 * (n - 2))"
            " END"
        ).alias("credit"),
    )
    none_credit = (
        purchases.join(
            touches.select("user_id", "jny").distinct(),
            ["user_id", "jny"],
            "left_anti",
        )
        .select(
            F.lit("none").alias("channel"),
            (F.col("cents") * 1000000).alias("credit"),
        )
    )
    return (
        credited.unionByName(none_credit)
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_credits"),
            F.sum("credit").alias("credit_micro_cents"),
        )
    )


def q_events_ohlc(spark, sf_dir):
    # Daily OHLC bars (r9): the financial rollup family's missing
    # member next to TWAP/resample — open/close are (ts, event_id)
    # argmin/argmax reads (no accumulation, so raw doubles are
    # cross-engine exact), high/low plain extrema, one combinable
    # shuffle on the day key. Day-grain truncation CAST in the oracle
    # (CLAUDE.md: DuckDB date_trunc('day') returns DATE).
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_id",
        "ts",
        "value",
    )
    return e.groupBy("day").agg(
        F.min_by("value", F.struct("ts", "event_id")).alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", F.struct("ts", "event_id")).alias("close_v"),
        F.count("*").alias("n_events"),
    )


def q_maximal_matching(spark, sf_dir):
    # Maximal matching (r9): Israeli-Itai-style deterministic rounds —
    # the edge twin of graph_mis; the "merge disjoint pairs in parallel
    # waves" schedule entity consolidation needs. Unrolled-round oracle
    # replays the md5 priorities byte-for-byte
    # (operators/matching.py, _build_matching_sql).
    from graph_database_spark.operators.matching import greedy_matching

    return greedy_matching(_edges(spark, sf_dir))


def q_dp_order_stats(spark, sf_dir):
    # eps-DP release (r9): per-priority order counts and clipped spend
    # sums with deterministic md5-keyed Laplace noise
    # (operators/privacy.py) — count sensitivity 1, sum clipped to
    # $50,000 (sensitivity = the clip). Joined on the group key; only
    # NOISED values leave the operator. Hash-verified: the inverse-CDF
    # ln lands in micro-units, everything else is integer.
    from graph_database_spark.operators.privacy import dp_count, dp_sum_cents

    o = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    keys = ["o_orderpriority"]
    return dp_count(o, keys, epsilon=1.0).join(
        dp_sum_cents(o, keys, "cents", clip_cents=5_000_000, epsilon=1.0), keys
    )


def q_audience_overlap(spark, sf_dir):
    # HLL set algebra (r9): estimated shared-user counts between every
    # pair of event-type audiences from ONE pass of register state —
    # register-wise max IS the union's registers, inclusion-exclusion
    # gives the intersection. The read path sketches exist to serve
    # (segment overlap), answered without rescanning users per pair.
    from graph_database_spark.operators.sketches import hll_overlap

    e = load_table(spark, sf_dir, "events")
    return hll_overlap(e, "event_type", "user_id")


def q_shipping_priority(spark, sf_dir):
    # TPC-H Q3 analog: 3-way fact/fact/dim join, top-10 open orders by
    # shipped revenue. Scale posture: both filters reach the parquet
    # scans (pushdown), the customer side is segment-pruned before the
    # join, and no explicit broadcast — AQE converts the post-filter
    # sides at runtime when they fit, which is the right call at 100 TB
    # where customer is NOT a broadcastable dimension.
    _utc(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    return (
        li.where(F.col("l_shipdate") > cutoff)
        .join(o.where(F.col("o_orderdate") < cutoff), li.l_orderkey == o.o_orderkey)
        .join(
            c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey"),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q_local_supplier_volume(spark, sf_dir):
    # TPC-H Q5 analog: 6-way join (region/nation broadcast — the only
    # true bounded dimensions; supplier joins by shuffle and AQE
    # right-sizes it), revenue where the supplier is in the customer's
    # nation, one region, one year.
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    sn = s.join(F.broadcast(nr), s.s_nationkey == nr.n_nationkey).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(sn, li.l_suppkey == sn.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def q_returned_items(spark, sf_dir):
    # TPC-H Q10 analog: top-20 customers by lost revenue on returned
    # lineitems in one quarter; nation broadcast, unique-key tiebreak on
    # the ranking per the catalog's determinism rules.
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_rollup_customers(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_custs"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_custs",
        )
    )


def q_customers_without_orders(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_customers_intersect_eventusers(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    u = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("c_custkey"))
    return c.intersect(u)


def q_customers_minus_eventusers(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    u = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("c_custkey"))
    return c.subtract(u)


def q_cube_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube(F.year("o_orderdate").alias("yr"), "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("yr", F.lit(-1)).alias("yr"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


def q_events_asof_order(spark, sf_dir):
    # As-of join: every event sees the user's latest order state at event
    # time. Orders deduped to one row per (customer, orderdate) so the
    # carried payload is unambiguous on both engines.
    _utc(spark)
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    return TP.asof_join(
        e, o, on="user_id", left_ts="ts", right_ts="o_orderdate",
        payload=["o_orderkey"],
    ).select("event_id", "user_id", "ts", F.col("o_orderkey").alias("last_orderkey"))


def q_order_events_7d(spark, sf_dir):
    # Keyed range join: events of the ordering user within 7 days of the
    # order date.
    _utc(spark)
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    return TP.range_count(
        o, e, on="user_id", left_ts="o_orderdate", right_ts="ts",
        horizon_seconds=7 * 86400, count_alias="n_events_7d",
    )


def q_value_histogram(spark, sf_dir):
    # Equal-width histogram of event values (bucket = floor(value/10));
    # plain floor arithmetic rather than width_bucket so the bucketing is
    # expressible identically on any ANSI engine.
    e = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10).cast("bigint")
    return (
        e.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


def q_order_rank_stats(spark, sf_dir):
    # Ranking-function coverage beyond row_number: ntile quartiles and
    # percent_rank over order value within each priority class.
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def q_top_tokens_per_lang(spark, sf_dir):
    # X5 depth: corpus token frequencies — explode-then-aggregate, the
    # canonical vocabulary-building shape; top-k per group with a
    # deterministic (count desc, token asc) tiebreak.
    from graph_database_spark.functions.textnorm import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("lang", "token", "cnt", "rank")
    )


def q_distinct_users_sketch(spark, sf_dir):
    # KMV bottom-k distinct users per event type at the default k=256:
    # every kept hash is md5_hash60, so DuckDB reproduces the sketch and
    # the estimate (_build_kmv_sql). At sf0.01 each type has 150 < 256
    # distinct users, so this certifies the exact fallback there and the
    # sketch path from sf0.1 up; accuracy (<15% err) is pinned by
    # tests/test_sketches_and_sinks.py.
    from graph_database_spark.operators.sketches import distinct_count_kmv

    out = distinct_count_kmv(
        load_table(spark, sf_dir, "events"), "user_id", group_by="event_type"
    )
    return out.select("event_type", F.round("est_distinct", 4).alias("est_distinct"))


def q_distinct_users_kmv(spark, sf_dir):
    # distinct_users_sketch at k=64 < the 150 distinct users per type at
    # sf0.01, so the sketch path (not the exact fallback) is what the
    # hash match certifies at every scale. FP order matches the oracle:
    # frac = kth/2^60 first, then (k-1)/frac.
    from graph_database_spark.operators.sketches import distinct_count_kmv

    out = distinct_count_kmv(
        load_table(spark, sf_dir, "events"), "user_id", group_by="event_type", k=64
    )
    return out.select("event_type", F.round("est_distinct", 4).alias("est_distinct"))


def q_user_event_types(spark, sf_dir):
    # A4 (collect(...) list aggregation, src/main.js:109 analog): the
    # distinct event types per user, sorted for set-semantics stability
    # and serialized '|'-joined — the driver's canonicalizer hashes rows
    # through a pandas sort, which cannot hash ARRAY cells (r2 FAIL).
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws("|", F.array_sort(F.collect_set("event_type"))).alias("event_types"),
        F.count("*").alias("n_events"),
    )


def q_order_price_quantiles(spark, sf_dir):
    # Exact interpolated percentiles (not approx sketches — those differ
    # numerically across engines and would break the value hash).
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
        F.count("*").alias("n_orders"),
    )


def q_orders_pivot_year(spark, sf_dir):
    # Pivot = grouped conditional aggregation; fixed year list keeps the
    # output schema static (a dynamic pivot needs a driver-side distinct
    # pass — fine interactively, wrong in a pipeline).
    o = load_table(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    return (
        o.groupBy("o_orderpriority")
        .pivot("yr", [2023, 2024, 2025])
        .agg(F.count(F.lit(1)))  # count(*) is rejected inside a pivot agg
        .select(
            "o_orderpriority",
            F.coalesce("2023", F.lit(0)).alias("y2023"),
            F.coalesce("2024", F.lit(0)).alias("y2024"),
            F.coalesce("2025", F.lit(0)).alias("y2025"),
        )
    )


def q_dedup_editdist_verify(spark, sf_dir):
    """X2 verify tier: exact Levenshtein distance over candidate pairs
    that share a coarse prefix fingerprint (md5 of the first 10 tokens) —
    the character-level confirmation step after hash-based candidate
    generation. The full-normalized-text key used in r2 was vacuous at
    sf0.01 (0 pairs: no two docs shared a fingerprint while differing in
    raw text — VERDICT r2 §wrong 4); the prefix key yields real pairs
    with nonzero edit distance (25 at sf0.01), so the hash check now
    certifies the Levenshtein path. Pair space stays bounded by prefix
    group sizes, never the corpus."""
    from graph_database_spark.functions.textnorm import tokens
    from graph_database_spark.operators.spread import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    fp = docs.select(
        F.col("doc_id"), F.col("text"),
        F.md5(F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 10))).alias("fp"),
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.text"), F.col("b.text")).alias("edit_dist"),
        )
    )


def q_events_running_value(spark, sf_dir):
    # Window-frame coverage: running total + trailing 3-row average per
    # user — one shuffle on user_id for both frames.
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trailing = w.rowsBetween(-2, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(running), 4).alias("running_value"),
        F.round(F.avg("value").over(trailing), 4).alias("avg_value_3"),
    )


def q_embedding_dedup_groups(spark, sf_dir):
    """Near-dup pairs -> transitive dedup groups: connected components
    (hash-min iteration) over the exact cosine pair graph. The iterative
    operator is hash-verified against a DuckDB recursive-CTE reachability
    oracle — components, not just pairs, are what a dedup job keeps."""
    from graph_database_spark.operators.components import dedup_groups

    pairs = S.cosine_pairs_above(load_table(spark, sf_dir, "embeddings"), threshold=0.35)
    return dedup_groups(pairs).select(
        "id", "keep_id", F.col("is_keeper").cast("int").alias("is_keeper")
    )


def q_corpus_curation(spark, sf_dir):
    """The training-data curation pipeline end-to-end: near-dup removal
    (normalized fingerprint, keep lowest id) -> quality filter -> per
    (lang, source) document counts and token budgets. Composes X1 + X5
    into the one query a data-curation job actually runs."""
    docs = load_table(spark, sf_dir, "documents")
    kept = D.normalized_dedup(docs).select("doc_id")
    q = T.quality_score(docs).select("doc_id", "quality")
    t = T.token_stats(docs).select("doc_id", "n_tokens")
    return (
        docs.join(kept, "doc_id", "left_semi")
        .join(q, "doc_id")
        .join(t, "doc_id")
        .where(F.col("quality") >= 0.5)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


def q_docs_hash_sample(spark, sf_dir):
    # Deterministic md5-prefix sampling (engine-portable, retry-stable —
    # df.sample()'s RNG is neither). Narrow filter, no shuffle.
    from graph_database_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, 0.1).select("doc_id", "lang", "source")


def q_corpus_mixture(spark, sf_dir):
    # Mixture weighting: cap every (lang, source) stratum at 15 docs,
    # drawn in deterministic hash order — the corpus-rebalancing
    # primitive of a training-data pipeline.
    from graph_database_spark.operators.sampling import stratified_cap

    docs = load_table(spark, sf_dir, "documents")
    return stratified_cap(docs, ["lang", "source"], cap=15).select(
        "doc_id", "lang", "source"
    )


def q_token_packing(spark, sf_dir):
    # Shard packing: assign docs to 2048-token chunks per lang by running
    # token offset (greedy sequential fill in doc_id order).
    from graph_database_spark.operators.sampling import token_chunks

    docs = load_table(spark, sf_dir, "documents")
    stats = T.token_stats(docs).select("doc_id", "n_tokens")
    d = docs.select("doc_id", "lang").join(stats, "doc_id")
    return token_chunks(d, budget=2048).select("doc_id", "lang", "n_tokens", "chunk_id")


def q_ann_ivf_md5(spark, sf_dir):
    # ann_ivf with its configuration spelled out (16 centroids, 4 probed
    # cells), kept under its own name because queries() lists it; the
    # md5-ordered draw + integer micro-unit cells are the only IVF family.
    from graph_database_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return ivf_topk(queries, emb, k=10, n_centroids=16, n_probe=4)


def q_ivf_recall_audit(spark, sf_dir):
    # IVF twin of ann_recall_audit (r12): recall@10 of the md5 IVF
    # probe (16 centroids, 4 probed cells) vs exact brute force on the
    # same query sample — the two audits together price the LSH-vs-IVF
    # tradeoff on live data instead of folklore.
    from graph_database_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    true_tk = S.brute_force_topk(queries, emb, k=10).select(
        "query_id", "cand_id"
    )
    appr = ivf_topk(
        queries, emb, k=10, n_centroids=16, n_probe=4
    ).select("query_id", "cand_id")
    t = true_tk.groupBy("query_id").agg(F.count("*").alias("n_true"))
    a = appr.groupBy("query_id").agg(F.count("*").alias("n_approx"))
    h = (
        true_tk.join(appr, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        t.join(a, "query_id", "left")
        .join(h, "query_id", "left")
        .select(
            "query_id",
            F.col("n_true").cast("long").alias("n_true"),
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.expr("(coalesce(n_hit, 0) * 1000000) div n_true")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


def q_ivfpq_recall_audit(spark, sf_dir):
    # Completes the audit trio (ann/ivf/ivfpq): recall@10 of the IVF-PQ
    # ADC search vs EXACT L2 brute force on the same query sample — the
    # truth leg uses micro-int squared distances, so unlike the cosine
    # audits its ordering is partition-order-exact by construction.
    # Prices what the byte-code compression costs on live data (ADC
    # quantization + cell pruning vs the 0.35 IVF ceiling this corpus
    # allows — test_ivf.py's documented clusterless regime).
    from graph_database_spark.operators.pq import ivfpq_topk_md5

    emb = load_table(spark, sf_dir, "embeddings")
    xm = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1_000_000.0, 0).cast("long"),
        ).alias("xa"),
    ).localCheckpoint()
    q = xm.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("xa").alias("qa")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("qa"), F.col("xa"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    true_tk = (
        q.crossJoin(xm.select(F.col("vec_id").alias("cand_id"), "xa"))
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select("query_id", "cand_id")
    )
    appr = ivfpq_topk_md5(emb).select("query_id", "cand_id")
    t = true_tk.groupBy("query_id").agg(F.count("*").alias("n_true"))
    a = appr.groupBy("query_id").agg(F.count("*").alias("n_approx"))
    h = (
        true_tk.join(appr, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        t.join(a, "query_id", "left")
        .join(h, "query_id", "left")
        .select(
            "query_id",
            F.col("n_true").cast("long").alias("n_true"),
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.expr("(coalesce(n_hit, 0) * 1000000) div n_true")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


def q_ann_ivfpq_refined(spark, sf_dir):
    # ADC-then-exact refine (r14, the FAISS IndexRefineFlat serving
    # pattern): the IVF-PQ ADC search produces a top-30 shortlist from
    # byte codes alone, then ONLY those |Q| x 30 candidates have their
    # raw vectors touched for an exact micro-int L2 rerank to top-10.
    # At 100 TB this is the standard recall-recovery step: the corpus
    # is still scanned compressed; the refine join is bounded by the
    # shortlist size, not the corpus. Measured at sf0.01: lifts
    # recall@10 from 0.46 (ADC order) to the 0.50 probe-set ceiling.
    # src/main.js: none (beyond-reference LLM-pipeline surface).
    from graph_database_spark.operators.pq import ivfpq_topk_md5

    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = ivfpq_topk_md5(emb, k=30).select("query_id", "cand_id")
    xm = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1_000_000.0, 0).cast("long"),
        ).alias("xa"),
    ).localCheckpoint()
    d2 = F.aggregate(
        F.zip_with(
            F.col("qa"), F.col("xa"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    return (
        shortlist.join(
            xm.select(
                F.col("vec_id").alias("query_id"), F.col("xa").alias("qa")
            ),
            "query_id",
        )
        .join(xm.select(F.col("vec_id").alias("cand_id"), "xa"), "cand_id")
        .select("query_id", "cand_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            "cand_id",
            F.col("d2").cast("long").alias("d2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def q_grouping_sets_revenue(spark, sf_dir):
    # Arbitrary GROUPING SETS (r12): (nation, segment), (segment), ()
    # — deliberately NOT a cube or rollup (it skips the (nation)
    # level), exercising the one multi-level aggregation shape
    # cube_orders/rollup_customers can't express. Grouped-out levels
    # read 'ALL' via coalesce so the hash is engine-stable without
    # grouping_id bit-order assumptions.
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("gs_o")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("gs_c")
    return spark.sql(
        """
        SELECT coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nation,
               coalesce(c_mktsegment, 'ALL') AS segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM gs_o JOIN gs_c ON c_custkey = o_custkey
        GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment),
                                (c_mktsegment), ())
        """
    )


def q_ann_ivf(spark, sf_dir):
    # IVF-cell ANN (data-adaptive counterpart of ann_lsh) at the default
    # 16 centroids / 4 probes, hash-verified by the same oracle as
    # ann_ivf_md5; recall floor vs brute force pinned by tests/test_ivf.py.
    from graph_database_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return ivf_topk(queries, emb, k=10)


def q_semdedup(spark, sf_dir):
    # SemDeDup (arXiv:2303.09540): cluster-then-pairwise-cosine semantic
    # dedup — the embedding-space dedup the hash/shingle family cannot
    # express. Hash-verified end-to-end: md5-ordered centroid draw +
    # unit micro-unit vectors make cell assignment and the pairwise
    # cosine INTEGER dot products (operators/semdedup.py docstring).
    from graph_database_spark.operators.semdedup import semdedup_md5

    return semdedup_md5(load_table(spark, sf_dir, "embeddings"))


def q_sssp_weighted(spark, sf_dir):
    # Weighted multi-source Bellman-Ford over tie-strength costs
    # (1e6 div weight, BIGINT end-to-end) — exactly 12 synchronous
    # rounds on both engines (operators/sssp.py round-budget contract).
    from graph_database_spark.operators.sssp import sssp_weighted
    from graph_database_spark.plans.copurchase import copurchase_edges_weighted

    return sssp_weighted(copurchase_edges_weighted(spark, sf_dir))


def q_label_propagation(spark, sf_dir):
    # Hash-verified: deterministic-tie-break LPA is an exact fixed-round
    # recurrence over integers, so a DuckDB recursive CTE running the
    # same 10 synchronous rounds reproduces it bit-for-bit (early Spark
    # convergence is safe: a converged state is stable under further
    # rounds, and an oscillating one is returned at round 10 on both
    # sides). Semantics also pinned by tests/test_graph_analytics.py.
    from graph_database_spark.operators.labelprop import label_propagation

    return label_propagation(copurchase_edges(spark, sf_dir))


def q_media_metadata(spark, sf_dir):
    return MM.media_metadata(load_table(spark, sf_dir, "documents"))


def q_media_frames(spark, sf_dir):
    # Frame sampling over the binary media column (every 4th 64-byte
    # chunk — the video-frame-stride shape), hash-verified: frames are
    # decoded back to UTF-8 for the oracle compare (the corpus is pure
    # ASCII, so byte offsets == char offsets on both engines).
    m = MM.attach_media(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_sample(m, frame_bytes=64, every_n=4)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.decode("frame", "UTF-8").alias("frame"),
    )


def q_multimodal_features(spark, sf_dir):
    # Hash-verified: the Arrow/mapInPandas feature path (deterministic
    # byte featurizer standing in for the codec) vs a pure-SQL byte
    # histogram — the strongest possible check on the Python/Arrow
    # plumbing. The ARRAY<FLOAT> vector is exploded to (feature_idx,
    # value) rows in this wrapper — the driver's canonicalizer cannot
    # hash array cells (r2 FAIL); the array-valued operator stays for
    # library use.
    feats = MM.extract_features(MM.attach_media(load_table(spark, sf_dir, "documents")))
    return feats.select(
        "media_id", "n_bytes", F.posexplode("features").alias("feature_idx", "value")
    )


# ---------------------------------------------------------------------------
# OLAP analogs round 3: correlated/scalar subqueries, having-in,
# anti-join + scalar threshold, conditional agg, max-over-aggregate
# ---------------------------------------------------------------------------


def q_volume_shipping(spark, sf_dir):
    # TPC-H Q7 analog: nation-pair trade volume by ship year between two
    # named nations. Five-way join; nation is the only broadcast (true
    # bounded dimension); the supplier/customer sides shuffle and AQE
    # right-sizes them. Disjunctive nation-pair predicate applied after
    # the dimension joins (it needs both endpoints).
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("sk"))
        .join(n2, F.col("c_nationkey") == F.col("ck"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("yr"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


def q_promo_revenue(spark, sf_dir):
    # TPC-H Q14 analog: promo share of revenue for one quarter —
    # conditional aggregation (sum-of-case). Both filters push to the
    # scans; part joins by shuffle (not a bounded dim at 100 TB). The
    # division is a single IEEE op over two rounded sums; round(.., 6)
    # of the ratio keeps it portable.
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_pct")
        )
    )


def q_top_supplier(spark, sf_dir):
    # TPC-H Q15 analog: supplier(s) with the maximum quarterly revenue —
    # aggregate, then equality against the global max (broadcast of a
    # 1-row frame, the scalar-subquery plan shape). Revenue is rounded
    # BEFORE the max comparison so the equality is engine-portable.
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(s, "s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_small_qty_revenue(spark, sf_dir):
    # TPC-H Q17 analog: revenue from lineitems under half the part's
    # average quantity, one brand — the correlated-scalar-subquery
    # pattern decorrelated into an aggregate + equi-join (what Catalyst
    # does to the SQL form; written directly as the join). The per-part
    # threshold is avg of small exact ints — portable without rounding.
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#13")
    thresholds = li.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("threshold")
    )
    return (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(thresholds, "l_partkey")
        .where(F.col("l_quantity") < F.col("threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


def q_large_volume_customers(spark, sf_dir):
    # TPC-H Q18 analog: orders whose total quantity exceeds 320 —
    # group-HAVING feeding a semi-structured join back to orders and
    # customers. sum(l_quantity) is a sum of small exact ints (exact in
    # FP), so the HAVING threshold is engine-portable unrounded.
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 320)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


def q_idle_rich_customers(spark, sf_dir):
    # TPC-H Q22 analog: customers with above-average (positive) balance
    # and no event activity, grouped by nation — scalar subquery
    # (broadcast 1-row aggregate) + anti-join + group. The avg threshold
    # is a float compared against 2-decimal balances; no balance sits
    # within float error of it, so the predicate is portable.
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")
    avgbal = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    rich = c.crossJoin(F.broadcast(avgbal)).where(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(
        ev.select(F.col("user_id").alias("c_custkey")).distinct(), "c_custkey", "left_anti"
    )
    return (
        idle.join(F.broadcast(n), idle.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


def q_priority_waiting_orders(spark, sf_dir):
    # TPC-H Q4 analog: orders with at least one lineitem shipped > 60
    # days after the order date, counted per priority. The EXISTS is a
    # left-semi join whose equi-key (orderkey) carries the shuffle; the
    # date inequality rides along as a post-probe filter, so no theta
    # join materializes. At 100 TB both sides co-partition on orderkey.
    _utc(spark)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    slow = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return slow.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q_priority_line_counts(spark, sf_dir):
    # TPC-H Q12 analog: per returnflag, how many 1995-shipped lines
    # belong to high- vs low-priority orders — conditional aggregation
    # (count-if) after an orderkey equi-join; the shipdate range reaches
    # the parquet scan as a pushed filter.
    _utc(spark)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


def q_customer_distribution(spark, sf_dir):
    # TPC-H Q13 analog: distribution of customers by order count,
    # keeping zero-order customers via a left outer join with the
    # priority filter INSIDE the join condition (moving it to a WHERE
    # would silently drop the zero bucket). Two keyed shuffles total;
    # the second groupBy collapses to ~tens of rows.
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    counts = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (F.col("o_orderpriority") != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_parts_supplier_counts(spark, sf_dir):
    # TPC-H Q16 analog over the DERIVED part-supplier relation (distinct
    # (partkey, suppkey) pairs from lineitem — the dataset has no
    # partsupp table): suppliers per (brand, size), excluding
    # negative-balance suppliers via anti-join (the NOT IN is null-safe
    # here because s_suppkey is a key). The distinct pre-shrinks the
    # fact table before any join.
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").where(F.col("p_size").isin(1, 5, 9, 13))
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_brand_quantity_revenue(spark, sf_dir):
    # TPC-H Q19 analog: disjunctive multi-predicate join. The OR of
    # brand/size/quantity bands cannot be pushed below the join as a
    # single conjunct, but the shared p_partkey equi-key still carries
    # the join; Catalyst pushes the per-table halves of each disjunct
    # (quantity bounds to lineitem, size bounds to part) as a derived
    # filter, and the residual OR evaluates post-probe.
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    band = lambda brand, smin, smax, qmin, qmax: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(smin, smax)
        & F.col("l_quantity").between(qmin, qmax)
    )
    return (
        j.where(band("Brand#1", 1, 10, 1, 20) | band("Brand#2", 5, 20, 10, 40) | band("Brand#3", 10, 40, 20, 50))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def q_excess_suppliers(spark, sf_dir):
    # Q20 analog (no partsupp table in TESTDATA — lineitem's observed
    # (supp, part) shipments stand in for availability): suppliers that
    # shipped more than half a 'small%' part's 1996 volume. Same shape as
    # TPC-H Q20: name-prefix scan, correlated half-sum threshold, semi-
    # join back to supplier. Quantities are integer-valued doubles, so
    # the sums are order-exact and the 0.5x comparison needs no rounding.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    flt = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            part.filter(F.col("p_name").like("small%")).select(
                F.col("p_partkey").alias("l_partkey")
            ),
            "l_partkey",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .localCheckpoint()
    )
    tot = flt.groupBy("l_partkey").agg(F.sum("qty").alias("total"))
    dom = (
        flt.join(tot, "l_partkey")
        .filter(F.col("qty") > F.lit(0.5) * F.col("total"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return (
        supp.join(dom, "s_suppkey", "semi")
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("s_name", "n_name")
    )


def q_waiting_supplier_rank(spark, sf_dir):
    # TPC-H Q21 analog: suppliers who were the unique last shipper on
    # finalized multi-supplier orders — EXISTS (another supplier on the
    # order: left-semi) + NOT EXISTS (a later shipper from another
    # supplier: left-anti). All three self-join legs share the orderkey
    # equi-key, so at scale this is three co-partitioned probes over the
    # same shuffle layout, not three independent shuffles of lineitem.
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier")
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(l2, (li.l_orderkey == l2.k2) & (li.l_suppkey != l2.s2), "left_semi")
        .join(
            l3,
            (li.l_orderkey == l3.k3)
            & (li.l_suppkey != l3.s3)
            & (l3.d3 > li.l_shipdate),
            "left_anti",
        )
    )
    return (
        base.join(s, base.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Graph + text additions round 3
# ---------------------------------------------------------------------------


def q_triangle_count(spark, sf_dir):
    # Global triangle count over the co-purchase graph — the graph-level
    # summary statistic (per-vertex form: triangle_edges).
    return G.triangle_count(_edges(spark, sf_dir))


def q_rectangle_count(spark, sf_dir):
    # Exact global 4-cycle count (r9): C4 = sum C(codeg, 2) / 2 over
    # diagonal pairs — same hub-salted wedge enumeration as triangles
    # (operators/graph.rectangle_count).
    return G.rectangle_count(_edges(spark, sf_dir))


def q_copurchase_components(spark, sf_dir):
    # Hash-verified connected components on the CO-PURCHASE graph (the
    # embedding variant runs on the cosine pair graph): the same
    # aggregate-messages hash-min fixpoint vs a DuckDB recursive-CTE
    # reachability oracle.
    from graph_database_spark.operators.components import connected_components

    return connected_components(copurchase_edges(spark, sf_dir))


def q_minhash_signatures(spark, sf_dir):
    # Cross-engine MinHash verification: the md5-derived permutations
    # every MinHash operator uses, which DuckDB reproduces bit-for-bit —
    # pins the MinHash math itself.
    return D.minhash_signatures_md5(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash_md5(spark, sf_dir):
    # The same banded-LSH pair builder as dedup_minhash at 4 bands of 4
    # rows (dedup_minhash: 8 of 2) and est >= 0.5 — the configuration
    # dedup_incremental, minhash_calibration and lsh_pair_prf share.
    return D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), bands=4)


def q_dedup_incremental(spark, sf_dir):
    # Append-batch near-dup dedup (r13, VERDICT r12 #7): the corpus
    # (doc_id % 10 != 0) is indexed ONCE via minhash_index_md5 — the
    # persistable artifact a production pipeline writes as bucketed
    # parquet — and the new batch (doc_id % 10 == 0) is signed and
    # probed against it; no corpus signature is recomputed. Decisions
    # per batch doc: distinct corpus near-dups, distinct smaller-id
    # batch near-dups (greedy predecessor rule), kept = both zero. The
    # oracle replays the SAME banding over the union from scratch —
    # hash equality IS the append-equals-rerun contract. Probe cost
    # scales with the batch, not the corpus (SCALE.md r13 row).
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    index = D.minhash_index_md5(corpus)
    return D.incremental_minhash_dedup(index, batch)


def q_tfidf_terms(spark, sf_dir):
    return R.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


# BM25 query terms: mid-frequency vocabulary of the synthetic corpus.
BM25_QUERY = ["spark", "join", "window"]


def q_bm25_search(spark, sf_dir):
    return R.bm25_search(load_table(spark, sf_dir, "documents"), BM25_QUERY)


def q_phrase_search(spark, sf_dir):
    # Positional phrase retrieval (consecutive-term match, 1-based
    # first_pos) for the corpus's top-3 bigram phrases — the positional
    # index capability bm25/tfidf cannot express
    # (operators/retrieval.phrase_search).
    return R.phrase_search(load_table(spark, sf_dir, "documents"))


def q_bpe_pair_counts(spark, sf_dir):
    # Tokenizer induction, step one: corpus-wide adjacent character-pair
    # frequencies within tokens — the argmax of this table is the first
    # BPE merge. Top-30 with (count, pair) total order; one map-side-
    # combinable shuffle over the exploded pairs.
    toks = R._doc_terms(load_table(spark, sf_dir, "documents"))
    pairs = (
        toks.filter(F.length("term") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(term) - 1),"
                    " i -> substring(term, i, 2))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(30)
    )


def q_bigram_logprob(spark, sf_dir):
    return R.bigram_logprob(load_table(spark, sf_dir, "documents"))


def q_unigram_logprob(spark, sf_dir):
    return R.unigram_logprob(load_table(spark, sf_dir, "documents"))


def q_doc_kl_divergence(spark, sf_dir):
    # Distribution-shift quality signal (r9): per-doc KL(doc || corpus)
    # over unigram distributions — separates unusual word CHOICE from
    # unusual word FREQUENCIES (what unigram_logprob's mean surprisal
    # measures). Integer-weighted micro-unit log-ratios summed exactly;
    # one division at the end.
    return R.doc_kl_divergence(load_table(spark, sf_dir, "documents"))


def q_bloom_semijoin(spark, sf_dir):
    # Runtime-filter primitive, hash-verified: Bloom filter built from
    # orders' custkeys (bit_or-mergeable words), probed by every
    # customer; the one-row summary pins the exact false-positive count,
    # i.e. the filter's full bit pattern, cross-engine.
    from graph_database_spark.operators.bloom import bloom_probe_stats

    return bloom_probe_stats(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
    )


def q_walk_skipgrams(spark, sf_dir):
    # (center, context) skip-gram pairs within a +-2 window over the
    # deterministic walk corpus — the training examples a node-embedding
    # job consumes; one self-join on walk_id + one counting groupBy.
    from graph_database_spark.operators.walks import random_walks

    w = random_walks(copurchase_edges(spark, sf_dir)).localCheckpoint()
    a, b = w.alias("a"), w.alias("b")
    return (
        a.join(
            b,
            (F.col("a.walk_id") == F.col("b.walk_id"))
            & F.abs(F.col("a.step") - F.col("b.step")).between(1, 2),
        )
        .groupBy(
            F.col("a.node").alias("center"), F.col("b.node").alias("context")
        )
        .agg(F.count("*").alias("cnt"))
    )


def q_community_modularity(spark, sf_dir):
    # Modularity of the (hash-verified) LPA communities — integer
    # numerator over the 4m^2 common denominator, one exact division.
    from graph_database_spark.operators.labelprop import label_propagation

    # Both callees checkpoint internally, but each received the
    # unmaterialized co-purchase expression and so re-derived the
    # two-wide-shuffle build once apiece — one shared checkpoint halves
    # the query's scan work (VERDICT r5 #3).
    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    return G.modularity(edges, label_propagation(edges))


def q_conductance(spark, sf_dir):
    # Per-community cut quality with the customer-nation partition as
    # the community assignment (LPA converges to one community on this
    # graph — nations give ~25 non-trivial cuts). Integer cut/vol
    # counts, one rounded division (operators/graph.conductance).
    from graph_database_spark.plans.copurchase import copurchase_vertices

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    comm = copurchase_vertices(spark, sf_dir, edges).select(
        "id", F.col("attr_a").cast("bigint").alias("community")
    )
    return G.conductance(edges, comm)


def q_rich_club(spark, sf_dir):
    # Rich-club coefficient at degree thresholds 4/8/16/32: phi(k) =
    # 2*E_k / (N_k*(N_k-1)) over the subgraph of nodes with degree > k.
    # Integer counts + one exact IEEE division per row (NULL when the
    # rich set has < 2 nodes).
    from graph_database_spark.plans.copurchase import symmetrize

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    deg = (
        symmetrize(edges)
        .groupBy(F.col("v").alias("id"))
        .agg(F.count("*").alias("d"))
        .localCheckpoint()
    )
    # broadcast: createDataFrame yields a LogicalRDD with UNKNOWN size
    # stats (defaultSizeInBytes = huge), so without the hint the
    # planner ran both theta-joins as un-broadcast CartesianProducts
    # (caught by the r14 full-catalog plan sweep).
    ks = F.broadcast(
        spark.createDataFrame([(4,), (8,), (16,), (32,)], "k int")
    )
    nk = (
        ks.crossJoin(deg)
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_rich"))
    )
    ek = (
        ks.crossJoin(
            edges.join(deg.select(F.col("id").alias("src"), F.col("d").alias("da")), "src")
            .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("db")), "dst")
        )
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("e_rich"))
    )
    # coalesce INSIDE the numerator: a rich subgraph with >= 2 nodes but
    # zero internal edges is phi = 0.0, not NULL (ADVICE r5).
    phi = F.when(
        F.col("n_rich") >= 2,
        (F.lit(2) * F.coalesce(F.col("e_rich"), F.lit(0))).cast("double")
        / (F.col("n_rich") * (F.col("n_rich") - F.lit(1))).cast("double"),
    )
    return (
        nk.join(ek, "k", "left")
        .select(
            "k",
            "n_rich",
            F.coalesce("e_rich", F.lit(0)).alias("e_rich"),
            phi.alias("phi"),
        )
    )


def q_user_retention(spark, sf_dir):
    # Weekly cohort retention — the product-analytics staple: users
    # bucketed by first-event week; a cell counts cohort members active
    # k weeks later. Monday-truncated weeks make the day-diff an exact
    # multiple of 7, so every quantity is an integer.
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    ).distinct()
    return (
        active.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / F.lit(7))
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q_degree_assortativity(spark, sf_dir):
    # Newman's degree-degree correlation — exact: integer sums, one IEEE
    # division, no rounding anywhere.
    return G.degree_assortativity(copurchase_edges(spark, sf_dir))


def q_effective_diameter(spark, sf_dir):
    # Effective-diameter readout over the verified HyperANF state
    # (r12, Boldi-Vigna): NF(t) = corpus-summed ball-size estimates per
    # hop; the effective diameter is the smallest t whose NF reaches
    # 90% of the horizon's (discrete form over the 3-hop budget). Each
    # per-vertex double estimate micro-snaps BEFORE the sum (the
    # integer-sum rule — double group-sums are partition-order-unsafe).
    from graph_database_spark.operators.sketches import hll_neighborhood

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    nf = (
        hll_neighborhood(edges)
        .groupBy("t")
        .agg(
            F.expr(
                "CAST(sum(CAST(round(est_reach * 1000000.0, 0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("nf_micro")
        )
    )
    p = nf.agg(
        *[
            F.max(
                F.when(F.col("t") == t, F.col("nf_micro"))
            ).alias(f"nf{t}_micro")
            for t in (1, 2, 3)
        ]
    )
    return p.select(
        "nf1_micro",
        "nf2_micro",
        "nf3_micro",
        F.expr(
            "CAST(CASE WHEN nf1_micro * 10 >= 9 * nf3_micro THEN 1"
            " WHEN nf2_micro * 10 >= 9 * nf3_micro THEN 2"
            " ELSE 3 END AS BIGINT)"
        ).alias("eff_diameter"),
    )


def q_powerlaw_alpha(spark, sf_dir):
    # Discrete power-law exponent MLE over the co-purchase degree
    # distribution (r12): alpha = 1 + n / sum ln(d / (dmin - 1/2))
    # (the Clauset-Shalizi-Newman continuous-approximation estimator at
    # fixed dmin = 1) — THE scale-free-or-not summary a graph dataset
    # card leads with. One ln per DISTINCT degree, micro-snapped before
    # the count-weighted integer sum (micro rule); alpha itself comes
    # back as an exact integer ratio in micro units. Frames are
    # degree-histogram-sized. Headroom (ADVICE r12): the numerator
    # sum(cnt) * 1e12 overflows int64 past n_vertices ~ 9.2e6 — ANSI
    # mode throws loudly rather than wrapping. Past that scale, drop
    # the ratio to 1e9 scaling (alpha in nano/milli hybrid units, same
    # truncation contract on both engines) or estimate on a
    # deterministic vertex sample; the denominator is safe much further
    # (ln(d/0.5) micro-ints grow with sum(cnt)*ln(max_degree)*1e6).
    deg = G.degree(copurchase_edges(spark, sf_dir))
    h = deg.groupBy("degree").agg(F.count("*").alias("cnt"))
    return h.agg(
        F.sum("cnt").cast("long").alias("n_vertices"),
        F.max("degree").cast("long").alias("max_degree"),
        F.expr(
            "CAST(1000000 AS BIGINT)"
            " + (sum(cnt) * 1000000000000)"
            " div sum(cnt * CAST(round(ln(CAST(degree AS DOUBLE)"
            " / CAST(0.5 AS DOUBLE)) * 1000000.0, 0) AS BIGINT))"
        )
        .cast("long")
        .alias("alpha_micro"),
    )


def q_embedding_isotropy(spark, sf_dir):
    # Embedding-space isotropy (r12, Ethayarajh-style): the average
    # pairwise cosine over the corpus, computed WITHOUT any pairwise
    # join — mean_cos = (||sum u||^2 - n) / (n(n-1)) over unit vectors,
    # so one pass accumulates the 64 per-dimension sums. Each unit
    # component is micro-snapped before the per-dimension integer sum
    # (partition-order-exact); an anisotropic (clustered) space reads
    # high, a healthy spread reads near 0. Complements hopkins_statistic
    # (clusterability) with the directional-bias readout.
    emb = load_table(spark, sf_dir, "embeddings")
    # Norm materialized as a checkpointed column BEFORE the lambda
    # references it (CLAUDE.md HOF rule — projection collapse would
    # otherwise inline the fold per element). MILLI component units:
    # s_d <= n*1e3, so sum_d s_d^2 <= 64*(n*1e3)^2 needs n < 4e7
    # vectors in int64 — micro would overflow at n ~ 4e4.
    base = emb.where(
        F.expr(
            "aggregate(embedding, CAST(0 AS DOUBLE),"
            " (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) > 0"
        )
    ).withColumn(
        "nrm",
        F.expr(
            "sqrt(aggregate(embedding, CAST(0 AS DOUBLE),"
            " (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))"
        ),
    ).localCheckpoint()
    comp = base.select(
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
                " / nrm * 1000.0, 0) AS BIGINT))"
            )
        ).alias("d", "c")
    )
    sums = comp.groupBy("d").agg(F.sum("c").alias("s"))
    n = base.count()
    return sums.agg(
        F.lit(n).cast("long").alias("n_vectors"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("norm_sq_milli2"),
        F.expr(
            f"(sum(s * s) - CAST({n} AS BIGINT) * 1000000)"
            f" div (CAST({n} AS BIGINT) * CAST({n - 1} AS BIGINT))"
        )
        .cast("long")
        .alias("mean_cos_micro"),
    )


def q_attribute_assortativity(spark, sf_dir):
    # Newman's CATEGORICAL assortativity (r12): nation homophily of the
    # co-purchase graph — r = (sum_i e_ii - sum_i a_i*b_i) / (1 - sum_i
    # a_i*b_i) over the directed mixing matrix (symmetrized edges, so
    # a = b). Clears denominators: r_ppm = (se*m - sab)*1e6 div
    # (m*m - sab), all exact BIGINTs (negative r truncates toward zero
    # identically on both engines). Headroom: m^2*1e6 needs m < 3e6
    # directed edges — past that, per-mille. Complements
    # degree_assortativity (structural) with the attribute-mixing form.
    from graph_database_spark.plans.copurchase import copurchase_vertices

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    verts = copurchase_vertices(spark, sf_dir, edges).select(
        "id", F.col("attr_a").cast("long").alias("nat")
    ).localCheckpoint()  # both endpoint joins read it
    sym = edges.select("src", "dst").unionAll(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    lab = sym.join(
        F.broadcast(verts.select(F.col("id").alias("src"),
                                 F.col("nat").alias("ni"))), "src"
    ).join(
        F.broadcast(verts.select(F.col("id").alias("dst"),
                                 F.col("nat").alias("nj"))), "dst"
    ).localCheckpoint()
    tot = lab.agg(
        F.count("*").alias("m"),
        F.sum((F.col("ni") == F.col("nj")).cast("long")).alias("se"),
    )
    sab = (
        lab.groupBy("ni")
        .agg(F.count("*").alias("ai"))
        .agg(F.sum(F.col("ai") * F.col("ai")).alias("sab"))
    )
    return tot.crossJoin(F.broadcast(sab)).select(
        F.col("m").cast("long").alias("m_directed"),
        F.col("se").cast("long").alias("n_same"),
        F.col("sab").cast("long").alias("sab"),
        F.expr("((se * m - sab) * 1000000) div (m * m - sab)")
        .cast("long")
        .alias("r_ppm"),
    )


def q_length_emd_matrix(spark, sf_dir):
    # Pairwise dataset-shift matrix (r12): exact 1-D Wasserstein-1
    # between every two languages' doc-length distributions, the
    # emd_drift integer idiom generalized to all C(L,2) pairs — the
    # "which slices of my corpus differ, and by how much" readout a
    # mixture rebuild starts from. Per-lang CDFs forward-fill onto the
    # global value grid with ONE window per lang (linear, never a
    # values x values join); emd_ppm = sum |F_a - F_b| dv normalized by
    # the value range. Headroom: |cumA*nB| <= nA*nB * gapsum = nA*nB*
    # range; x1e6 needs nA*nB*range < 9e12 — documents' n_chars range
    # (~1e3) allows ~3e4 docs/lang at full micro; band lengths past
    # that.
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").cast("long").alias("v")
    )
    g = docs.groupBy("lang", "v").agg(F.count("*").alias("cnt"))
    vals = (
        docs.select("v")
        .distinct()
        .withColumn(
            "gap",
            F.coalesce(
                F.lead("v").over(Window.orderBy("v")) - F.col("v"),
                F.lit(0),
            ),
        )
    )
    langs = docs.select("lang").distinct()
    lv = (
        vals.crossJoin(F.broadcast(langs))
        .join(g, ["lang", "v"], "left")
        .select(
            "lang", "v", "gap", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
    )
    wl = Window.partitionBy("lang").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("lang")
    cum = (
        lv.withColumn("cum", F.sum("cnt").over(wl))
        .withColumn("n", F.sum("cnt").over(wn))
        .select("lang", "v", "gap", "cum", "n")
        .localCheckpoint()  # both pair sides read it
    )
    a, b = cum.alias("a"), cum.alias("b")
    pairs = a.join(
        b,
        (F.col("a.v") == F.col("b.v"))
        & (F.col("a.lang") < F.col("b.lang")),
    )
    return (
        pairs.groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(
            F.max("a.n").cast("long").alias("n_a"),
            F.max("b.n").cast("long").alias("n_b"),
            F.expr(
                "(sum(abs(a.cum * b.n - b.cum * a.n) * a.gap) * 1000000)"
                " div (max(a.n) * max(b.n) * (max(a.v) - min(a.v)))"
            )
            .cast("long")
            .alias("emd_ppm"),
        )
    )


def q_source_diversity(spark, sf_dir):
    # Simpson diversity of SOURCES within each language (r12): the
    # mixture-health readout next to temperature_mixing — a language
    # fed by one source is a contamination/bias risk however large it
    # is. lambda = sum n_s(n_s-1) / (N(N-1)) exact; diversity_ppm =
    # 1e6 - lambda_ppm.
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count("*").alias("ns"))
    return g.groupBy("lang").agg(
        F.sum("ns").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_sources"),
        F.expr(
            "CASE WHEN sum(ns) > 1 THEN"
            " 1000000 - (sum(ns * (ns - 1)) * 1000000)"
            " div (sum(ns) * (sum(ns) - 1)) ELSE 0 END"
        )
        .cast("long")
        .alias("diversity_ppm"),
    )


def q_interarrival_fit(spark, sf_dir):
    # Exponential inter-arrival fit + KS goodness (r12): per event
    # type, MLE rate from exact integer-microsecond gaps and the
    # Kolmogorov-Smirnov distance of the empirical gap CDF from
    # Exp(1/mean) — the Poissonity check that decides whether burst
    # detection (event_burstiness) is even meaningful. The one libm
    # exp() per DISTINCT gap value is micro-snapped before the max;
    # cum/prev bounds use truncating ppm. Epochs via explicit
    # epoch-microsecond integers (the km hardening discipline).
    _utc(spark)
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts)").alias("t"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("t", "event_id")
    gaps = (
        e.withColumn("gap", F.col("t") - F.lag("t").over(w))
        .where(F.col("gap").isNotNull())
        .select("event_type", "gap")
    )
    stats = gaps.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("gap").alias("s")
    )
    dist = gaps.groupBy("event_type", "gap").agg(
        F.count("*").alias("cnt")
    )
    wc = Window.partitionBy("event_type").orderBy("gap").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dist.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "prev", F.col("cum") - F.col("cnt")
    )
    scored = cum.join(F.broadcast(stats), "event_type").withColumn(
        "f_micro",
        F.expr(
            "CAST(round((CAST(1 AS DOUBLE) - exp(-(CAST(gap * n AS DOUBLE)"
            " / CAST(s AS DOUBLE)))) * 1000000.0, 0) AS BIGINT)"
        ),
    )
    return scored.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.expr("max(s) div max(n)").cast("long").alias("mean_gap_us"),
        F.greatest(
            F.max(F.expr("(cum * 1000000) div n - f_micro")),
            F.max(F.expr("f_micro - (prev * 1000000) div n")),
        )
        .cast("long")
        .alias("d_micro"),
    )


def q_graph_mis(spark, sf_dir):
    # Luby MIS over the co-purchase graph (deterministic per-round md5
    # priorities), hash-verified vs an unrolled-round oracle. The same
    # operator is the near-dup keeper-selection strategy (MIS over a
    # duplicate-pair graph keeps no two near-dups while every dropped
    # doc has a kept neighbor).
    from graph_database_spark.operators.mis import luby_mis

    return luby_mis(copurchase_edges(spark, sf_dir), max_iterations=16)


def q_random_walks(spark, sf_dir):
    # Deterministic DeepWalk-style walk corpus over the co-purchase
    # graph: md5-driven transitions over sorted neighbor lists — fully
    # replayable, hash-verified against an unrolled SQL oracle.
    from graph_database_spark.operators.walks import random_walks

    return random_walks(copurchase_edges(spark, sf_dir))


def q_node2vec_walks(spark, sf_dir):
    # Second-order biased walks (r9): node2vec's return/BFS/DFS bias as
    # integer weights (4, 2, 1) over the co-purchase graph — weighted
    # md5 inverse-CDF picks, replayed hop-for-hop by the unrolled
    # oracle (operators/walks.node2vec_walks).
    from graph_database_spark.operators.walks import node2vec_walks

    return node2vec_walks(copurchase_edges(spark, sf_dir))


# Dunning LLR contingency cells — syntax is valid in BOTH engines, so
# one generated expression feeds q_collocations_llr and its oracle.
_LLR_TERM = (
    "(CASE WHEN {k} = 0 THEN CAST(0 AS BIGINT) ELSE"
    " {k} * CAST(round(ln(CAST({k} * nn AS DOUBLE)"
    " / CAST({r} * {c} AS DOUBLE)) * CAST(1000000 AS DOUBLE), 0)"
    " AS BIGINT) END)"
)
_LLR_CELLS = [
    ("k11", "ra", "cb"),
    ("(ra - k11)", "ra", "(nn - cb)"),
    ("(cb - k11)", "(nn - ra)", "cb"),
    ("(nn - ra - cb + k11)", "(nn - ra)", "(nn - cb)"),
]
_LLR_EXPR = " + ".join(
    _LLR_TERM.format(k=kk, r=rr, c=cc) for kk, rr, cc in _LLR_CELLS
)


def q_dedup_survivorship(spark, sf_dir):
    # Quality-aware survivorship (r9): near-dup clusters (exact n-gram
    # Jaccard pairs -> connected components) each elect the HIGHEST-
    # QUALITY member as canonical — the "which copy do we train on"
    # decision, composing the dedup, components, and quality machinery.
    # Ordering by the hash-verified round-6 quality (+ doc_id tiebreak)
    # is cross-engine deterministic; the rank window runs inside
    # bounded dup groups.
    from graph_database_spark.operators.components import dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_exact_pairs(docs).select("id_a", "id_b")
    groups = dedup_groups(pairs).select(
        F.col("id").alias("doc_id"), F.col("keep_id").alias("group_id")
    )
    q = T.quality_score(docs).select("doc_id", "quality")
    j = groups.join(q, "doc_id")
    w = Window.partitionBy("group_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "group_id",
        "quality",
        (F.row_number().over(w) == 1).cast("int").alias("is_survivor"),
    )


# Wald SPRT constants for H0 p=0.04 vs H1 p=0.05, alpha=beta=0.05 —
# precomputed micro-unit literals shared by both engines, so the whole
# monitor is pure integer arithmetic at runtime.
_SPRT_C1 = 223144   # round(ln(p1/p0) * 1e6)
_SPRT_C2 = -10471   # round(ln((1-p1)/(1-p0)) * 1e6)
_SPRT_A = 2944439   # upper boundary ln((1-beta)/alpha) * 1e6
_SPRT_B = -2944439  # lower boundary ln(beta/(1-alpha)) * 1e6


def q_f2_ams(spark, sf_dir):
    # AMS second-frequency-moment sketch (r9): 16 estimators, each the
    # SQUARE of a +/-1-signed sum of token frequencies (signs from the
    # md5 cell family) — the self-join-size / skew statistic in O(k)
    # mergeable state (Alon-Matias-Szegedy 1996). Exact F2 rides along
    # for the estimator-quality readout; everything is BIGINT (token
    # counts and signed sums; at corpus scales where Z^2 nears 2^63 the
    # estimators shard into more, narrower cells).
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("t")
    )
    freq = toks.groupBy("t").agg(F.count("*").alias("f")).localCheckpoint()
    exact = freq.agg(F.sum(F.col("f") * F.col("f")).alias("exact_f2"))
    byj = (
        freq.select(
            "t",
            "f",
            F.explode(F.expr("sequence(0, 15)")).alias("j"),
        )
        .select(
            "j",
            (
                (
                    md5_hash60(
                        F.concat_ws(
                            "|", F.lit("ams"), F.col("j").cast("string"), F.col("t")
                        )
                    )
                    % 2
                )
                * 2
                - 1
            ).alias("sign"),
            "f",
        )
        .groupBy("j")
        .agg(F.sum(F.col("sign") * F.col("f")).alias("z"))
    )
    return byj.crossJoin(F.broadcast(exact)).select(
        F.col("j").cast("long").alias("j"),
        "z",
        (F.col("z") * F.col("z")).alias("est"),
        "exact_f2",
    )


def q_sprt_monitor(spark, sf_dir):
    # Wald sequential probability-ratio test (r9): the always-valid
    # A/B monitor — users enter in (first_ts, user_id) order, each
    # contributes a CONSTANT micro-unit log-likelihood increment
    # (success c1, failure c2), and the cumulative LLR path plus
    # boundary decisions are exact integers. The per-arm running sums
    # are distributed via rank.global_rank / global_prefix_sum (no
    # unpartitioned windows; an arm's user stream is unbounded at
    # 100 TB).
    from graph_database_spark.operators.rank import global_prefix_sum, global_rank

    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("succ"),
    ).select(
        "user_id",
        "t0",
        "succ",
        (
            md5_hash60(F.concat(F.lit("ab|"), F.col("user_id").cast("string")))
            % 2
        ).alias("arm"),
    )
    out = None
    for arm in (0, 1):
        part = users.where(F.col("arm") == arm)
        part = global_rank(part, ["t0", "user_id"], out_col="idx")
        part = global_prefix_sum(part, ["t0", "user_id"], "succ", out_col="ks")
        row = part.select(
            F.lit(arm).cast("long").alias("arm"),
            "user_id",
            "idx",
            "ks",
            (
                F.col("ks") * F.lit(_SPRT_C1)
                + (F.col("idx") - F.col("ks")) * F.lit(_SPRT_C2)
            ).alias("llr_micro"),
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "arm",
        "user_id",
        "idx",
        "ks",
        "llr_micro",
        F.when(F.col("llr_micro") >= _SPRT_A, F.lit("reject_h0"))
        .when(F.col("llr_micro") <= _SPRT_B, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def q_max_cover_seeds(spark, sf_dir):
    # Greedy max-coverage seeds (r9): the influence-maximization /
    # facility-placement primitive — k=5 deterministic greedy picks of
    # closed neighborhoods over the co-purchase graph, replayed
    # round-for-round by the unrolled oracle
    # (operators/cover.max_cover_seeds).
    from graph_database_spark.operators.cover import max_cover_seeds

    return max_cover_seeds(copurchase_edges(spark, sf_dir), k=5)


def q_collocations_llr(spark, sf_dir):
    # Dunning log-likelihood-ratio collocations (r9): the
    # contingency-table test that beats PMI on rare bigrams
    # (Dunning 1993) — 2*sum k_ij * ln(k_ij*N / (row_i*col_j)) over the
    # adjacent-bigram table, each ln micro-snapped BEFORE the integer
    # k_ij multiply and sum (the micro-unit rule), marginals via two
    # bounded-universe joins. k11 >= 5 support cut.
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= 2)
    )
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i ->"
                " struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    k = bi.groupBy("a", "b").agg(F.count("*").alias("k11")).localCheckpoint()
    row = k.groupBy("a").agg(F.sum("k11").alias("ra"))
    col = k.groupBy("b").agg(F.sum("k11").alias("cb"))
    n = k.agg(F.sum("k11").alias("nn"))
    j = (
        k.join(row, "a")
        .join(col, "b")
        .crossJoin(F.broadcast(n))
        .where(F.col("k11") >= 5)
    )
    return j.select(
        "a",
        "b",
        "k11",
        F.expr(f"2 * ({_LLR_EXPR})").alias("llr2_micro"),
    )


def q_textrank_keywords(spark, sf_dir):
    # TextRank (r9): quantized PageRank over the adjacent-token
    # co-occurrence graph — keyword salience as graph centrality
    # (Mihalcea & Tarau 2004), composing the hash-verified nano-unit
    # pagerank (ten fixed rounds) over a text-derived edge set.
    from graph_database_spark.operators.pagerank import pagerank

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= 2)
    )
    bi = toks.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(1, size(t) - 1), i ->"
                " struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)),"
                " p -> p.a != p.b)"
            )
        ).alias("p")
    )
    edges = (
        bi.select(
            F.least("p.a", "p.b").alias("src"),
            F.greatest("p.a", "p.b").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    return pagerank(edges, max_iterations=10, tol=0.0, weight_col="w")


def q_token_counts_cms(spark, sf_dir):
    # Count-Min sketch, hash-verified (md5 cell family, integer
    # counters): estimates for the corpus's 20 most frequent tokens vs
    # their true counts — est >= true by construction, and the exact
    # overestimates pin the full counter table cross-engine. Completes
    # the mergeable-sketch family (KMV, HLL, Bloom, CMS).
    from graph_database_spark.operators import sketches as SK

    docs = load_table(spark, sf_dir, "documents")
    terms = R._doc_terms(docs).localCheckpoint()
    cms = SK.cms_build(terms, "term")
    true_counts = terms.groupBy("term").agg(F.count("*").alias("true_cnt"))
    top = true_counts.orderBy(F.desc("true_cnt"), F.asc("term")).limit(20)
    est = SK.cms_estimate(top, cms, "term")
    return top.join(est, "term").select("term", "true_cnt", "est")


def q_token_heavy_hitters(spark, sf_dir):
    # Heavy-hitters READ path over CMS state (r9 VERDICT #4): the
    # sketch answers "which tokens exceed 1/1000 of the stream" from
    # its own state — registers + a 64-item candidate set + the stream
    # length — without rescanning the corpus. Hash-verified: the md5
    # cell family, integer counters, and the integer threshold compare
    # (est * 1000 >= total) replay exactly in DuckDB. Top-15 by
    # (est DESC, term) keeps the result bounded and totally ordered.
    from graph_database_spark.operators import sketches as SK

    docs = load_table(spark, sf_dir, "documents")
    terms = R._doc_terms(docs).localCheckpoint()
    cms = SK.cms_build(terms, "term")
    cand = SK.cms_top_candidates(terms, "term", 64)
    total = terms.count()  # bounded driver-side model (one integer)
    return SK.cms_heavy_hitters(cms, cand, total, phi_denom=1000, k=15).select(
        F.col("item").alias("term"), "est"
    )


def q_embedding_quantize(spark, sf_dir):
    # Per-dimension 8-bit scalar quantization of the embedding corpus —
    # long-form codes, hash-verified (min/max are order-independent and
    # the quantize expression is one mirrored IEEE tree).
    from graph_database_spark.operators.quantize import scalar_quantize

    return scalar_quantize(load_table(spark, sf_dir, "embeddings"))


def q_simhash_signatures(spark, sf_dir):
    # The 60-bit md5 SimHash of every document (the signatures
    # dedup_simhash bands) — pins the sign-sum math like
    # minhash_signatures pins the min-hash math.
    return D.simhash_signatures(load_table(spark, sf_dir, "documents"))


def q_embedding_pca(spark, sf_dir):
    # Rows-only (eigh has no SQL oracle; numpy parity + orthonormality
    # pytest-pinned): top-2 principal scores per embedding, scalarized
    # for the harness (ARRAY outputs crash the driver canonicalizer
    # even on rows-only bookkeeping — r2 lesson).
    from graph_database_spark.operators.pca import pca_fit, pca_transform

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, k=2)
    return pca_transform(emb, model).select(
        "vec_id",
        F.round(F.element_at("pca", 1), 6).alias("pc1"),
        F.round(F.element_at("pca", 2), 6).alias("pc2"),
    )


def q_decontamination(spark, sf_dir):
    # Benchmark decontamination: training docs sharing an 8-gram with
    # the deterministic ~5% eval sample — inverted-index join sized by
    # the eval side.
    return D.cross_contamination(load_table(spark, sf_dir, "documents"))


def q_merkle_ranges(spark, sf_dir):
    # Anti-entropy range reconciliation (r12): orders vs a
    # deterministically drifted replica (+1 cent where md5(key) prefix
    # < '01', ~0.4% of rows). Two leaf-fingerprint groupBys + a
    # broadcast-scale reconciliation join localize every divergence;
    # the leaf readout honors the tree-probe drill (parent must differ).
    from graph_database_spark.operators.merkle import merkle_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    drift = o.select(
        "o_orderkey",
        F.expr(
            "cents + CASE WHEN substring(md5(CAST(o_orderkey AS STRING)),"
            " 1, 2) < '01' THEN 1 ELSE 0 END"
        ).alias("cents"),
    )
    return merkle_diff(
        o, drift, "o_orderkey", "cast(cents as string)", 1024, 16
    )


def q_decontamination_bloom(spark, sf_dir):
    # The scale shape of decontamination (r12): broadcast Bloom of eval
    # 8-grams probed map-side — the training side never shuffles for
    # the membership test (vs cross_contamination's inverted-index
    # join). The exact-membership broadcast join rides along only to
    # hash-gate the filter's full bit pattern via the fp census
    # (operators/dedup.contamination_bloom).
    return D.contamination_bloom(load_table(spark, sf_dir, "documents"))


def q_media_resize(spark, sf_dir):
    # Value-check of the Arrow resize path (like multimodal_features
    # checks the featurizer): md5 of the decimated byte stream vs a
    # DuckDB stepped-range reconstruction of the same stride.
    media = MM.attach_media(load_table(spark, sf_dir, "documents"))
    return MM.resize_media(media, factor=4).select(
        "media_id",
        "orig_bytes",
        "resized_bytes",
        F.md5("resized").alias("resized_md5"),
    )


def q_event_funnel(spark, sf_dir):
    # Sequential-pattern funnel: users progressing view -> click ->
    # purchase, each step within 1 day of the previous step's FIRST
    # occurrence (150 -> 60 -> 25 at sf0.01 — a real drop-off). Three
    # grouped mins chained by user_id equi-joins: co-partitioned on the
    # same key, so at scale the three stages ride one shuffle layout.
    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    day = F.expr("INTERVAL 1 DAY")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df, name):
        return df.agg(F.count("*").alias("users")).select(
            F.lit(name).alias("stage"), "users"
        )

    return stage(v, "view").unionByName(stage(c, "click")).unionByName(
        stage(p, "purchase")
    )


def q_event_anomalies(spark, sf_dir):
    # Outlier detection for pipeline hygiene: events whose value sits
    # more than 3 sigma from its event-type mean. The 5-row stats frame
    # broadcasts, so the fact table is scanned once with no shuffle
    # beyond the tiny stats aggregation. Threshold safety: the nearest
    # |z| to 3.0 at sf0.01 is 0.0023 away — far outside cross-engine
    # float noise.
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 3)
        .select("event_id", "event_type", "value", F.round(z, 4).alias("z"))
    )


def q_quality_dedup(spark, sf_dir):
    # Quality-aware dedup keeper: within each normalized-fingerprint
    # duplicate group, keep the HIGHEST-quality document (dedup_norm
    # keeps min id; a production training-data pipeline keeps the best
    # copy). One window shuffle keyed by fingerprint carries both the
    # ranking and the group size.
    from graph_database_spark.operators.spread import spread

    docs = load_table(spark, sf_dir, "documents")
    fp = spread(docs).select(
        "doc_id", text_fingerprint(F.col("text")).alias("fingerprint")
    )
    q = T.quality_score(docs).select("doc_id", "quality")
    j = fp.join(q, "doc_id")
    part = Window.partitionBy("fingerprint")
    ranked = part.orderBy(F.col("quality").desc(), "doc_id")
    return (
        j.withColumn("rn", F.row_number().over(ranked))
        .withColumn("group_size", F.count("*").over(part))
        .where(F.col("rn") == 1)
        .select("fingerprint", "doc_id", "quality", "group_size")
    )


def q_min_cost_supplier(spark, sf_dir):
    # TPC-H Q2 analog on the derived cost relation (no partsupp table:
    # unit cost = avg l_extendedprice/l_quantity per (part, supplier)).
    # The correlated min subquery decorrelates to a groupBy-min joined
    # back on the part key — both cost legs come off ONE aggregated
    # frame, so the fact table is read and shuffled once. Ties on the
    # min keep every witness (deterministic set semantics).
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") == 7)
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias("unit_cost")
    )
    minc = cost.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    return (
        cost.join(minc, "l_partkey")
        .where(F.col("unit_cost") == F.col("min_cost"))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .select(
            "p_partkey", "p_brand", F.col("l_suppkey").alias("s_suppkey"), "unit_cost"
        )
        .orderBy("p_partkey", "s_suppkey")
        .limit(50)
    )


def q_nation_market_share(spark, sf_dir):
    # TPC-H Q8 analog: NATION_1 suppliers' share of ASIA customers'
    # revenue per order year — 7-way join where only the true bounded
    # dims (region, nation x2) broadcast; the conditional share is one
    # sum-of-case over the joined fact.
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cust_nat = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cn_key")
    )
    supp_nat = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_nat), c.c_nationkey == F.col("cn_key"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nat), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def q_product_profit(spark, sf_dir):
    # TPC-H Q9 analog: per (supplier nation, year) profit on a part-name
    # substring filter; cost side proxied by p_retailprice (no partsupp).
    # The LIKE filter prunes part before it joins, and nation broadcasts.
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.5) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(F.round(F.sum(amount), 4).alias("profit"))
    )


def q_link_prediction(spark, sf_dir):
    # Topology-driven "people you may know": top non-adjacent pairs by
    # neighborhood Jaccard — wedge join + anti-join on existing edges.
    return G.link_prediction(copurchase_edges(spark, sf_dir))


def q_heaps_fit(spark, sf_dir):
    # Heaps'-law fit: vocabulary size V vs cumulative token count T at 20
    # deterministic doc-id checkpoints, OLS slope of ln V on ln T = the
    # growth exponent beta (sub-linear vocab growth is the expected
    # corpus signature; a beta near 1 flags synthetic/templated text).
    # Scale shape: per-term first-occurrence and per-doc token counts are
    # one groupBy each; the 20-point grid broadcasts, so no window ever
    # runs over data-sized rows (the naive cumulative-window form would).
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).localCheckpoint()  # feeds first-occurrence AND per-doc counts
    maxd = toks.agg(F.max("doc_id").alias("maxd"))
    ends = (
        spark.createDataFrame([(j,) for j in range(1, 21)], "j int")
        .crossJoin(F.broadcast(maxd))
        .select("j", F.expr("(maxd * j) div 20").cast("long").alias("d_end"))
        .localCheckpoint()
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    vocab = (
        first.crossJoin(F.broadcast(ends))
        .where(F.col("fd") <= F.col("d_end"))
        .groupBy("j")
        .agg(F.count("*").alias("v"))
    )
    percnt = toks.groupBy("doc_id").agg(F.count("*").alias("nt"))
    toktot = (
        percnt.crossJoin(F.broadcast(ends))
        .where(F.col("doc_id") <= F.col("d_end"))
        .groupBy("j")
        .agg(F.sum("nt").alias("t"))
    )
    pts = vocab.join(toktot, "j").select(
        F.round(F.log(F.col("t").cast("double")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("v").cast("double")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("y"),
    )
    mom = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return mom.select(
        F.col("n").alias("n_points"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            ),
            6,
        ).alias("beta"),
    )


def q_onion_layers(spark, sf_dir):
    # Onion decomposition (r12): peel-round layer + in-force core
    # threshold per vertex — separates a shell's fringe from its center
    # (invisible to coreness). Driver loop peels synchronously (k_r =
    # max(k, min deg), so every round retires at least the argmin);
    # the oracle replays it as ONE recursive CTE carrying edge + vertex
    # + emitted rows (operators/kcore.onion_layers).
    from graph_database_spark.operators.kcore import onion_layers

    return onion_layers(_edges(spark, sf_dir))


def q_coreness(spark, sf_dir):
    # Full k-shell decomposition via the h-index fixpoint
    # (operators/kcore.coreness) — all shells in one iteration, integer
    # state, unrolled-round oracle with a pinned budget.
    from graph_database_spark.operators.kcore import coreness

    return coreness(_edges(spark, sf_dir))


def q_triad_census(spark, sf_dir):
    # Undirected triad census: wedges (paths of length 2), closed
    # triangles, open wedges, and the global transitivity ratio
    # 3*triangles/wedges — the one-row structural summary. Wedges come
    # from degrees alone (no wedge join!); triangles reuse the existing
    # wedge-join counter. Integer arithmetic end-to-end except one
    # mirrored IEEE division.
    edges = _edges(spark, sf_dir)
    wedges = G.degree(edges).agg(
        F.expr("sum(degree * (degree - 1) div 2)").cast("long").alias("n_wedges")
    )
    tri = G.triangle_count(edges)
    return (
        wedges.crossJoin(F.broadcast(tri))
        .select(
            "n_wedges",
            "n_triangles",
            (F.col("n_wedges") - F.lit(3) * F.col("n_triangles")).alias("n_open"),
            F.round(
                F.lit(3.0) * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
                6,
            ).alias("transitivity"),
        )
    )


def q_degree_powerlaw(spark, sf_dir):
    # Clauset-Shalizi-Newman discrete MLE for the power-law exponent of
    # the degree distribution, at fixed dmin=2: alpha = 1 + n/sum ln(d/2).
    # Per-vertex ln snapped to micro-units -> order-exact integer sum;
    # the final alpha is one mirrored IEEE tree. Complements zipf_slope
    # (corpus side) with the graph-side heavy-tail diagnostic.
    deg = G.degree(_edges(spark, sf_dir))
    tail = deg.where(F.col("degree") >= 2).select(
        F.round(
            F.log(F.col("degree").cast("double") / F.lit(2.0)) * F.lit(1000000.0),
            0,
        )
        .cast("long")
        .alias("lnd")
    )
    mom = tail.agg(F.count("*").alias("n_tail"), F.sum("lnd").alias("s"))
    return mom.select(
        "n_tail",
        F.when(
            F.col("s") > 0,
            F.round(
                F.lit(1.0)
                + F.col("n_tail").cast("double")
                * F.lit(1000000.0)
                / F.col("s").cast("double"),
                6,
            ),
        ).alias("alpha"),
    )


def q_event_transitions(spark, sf_dir):
    # Markov transition matrix over per-user event streams — the
    # sequence-model prep aggregate (operators/events.transitions).
    _utc(spark)
    return E.transitions(load_table(spark, sf_dir, "events"))


def q_token_pmi(spark, sf_dir):
    # Pointwise mutual information over document-level token
    # co-occurrence (word-association mining, the embedding-era
    # collocation primitive). Doc-frequency counts and pair counts are
    # exact integers; the one ln() per pair snaps to micro-units
    # (CLAUDE.md libm rule). The pair join is per-document (bounded by
    # tokens-per-doc², never vocab x corpus), and the vocab-sized
    # doc-frequency side broadcasts.
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .distinct()
        .localCheckpoint()  # feeds doc-frequency, total, and both pair sides
    )
    dfreq = dt.groupBy("term").agg(F.count("*").alias("df"))
    nd = dt.agg(F.count_distinct("doc_id").alias("nd"))
    a, b = dt.alias("a"), dt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b"))
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    scored = (
        pairs.join(
            F.broadcast(dfreq.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))),
            "term_a",
        )
        .join(
            F.broadcast(dfreq.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))),
            "term_b",
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "term_a",
            "term_b",
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("nd").cast("double")
                    / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.col("pmi_micro").desc(), "term_a", "term_b").limit(100)


def q_graph_drift(spark, sf_dir):
    # Month-over-month co-purchase graph delta: per consecutive month
    # pair, edge counts and edge-set Jaccard — the incremental-graph-
    # maintenance measurement (how much of the graph would an
    # incremental rebuild touch?). Per-month edges keep the month key
    # instead of collapsing it (same (part, month) shuffle as the
    # global build); the month-shifted self-join is keyed (src, dst,
    # month) — uniform. em feeds three consumers -> checkpoint.
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cpm = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_partkey").alias("p"),
            F.date_trunc("month", F.col("o_orderdate")).alias("w"),
        )
        .distinct()
    )
    a, b = cpm.alias("a"), cpm.alias("b")
    em = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("a.c") < F.col("b.c")),
        )
        .select(F.col("a.c").alias("src"), F.col("b.c").alias("dst"), F.col("a.w").alias("w"))
        .distinct()
        .localCheckpoint()
    )
    sizes = em.groupBy("w").agg(F.count("*").alias("n_edges")).localCheckpoint()
    nxt = em.select("src", "dst", (F.col("w") + F.expr("INTERVAL 1 MONTH")).alias("w"))
    inter = (
        em.join(nxt, ["src", "dst", "w"])
        .groupBy("w")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        sizes.alias("cur")
        .join(
            sizes.select(
                (F.col("w") + F.expr("INTERVAL 1 MONTH")).alias("w"),
                F.col("n_edges").alias("n_prev"),
            ).alias("prv"),
            "w",
        )
        .join(inter, "w", "left")
        .select(
            F.date_format("w", "yyyy-MM").alias("month"),
            "n_prev",
            "n_edges",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0))
                / (F.col("n_prev") + F.col("n_edges") - F.coalesce("n_common", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def q_zipf_slope(spark, sf_dir):
    # Zipf fit over the top-1000 corpus terms: ln-rank/ln-freq snapped
    # to integer micro-units (CLAUDE.md libm rule), OLS slope as one
    # mirrored IEEE tree over the exact integer moment sums. The global
    # sort is a top-k limit (vocabulary-bounded), and the rank window
    # runs on <= 1000 rows — the retrieval.py distributed-top-k shape.
    docs = load_table(spark, sf_dir, "documents")
    from graph_database_spark.functions.textnorm import tokens

    freqs = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(1000)
    )
    ranked = freqs.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), "term")),
    ).select(
        F.round(F.log(F.col("rank").cast("double")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("y"),
    )
    mom = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return mom.select(
        F.col("n").alias("n_terms"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            ),
            6,
        ).alias("slope"),
    )


def q_quantile_hist(spark, sf_dir):
    # Mergeable histogram-quantile sketch: equi-width bucket counts
    # (map-side combinable, mergeable across shards — the 100 TB path
    # where percentile()'s full sort is not), inverted by cumulative
    # count to bracket each target percentile. All-integer arithmetic
    # end-to-end, so the estimate hash-matches any ANSI engine; the
    # cumulative window orders BUCKETS (resolution-bounded, ~100 rows),
    # never data rows. Exact twin: order_price_quantiles.
    li = load_table(spark, sf_dir, "lineitem")
    width = 1000
    counts = (
        li.select(
            F.floor(F.col("l_extendedprice") / F.lit(width)).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # feeds the total AND the cumulative inversion
    )
    total = counts.agg(F.sum("n").alias("total"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select("bucket", F.sum("n").over(w).alias("cum"))
    qs = spark.createDataFrame([(q,) for q in (1, 5, 25, 50, 75, 90, 95, 99)], "q int")
    ranks = qs.crossJoin(F.broadcast(total)).select(
        "q", F.expr("(total * q + 99) div 100").cast("long").alias("rank")
    )
    return (
        cum.crossJoin(F.broadcast(ranks))
        .where(F.col("cum") >= F.col("rank"))
        .groupBy("q", "rank")
        .agg(F.min("bucket").alias("b"))
        .select(
            "q",
            "rank",
            (F.col("b") * width).alias("est_lo"),
            ((F.col("b") + F.lit(1)) * width).alias("est_hi"),
        )
    )


def q_embedding_standardize(spark, sf_dir):
    # Per-dimension z-score standardization rolled up per vector —
    # integer-moment micro-units make mean/var/z hash-exact
    # (operators/quantize.standardize_profile).
    from graph_database_spark.operators.quantize import standardize_profile

    return standardize_profile(load_table(spark, sf_dir, "embeddings"))


def q_link_scores(spark, sf_dir):
    # Adamic-Adar / resource-allocation / Jaccard over the same
    # non-adjacent wedge pairs as link_prediction — micro-unit integer
    # sums make the libm scores hash-exact (operators/graph.py).
    return G.link_scores(copurchase_edges(spark, sf_dir))


def q_hits_scores(spark, sf_dir):
    # Kleinberg HITS on the bipartite customer->part purchase graph,
    # quantized to nano-units so the whole iteration hash-matches the
    # unrolled DuckDB oracle (operators/hits.py docstring).
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bip = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("hub"), F.col("l_partkey").alias("auth")
    )
    return hits_quantized(bip)


def q_banded_revenue(spark, sf_dir):
    # TPC-H Q6 analog: the pure scan shape — no join, every predicate
    # (date range, discount band, quantity cap) pushed to the parquet
    # scan, one global agg. The simplest query in the suite and the
    # one where pushdown does ALL the work at 100 TB.
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


def q_important_stock(spark, sf_dir):
    # TPC-H Q11 analog: share-of-total threshold — per (nation, part)
    # supply value filtered against a scalar fraction of the GLOBAL
    # total. Both legs reuse ONE aggregated frame (localCheckpoint);
    # the 1-row total broadcasts.
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("v"))
        .localCheckpoint()
    )
    total = val.agg((F.lit(0.0001) * F.sum("v")).alias("cut"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("v") > F.col("cut"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("p_partkey"),
            F.round("v", 4).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "nation", "p_partkey")
        .limit(30)
    )


def q_dataset_split(spark, sf_dir):
    # Deterministic train/val/test assignment: md5-bucket each doc id
    # into 90/5/5 — retry-stable at any scale (the rand()-free split
    # every reproducible training pipeline needs). Output is the split
    # census with per-split token mass.
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 4), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def q_degree_histogram(spark, sf_dir):
    # Degree distribution of the co-purchase graph — the first summary
    # a graph engine reports; two keyed aggregations, ~tens of rows out.
    return (
        G.degree(_edges(spark, sf_dir))
        .groupBy("degree")
        .agg(F.count("*").alias("n_vertices"))
    )


def q_copurchase_strength(spark, sf_dir):
    # Weighted degree (tie strength) per vertex on the weighted
    # co-purchase graph — hash-verified; the weights also feed the
    # weighted-PageRank rows-only query.
    from graph_database_spark.plans.copurchase import copurchase_edges_weighted

    # we is referenced by both union branches — checkpoint so the
    # weighted co-purchase build (join + distinct + self-join + groupBy)
    # is derived once, not twice (CLAUDE.md reuse rule).
    we = copurchase_edges_weighted(spark, sf_dir).localCheckpoint()
    wsym = we.selectExpr("src AS id", "weight").unionByName(
        we.selectExpr("dst AS id", "weight")
    )
    return wsym.groupBy("id").agg(
        F.count("*").alias("degree"), F.sum("weight").alias("strength")
    )


def q_pagerank_personalized_quantized(spark, sf_dir):
    # Hash-verified personalized ranks: teleport mass on the 32 smallest
    # vertex ids, ten fixed rounds (tol=0).
    from graph_database_spark.operators.pagerank import pagerank

    # edges feeds the vertex derivation AND the pagerank build — one
    # shared checkpoint instead of two co-purchase derivations.
    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    seeds = (
        copurchase_vertices(spark, sf_dir, edges)
        .select("id")
        .orderBy("id")
        .limit(32)
    )
    return pagerank(edges, max_iterations=10, tol=0.0, sources=seeds)


def q_pagerank_weighted_quantized(spark, sf_dir):
    # Hash-verified weighted iterative numerics: tie-strength weights are
    # integer co-purchase counts, so the nano-unit message sums
    # (ratio * weight) stay exact — ten fixed rounds (tol=0), same
    # unrolled oracle family as pagerank_quantized.
    from graph_database_spark.operators.pagerank import pagerank
    from graph_database_spark.plans.copurchase import copurchase_edges_weighted

    return pagerank(
        copurchase_edges_weighted(spark, sf_dir),
        max_iterations=10,
        tol=0.0,
        weight_col="weight",
    )


def q_pagerank_weighted(spark, sf_dir):
    # Hash-verified: PageRank with co-purchase tie strengths (integer
    # counts) as edge weights, with the default early stop.
    from graph_database_spark.operators.pagerank import pagerank
    from graph_database_spark.plans.copurchase import copurchase_edges_weighted

    return pagerank(copurchase_edges_weighted(spark, sf_dir), weight_col="weight")


def q_ktruss(spark, sf_dir):
    # Hash-verified since r5 via an unrolled-peeling oracle
    # (_build_ktruss_sql): 4-truss of the co-purchase graph — edge-level
    # cohesion peeling; hand-computed fixtures incl. the peel cascade
    # pinned in tests/test_graph_analytics.py.
    from graph_database_spark.operators.truss import k_truss

    return k_truss(copurchase_edges(spark, sf_dir), k=4)


def q_closeness_sampled(spark, sf_dir):
    # Landmark closeness centrality: multi-source BFS on the shared
    # fixpoint (one shuffle per round relaxes all 8 landmarks), checked
    # against a DuckDB recursive-CTE multi-source walk.
    from graph_database_spark.operators.closeness import closeness_sampled

    return closeness_sampled(copurchase_edges(spark, sf_dir))


def q_doc_repetition(spark, sf_dir):
    return T.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_stratified_sample(spark, sf_dir):
    # Exact proportional stratified sampling (r12): 20% of EVERY
    # source, floor allocation, rows picked in deterministic
    # (md5(doc_id), doc_id) order — the mixture-rebuild primitive next
    # to stratified_cap (fixed cap) and hash_sample (binomial rate).
    # Output pins the exact sampled id set.
    from graph_database_spark.operators.sampling import proportional_sample

    return proportional_sample(
        load_table(spark, sf_dir, "documents"), ["source"], num=1, den=5
    ).select("doc_id", "source")


def q_char_entropy(spark, sf_dir):
    # Character-bigram Shannon entropy per doc in micro-nats (r12) —
    # the gibberish/templating band filter. Per-distinct-count ln terms
    # micro-snapped before the integer weighted sum (CLAUDE.md rule),
    # one truncating division at the end.
    return T.char_entropy(load_table(spark, sf_dir, "documents"))


def q_rag_chunks(spark, sf_dir):
    # Overlapping fixed-window chunking (r12): 32-token windows at
    # stride 24 (8-token overlap) per document — the RAG/embedding-
    # index prep step, distinct from token_chunks (which packs WHOLE
    # docs into shard budgets). Chunk md5 pins the exact split text;
    # the final partial window is kept iff it adds >= 8 new tokens
    # (stride rule: start positions 1, 25, 49, ... while start <=
    # n_tokens - 8 + 1, plus the n <= 32 whole-doc case). Narrow map +
    # one explode; no shuffle at all.
    from graph_database_spark.operators.spread import spread

    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .where(F.size("t") > 0)
    )
    starts = (
        "CASE WHEN size(t) <= 32 THEN array(1)"
        " ELSE filter(transform(sequence(0, (size(t) - 1) div 24),"
        " j -> j * 24 + 1), s -> s <= size(t) - 7) END"
    )
    return (
        d.select(
            "doc_id",
            F.size("t").alias("n_toks"),
            F.explode(F.expr(starts)).alias("s"),
            F.col("t"),
        )
        .select(
            "doc_id",
            F.expr("(s - 1) div 24").cast("long").alias("chunk_idx"),
            F.expr("size(slice(t, s, 32))").cast("long").alias("n_tokens"),
            F.md5(F.expr("concat_ws(' ', slice(t, s, 32))")).alias(
                "chunk_md5"
            ),
        )
    )


def q_gopher_repetition(spark, sf_dir):
    # The full Gopher repetition-filter suite (r12): top-{2,3,4}-gram
    # and duplicated-{5..8}-gram character fractions per doc, exact
    # integer ppm — the templating signals doc_repetition's distinct
    # ratio can't see. One explode of 7 tagged shingle arrays, one
    # (doc, n, gram) count, window-max + pivot (2 shuffles).
    return T.gopher_repetition(load_table(spark, sf_dir, "documents"))


_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_column_stats(spark, sf_dir):
    # ANALYZE-style column statistics (min/max/nulls/NDV) over the fact
    # table's numeric columns — the planner-feeding metadata pass every
    # warehouse maintains. ONE scan: all 16 aggregates in a single agg
    # (the count-distincts expand into one multi-phase agg), then the
    # wide row pivots to (column, stats) rows driver-free via explode.
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _STATS_COLS:
        aggs += [
            F.min(c).cast("double").alias(f"min_{c}"),
            F.max(c).cast("double").alias(f"max_{c}"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
        ]
    wide = li.agg(*aggs)
    return wide.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(f"min_{c}").alias("min_v"),
                    F.col(f"max_{c}").alias("max_v"),
                    F.col(f"nn_{c}").alias("n_nulls"),
                    F.col(f"nd_{c}").alias("n_distinct"),
                )
                for c in _STATS_COLS
            ])
        ).alias("s")
    ).select("s.*")


def q_quality_rules(spark, sf_dir):
    # Gopher-style hard rules with per-rule attribution columns; booleans
    # cast to int for harness hashability (is_keeper precedent).
    r = T.quality_rules(load_table(spark, sf_dir, "documents"))
    return r.select(
        "doc_id",
        *[F.col(c).cast("int").alias(c) for c in
          ["ok_len", "ok_token_len", "ok_repetition", "ok_alpha", "keep"]],
    )


def q_mixture_weights(spark, sf_dir):
    return T.mixture_weights(load_table(spark, sf_dir, "documents"), alpha=0.5)


def q_ngram_jaccard_exact(spark, sf_dir):
    # The exact twin of the LSH-pruned ngram_jaccard: inverted-index
    # candidates guarantee completeness, so this pins the true pair set
    # the LSH variant's recall is measured against (lsh_pair_prf).
    return D.ngram_jaccard_exact_pairs(load_table(spark, sf_dir, "documents"))


def q_minhash_calibration(spark, sf_dir):
    # MinHash estimator calibration (r12): for every banded-LSH pair,
    # the signature estimate (matching bands / 16) against the EXACT
    # shingle-set Jaccard, grouped by estimator value — the calibration
    # curve that tells you what an est of 10/16 actually means on THIS
    # corpus (lsh_pair_prf scores the decisions; this scores the
    # estimator itself). Exact leg bounded by the candidate pair set.
    docs = load_table(spark, sf_dir, "documents").localCheckpoint()
    pred = D.minhash_lsh_pairs(docs, bands=4).select(
        "id_a", "id_b", F.expr("CAST(round(est_jaccard * 16) AS BIGINT)")
        .alias("est_16")
    )
    t = D._tokens_df(docs, "text", "doc_id")
    sh = t.select(
        "id",
        F.array_distinct(D._shingles_from(F.col("toks"), 3)).alias("s"),
    ).localCheckpoint()  # both pair sides read it
    j = (
        pred.join(sh.select(F.col("id").alias("id_a"),
                            F.col("s").alias("sa")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"),
                        F.col("s").alias("sb")), "id_b")
        .withColumn("ni", F.expr("size(array_intersect(sa, sb))"))
        .withColumn(
            "exact_ppm",
            F.expr(
                "(CAST(ni AS BIGINT) * 1000000)"
                " div (size(sa) + size(sb) - ni)"
            ),
        )
    )
    return j.groupBy("est_16").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("sum(exact_ppm) div count(*)").cast("long").alias(
            "mean_exact_ppm"
        ),
        F.min("exact_ppm").cast("long").alias("min_exact_ppm"),
        F.max("exact_ppm").cast("long").alias("max_exact_ppm"),
    )


def q_lsh_pair_prf(spark, sf_dir):
    # Dedup-decision EVALUATION (r12): pairwise precision/recall/F1 of
    # the banded-LSH pair stage (md5 MinHash, est_jaccard >= 0.5)
    # against the EXACT Jaccard >= 0.5 pair set — the dedup analog of
    # ann_recall_audit, turning banding parameters from folklore into a
    # measured operating point (precision prices estimator overshoot,
    # recall prices band misses). Both legs are individually
    # hash-verified; this pins their intersection. Zero denominators
    # guarded (empty pair sets read 0).
    docs = load_table(spark, sf_dir, "documents").localCheckpoint()
    pred = D.minhash_lsh_pairs(docs, bands=4).select(
        "id_a", "id_b"
    ).localCheckpoint()  # census + hit join both read it
    truth = D.ngram_jaccard_exact_pairs(docs, threshold=0.5).select(
        "id_a", "id_b"
    ).localCheckpoint()
    hit = pred.join(truth, ["id_a", "id_b"], "left_semi")
    stats = (
        pred.agg(F.count("*").alias("n_pred"))
        .crossJoin(truth.agg(F.count("*").alias("n_truth")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
    )
    return stats.select(
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.expr(
            "CASE WHEN n_pred > 0 THEN (n_hit * 1000000) div n_pred"
            " ELSE 0 END"
        ).cast("long").alias("precision_ppm"),
        F.expr(
            "CASE WHEN n_truth > 0 THEN (n_hit * 1000000) div n_truth"
            " ELSE 0 END"
        ).cast("long").alias("recall_ppm"),
        F.expr(
            "CASE WHEN n_pred + n_truth > 0 THEN"
            " (2 * n_hit * 1000000) div (n_pred + n_truth) ELSE 0 END"
        ).cast("long").alias("f1_ppm"),
    )


def q_weighted_jaccard(spark, sf_dir):
    # Exact WEIGHTED (multiset) Jaccard near-dups (r9): J_w = sum min /
    # sum max over term-FREQUENCY vectors — the signal set Jaccard
    # cannot give on this corpus (31-word vocabulary: every pair shares
    # nearly every term; only the count profiles differ). All-integer
    # score (half-up micro division), hot terms grid-guarded via the
    # weighted bipartite projection (combine="least"). Deterministic
    # 1/10 doc sample keeps the sum df^2 candidate cost bounded at any
    # SF — the documented blocking knob for common-vocabulary corpora.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return D.weighted_jaccard_pairs(docs)


def q_order_stats_ext(spark, sf_dir):
    # Second-moment aggregate family (corr/covar/stddev/variance) per
    # return flag — map-side-combinable single-pass moments; both
    # engines use numerically stable forms, rounded to absorb the
    # last-ulp disagreement of different accumulation orders.
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_discount"),
    )


def q_common_ngrams(spark, sf_dir):
    return T.common_ngrams(load_table(spark, sf_dir, "documents"), n=5, top=20)


def q_event_burstiness(spark, sf_dir):
    # Goh-Barabasi burstiness of per-user inter-event gaps; integer-
    # second moments are partition-order-exact, the mu/sigma expression
    # tree is mirrored operand-for-operand in the oracle.
    return E.burstiness(load_table(spark, sf_dir, "events"))


def q_span_dedup(spark, sf_dir):
    # ExactSubstr-style duplicate-span coverage (Lee et al. 2022) at
    # n=8 tokens; md5-keyed spans make the Spark and DuckDB sides
    # compute identical 60-bit span ids.
    return D.duplicate_span_coverage(load_table(spark, sf_dir, "documents"), n=8)


def q_suffix_array_dedup(spark, sf_dir):
    # Prefix-grouped suffix array with adjacent-LCP readout (r10): the
    # TRUE ExactSubstr construction (Lee et al. 2022) completing the
    # dedup ladder past span_dedup's fixed n=8 approximation — a suffix
    # array reports the MAXIMAL repeated-match length at every
    # token-start position. One shuffle keyed by the 30-char suffix
    # prefix (every pair with LCP >= 30 shares it, so global
    # suffix-array adjacency is exactly bucket-local adjacency);
    # adjacent-pair LCPs are linear. Oracle replays the identical
    # construction in windowed SQL (operators/suffixarray.py).
    from graph_database_spark.operators.suffixarray import suffix_lcp_dedup

    return suffix_lcp_dedup(
        load_table(spark, sf_dir, "documents"), min_match=30, ext_cap=64
    )


def q_suffix_cross_doc(spark, sf_dir):
    # EXACT cross-doc attribution of duplicated spans (r12, the ADVICE
    # r10 lower bound upgraded per VERDICT r11 #6): max LCP against the
    # nearest OTHER-document suffix in each sort direction via one
    # forward + one backward running-min scan per bucket — exact by the
    # suffix-array range-minimum property, still bucket-local. Outputs
    # both the old two-neighbor lower bound and the exact count, so
    # lb <= exact is pinned in the hash.
    from graph_database_spark.operators.suffixarray import suffix_cross_doc

    return suffix_cross_doc(
        load_table(spark, sf_dir, "documents"), min_match=30, ext_cap=64
    )


def q_dedup_span_cuts(spark, sf_dir):
    # The actionable ExactSubstr readout (r11): per document, the
    # MERGED union of its duplicated spans — each qualifying token
    # start contributes [pos, pos + mlcp), touching/overlapping
    # intervals fold in one gaps-and-islands pass — and cut_chars is
    # exactly what a Lee-et-al. cut pass would delete. Same single
    # bucket-keyed shuffle as suffix_array_dedup; the island windows
    # are per-doc (bounded by document length).
    from graph_database_spark.operators.suffixarray import (
        duplicate_span_cuts,
    )

    return duplicate_span_cuts(
        load_table(spark, sf_dir, "documents"), min_match=30, ext_cap=64
    )


def q_dedup_span_apply(spark, sf_dir):
    # The executed ExactSubstr transform (r11): remove every merged
    # duplicated interval from the normalized text and hash what
    # survives — md5 parity proves the cut SURGERY (segment boundaries,
    # concat order, tails) is byte-identical across engines, not just
    # the span arithmetic. Docs without spans pass through whole, so
    # the output covers the full corpus.
    from graph_database_spark.operators.suffixarray import apply_span_cuts

    return apply_span_cuts(
        load_table(spark, sf_dir, "documents"), min_match=30, ext_cap=64
    )


def q_knn_graph(spark, sf_dir):
    # Mutual-kNN graph over the embeddings table — the geometry-derived
    # graph that SemDeDup-style cluster pruning runs on. Since r7 the
    # top-k pass is LSH-bucketed candidates + exact in-bucket re-rank on
    # the md5 bucketing leg (sub-quadratic; the r6 brute-force form
    # refused to run past the 100k-row broadcast guard — VERDICT r6 #1);
    # the oracle replays the same buckets, so this stays hash-verified.
    return S.mutual_knn_graph(
        load_table(spark, sf_dir, "embeddings"), k=10, method="lsh",
        # r8: width is corpus-count-derived on BOTH sides (_auto_bits /
        # _AUTO_BITS_SQL) — lands at 4 bits for the shipped 500-2k
        # corpus (recall 0.88 vs 0.32 at the old 6-bit pin, floor
        # pytest-pinned) and widens with N so the query never degrades
        # to in-bucket quadratic if the driver raises sf (r7 VERDICT
        # wrong-#3).
        n_bits=None, n_tables=16,
    )


def q_dbscan_customers(spark, sf_dir):
    # Grid-blocked DBSCAN (r10): density clustering with an explicit
    # noise class over the (account balance, total spend) plane —
    # the arbitrary-shape complement of kmeans_cells' centroid model.
    # Coordinates are shifted non-negative integers (the div-vs-floor
    # contract in operators/dbscan.py); eps=300 / min_pts=12 give a
    # genuine core/border/noise mix on this corpus (932/1500 cores at
    # sf0.01). Deterministic end to end: clusters are min-core-id
    # components, border points take the MIN cluster among their
    # in-eps cores.
    from graph_database_spark.operators.dbscan import dbscan_grid

    sp = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.expr("sum(CAST(round(o_totalprice) AS BIGINT))").alias("spend"))
    )
    c = load_table(spark, sf_dir, "customer")
    p = c.join(sp, c.c_custkey == sp.o_custkey, "left").select(
        F.col("c_custkey").alias("id"),
        (F.expr("CAST(round(c_acctbal) AS BIGINT)") + 1000).alias("x"),
        F.expr("coalesce(spend, 0) div 1000").alias("y"),
    )
    return dbscan_grid(p, eps=300, min_pts=12)


def q_lof_outliers(spark, sf_dir):
    # Local Outlier Factor (r10): the density-RATIO anomaly score over
    # the embeddings table — completes the outlier family next to the
    # global z-score (embedding_outliers) and the univariate MAD screen.
    # Neighbors ride the hash-verified lsh_topk leg (same auto-bit
    # bucket construction the knn_graph oracle replays); distances and
    # the whole kdist/reachability/lrd/ratio chain are exact integers
    # with truncating division (operators/lof.py).
    from graph_database_spark.operators.lof import lof_scores

    return lof_scores(
        load_table(spark, sf_dir, "embeddings"),
        k=10,
        n_bits=None,
        n_tables=16,
    )


def q_events_resample(spark, sf_dir):
    # Gap-filling hourly resample with forward-fill + linear
    # interpolation over each user's complete hour grid.
    return TP.resample_hourly(load_table(spark, sf_dir, "events"))


def q_cumulative_users(spark, sf_dir):
    # Running distinct-user count by day (first-seen rewrite — no
    # distinct-over-window exists in any engine; this is the rewrite).
    return E.cumulative_users(load_table(spark, sf_dir, "events"))


def q_weighted_sample(spark, sf_dir):
    # Efraimidis-Spirakis weighted sample (md5-deterministic draws,
    # ln() snapped to micro-units before ranking).
    from graph_database_spark.operators.sampling import weighted_sample_es

    return weighted_sample_es(load_table(spark, sf_dir, "documents"), k=50)


def q_katz_centrality(spark, sf_dir):
    # Truncated Katz with exact dyadic beta=1/2 weights over integer
    # walk counts — partition-order-exact, unrolled join-for-join in
    # the oracle.
    from graph_database_spark.operators.katz import katz_centrality

    return katz_centrality(_edges(spark, sf_dir), horizon=4)


def q_graph_global_stats(spark, sf_dir):
    # One-row dataset card: density, avg degree, wedges, triangles,
    # Newman transitivity — all exact ints + single IEEE divisions.
    return G.global_stats(_edges(spark, sf_dir))


def q_label_centroid_sim(spark, sf_dir):
    # Pairwise cosine between class centroids (micro-unit-exact sums).
    return S.label_centroid_sim(load_table(spark, sf_dir, "embeddings"))


def q_ngram_containment(spark, sf_dir):
    # Asymmetric containment (|A∩B|/|A|) — the quote/subsumption
    # detector Jaccard resemblance misses; same scalar-only inverted-
    # index plan as ngram_jaccard_exact.
    return D.ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


def q_hybrid_search(spark, sf_dir):
    # BM25 + md5-hash-embedding cosine legs fused with Reciprocal Rank
    # Fusion — the full modern-RAG ranking stack, oracle-checkable end
    # to end because the dense leg uses the md5 twin.
    return R.hybrid_rrf_search(load_table(spark, sf_dir, "documents"), BM25_QUERY)


def q_compression_ratio(spark, sf_dir):
    # zlib compressibility quality signal — the one text-family Arrow
    # path (DEFLATE has no SQL analog): rows-only, exact values pinned
    # by tests/test_r6_operators.py. Why no oracle (VERDICT r10
    # next-#7 audit): level-6 DEFLATE output length depends on the
    # LZ77 match search and Huffman coding of the actual bytes — not
    # expressible in SQL. The PLUMBING is hash-gated by the
    # `compression_stored_twin` query below: zlib level 0 emits one
    # stored block for inputs < 65531 bytes, so n_compressed ==
    # n_bytes + 11 exactly (2B header + 5B block header + 4B adler),
    # which DuckDB computes from octet_length — same md5-twin
    # philosophy as ann_lsh_md5.
    return T.compression_ratio(load_table(spark, sf_dir, "documents"))


def q_compression_stored_twin(spark, sf_dir):
    # compression_ratio's hash-verified twin (r11): the identical
    # mapInPandas Arrow path (utf-8 encode -> zlib.compress -> byte
    # counts) at level 0, where DEFLATE degenerates to ONE stored
    # block for any input < 65531 bytes and the output size is the
    # spec constant n_bytes + 11 — so the oracle replays it from
    # octet_length alone. Ratio in exact PPM (micro-unit rule). The
    # size filter keeps the query inside the single-block regime on
    # both sides (documents here are ~1-2 KB; a corpus with >64 KB
    # docs simply drops them from the twin, never from the real
    # level-6 signal).
    base = T.compression_ratio(
        load_table(spark, sf_dir, "documents"), level=0
    )
    return base.where(
        (F.col("n_bytes") > 0) & (F.col("n_bytes") < 65531)
    ).select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.expr("(1000000 * n_compressed) div n_bytes").alias("ratio_ppm"),
    )


_ENTROPY_COLS = {
    "lineitem": ["l_returnflag", "l_linestatus"],
    "orders": ["o_orderpriority", "o_orderstatus"],
}


def _unpivot_cats(df, cols):
    return df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(c).cast("string").alias("val"),
                )
                for c in cols
            ])
        ).alias("p")
    ).select("p.*")


def q_column_entropy(spark, sf_dir):
    # Shannon entropy per categorical column — the cardinality/skew
    # profiling signal next to column_stats' min/max/NDV. ONE scan per
    # table: each table's categorical columns unpivot via explode into
    # (column, val) pairs, one shuffle groups them, and the entropy
    # terms -p*ln(p) are snapped to integer micro-units per DISTINCT
    # VALUE before the per-column sum (CLAUDE.md libm rule), so the
    # sum is partition-order-exact.
    pairs = _unpivot_cats(
        load_table(spark, sf_dir, "lineitem"), _ENTROPY_COLS["lineitem"]
    ).unionByName(
        _unpivot_cats(load_table(spark, sf_dir, "orders"), _ENTROPY_COLS["orders"])
    )
    counts = pairs.groupBy("column", "val").agg(F.count("*").alias("c"))
    tot = F.sum("c").over(Window.partitionBy("column"))
    p = F.col("c").cast("double") / tot.cast("double")
    term = F.round(-F.log(p) * p * F.lit(1000000.0), 0).cast("long")
    return (
        counts.withColumn("term", term)
        .groupBy("column")
        .agg(
            F.count("*").alias("n_distinct"),
            F.sum("term").alias("entropy_micro"),
        )
        .select(
            "column",
            "n_distinct",
            "entropy_micro",
            (F.col("entropy_micro").cast("double") / F.lit(1000000.0)).alias(
                "entropy"
            ),
        )
    )


def q_part_return_rate(spark, sf_dir):
    # Return-rate quality signal per brand: share of lineitems returned
    # (flag 'R') and the rounded revenue at stake — conditional
    # aggregation, integer counts, one exact division.
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ret = (F.col("l_returnflag") == "R").cast("long")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(ret).alias("n_returned"),
            F.round(
                F.sum(
                    F.when(
                        F.col("l_returnflag") == "R",
                        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                    )
                ),
                4,
            ).alias("returned_revenue"),
        )
        .select(
            "p_brand",
            "n_lines",
            "n_returned",
            "returned_revenue",
            (F.col("n_returned").cast("double") / F.col("n_lines").cast("double")
             ).alias("return_rate"),
        )
    )


def q_customer_value_deciles(spark, sf_dir):
    # Customer-lifetime-value deciles: revenue per customer (rounded 4,
    # order-exact compare) over (revenue desc, custkey) — a total order,
    # so the decile cut is engine-deterministic; then one summary row
    # per decile. r8: the unpartitioned ntile(10) (every customer on one
    # task — r7 VERDICT wrong-#1) is replaced by global_rank + the exact
    # ntile bucket arithmetic (first N%10 buckets get ceil(N/10) rows),
    # so the oracle's ntile(10) is unchanged. Descending revenue rides
    # the ascending range shuffle as its exact IEEE negation.
    from graph_database_spark.operators.rank import global_rank

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    ranked = global_rank(
        rev.withColumn("nrev", -F.col("revenue")),
        ["nrev", "o_custkey"],
        out_col="r",
    ).localCheckpoint()
    n = ranked.count()
    q, rem = divmod(n, 10)
    if q == 0:  # fewer rows than tiles: ntile gives each row its own bucket
        bucket = "CAST(r AS INT)"
    else:
        bucket = (
            f"CAST(CASE WHEN r <= {(q + 1) * rem} THEN (r - 1) div {q + 1} + 1 "
            f"ELSE {rem} + (r - {(q + 1) * rem} - 1) div {q} + 1 END AS INT)"
        )
    return (
        ranked.withColumn("decile", F.expr(bucket))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("n_orders").alias("n_orders"),
            F.round(F.sum("revenue"), 4).alias("revenue"),
        )
    )


def q_order_seasonality(spark, sf_dir):
    # Monthly demand curve with month-over-month delta and a centered
    # 3-month moving average — the seasonality readout (integer counts
    # end-to-end; the MoM ratio and the /3 average are single IEEE
    # divisions). The month frame is tiny by construction, so the
    # unpartitioned window is a diagnostic-grain non-issue.
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.count("*").alias("n_orders"))
    w = Window.orderBy("month")
    w3 = w.rowsBetween(-1, 1)
    return monthly.select(
        "month",
        "n_orders",
        (F.col("n_orders") - F.lag("n_orders").over(w)).alias("mom_delta"),
        (F.sum("n_orders").over(w3).cast("double")
         / F.count("*").over(w3).cast("double")).alias("ma3"),
    )


def q_supplier_concentration(spark, sf_dir):
    # Herfindahl-Hirschman concentration of supplier revenue per nation
    # — the market-structure aggregate. Revenue snaps to integer 1e4
    # units per supplier (order-exact sums), and each squared share
    # snaps to 1e12-unit integers BEFORE the per-nation sum (CLAUDE.md
    # libm/derived-score rule), so HHI hashes exactly.
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "s_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))),
                4,
            ).alias("r"),
        )
        .select(
            "s_nationkey",
            "s_suppkey",
            F.round(F.col("r") * F.lit(10000.0), 0).cast("long").alias("r4"),
        )
    )
    tot = F.sum("r4").over(Window.partitionBy("s_nationkey"))
    share = F.col("r4").cast("double") / F.col("tot").cast("double")
    term = F.round(share * share * F.lit(1e12), 0).cast("long")
    return (
        rev.withColumn("tot", tot)
        .withColumn("term", term)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("term").alias("hhi_pico"),
        )
        .select(
            "nationkey",
            "n_suppliers",
            "hhi_pico",
            (F.col("hhi_pico").cast("double") / F.lit(1e12)).alias("hhi"),
        )
    )


def q_embedding_outliers(spark, sf_dir):
    # The 10 most isolated vectors: rank by top-10 cosine mass
    # (per-neighbor sims snapped to micro ints, so the sum is order-
    # exact). The SemDeDup-era outlier-pruning signal — vectors whose
    # whole neighborhood is dissimilar are mislabeled/noise candidates.
    # Since r7 the top-k comes from LSH candidates + exact re-rank
    # (md5 leg, oracle replays the buckets — VERDICT r6 #1); a vector
    # colliding with few/no candidates is by construction LSH-isolated,
    # which is exactly the signal being ranked.
    emb = load_table(spark, sf_dir, "embeddings")
    # n_bits=None -> corpus-count-derived width, mirrored in the oracle
    # by _AUTO_BITS_SQL (r7 VERDICT wrong-#3).
    topk = S.lsh_topk(emb, emb, k=10, n_bits=None, n_tables=16)
    sim_micro = F.round(F.col("sim") * F.lit(1000000.0), 0).cast("long")
    return (
        topk.select("query_id", sim_micro.alias("sm"))
        .groupBy(F.col("query_id").alias("vec_id"))
        .agg(
            F.max("sm").alias("max_sim_micro"),
            F.sum("sm").alias("sum_top10_micro"),
        )
        .orderBy("sum_top10_micro", "vec_id")
        .limit(10)
    )


def q_token_novelty(spark, sf_dir):
    # Per-document vocabulary novelty in doc_id order: the fraction of
    # the doc's DISTINCT tokens whose corpus-wide first appearance
    # (min doc_id) is this document — the Heaps'-law growth curve
    # resolved to document grain (ordering/curriculum diagnostics).
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .distinct()
        .localCheckpoint()  # feeds first-seen AND per-doc counts
    )
    first = toks.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    return (
        toks.join(first, "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_tokens"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_first_seen"),
        )
        .select(
            "doc_id",
            "n_distinct_tokens",
            "n_first_seen",
            (
                F.col("n_first_seen").cast("double")
                / F.col("n_distinct_tokens").cast("double")
            ).alias("novelty"),
        )
    )


def q_events_anomaly_mad(spark, sf_dir):
    # Robust outlier report per event type: exact discrete median, MAD,
    # and the Iglewicz-Hoaglin modified-z outlier count (0.6745*dev >
    # 3.5*MAD, done as dev*6745 > 35000*mad — pure integers, no float
    # thresholds). Complements the mean/std event_anomalies: a single
    # spike drags a z-score baseline but not this one. Diagnostic-
    # family posture (like key_skew_profile): partitions by the
    # low-cardinality event_type, so the exact median is for reports —
    # the streaming/production path uses sketch quantiles
    # (quantile_hist).
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # base feeds the median window AND the deviation build — checkpoint
    # so the scan/projection runs once (r7: the lazy form recomputed the
    # scan 4x and re-sorted per consumer; 9 s -> the two inherent exact
    # rank-selection sorts).
    base = ev.select(
        "event_type",
        F.round(F.col("value") * F.lit(1000000.0), 0).cast("long").alias("v"),
    ).localCheckpoint()
    # group sizes once, broadcast (replaces a per-pass count() window)
    cnt = base.groupBy("event_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    # value at the lower-median index is deterministic under ties even
    # though row_number among equal v is not — the VALUE is what we keep
    med = (
        base.withColumn("rn", F.row_number().over(wt.orderBy("v")))
        .join(F.broadcast(cnt), "event_type")
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("v").alias("med"), "n")
    )
    devs = base.join(F.broadcast(med), "event_type").select(
        "event_type", "n", "med", F.abs(F.col("v") - F.col("med")).alias("dev")
    ).localCheckpoint()  # feeds the MAD window AND the final aggregate
    mad = (
        devs.withColumn("rn", F.row_number().over(wt.orderBy("dev")))
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("dev").alias("mad"))
    )
    return (
        devs.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("med").alias("median_micro"),
            F.max("mad").alias("mad_micro"),
            F.sum(
                (F.col("dev") * F.lit(6745) > F.lit(35000) * F.col("mad"))
                .cast("long")
            ).alias("n_outliers"),
        )
    )


def q_frequent_itemsets(spark, sf_dir):
    # Market-basket frequent triples (A-Priori shape): baskets are
    # orders' distinct part sets; the two self-joins stay per-basket
    # (key = orderkey), so cost is sum over baskets of C(k,3), not a
    # global product. At 100 TB the 1-item support prefilter (A-Priori
    # pruning) bounds the join inputs — kept explicit here even though
    # the synthetic baskets are small, because it IS the algorithm.
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    freq1 = (
        baskets.groupBy("l_partkey")
        .agg(F.count("*").alias("s1"))
        .where(F.col("s1") >= 2)
        .select("l_partkey")
    )
    b = baskets.join(freq1, "l_partkey").select(
        "l_orderkey", F.col("l_partkey").alias("item")
    ).localCheckpoint()  # three self-join consumers
    triples = (
        b.join(b.toDF("l_orderkey", "item_b"), "l_orderkey")
        .where(F.col("item") < F.col("item_b"))
        .join(b.toDF("l_orderkey", "item_c"), "l_orderkey")
        .where(F.col("item_b") < F.col("item_c"))
        .groupBy(
            F.col("item").alias("item_a"), "item_b", "item_c"
        )
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
    )
    return triples.orderBy(
        F.desc("support"), "item_a", "item_b", "item_c"
    ).limit(20)


_SKEW_KEYS = [
    ("orders", "o_custkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("events", "user_id"),
]


def q_key_skew_profile(spark, sf_dir):
    # Join-key skew diagnostics for the planner-facing keys: per key
    # column, the distinct-key count, hottest-key share, and exact
    # discrete p50/p99 of the per-key row counts (index picked by
    # integer ceil arithmetic over the sorted counts — deterministic,
    # no percentile interpolation to mirror). THE report that decides
    # salting / AQE-skew-join settings before a 100 TB run.
    frames = []
    for table, key in _SKEW_KEYS:
        counts = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(key))
            .agg(F.count("*").alias("cnt"))
            .select(
                F.lit(f"{table}.{key}").alias("key_col"),
                F.col("cnt"),
            )
        )
        frames.append(counts)
    allc = frames[0]
    for fr in frames[1:]:
        allc = allc.unionByName(fr)
    w = Window.partitionBy("key_col").orderBy("cnt")
    ranked = allc.select(
        "key_col",
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("key_col")).alias("n_keys"),
        F.sum("cnt").over(Window.partitionBy("key_col")).alias("total_rows"),
        F.max("cnt").over(Window.partitionBy("key_col")).alias("max_cnt"),
    )
    p50_idx = F.expr("(n_keys + 1) div 2")
    p99_idx = F.expr("(99 * n_keys + 99) div 100")
    return (
        ranked.groupBy("key_col", "n_keys", "total_rows", "max_cnt")
        .agg(
            F.max(F.when(F.col("rn") == p50_idx, F.col("cnt"))).alias("p50_cnt"),
            F.max(F.when(F.col("rn") == p99_idx, F.col("cnt"))).alias("p99_cnt"),
        )
        .select(
            "key_col",
            "n_keys",
            "total_rows",
            "max_cnt",
            "p50_cnt",
            "p99_cnt",
            (F.col("max_cnt").cast("double") / F.col("total_rows").cast("double")
             ).alias("top_share"),
            (F.col("p99_cnt").cast("double") / F.col("p50_cnt").cast("double")
             ).alias("p99_p50_ratio"),
        )
    )


def q_user_event_paths(spark, sf_dir):
    # Ordered path string per user (first 20 event types in time order)
    # — the sequence-mining prep every clickstream warehouse derives.
    # Ordered aggregation is rewritten engine-portably: collect structs,
    # array_sort (lexicographic on (ts, event_id) — a total order),
    # slice, then join; DuckDB mirrors with string_agg ORDER BY.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("user_id", F.struct("ts", "event_id", "event_type").alias("s"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("s")).alias("seq"))
        .select(
            "user_id",
            F.size("seq").cast("bigint").alias("n_events"),
            F.array_join(
                F.transform(F.slice("seq", 1, 20), lambda s: s["event_type"]),
                ">",
            ).alias("path"),
        )
    )


def q_scd2_intervals(spark, sf_dir):
    # Slowly-changing-dimension (type 2) build from the event stream:
    # one row per RUN of consecutive same-type events per user, with
    # validity interval — the warehouse dimension-maintenance rewrite
    # (lag to mark change points, running sum to number runs, then one
    # group). Two window passes + one agg, all on the user_id shuffle.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(order).isNull()
        | (F.lag("event_type").over(order) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = ev.withColumn("chg", chg).withColumn(
        "run_id", F.sum("chg").over(order)
    )
    return runs.groupBy("user_id", "run_id").agg(
        # constant within a run by construction; min() is the engine-
        # portable way to read it without a nondeterministic first()
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("valid_to"),
        F.count("*").alias("n_events"),
    )


def q_event_features(spark, sf_dir):
    # ML feature-engineering frame: per event, the lagged values, delta,
    # and a trailing 5-row sum — the model-input builder shape. Values
    # snap to micro-units first so the rolling sum is an exact integer.
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trail = order.rowsBetween(-4, 0)
    v = F.round(F.col("value") * F.lit(1000000.0), 0).cast("long")
    base = ev.select("user_id", "event_id", "ts", v.alias("v_micro"))
    return base.select(
        "user_id",
        "event_id",
        "v_micro",
        F.lag("v_micro", 1).over(order).alias("lag1_micro"),
        F.lag("v_micro", 3).over(order).alias("lag3_micro"),
        (F.col("v_micro") - F.lag("v_micro", 1).over(order)).alias(
            "delta_micro"
        ),
        F.sum("v_micro").over(trail).alias("rsum5_micro"),
    )


def q_edge_betweenness(spark, sf_dir):
    # Edge stress centrality (the Girvan-Newman community primitive) —
    # same integer sigma/g machinery as q_betweenness (shared via
    # _sigma_g), one extra DAG-edge join; level budget pinned to the
    # oracle's 12 unrolled levels.
    from graph_database_spark.operators.betweenness import edge_betweenness

    edges = copurchase_edges(spark, sf_dir)
    return edge_betweenness(edges, num_sources=32, max_iterations=12)


def q_densest_subgraph(spark, sf_dir):
    # Bahmani eps=1/2 greedy peel — the whole iterative optimization is
    # hash-verified: integer peel conditions make every round a pure
    # function of the graph, replayed by a recursive-CTE oracle.
    from graph_database_spark.operators.densest import densest_subgraph

    return densest_subgraph(copurchase_edges(spark, sf_dir))


def q_events_rolling_median(spark, sf_dir):
    # Trailing 15-row median per user — the robust twin of events_ewma;
    # micro-unit integers make the median exact cross-engine.
    return TP.rolling_median(load_table(spark, sf_dir, "events"))


def q_graph_coloring(spark, sf_dir):
    # Speculate-and-resolve greedy coloring with md5 priorities —
    # hash-verified via the 24-round recursive-CTE replay below (budget
    # pinned on BOTH sides; the operator raises on non-convergence).
    # Properness/determinism/bound additionally pinned by
    # tests/test_r6_operators.py.
    from graph_database_spark.operators.coloring import graph_coloring

    return graph_coloring(copurchase_edges(spark, sf_dir))


def q_pii_scan(spark, sf_dir):
    # PII census + redaction accounting (r7): the corpus has no natural
    # PII, so deterministic spans are planted first (doc_id-derived —
    # the attach_media philosophy) and then scanned/redacted with
    # dialect-portable regexes; the oracle replays plant + scan +
    # redact. Non-vacuity (hundreds of planted spans at sf0.01) is
    # pytest-pinned. operators/pii.py.
    from graph_database_spark.operators import pii

    docs = load_table(spark, sf_dir, "documents")
    return pii.pii_scan(pii.plant_pii(docs))


def q_link_negative_samples(spark, sf_dir):
    # Negative sampling for link-prediction training (r7): for every
    # vertex, k=5 deterministic non-neighbors drawn by md5 (proposal
    # j -> the vertex at md5-rank hash(v|j) mod N, rejected if self or
    # adjacent, first k accepted by draw index). The (positive edge,
    # negative pair) training-set builder every graph-ML pipeline
    # needs; md5 draws make it retry-stable and oracle-replayable.
    from graph_database_spark.plans.copurchase import symmetrize
    from graph_database_spark.operators.rank import global_rank
    from pyspark.sql import Window

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    sym = symmetrize(edges).localCheckpoint()
    verts = sym.select(F.col("v").alias("id")).distinct()
    n = verts.count()
    # distributed total-order rank (range shuffle + per-partition
    # offsets) — a bare row_number() window here would drag every
    # vertex onto one task at cluster scale.
    ranked = global_rank(
        verts.withColumn("mk", F.md5(F.col("id").cast("string"))),
        ["mk", "id"],
    ).select("id", "r").localCheckpoint()
    m, k = 12, 5
    draws = (
        verts.crossJoin(
            F.broadcast(
                spark.range(1, m + 1).select(F.col("id").cast("int").alias("j"))
            )
        )
        .select(
            "id",
            "j",
            (
                md5_hash60(
                    F.concat(F.col("id").cast("string"), F.lit("|"), F.col("j"))
                )
                % F.lit(n)
                + 1
            ).alias("pr"),
        )
        .join(ranked.select(F.col("r").alias("pr"), F.col("id").alias("neg_id")), "pr")
        .where(F.col("neg_id") != F.col("id"))
        .join(
            sym.select(F.col("v").alias("id"), F.col("n").alias("neg_id")),
            ["id", "neg_id"],
            "left_anti",
        )
    )
    # dedupe repeated partners (keep the earliest draw), then take the
    # first k accepted proposals per vertex
    dedup = draws.groupBy("id", "neg_id").agg(F.min("j").alias("j"))
    wk = Window.partitionBy("id").orderBy("j", "neg_id")
    return (
        dedup.withColumn("pick", F.row_number().over(wk))
        .where(F.col("pick") <= k)
        .select("id", "neg_id", F.col("j").alias("draw_idx"))
    )


def q_record_linkage(spark, sf_dir):
    # Blocked fuzzy entity resolution (r7): the production linkage
    # shape — collapse rows to DISTINCT name strings first (the value
    # universe is tiny next to the row count), block by the name's head
    # noun (last token), then exact Levenshtein 1..3 within a block.
    # The quadratic compare runs over distinct-name blocks only; raw
    # rows contribute just a count per name. Integer distances
    # (Wagner-Fischer is bit-identical in both engines).
    # r8: the within-block self-join goes through the skew guard — a
    # block above the threshold grid-decomposes over n_groups^2 keys
    # instead of serializing on one task (pair set identical either
    # way, so the oracle is unchanged; parity pytest in test_linkage).
    from graph_database_spark.operators.linkage import block_self_pairs

    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("cnt"))
        .withColumn("blk", F.element_at(F.split("p_name", " "), -1))
    )
    pairs = block_self_pairs(names, "blk", "p_name")
    return (
        pairs.withColumn(
            "dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        )
        .where((F.col("dist") >= 1) & (F.col("dist") <= 3))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.blk").alias("blk"),
            F.col("dist").cast("int").alias("dist"),
            F.col("a.cnt").alias("cnt_a"),
            F.col("b.cnt").alias("cnt_b"),
        )
    )


def q_cmh_test(spark, sf_dir):
    # Cochran-Mantel-Haenszel stratified association test (r10): the
    # confounder-adjusted 2x2 test completing the family next to
    # chi2_independence (unstratified) and logrank_test (censored) —
    # does the BUILDING segment order urgent-priority more often,
    # CONTROLLING for nation? Per-nation 2x2 cells are exact integer
    # counts; the O-E numerator and the hypergeometric variance use the
    # logrank discipline: floor-snapped micro terms via STAGED
    # truncating division (v1 = 1e6*r1*c1 div n; v2 = v1*r2 div n;
    # v3 = v2*c2 div (n(n-1))) so every per-stratum term is the same
    # BIGINT on both engines, and integer sums over the 25 strata are
    # partition-order-exact. Headroom: 1e6*r1*c1 needs r1*c1 < 9.2e12
    # — safe to ~3e6 orders per stratum (drop to milli beyond). The
    # final statistic is ONE double chain over the two integer sums
    # (the ab_test_welch rule).
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_mktsegment") == "BUILDING").cast("long").alias("e"),
    )
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.col("e") * F.col("y")).alias("a"),
            F.sum("e").alias("r1"),
            F.sum("y").alias("c1"),
            F.count("*").alias("nn"),
        )
        .where((F.col("nn") >= 2) & (F.col("r1") > 0) & (F.col("c1") > 0))
    )
    terms = cells.select(
        "c_nationkey",
        F.expr("1000000 * a - (1000000 * r1 * c1) div nn").alias(
            "num_micro"
        ),
        F.expr(
            "((((1000000 * r1 * c1) div nn) * (nn - r1)) div nn)"
            " * (nn - c1) div (nn - 1)"
        ).alias("var_micro"),
    )
    return terms.agg(
        F.count("*").alias("n_strata"),
        F.sum("num_micro").alias("s_num_micro"),
        F.sum("var_micro").alias("s_var_micro"),
        F.expr(
            "(CAST(sum(num_micro) AS DOUBLE)"
            " * CAST(sum(num_micro) AS DOUBLE))"
            " / (CAST(1000000.0 AS DOUBLE)"
            " * CAST(sum(var_micro) AS DOUBLE))"
        ).alias("cmh_stat"),
    )


def q_fellegi_sunter(spark, sf_dir):
    # Fellegi-Sunter probabilistic record linkage (r10): THE published
    # decision model the blocking legs (head-noun, soundex, cologne,
    # metaphone, sorted-neighborhood) and comparators (Levenshtein,
    # Jaro-Winkler) feed — latent match/unmatch classes over K=4 binary
    # field-agreement patterns (name / brand / type / size-within-2 of
    # part records), fitted with 5 rounds of the Winkler EM. Candidate
    # pairs come from the LINEAR sorted-neighborhood leg (rank-offset
    # equi-join, window 3 => exactly ~3N pairs at any corpus size — no
    # quadratic block anywhere). Bounded-model discipline
    # (em_gmm/markov): the corpus collapses to <= 2^4 = 16
    # pattern-count rows via one combinable shuffle; EM runs on the
    # driver over those ints, with every posterior FLOOR-snapped to
    # micro BEFORE the M-step sums (integer sums are order-exact;
    # floor, never round, for cross-engine double snaps — the
    # spearman/km rule). The oracle replays all 5 E/M rounds
    # operand-for-operand as generated CTEs (the ipw pattern).
    import math

    from graph_database_spark.operators.rank import global_rank

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    )
    ranked = global_rank(
        parts, ["p_name", "p_brand", "p_size", "p_partkey"], out_col="r"
    ).localCheckpoint()  # feeds both sides of the offset join
    left = ranked.withColumn(
        "off", F.explode(F.expr("sequence(1, 3)"))
    ).select(
        F.col("p_name").alias("na"),
        F.col("p_brand").alias("ba"),
        F.col("p_type").alias("tya"),
        F.col("p_size").alias("sa"),
        (F.col("r") + F.col("off")).alias("r2"),
    )
    right = ranked.select(
        F.col("p_name").alias("nb"),
        F.col("p_brand").alias("bb"),
        F.col("p_type").alias("tyb"),
        F.col("p_size").alias("sb"),
        F.col("r").alias("r2"),
    )
    gs = left.join(right, "r2").select(
        (F.col("na") == F.col("nb")).cast("int").alias("g1"),
        (F.col("ba") == F.col("bb")).cast("int").alias("g2"),
        (F.col("tya") == F.col("tyb")).cast("int").alias("g3"),
        (F.abs(F.col("sa") - F.col("sb")) <= 2).cast("int").alias("g4"),
    )
    pat = (
        gs.groupBy("g1", "g2", "g3", "g4")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    rows_ = [
        (
            (int(r["g1"]), int(r["g2"]), int(r["g3"]), int(r["g4"])),
            int(r["n"]),
        )
        for r in pat
    ]
    p, m, u = 0.1, [0.9] * 4, [0.1] * 4

    def estep():
        out = []
        for g, n in rows_:
            a, b = p, 1.0 - p
            for k in range(4):
                a = a * (m[k] if g[k] == 1 else (1.0 - m[k]))
                b = b * (u[k] if g[k] == 1 else (1.0 - u[k]))
            out.append(
                (g, n, int(math.floor((a / (a + b)) * 1000000.0)))
            )
        return out

    for _ in range(_FS_ROUNDS):
        ws = estep()
        s_ = sum(n * wm for (_, n, wm) in ws)
        t_ = sum(n * (1000000 - wm) for (_, n, wm) in ws)
        n_ = sum(n for (_, n, _) in ws)
        p = float(s_) / (1000000.0 * float(n_))
        m = [
            float(sum(n * wm for (g, n, wm) in ws if g[k] == 1))
            / float(s_)
            for k in range(4)
        ]
        u = [
            float(
                sum(n * (1000000 - wm) for (g, n, wm) in ws if g[k] == 1)
            )
            / float(t_)
            for k in range(4)
        ]
    out = [(g[0], g[1], g[2], g[3], n, wm) for (g, n, wm) in estep()]
    return spark.createDataFrame(
        out,
        "g1 int, g2 int, g3 int, g4 int, n_pairs long, post_micro long",
    )


def q_events_autocorr(spark, sf_dir):
    # Lag-1 autocorrelation sufficient statistics per event type (r7):
    # values snapped to milli-units (BIGINT-exact; milli not micro so
    # the squared-product sums stay far from 2^63), lagged over a
    # per-type (ts, event_id) window, then the five exact integer sums
    # from which a driver assembles Pearson r with one local division —
    # the serial-correlation probe of a metric-stream monitor, with no
    # cross-engine float anywhere.
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * F.lit(1000.0), 0).cast("long").alias("vm"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev", F.lag("vm").over(w)).where(
        F.col("prev").isNotNull()
    )
    return lagged.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.sum("prev").alias("sum_x"),
        F.sum("vm").alias("sum_y"),
        F.sum(F.col("vm") * F.col("prev")).alias("sum_xy"),
        F.sum(F.col("prev") * F.col("prev")).alias("sum_x2"),
        F.sum(F.col("vm") * F.col("vm")).alias("sum_y2"),
    )


def q_vocab_oov(spark, sf_dir):
    # Tokenizer vocabulary coverage (r7): induce the top-1000 corpus
    # vocabulary (freq desc, token asc — ranked by the distributed
    # global_rank helper, not a single-partition window), then the
    # per-document OOV token count via a broadcast anti-probe. The
    # coverage/fertility audit run before committing to a tokenizer;
    # exact integer counts only.
    from graph_database_spark.operators.rank import global_rank
    from graph_database_spark.operators.spread import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).localCheckpoint()
    freq = tok.groupBy("token").agg(F.count("*").alias("freq"))
    vocab = (
        global_rank(
            freq.withColumn("nf", -F.col("freq")), ["nf", "token"]
        )
        .where(F.col("r") <= 1000)
        .select("token")
    )
    per_doc = tok.join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "token", "left"
    )
    return per_doc.groupBy("doc_id").agg(
        F.count("*").alias("tok_cnt"),
        F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0)).alias(
            "oov_cnt"
        ),
    )


def q_distinct_users_sliding(spark, sf_dir):
    # Trailing-7-day distinct users per day from MERGED daily HLL
    # registers (r7): raw events build O(days x 32) register state
    # once; each window is a register-wise max over that state, never a
    # re-scan — the mergeable-sketch shape that replaces exact sliding
    # count-distinct at 100 TB. Integer register sums + the rounded
    # one-division estimate are both oracle-checked.
    _utc(spark)
    from graph_database_spark.operators.sketches import hll_sliding

    return hll_sliding(load_table(spark, sf_dir, "events"), "user_id")


def q_conversion_latency(spark, sf_dir):
    # View-to-purchase conversion latency histogram (r7): per user, the
    # first 'view' and the first 'purchase' at-or-after it; exact
    # epoch-second deltas bucketed by hour. Two filtered min-aggs and
    # one user-keyed join — the funnel-latency readout next to
    # event_funnel's conversion-rate one; integers end to end.
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    v0 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p0 = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .join(v0, "user_id")
        .where(F.col("p_ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("p_ts"), F.min("v_ts").alias("v_ts"))
    )
    lat = p0.select(
        "user_id",
        (
            F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")
        ).alias("lat_sec"),
    )
    return (
        lat.groupBy((F.col("lat_sec") / F.lit(3600)).cast("long").alias("hr"))
        .agg(F.count("*").alias("n_users"))
    )


def q_label_confusion(spark, sf_dir):
    # Label-noise audit via nearest-centroid confusion (r7): per-label
    # floor-mean centroids over micro-unit vectors (kmeans_cells'
    # verified idiom), each vector re-assigned to its nearest centroid
    # (BIGINT squared distances, ties to the smaller label), confusion
    # counts (label, pred_label, n). Off-diagonal mass is the classic
    # mislabeled/boundary-sample signal an annotation pipeline reviews.
    from graph_database_spark.operators.spread import spread

    ex = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.posexplode(F.col("embedding")).alias("pos", "x"),
        )
        .select(
            "vec_id",
            "label",
            (F.col("pos") + 1).cast("int").alias("i"),
            F.round(F.col("x").cast("double") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("xm"),
        )
        .localCheckpoint()
    )
    cent = ex.groupBy(F.col("label").alias("c"), "i").agg(
        F.floor(F.sum("xm").cast("double") / F.count("*").cast("double"))
        .cast("long")
        .alias("cm")
    )
    best = (
        ex.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "c")
        .agg(
            F.sum(
                (F.col("xm") - F.col("cm")) * (F.col("xm") - F.col("cm"))
            ).alias("d2")
        )
        .groupBy("vec_id", "label")
        .agg(
            F.min(
                F.struct(F.col("d2").alias("d2"), F.col("c").alias("c"))
            ).alias("best")
        )
        .select("label", F.col("best.c").alias("pred_label"))
    )
    return best.groupBy("label", "pred_label").agg(
        F.count("*").alias("n")
    )


def q_matryoshka_fidelity(spark, sf_dir):
    # Matryoshka-truncation audit (r7): how much of each vector's
    # energy survives keeping only the first 8/16/32 dims — the check
    # run before shipping truncated embeddings to a cheaper index.
    # Per vector: prefix/total energy as exact BIGINT micro-sums, the
    # ratio bucketed into 5%-bins with pure integer arithmetic
    # ((20*pe) div te; both engines truncate nonnegative division).
    # One explode + one grouped conditional sum — a single shuffle.
    from graph_database_spark.operators.spread import spread

    ex = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("x").cast("double") * F.lit(1000000.0), 0)
        .cast("long")
        .alias("xm"),
    )
    per_vec = ex.groupBy("vec_id").agg(
        F.sum(F.col("xm") * F.col("xm")).alias("te"),
        *[
            F.sum(
                F.when(F.col("i") <= d, F.col("xm") * F.col("xm")).otherwise(
                    F.lit(0)
                )
            ).alias(f"pe{d}")
            for d in (8, 16, 32)
        ],
    )
    long = per_vec.selectExpr(
        "te",
        "stack(3, 8, pe8, 16, pe16, 32, pe32) AS (prefix_dim, pe)",
    )
    return (
        long.where(F.col("te") > 0)
        .groupBy(
            F.col("prefix_dim").cast("int").alias("prefix_dim"),
            # integer div, NOT double '/': 20*pe exceeds 2^53 exactness
            # headroom at larger corpora and FP-then-truncate can land
            # on the wrong side of a bucket boundary
            F.expr("CAST((20 * pe) div te AS BIGINT)").alias("bucket"),
        )
        .agg(F.count("*").alias("n_vecs"))
    )


def q_theil_sen_trend(spark, sf_dir):
    # Theil-Sen robust trend per event type (r7): median of all
    # pairwise slopes between DAILY (sum, count) aggregates — the
    # outlier-proof complement to the MAD/CUSUM/PSI drift family.
    # Slopes stay exact rationals: slope between days a<b is
    # (s_b*c_a - s_a*c_b) / (c_a*c_b*(b-a)) over milli-unit sums;
    # scaled to micro-per-day via the portable floor-division identity
    # (x - pmod(x, y)) / y (exact division — no trunc-vs-floor
    # divergence on negative slopes). Day-granularity state is bounded,
    # so the pairwise step is O(days^2) per type, never O(rows^2).
    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.round(F.col("value") * F.lit(1000.0), 0).cast("long").alias("vm"),
    )
    daily = (
        ev.groupBy("event_type", "day")
        .agg(F.count("*").alias("c"), F.sum("vm").alias("s"))
        .withColumn(
            "d", (F.unix_timestamp("day") / F.lit(86400)).cast("long")
        )
        .localCheckpoint()
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, F.col("a.event_type") == F.col("b.event_type"))
        .where(F.col("a.d") < F.col("b.d"))
        .select(
            F.col("a.event_type").alias("event_type"),
            (
                F.col("b.s") * F.col("a.c") - F.col("a.s") * F.col("b.c")
            ).alias("num"),
            (
                F.col("a.c") * F.col("b.c") * (F.col("b.d") - F.col("a.d"))
            ).alias("den"),
        )
    )
    scaled = pairs.select(
        "event_type",
        # exact-multiple integer division (div, never double '/': the
        # numerator passes 2^53 at sf0.1 and FP division would wobble)
        F.expr(
            "CAST((num * 1000000 - pmod(num * 1000000, den)) div den"
            " AS BIGINT)"
        ).alias("slope_micro"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_micro")
    ranked = scaled.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    # lower median (rank ceil(n/2)) — portable, no averaging of two mids
    return (
        ranked.where(F.col("rk") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("slope_micro").alias("theil_sen_micro"))
    )


def q_max_spanning_forest(spark, sf_dir):
    # Borůvka maximum spanning forest of the weighted co-purchase
    # graph (r7): the strongest-tie backbone / single-linkage
    # clustering skeleton. O(log V) rounds, one grouped max per round
    # over a SHRINKING cross-edge set; the composite (w DESC, src, dst)
    # order makes the forest unique, so the result is
    # algorithm-independent — which lets the DuckDB oracle run its OWN
    # lazy Borůvka (recursive-CTE, cut-property-sound selection with
    # one-hop contraction) and still hash-match the exact edge set.
    # Also pinned against pure-Python Kruskal in
    # tests/test_r7b_operators.py.
    from graph_database_spark.operators.msf import max_spanning_forest
    from graph_database_spark.plans.copurchase import (
        copurchase_edges_weighted,
    )

    we = copurchase_edges_weighted(spark, sf_dir).select(
        "src", "dst", F.col("weight").alias("w")
    )
    return max_spanning_forest(we)


def q_msf_clusters(spark, sf_dir):
    # Single-linkage clustering by cutting the maximum spanning forest
    # at tie strength >= 2 (r7): the MST-clustering classic. The Spark
    # side derives clusters FROM the Borůvka forest (components of the
    # thresholded forest edges); the oracle instead takes components of
    # the thresholded ORIGINAL graph — the two agree exactly iff the
    # computed forest is a true maximum spanning forest, so the hash
    # check doubles as an independent proof of the single-linkage
    # equivalence (and of msf.py) along a second derivation path.
    from graph_database_spark.operators.components import (
        connected_components,
    )
    from graph_database_spark.operators.msf import max_spanning_forest
    from graph_database_spark.plans.copurchase import (
        copurchase_edges_weighted,
    )

    we = (
        copurchase_edges_weighted(spark, sf_dir)
        .select("src", "dst", F.col("weight").alias("w"))
        .localCheckpoint()
    )
    keep = max_spanning_forest(we).where(F.col("w") >= 2).select("src", "dst")
    cc = connected_components(keep)
    verts = (
        we.select(F.col("src").alias("id"))
        .union(we.select(F.col("dst").alias("id")))
        .distinct()
    )
    return verts.join(cc, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("cluster")
    )


def q_hyper_anf(spark, sf_dir):
    # HyperANF / approximate neighborhood function (r7, Boldi-Vigna):
    # per-vertex HLL sketches merged register-wise along edges for 3
    # hops — |B(v,t)| estimates whose state stays |V| x 16 registers
    # however dense the balls get (the scalable complement to the
    # exact q_two_hop_reach). Integer register sums + the one-division
    # estimate, both oracle-checked against a 3x unrolled SQL replay.
    from graph_database_spark.operators.sketches import hll_neighborhood

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    return hll_neighborhood(edges)


def q_max_concurrency(spark, sf_dir):
    # Peak concurrent sessions (r7): the sweep-line classic — +1/-1
    # deltas at session start/end, a GLOBAL running sum (distributed
    # via rank.global_prefix_sum: range shuffle + broadcast offsets,
    # never a single-partition window), then the max with earliest-ts
    # tiebreak. The capacity-planning readout of the session table.
    from graph_database_spark.operators.rank import global_prefix_sum

    _utc(spark)
    sess = E.sessionize(load_table(spark, sf_dir, "events"))
    pts = sess.select(
        F.col("session_start").alias("ts"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_id",
    ).unionByName(
        sess.select(
            F.col("session_end").alias("ts"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_id",
        )
    )
    # nd = -delta so plain ascending order puts +1 (starts) before -1
    # (ends) at the same instant: touching sessions count as
    # overlapping (inclusive endpoints), matching the oracle.
    pts = pts.withColumn("nd", -F.col("delta"))
    run = global_prefix_sum(
        pts, ["ts", "nd", "user_id", "session_id"], "delta", "concurrent"
    )
    best = run.agg(
        F.max(
            F.struct(
                F.col("concurrent").alias("c"),
                # micros, not seconds: sub-second session bounds must
                # survive the argmax round-trip or at_ts diverges
                (-F.unix_micros(F.col("ts"))).alias("nt"),
            )
        ).alias("b")
    )
    return best.select(
        F.col("b.c").alias("max_concurrent"),
        F.expr("timestamp_micros(-b.nt)").alias("at_ts"),
    )


def q_fk_integrity(spark, sf_dir):
    # Referential-integrity audit (r7, restructured r8): orphan counts
    # for every foreign-key edge of the schema plus the events->customer
    # link — the data-quality gate a warehouse runs after every load.
    # r7 shipped 8 independent anti-join legs re-deriving their scans
    # (32 pre-AQE Exchanges, the widest plan in the catalog — VERDICT r7
    # wrong-#4). r8 folds all edges into ONE cogrouped pass: each table
    # is scanned once, children and parents union into (relation, key)
    # streams, existence comes from a single left join against the
    # relation-tagged parent key groups (same shuffle key as the join,
    # so the aggregation's partitioning is reused), and both counts of
    # every relation come out of one final groupBy.
    rels = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
    ]
    tables: dict[str, DataFrame] = {}

    def tbl(name: str) -> DataFrame:
        if name not in tables:
            tables[name] = load_table(spark, sf_dir, name)
        return tables[name]

    kids = [
        tbl(child).select(
            F.lit(name).alias("relation"), F.col(ckey).cast("long").alias("k")
        )
        for name, child, ckey, _, _ in rels
    ]
    pars = [
        tbl(parent).select(
            F.lit(name).alias("relation"), F.col(pkey).cast("long").alias("k")
        )
        for name, _, _, parent, pkey in rels
    ]
    children = reduce(lambda a, b: a.unionByName(b), kids)
    parents = (
        reduce(lambda a, b: a.unionByName(b), pars)
        .groupBy("relation", "k")
        .agg(F.lit(1).alias("hit"))
    )
    return (
        children.join(parents, ["relation", "k"], "left")
        .groupBy("relation")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("hit").isNull(), 1)).alias("n_orphans"),
        )
    )


# round(log10(1 + 1/d) * 1e6) — inlined identically in the oracle so
# no libm call crosses the engine boundary.
_BENFORD_PPM = "map(1,301030,2,176091,3,124939,4,96910,5,79181,6,66947,7,57992,8,51153,9,45757)"


def q_benford_prices(spark, sf_dir):
    # Benford first-digit profile of line-item prices (r7): the fraud /
    # synthetic-data smell test. Leading digit extracted from the exact
    # integer cents' decimal string (double formatting differs across
    # engines; integer strings don't), expected frequencies inlined as
    # identical ppm literals on both sides.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("cents")
        )
        .where(F.col("cents") > 0)
    )
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
    return (
        li.groupBy(digit.alias("digit"))
        .agg(F.count("*").alias("observed"))
        .withColumn(
            "expected_ppm",
            F.expr(_BENFORD_PPM)[F.col("digit")].cast("long"),
        )
    )


def q_entity_resolution(spark, sf_dir):
    # Entity canonicalization (r7): transitive closure over the blocked
    # Levenshtein matches of q_record_linkage — connected components on
    # the name-match graph, each name mapped to its cluster's canonical
    # name. Names ride as their min part key (one numeric id per
    # distinct value), so the CC fixpoint stays on BIGINTs; the output
    # is the survivorship table an MDM pipeline publishes.
    from graph_database_spark.operators.components import (
        connected_components,
    )

    from graph_database_spark.operators.linkage import block_self_pairs

    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("nid"))
        .withColumn("blk", F.element_at(F.split("p_name", " "), -1))
        .localCheckpoint()
    )
    # r8: skew-guarded block self-join (see q_record_linkage).
    pairs = (
        block_self_pairs(names, "blk", "nid")
        .where(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).between(1, 3)
        )
        .select(F.col("a.nid").alias("src"), F.col("b.nid").alias("dst"))
    )
    cc = connected_components(pairs)
    canon = names.select(
        F.col("nid").alias("component"), F.col("p_name").alias("canon_name")
    )
    return (
        names.join(cc.select(F.col("id").alias("nid"), "component"), "nid", "left")
        .withColumn("component", F.coalesce("component", F.col("nid")))
        .join(canon, "component")
        .select("p_name", "canon_name")
    )


def q_events_twap(spark, sf_dir):
    # Time-weighted average value per (event_type, day) (r7): the
    # finance/metering aggregate a plain AVG gets wrong under uneven
    # sampling. Step function held from each event to the next of the
    # same type within the day; emitted as EXACT integer sufficient
    # stats (milli-value x micros duration, and the total duration) —
    # one window pass, no cross-engine division.
    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * F.lit(1000.0), 0).cast("long").alias("vm"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    seg = ev.withColumn("nxt", F.lead(F.unix_micros(F.col("ts"))).over(w))
    seg = seg.where(F.col("nxt").isNotNull()).select(
        "event_type",
        "day",
        (F.col("vm") * (F.col("nxt") - F.unix_micros(F.col("ts")))).alias(
            "vt"
        ),
        (F.col("nxt") - F.unix_micros(F.col("ts"))).alias("dt"),
    )
    return seg.groupBy("event_type", "day").agg(
        F.sum("vt").alias("vt_sum"),
        F.sum("dt").alias("dur_micros"),
        F.count("*").alias("n_segments"),
    )


def q_pq_codes(spark, sf_dir):
    # Product quantization (r7): per-subspace k-means codebooks
    # (4 subspaces x 16 dims x 16 codes over the 64-dim embeddings) —
    # the IVF-PQ serving layout, completing the compression stack next
    # to scalar quantization and IVF cells. Training loop hash-verified
    # end to end via the subspace-generalized kmeans replay
    # (_build_pq_sql); micro-int distances, floor-exact means, md5
    # seeds ranked with the distributed global_rank.
    from graph_database_spark.operators.pq import pq_assign

    return pq_assign(load_table(spark, sf_dir, "embeddings"))


def q_ann_ivfpq(spark, sf_dir):
    # IVF-PQ asymmetric-distance search (r13): the FAISS-style serving
    # layout as an actual SEARCH — coarse IVF cells prune candidates,
    # PQ codes + per-query exact lookup tables rank them by integer ADC
    # distance. Composes two already-verified twins (ann_ivf_md5 cells,
    # pq_codes training) into one hash-verified pipeline; candidates
    # are touched only through their 4 byte-sized codes, which is the
    # compressed-index property that scales the layout to 100 TB
    # (operators/pq.ivfpq_topk_md5).
    from graph_database_spark.operators.pq import ivfpq_topk_md5

    return ivfpq_topk_md5(load_table(spark, sf_dir, "embeddings"))


def q_association_rules(spark, sf_dir):
    # Market-basket association rules (r7): pairs with support >= 3
    # expanded to directed rules with confidence and lift in exact
    # floor-ppm integers (conf = P(b|a), lift = conf / P(b) — both as
    # supp_ab-scaled integer divisions, no cross-engine float). The
    # rule miner next to frequent_itemsets' triple counter; pair
    # generation is the bounded per-basket self-join.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct().localCheckpoint()
    n_baskets = li.select("o").distinct().count()
    supp = li.groupBy("p").agg(F.count("*").alias("s")).localCheckpoint()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, F.col("a.o") == F.col("b.o"))
        .where(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").alias("s_ab"))
        .where(F.col("s_ab") >= 3)
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "s_ab",
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "s_ab",
        )
    )
    out = (
        rules.join(
            supp.select(F.col("p").alias("antecedent"), F.col("s").alias("s_a")),
            "antecedent",
        )
        .join(
            supp.select(F.col("p").alias("consequent"), F.col("s").alias("s_b")),
            "consequent",
        )
    )
    return out.select(
        "antecedent",
        "consequent",
        F.col("s_ab").alias("support"),
        F.expr("CAST((s_ab * 1000000) div s_a AS BIGINT)").alias(
            "confidence_ppm"
        ),
        F.expr(
            f"CAST((s_ab * CAST({n_baskets} AS BIGINT) * 1000000)"
            " div (s_a * s_b) AS BIGINT)"
        ).alias("lift_ppm"),
    )


def q_rfm_segments(spark, sf_dir):
    # RFM segmentation (r7): recency/frequency/monetary quintiles per
    # customer — the classic marketing cut. Monetary stays exact cents;
    # quintile q = (rank-1)*5 div n + 1 over the distributed
    # global_rank (uniform bucketing, identical integer formula in the
    # oracle — no engine ntile semantics to match). Higher score =
    # better (most recent / most frequent / highest spend = 5).
    from graph_database_spark.operators.rank import global_rank

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_date"),
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "monetary_cents"
        ),
    ).localCheckpoint()
    n = per_cust.count()

    def quintile(df, order_col, out):
        ranked = global_rank(df, [order_col, "c_custkey"], out_col="__r")
        return ranked.withColumn(
            out, F.expr(f"CAST((__r - 1) * 5 div {n} AS INT) + 1")
        ).drop("__r")

    scored = quintile(per_cust, "last_date", "r_q")
    scored = quintile(scored, "n_orders", "f_q")
    scored = quintile(scored, "monetary_cents", "m_q")
    return scored.select(
        "c_custkey",
        "n_orders",
        "monetary_cents",
        "r_q",
        "f_q",
        "m_q",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("segment"),
    )


# Poisson(1) inverse CDF in ppm — identical literals in the oracle so
# the bootstrap needs no RNG and no libm on either engine.
_POIS_PPM = (
    (367879, 0), (735759, 1), (919699, 2), (981012, 3),
    (996340, 4), (999406, 5), (999917, 6), (999990, 7),
)


def q_bootstrap_replicates(spark, sf_dir):
    # Deterministic Poisson bootstrap (r7): 32 resample replicates of
    # each event type's value sum in ONE pass — per (row, replicate)
    # the md5-uniform draw maps through a fixed Poisson(1) inverse-CDF
    # ppm table to a resample multiplicity. The distributed-bootstrap
    # primitive (Chamandy et al.'s Poisson trick: no global n needed,
    # so it streams); replicate sums are exact milli-unit BIGINTs a
    # consumer turns into CIs. Retry-stable: draws keyed on
    # (event_id, rep), never on partitioning.
    from graph_database_spark.operators.sketches import md5_hash60

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * F.lit(1000.0), 0).cast("long").alias("vm"),
    )
    reps = spark.range(32).select(F.col("id").cast("int").alias("rep"))
    drawn = ev.crossJoin(F.broadcast(reps)).withColumn(
        "u",
        md5_hash60(
            F.concat(
                F.col("event_id").cast("string"), F.lit("|"), F.col("rep")
            )
        )
        % F.lit(1000000),
    )
    k = F.lit(8)
    for ppm, kv in reversed(_POIS_PPM):
        k = F.when(F.col("u") < ppm, F.lit(kv)).otherwise(k)
    drawn = drawn.withColumn("k", k.cast("long"))
    return drawn.groupBy("event_type", "rep").agg(
        F.sum(F.col("k") * F.col("vm")).alias("sum_milli"),
        F.sum("k").alias("n_eff"),
    )


def q_spend_gini(spark, sf_dir):
    # Gini concentration of customer spend (r7): the inequality
    # readout. G = 2*sum(i*x_(i))/(n*sum(x)) - (n+1)/n needs the
    # rank-weighted sum over the sorted spend vector — ranks come from
    # the distributed global_rank (ties broken by custkey), cents stay
    # exact, and the output is the three integer sufficient statistics,
    # leaving the two divisions to the consumer.
    from graph_database_spark.operators.rank import global_rank

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("cents")
        )
    )
    ranked = global_rank(spend, ["cents", "c"], out_col="r")
    return ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("r") * F.col("cents")).alias("rank_weighted_cents"),
    )


def q_sequence_logloss(spark, sf_dir):
    # Next-event log-loss per user (r7): each user's event stream
    # scored under the corpus-trained Laplace-smoothed transition model
    # — the sequence-model evaluation next to event_transitions'
    # training counts (perplexity = exp(loss/n)). Per-transition
    # -ln p snapped to integer micro-units (CLAUDE micro rule; the
    # oracle mirrors the expression tree operand-for-operand), so the
    # per-user sums are partition-order-exact.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    n_types = ev.select("event_type").distinct().count()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNotNull())
        .select("user_id", "prev", "event_type")
        .localCheckpoint()
    )
    c2 = seq.groupBy("prev", "event_type").agg(F.count("*").alias("c2"))
    c1 = seq.groupBy("prev").agg(F.count("*").alias("c1"))
    model = c2.join(c1, "prev").select(
        "prev",
        "event_type",
        F.round(
            -F.log(
                (F.col("c2").cast("double") + F.lit(1.0))
                / (F.col("c1").cast("double") + F.lit(float(n_types)))
            )
            * F.lit(1000000.0),
            0,
        )
        .cast("long")
        .alias("nlp_micro"),
    )
    return (
        seq.join(F.broadcast(model), ["prev", "event_type"])
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_transitions"),
            F.sum("nlp_micro").alias("loss_micro"),
        )
    )


def q_percolation(spark, sf_dir):
    # Targeted-attack percolation curve (r7): remove the top-k degree
    # hubs (k = 0/10/50) and measure the surviving giant component —
    # the network-robustness readout (scale-free graphs collapse under
    # targeted removal). Hubs picked by distributed global_rank on
    # (degree DESC, id); each k re-runs the shared hash-min CC over the
    # filtered edge set.
    from graph_database_spark.operators.components import (
        connected_components,
    )
    from graph_database_spark.operators.rank import global_rank
    from graph_database_spark.plans.copurchase import symmetrize

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    deg = (
        symmetrize(edges)
        .groupBy(F.col("v").alias("id"))
        .agg(F.count("*").alias("d"))
    )
    ranked = global_rank(
        deg.withColumn("nd", -F.col("d")), ["nd", "id"]
    ).localCheckpoint()

    # r14 optimization round: the three k-slices are INDEPENDENT
    # eager CC fixpoints whose per-round cost is fixed scheduler
    # latency on tiny coalesced state — running them from a small
    # thread pool lets each fixpoint's jobs back-fill the executors
    # the others leave idle (guide §2.6 overlap; result unchanged, the
    # union order is pinned by the k list).
    def one_k(k: int):
        hubs = ranked.where(F.col("r") <= k).select("id")
        kept = edges.join(
            hubs.select(F.col("id").alias("src")), "src", "left_anti"
        ).join(hubs.select(F.col("id").alias("dst")), "dst", "left_anti")
        cc = connected_components(kept)
        return cc.groupBy("component").agg(F.count("*").alias("sz")).agg(
            F.lit(k).cast("int").alias("k_removed"),
            F.count("*").alias("n_components"),
            F.sum("sz").alias("n_vertices"),
            F.max("sz").alias("giant_size"),
        )

    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=3) as pool:
        rows = list(pool.map(inheritable_thread_target(one_k), (0, 10, 50)))
    out = rows[0]
    for row in rows[1:]:
        out = out.unionByName(row)
    return out


def q_lorenz_curve(spark, sf_dir):
    # Lorenz curve of customer spend (r7): cumulative cents per spend
    # decile — the distribution readout behind spend_gini's scalar.
    # Deciles via the same global_rank integer bucket formula as
    # rfm_segments; the final cumulative window runs over 10 aggregated
    # rows, so it is legitimately single-partition.
    from graph_database_spark.operators.rank import global_rank

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("cents")
        )
    )
    ranked = global_rank(spend, ["cents", "c"], out_col="r").localCheckpoint()
    n = ranked.count()
    dec = ranked.withColumn(
        "decile", F.expr(f"CAST((r - 1) * 10 div {n} AS INT) + 1")
    )
    per = dec.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("decile_cents"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.withColumn(
        "cum_cents", F.sum("decile_cents").over(w).cast("long")
    )


def q_psi_drift(spark, sf_dir):
    # Population Stability Index per event type (r7): first vs second
    # half of the value stream, reference-decile bins, Laplace-smoothed
    # occupancies, per-bin ln terms snapped to micro before the sum —
    # the production feature-drift alarm (psi_micro > 200000 ~ retrain).
    from graph_database_spark.operators.drift import psi_drift

    return psi_drift(load_table(spark, sf_dir, "events"))


def q_two_hop_reach(spark, sf_dir):
    # Strict two-hop reach per vertex (r7): |N(N(v)) \ (N(v) u {v})| —
    # the audience-expansion / influence-radius diagnostic. One
    # center-keyed self-join + distinct + anti-join; integer counts.
    from graph_database_spark.plans.copurchase import symmetrize

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    sym = symmetrize(edges).localCheckpoint()
    two = (
        sym.alias("a")
        .join(sym.alias("b"), F.col("a.n") == F.col("b.v"))
        .select(F.col("a.v").alias("v"), F.col("b.n").alias("w"))
        .where(F.col("v") != F.col("w"))
        .distinct()
    )
    strict2 = two.join(
        sym.select("v", F.col("n").alias("w")), ["v", "w"], "left_anti"
    )
    deg = sym.groupBy("v").agg(F.count("*").alias("n1"))
    n2 = strict2.groupBy("v").agg(F.count("*").alias("n2"))
    return (
        deg.join(n2, "v", "left")
        .select(
            F.col("v").alias("id"),
            "n1",
            F.coalesce("n2", F.lit(0)).alias("n2"),
        )
    )


def q_events_cusum(spark, sf_dir):
    # CUSUM mean-shift detection per user (r7): division-free centered
    # prefix sums (P_k = cumsum(n*x_micro) - k*total) make the drift
    # statistics exact BIGINTs — no mean rounding anywhere. The drift
    # detector a pipeline runs over per-source metric streams.
    return E.cusum_changepoints(load_table(spark, sf_dir, "events"))


def q_kmeans_cells(spark, sf_dir):
    # Lloyd's k-means, hash-verified (r7): 3 assign rounds / 2 centroid
    # updates over integer micro-unit vectors — BIGINT squared
    # distances, floor-based centroid means (one IEEE division + floor,
    # bit-identical cross-engine), md5-ordered seeds. The clustering
    # step SemDeDup-style pipelines presuppose; the nano-unit pagerank's
    # verified-iteration philosophy applied to geometry.
    from graph_database_spark.operators.kmeans import kmeans_assign

    return kmeans_assign(
        load_table(spark, sf_dir, "embeddings"), k=8, rounds=3
    )


def q_graph_diameter(spark, sf_dir):
    # Double-sweep diameter lower bound (r7): BFS from the minimum
    # vertex id, hop to the farthest vertex (dist DESC, id ASC), BFS
    # again — the classic 2-sweep heuristic whose second eccentricity
    # is exact on trees and a tight lower bound in practice. Two
    # fixpoint BFS runs + two bounded one-row collects; the oracle
    # replays both recursive walks and the argmax hop.
    from graph_database_spark.operators.bfs import bfs_distances

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    d1 = bfs_distances(edges)
    far = d1.orderBy(F.desc("dist"), "id").limit(1).first()
    start = d1.agg(F.min("id")).first()[0]
    d2 = bfs_distances(edges, source=far["id"])
    return d2.agg(
        F.lit(int(start)).cast("long").alias("start_id"),
        F.lit(int(far["id"])).cast("long").alias("sweep_source"),
        F.max_by(
            F.col("id"),
            F.struct(F.col("dist").alias("d"), (-F.col("id")).alias("ni")),
        ).alias("peripheral_id"),
        F.max("dist").cast("long").alias("diameter_lb"),
        F.count("*").cast("long").alias("n_reached"),
    )


def q_bpe_merges(spark, sf_dir):
    # Tokenizer induction (r7): the first 3 BPE merges learned from the
    # corpus word-frequency table — integer pair counts, deterministic
    # (count DESC, sym) argmax, greedy left-to-right merges replayed in
    # the oracle via the gaps-and-islands window formulation.
    from graph_database_spark.operators.bpe import bpe_merge_table

    return bpe_merge_table(load_table(spark, sf_dir, "documents"), n_merges=3)


def q_source_reputation(spark, sf_dir):
    # Per-source hygiene rollup (r7): exact-duplicate rate (normalized
    # fingerprints) + PII rate over the planted corpus — the C4-style
    # blocklist-candidate report a curation pipeline reviews before
    # admitting a source. Distinct from corpus_curation (token/quality
    # rollup after dedup): this scores the RAW source. All counts are
    # integers; the two rates are single IEEE divisions.
    from graph_database_spark.functions.textnorm import text_fingerprint
    from graph_database_spark.operators import pii

    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id", "source", text_fingerprint(F.col("text")).alias("fp")
    )
    sizes = fps.groupBy("fp").agg(F.count("*").alias("gs"))
    dup = fps.join(sizes, "fp").select(
        "doc_id", "source", (F.col("gs") > 1).cast("long").alias("is_dup")
    )
    scan = pii.pii_scan(pii.plant_pii(docs)).select(
        "doc_id",
        F.col("has_pii").cast("long").alias("has_pii"),
        (F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones")).alias("spans"),
    )
    return (
        dup.join(scan, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_dup").alias("dup_docs"),
            F.sum("has_pii").alias("pii_docs"),
            F.sum("spans").alias("pii_spans"),
        )
        .select(
            "source",
            "n_docs",
            "dup_docs",
            "pii_docs",
            "pii_spans",
            (F.col("dup_docs").cast("double") / F.col("n_docs").cast("double")).alias("dup_rate"),
            (F.col("pii_docs").cast("double") / F.col("n_docs").cast("double")).alias("pii_rate"),
        )
    )


def q_audio_features(spark, sf_dir):
    # Real WAV round-trip, hash-verified (r7): synthesize RIFF/PCM
    # containers per document, parse them back with the strict chunk
    # walker, emit integer features (energy = sum s^2, peak, zero
    # crossings). The oracle recomputes the features straight from the
    # md5 sample generator — a hash match proves the writer+parser
    # round-trip is lossless (any header/endianness/offset bug breaks
    # the integer sums). operators/av.py.
    from graph_database_spark.operators import av

    docs = load_table(spark, sf_dir, "documents")
    return av.decode_audio(av.attach_audio(docs))


def q_video_motion(spark, sf_dir):
    # Raw-frame video round-trip, hash-verified (r7): VID0 container
    # (header + uint8 planes), numpy reshape decode, L1 frame-delta
    # motion — the temporal-video signal. Same oracle philosophy as
    # audio_features (generator-side recomputation).
    from graph_database_spark.operators import av

    docs = load_table(spark, sf_dir, "documents")
    return av.decode_video(av.attach_video(docs))


def q_order_percentiles(spark, sf_dir):
    # percent_rank / cume_dist surface — both are single IEEE divisions
    # of exact rank integers, so no rounding is needed on either side.
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB; tables pre-registered as views)
# ---------------------------------------------------------------------------

_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)
# DuckDB mirror of functions/textnorm.tokens (strip-then-split over the
# normalized text). The extraction form regexp_extract_all('[a-z0-9]+')
# diverges on intra-word punctuation ('e-mail' -> ['email'] here but
# ['e','mail'] there) and on non-space whitespace — any oracle mirroring
# a tokens()-based Spark operator must use THIS fragment (ADVICE r5).
# Pattern-COUNT oracles (len(regexp_extract_all(...))) mirror
# _count_pattern and stay extraction-based on both sides.
_DUCK_TOKENS = f"list_filter(string_split({_NORM_TEXT}, ' '), t -> t != '')"
_TOKEN_RE = "[a-z0-9]+"
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
_ALL_MARKERS = "|".join(w for _, ws in T.LANG_MARKERS for w in ws)

_SIM_CTES = """
ex AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id)
"""

ORACLES: dict[str, str] = {
    "node_count": f"WITH {GRAPH_CTES} SELECT CAST(count(DISTINCT v) AS BIGINT) AS node_count FROM sym",
    "edge_count": f"WITH {GRAPH_CTES} SELECT CAST(count(*) AS BIGINT) AS edge_count FROM edges",
    "cooccurrence_pairs": f"WITH {GRAPH_CTES} SELECT CAST(cooccurring AS BIGINT) AS pairs FROM ({_PAIR_DEN}) d",
    "connected_pairs": f"WITH {GRAPH_CTES} SELECT CAST(connected AS BIGINT) AS pairs FROM ({_PAIR_NUM}) n",
    "hypothesis_pct": f"""
        WITH {GRAPH_CTES}, num AS ({_PAIR_NUM}), den AS ({_PAIR_DEN})
        SELECT CAST(connected AS BIGINT) AS connected,
               CAST(cooccurring AS BIGINT) AS cooccurring,
               CASE WHEN cooccurring > 0
                    THEN CAST(connected AS DOUBLE) * 100 / cooccurring
                    ELSE NULL END AS pct,
               CASE WHEN cooccurring > 0
                         AND CAST(connected AS DOUBLE) * 100 / cooccurring > 50
                    THEN 'proved' ELSE 'disproved' END AS verdict
        FROM num, den
    """,
    "degree": f"WITH {GRAPH_CTES} SELECT v AS id, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY v",
    "label_propagation": f"""
        WITH RECURSIVE {GRAPH_CTES},
        lp(r, id, community) AS (
            SELECT 0, v, v FROM (SELECT DISTINCT v FROM sym)
            UNION ALL
            SELECT r + 1, id, community FROM (
                SELECT l.r AS r, s.n AS id, l.community AS community,
                       count(*) AS cnt
                FROM lp l JOIN sym s ON s.v = l.id
                GROUP BY l.r, s.n, l.community
                QUALIFY row_number() OVER (
                    PARTITION BY s.n ORDER BY cnt DESC, l.community ASC
                ) = 1
            ) t WHERE t.r < 10
        )
        SELECT id, CAST(community AS BIGINT) AS community
        FROM lp WHERE r = 10
    """,
    "kcore": f"""
        WITH RECURSIVE {GRAPH_CTES},
        -- Synchronous peeling with the round's edge set as recursive
        -- state: an edge survives iff both endpoints have induced
        -- degree >= k this round (the window partitions see one round
        -- at a time: DuckDB's working table holds only the previous
        -- iteration's rows). Round cap 32 >> the observed peeling depth
        -- (1 at sf0.01); rows after convergence repeat unchanged.
        core(r, v, n) AS (
            SELECT 0, v, n FROM sym
            UNION ALL
            SELECT r + 1, v, n FROM (
                SELECT c.r, c.v, c.n,
                       count(*) OVER (PARTITION BY c.v) AS dv,
                       count(*) OVER (PARTITION BY c.n) AS dn
                FROM core c
            ) t WHERE dv >= 4 AND dn >= 4 AND r < 32
        )
        SELECT v AS id, CAST(count(*) AS BIGINT) AS degree
        FROM core WHERE r = 32 GROUP BY v
    """,
    "bfs_distances": f"""
        WITH RECURSIVE {GRAPH_CTES},
        root AS (SELECT min(v) AS id FROM sym),
        walk(id, dist) AS (
            SELECT id, 0 FROM root
            UNION
            SELECT s.n, w.dist + 1
            FROM walk w JOIN sym s ON s.v = w.id
            WHERE w.dist < 64
        )
        SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY id
    """,
    "triangle_edges": f"""
        WITH {GRAPH_CTES},
        wedges AS (
            SELECT a.v AS v, a.n AS n1, b.n AS n2
            FROM sym a JOIN sym b ON a.v = b.v AND a.n < b.n
        ),
        closed AS (
            SELECT w.v FROM wedges w JOIN edges e ON w.n1 = e.src AND w.n2 = e.dst
        ),
        tri AS (SELECT v, count(*) AS c FROM closed GROUP BY v),
        ids AS (SELECT DISTINCT v AS id FROM sym)
        SELECT ids.id AS id, CAST(coalesce(tri.c, 0) AS BIGINT) AS triangles
        FROM ids LEFT JOIN tri ON ids.id = tri.v
    """,
    "clustering_coefficient": f"""
        WITH {GRAPH_CTES},
        deg AS (SELECT v AS id, count(*) AS degree FROM sym GROUP BY v),
        wedges AS (
            SELECT a.v AS v, a.n AS n1, b.n AS n2
            FROM sym a JOIN sym b ON a.v = b.v AND a.n < b.n
        ),
        closed AS (
            SELECT w.v FROM wedges w JOIN edges e ON w.n1 = e.src AND w.n2 = e.dst
        ),
        tri AS (SELECT v, count(*) AS c FROM closed GROUP BY v)
        SELECT deg.id AS id,
               CAST(deg.degree AS BIGINT) AS degree,
               CAST(coalesce(tri.c, 0) AS BIGINT) AS triangles,
               CASE WHEN deg.degree >= 2
                    THEN CAST(coalesce(tri.c, 0) AS DOUBLE)
                         / (CAST(deg.degree * (deg.degree - 1) AS DOUBLE) / 2)
                    ELSE CAST(0 AS DOUBLE) END AS cc
        FROM deg LEFT JOIN tri ON deg.id = tri.v
    """,
    "feature_decode": """
        SELECT l_orderkey AS okey, l_partkey AS last_part, l_suppkey AS last_supp
        FROM (
            SELECT l_orderkey, l_partkey, l_suppkey,
                   row_number() OVER (
                       PARTITION BY l_orderkey
                       ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC
                   ) AS rn
            FROM lineitem
        ) t WHERE rn = 1
    """,
    "circles_membership": """
        SELECT n.n_name AS circle, c.c_custkey AS member
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    "dedup_exact": """
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS group_size
        FROM documents GROUP BY text
    """,
    "dedup_norm": f"""
        SELECT md5({_NORM_TEXT}) AS fingerprint,
               CAST(min(doc_id) AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS group_size
        FROM documents GROUP BY 1
    """,
    "doc_fingerprint": f"SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents",
    "text_token_stats": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_obs,
               CASE WHEN len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) > 0
                    THEN CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                         / len(regexp_extract_all(lower(text), '{_TOKEN_RE}'))
                    ELSE CAST(0 AS DOUBLE) END AS avg_token_len
        FROM documents
    """,
    "lang_id": None,  # filled below (needs marker expansion)
    "quality_score": None,  # filled below
    "similarity_topk": f"""
        WITH {_SIM_CTES},
        dots AS (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.x * c.x) AS dp
            FROM ex q JOIN ex c ON q.i = c.i
            WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
            GROUP BY 1, 2
        ),
        sims AS (
            SELECT query_id, cand_id,
                   round(dp / (nq.nrm * nc.nrm), 6) AS sim
            FROM dots
            JOIN norms nq ON nq.vec_id = query_id
            JOIN norms nc ON nc.vec_id = cand_id
        )
        SELECT query_id, cand_id, sim, CAST(rank AS INTEGER) AS rank FROM (
            SELECT query_id, cand_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
            FROM sims
        ) r WHERE rank <= 10
    """,
    "embedding_neardup": f"""
        WITH {_SIM_CTES},
        dots AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dp
            FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, round(dp / (na.nrm * nb.nrm), 6) AS sim
        FROM dots
        JOIN norms na ON na.vec_id = id_a
        JOIN norms nb ON nb.vec_id = id_b
        WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.35
    """,
    "json_extract_events": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CAST(min(k) AS BIGINT) AS min_k,
               CAST(max(k) AS BIGINT) AS max_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        ) t GROUP BY event_type
    """,
    "events_hourly": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "events_sessionize": """
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('second', lag(ts) OVER w, ts) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY 1, 2
    """,
    "top3_orders": """
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) t WHERE rn <= 3
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS count_order,
               round(sum(l_quantity), 2) AS sum_qty,
               round(avg(l_quantity), 6) AS avg_qty,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "events_sliding_1h": """
        SELECT event_id, user_id,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               round(sum(value) OVER w, 4) AS value_1h
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
        )
    """,
    "grouping_sets_orders": """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "ntile_orders": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(ntile(4) OVER (
                   PARTITION BY year(o_orderdate)
                   ORDER BY o_totalprice, o_orderkey
               ) AS INTEGER) AS price_quartile
        FROM orders
    """,
    "shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "local_supplier_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND c_nationkey = s_nationkey
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    "returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-10-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "rollup_customers": """
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(n_name, 'ALL') AS nation,
               CAST(count(*) AS BIGINT) AS n_custs
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """,
    "customers_without_orders": """
        SELECT c_custkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "customers_intersect_eventusers": """
        SELECT c_custkey FROM customer
        INTERSECT
        SELECT user_id AS c_custkey FROM events
    """,
    "customers_minus_eventusers": """
        SELECT DISTINCT c_custkey FROM customer
        EXCEPT
        SELECT user_id AS c_custkey FROM events
    """,
    "cube_orders": """
        SELECT coalesce(CAST(yr AS INTEGER), -1) AS yr,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price
        FROM (SELECT year(o_orderdate) AS yr, o_orderpriority, o_totalprice FROM orders) t
        GROUP BY CUBE(yr, o_orderpriority)
    """,
    "events_asof_order": """
        WITH o1 AS (
            SELECT o_custkey AS user_id, o_orderdate,
                   CAST(max(o_orderkey) AS BIGINT) AS o_orderkey
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, e.ts,
               (SELECT o.o_orderkey FROM o1 o
                WHERE o.user_id = e.user_id AND o.o_orderdate <= e.ts
                ORDER BY o.o_orderdate DESC LIMIT 1) AS last_orderkey
        FROM events e
    """,
    "order_events_7d": """
        SELECT o.o_orderkey, o.o_custkey AS user_id, o.o_orderdate,
               CAST(count(e.user_id) AS BIGINT) AS n_events_7d
        FROM orders o
        LEFT JOIN events e
          ON e.user_id = o.o_custkey
         AND e.ts >= o.o_orderdate
         AND e.ts < o.o_orderdate + INTERVAL 7 DAY
        GROUP BY 1, 2, 3
    """,
    "media_metadata": """
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_media,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
        FROM documents GROUP BY source
    """,
    "corpus_curation": None,  # filled below (composes the quality SQL)
    "value_histogram": """
        SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(value), 4) AS avg_value
        FROM events GROUP BY 1
    """,
    "order_rank_stats": """
        SELECT o_orderkey, o_orderpriority,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    "top_tokens_per_lang": f"""
        SELECT lang, token, cnt, CAST(rank AS INTEGER) AS rank FROM (
            SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY count(*) DESC, token
                   ) AS rank
            FROM (
                SELECT lang, unnest({_DUCK_TOKENS}) AS token
                FROM documents
            ) t
            GROUP BY lang, token
        ) r WHERE rank <= 10
    """,
    "user_event_types": """
        SELECT user_id,
               array_to_string(list_sort(list(DISTINCT event_type)), '|') AS event_types,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    """,
    "order_price_quantiles": """
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_orderpriority
    """,
    "orders_pivot_year": """
        SELECT o_orderpriority,
               CAST(count(*) FILTER (year(o_orderdate) = 2023) AS BIGINT) AS y2023,
               CAST(count(*) FILTER (year(o_orderdate) = 2024) AS BIGINT) AS y2024,
               CAST(count(*) FILTER (year(o_orderdate) = 2025) AS BIGINT) AS y2025
        FROM orders GROUP BY o_orderpriority
    """,
    "dedup_editdist_verify": f"""
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
        FROM (SELECT doc_id, text,
                     md5(array_to_string(list_slice(
                         {_DUCK_TOKENS}, 1, 10), ' ')) AS fp
              FROM documents) a
        JOIN (SELECT doc_id, text,
                     md5(array_to_string(list_slice(
                         {_DUCK_TOKENS}, 1, 10), ' ')) AS fp
              FROM documents) b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
    """,
    "multimodal_features": """
        -- Replicates the mapInPandas byte-histogram featurizer exactly:
        -- the corpus is pure ASCII so ascii(char) == byte value, and
        -- round_even matches np.round's banker's rounding before the
        -- FLOAT narrowing on both engines.
        WITH docs AS (
            SELECT doc_id AS media_id, text,
                   octet_length(encode(text)) AS n_bytes
            FROM documents
        ),
        bytes AS (
            SELECT media_id, ascii(substring(text, CAST(i AS INTEGER) + 1, 1)) % 8 AS bucket
            FROM docs, unnest(range(n_bytes)) t(i)
        ),
        hist AS (
            SELECT media_id, bucket, count(*) AS cnt
            FROM bytes GROUP BY 1, 2
        )
        SELECT d.media_id, CAST(d.n_bytes AS BIGINT) AS n_bytes,
               CAST(f.j AS INTEGER) AS feature_idx,
               CAST(round_even(
                   CAST(coalesce(h.cnt, 0) AS DOUBLE) / greatest(d.n_bytes, 1), 6
               ) AS FLOAT) AS value
        FROM docs d
        CROSS JOIN range(8) f(j)
        LEFT JOIN hist h ON h.media_id = d.media_id AND h.bucket = f.j
    """,
    "media_frames": """
        WITH idx AS (
            SELECT doc_id AS media_id, text,
                   unnest(range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT))) AS i
            FROM documents
        )
        SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
               substr(text, CAST(i AS INTEGER) * 64 + 1, 64) AS frame
        FROM idx WHERE i % 4 = 0
    """,
    "docs_hash_sample": None,  # filled below (threshold from sampling helper)
    "corpus_mixture": """
        SELECT doc_id, lang, source FROM (
            SELECT doc_id, lang, source,
                   row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM documents
        ) t WHERE rn <= 15
    """,
    "token_packing": None,  # filled below (shares the token regex)
    "events_running_value": """
        SELECT event_id, user_id,
               round(sum(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
               round(avg(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg_value_3
        FROM events
    """,
    "embedding_dedup_groups": f"""
        WITH RECURSIVE {_SIM_CTES},
        dots AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dp
            FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b
            FROM dots
            JOIN norms na ON na.vec_id = id_a
            JOIN norms nb ON nb.vec_id = id_b
            WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.35
        ),
        sym2 AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT DISTINCT a, a FROM sym2
            UNION
            SELECT s.b, reach.r FROM reach JOIN sym2 s ON s.a = reach.id
        )
        SELECT id, CAST(min(r) AS BIGINT) AS keep_id,
               CAST(CASE WHEN id = min(r) THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
        FROM reach GROUP BY id
    """,
}


def _lang_score_sql(code: str, words: list[str]) -> str:
    pat = r"\b(" + "|".join(words) + r")\b"
    return (
        f"CAST(len(regexp_extract_all(lower(text), '{pat}')) AS DOUBLE)"
        f" / greatest(len(regexp_extract_all(lower(text), '{_TOKEN_RE}')), 1)"
    )


def _build_lang_id_sql() -> str:
    scores = ", ".join(
        f"{_lang_score_sql(code, words)} AS s_{code}" for code, words in T.LANG_MARKERS
    )
    codes = [code for code, _ in T.LANG_MARKERS]
    # Sequential fold exactly mirroring operators/text.py:
    #   pred = en; best = s_en
    #   for code in rest: if s_code > best: pred, best = code, s_code
    expr_pred = f"'{codes[0]}'"
    expr_best = f"s_{codes[0]}"
    for code in codes[1:]:
        expr_pred = f"CASE WHEN s_{code} > ({expr_best}) THEN '{code}' ELSE {expr_pred} END"
        expr_best = f"greatest({expr_best}, s_{code})"
    return f"""
        SELECT doc_id, lang, {expr_pred} AS pred_lang,
               round({expr_best}, 6) AS score
        FROM (SELECT doc_id, lang, {scores} FROM documents) t
    """


def _build_quality_sql() -> str:
    stop_pat = r"\b(" + _ALL_MARKERS + r")\b"
    n_tokens = f"len(regexp_extract_all(lower(text), '{_TOKEN_RE}'))"
    n_chars = "greatest(length(text), 1)"
    punct = "length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))"
    stop = f"len(regexp_extract_all(lower(text), '{stop_pat}'))"
    return f"""
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(punct_ratio, 6) AS punct_ratio,
               round(stop_ratio, 6) AS stopword_ratio,
               round(length_score, 6) AS length_score,
               round(0.4 * length_score
                     + 0.4 * least(stop_ratio * 4, 1.0)
                     + 0.2 * (1 - least(punct_ratio * 10, 1.0)), 6) AS quality
        FROM (
            SELECT doc_id,
                   {n_tokens} AS n_tokens,
                   CAST({punct} AS DOUBLE) / {n_chars} AS punct_ratio,
                   CAST({stop} AS DOUBLE) / greatest({n_tokens}, 1) AS stop_ratio,
                   least(CAST({n_tokens} AS DOUBLE) / 100.0, 1.0) AS length_score
            FROM documents
        ) t
    """


def _build_hash_sample_sql() -> str:
    from graph_database_spark.operators.sampling import sample_threshold_hex

    thr = sample_threshold_hex(0.1)
    return f"""
        SELECT doc_id, lang, source FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{thr}'
    """


def _build_token_packing_sql() -> str:
    n_tokens = f"CAST(len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS BIGINT)"
    return f"""
        WITH t AS (SELECT doc_id, lang, {n_tokens} AS n_tokens FROM documents)
        SELECT doc_id, lang, n_tokens,
               CAST(floor(
                   (sum(n_tokens) OVER (
                        PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - n_tokens) / 2048.0
               ) AS BIGINT) AS chunk_id
        FROM t
    """


def _build_kmv_sql(k: int) -> str:
    """Oracle of ``distinct_count_kmv(events, "user_id", "event_type",
    k)`` rounded to 4 places: the k-th smallest md5-60 hash per type
    (window bottom-k), or the exact count below k distinct users."""
    return f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM events
), r AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nd
  FROM h
)
SELECT event_type,
       round(CASE WHEN nd < {k} THEN CAST(nd AS DOUBLE)
                  ELSE {k - 1}.0 / (CAST(hv AS DOUBLE) / 1152921504606846976.0)
             END, 4) AS est_distinct
FROM r
WHERE rn = CASE WHEN nd < {k} THEN nd ELSE {k} END
"""


ORACLES["distinct_users_kmv"] = _build_kmv_sql(64)
ORACLES["distinct_users_sketch"] = _build_kmv_sql(256)

ORACLES["distinct_users_hll"] = """
WITH r AS (
  SELECT event_type,
         hv % 32 AS bucket,
         CASE WHEN hv // 32 = 0 THEN 55
              ELSE bit_count(((hv // 32) & -(hv // 32)) - 1) + 1 END AS rho
  FROM (
    SELECT event_type,
           CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
    FROM events
  )
), regs AS (
  SELECT event_type, bucket, max(rho) AS reg FROM r GROUP BY 1, 2
), s AS (
  SELECT event_type,
         CAST(sum(1::BIGINT << (55 - reg)) AS BIGINT)
           + (32 - count(*)) * (1::BIGINT << 55) AS ssum
  FROM regs GROUP BY 1
)
SELECT event_type,
       round(0.697e0 * 32e0 * 32e0 * 36028797018963968e0 / CAST(ssum AS DOUBLE), 4)
         AS est_distinct
FROM s
"""

def _fd_sql(table: str, det: str, dep: str) -> str:
    return f"""
    SELECT '{table}' AS table_name, '{det}' AS det_col, '{dep}' AS dep_col,
           CAST(count(*) AS BIGINT) AS n_det_values,
           CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(sum(rows - max_n) AS BIGINT) AS min_repair_rows
    FROM (
        SELECT a, count(*) AS n_dep, sum(n) AS rows, max(n) AS max_n
        FROM (SELECT {det} AS a, {dep} AS b, count(*) AS n
              FROM {table} GROUP BY 1, 2)
        GROUP BY a
    )"""


ORACLES["fd_violations"] = " UNION ALL ".join(
    _fd_sql(t, det, dep)
    for t, det, dep in [
        ("lineitem", "l_orderkey", "l_linestatus"),
        ("lineitem", "l_partkey", "l_returnflag"),
        ("orders", "o_custkey", "o_orderpriority"),
        ("orders", "o_orderkey", "o_orderstatus"),
    ]
)

def _bleu_sql() -> str:
    # Mirrors operators/evalmetrics.bleu_pairs expression-for-expression
    # (micro-snapped ln terms, integer half-up quarter + brevity penalty).
    gram_legs = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {n} AS n,"
        f" unnest(list_transform(generate_series(1, ln_t - {n} + 1),"
        f" i -> array_to_string(t[i:i+{n - 1}], ' '))) AS g FROM tk"
        for n in range(1, 5)
    )
    m_cols = ",\n           ".join(
        f"CAST(coalesce(max(CASE WHEN n = {n} THEN m END), 0) AS BIGINT)"
        f" AS m{n}"
        for n in range(1, 5)
    )
    t_terms = " + ".join(
        f"CAST(round(ln(CAST(greatest(m{n}, 1) AS DOUBLE)"
        f" / CAST(c_len - {n} + 1 AS DOUBLE))"
        " * CAST(1000000 AS DOUBLE), 0) AS BIGINT)"
        for n in range(1, 5)
    )
    bp = (
        "(CASE WHEN r_len > c_len THEN"
        " (2 * (r_len - c_len) * 1000000 + c_len) // (2 * c_len)"
        " ELSE 0 END)"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_TEXT}, ' '), t -> t != '') AS t
        FROM documents
    ),
    tk AS (
        SELECT doc_id, t, CAST(len(t) AS BIGINT) AS ln_t
        FROM toks WHERE len(t) >= 4
    ),
    grams AS (
        SELECT doc_id, n, g, count(*) AS c FROM (
{gram_legs}
        ) GROUP BY 1, 2, 3
    ),
    matched AS (
        SELECT c.doc_id AS pair_id, c.n AS n, sum(least(c.c, r.c)) AS m
        FROM grams c
        JOIN grams r ON r.doc_id = c.doc_id + 1 AND r.n = c.n AND r.g = c.g
        GROUP BY 1, 2
    ),
    mw AS (
        SELECT pair_id,
           {m_cols}
        FROM matched GROUP BY 1
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.ln_t AS c_len, b.ln_t AS r_len
        FROM tk a JOIN tk b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_a, doc_b, c_len, r_len,
           CAST(coalesce(m1, 0) AS BIGINT) AS m1,
           CAST(coalesce(m2, 0) AS BIGINT) AS m2,
           CAST(coalesce(m3, 0) AS BIGINT) AS m3,
           CAST(coalesce(m4, 0) AS BIGINT) AS m4,
           CASE WHEN m1 > 0 AND m2 > 0 AND m3 > 0 AND m4 > 0 THEN
               -((2 * (-({t_terms})) + 4) // 8) - {bp}
           ELSE NULL END AS log_bleu_micro
    FROM pairs LEFT JOIN mw ON mw.pair_id = pairs.doc_a
"""


ORACLES["bleu_pairs"] = _bleu_sql()

ORACLES["isotonic_calibration"] = """
WITH b0 AS (
  SELECT n_chars AS score, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM documents GROUP BY 1
),
bins AS (
  SELECT score, n, pos,
         CAST(row_number() OVER (ORDER BY score) AS BIGINT) AS idx,
         CAST(sum(n) OVER (ORDER BY score) AS BIGINT) AS cn,
         CAST(sum(pos) OVER (ORDER BY score) AS BIGINT) AS cp
  FROM b0
),
intervals AS (
  SELECT j.idx AS j, k.idx AS k,
         (2 * (k.cp - (j.cp - j.pos)) * 1000000 + (k.cn - (j.cn - j.n)))
           // (2 * (k.cn - (j.cn - j.n))) AS mean_micro
  FROM bins j JOIN bins k ON k.idx >= j.idx
),
m AS (
  SELECT j, k AS i,
         min(mean_micro) OVER (
           PARTITION BY j ORDER BY k DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
  FROM intervals
),
fit AS (SELECT i, max(mn) AS fit_micro FROM m GROUP BY 1)
SELECT b.score, b.n, b.pos, CAST(f.fit_micro AS BIGINT) AS fit_micro
FROM bins b JOIN fit f ON f.i = b.idx
"""

ORACLES["rouge_l"] = f"""
WITH RECURSIVE toks AS (
    SELECT doc_id,
           list_filter(string_split({_NORM_TEXT}, ' '), t -> t != '')[1:48] AS t
    FROM documents
),
tk AS (SELECT doc_id, t, len(t) AS ln_t FROM toks WHERE len(t) >= 1),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.t AS ta, b.t AS tb,
           CAST(a.ln_t AS BIGINT) AS c_len, CAST(b.ln_t AS BIGINT) AS r_len
    FROM tk a JOIN tk b ON b.doc_id = a.doc_id + 1
),
dp AS (
    SELECT doc_a, doc_b, ta, tb, c_len, r_len, 0 AS i,
           list_transform(generate_series(0, CAST(r_len AS INTEGER)),
                          x -> CAST(0 AS BIGINT)) AS row
    FROM pairs
    UNION ALL
    SELECT doc_a, doc_b, ta, tb, c_len, r_len, i + 1,
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, CAST(r_len AS INTEGER)), j ->
               greatest(row[j + 1],
                 coalesce(list_max(list_transform(generate_series(1, j), q ->
                   CASE WHEN ta[i + 1] = tb[q] THEN row[q] + 1
                        ELSE CAST(0 AS BIGINT) END)),
                   CAST(0 AS BIGINT)))))
    FROM dp WHERE i < c_len
)
SELECT doc_a, doc_b, c_len, r_len,
       row[CAST(r_len AS INTEGER) + 1] AS lcs,
       (2 * (2 * row[CAST(r_len AS INTEGER) + 1] * 1000000)
         + (c_len + r_len)) // (2 * (c_len + r_len)) AS rouge_l_f_micro
FROM dp WHERE i = c_len
"""

ORACLES["jaro_winkler"] = """
WITH RECURSIVE names AS (
    SELECT p_name,
           list_extract(string_split(p_name, ' '),
                        len(string_split(p_name, ' '))) AS blk
    FROM (SELECT DISTINCT p_name FROM part)
),
pairs AS (
    SELECT a.p_name AS name_a, b.p_name AS name_b, a.blk AS blk,
           CAST(length(a.p_name) AS INTEGER) AS l1,
           CAST(length(b.p_name) AS INTEGER) AS l2,
           greatest(0, greatest(length(a.p_name), length(b.p_name)) // 2 - 1)
             AS w
    FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
),
pc AS (
    SELECT *,
           list_transform(generate_series(1, l1), i -> substr(name_a, i, 1))
             AS c1,
           list_transform(generate_series(1, l2), i -> substr(name_b, i, 1))
             AS c2
    FROM pairs
),
fold AS (
    SELECT name_a, name_b, blk, l1, l2, w, c1, c2, 0 AS i,
           CAST([] AS INTEGER[]) AS ml
    FROM pc
    UNION ALL
    SELECT name_a, name_b, blk, l1, l2, w, c1, c2, i + 1,
           CASE WHEN mt IS NULL THEN ml ELSE list_append(ml, mt) END
    FROM (
        SELECT *, list_min(list_filter(generate_series(1, l2), j ->
                   j >= i + 1 - w AND j <= i + 1 + w
                   AND c2[j] = c1[i + 1]
                   AND NOT list_contains(ml, j))) AS mt
        FROM fold WHERE i < l1
    )
),
scored0 AS (
    SELECT name_a, name_b, blk, l1, l2, c2, ml,
           CAST(len(ml) AS INTEGER) AS m, list_sort(ml) AS sml
    FROM fold WHERE i = l1
),
scored AS (
    SELECT name_a, name_b, blk, l1, l2, m,
           CAST(len(list_filter(generate_series(1, m), k ->
                c2[ml[k]] != c2[sml[k]])) AS INTEGER) AS t,
           CAST(len(list_filter(generate_series(1, least(4, least(l1, l2))),
                p -> substr(name_a, 1, p) = substr(name_b, 1, p)))
             AS INTEGER) AS lp
    FROM scored0
)
SELECT name_a, name_b, blk,
       CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE
         (2*((10 - lp)*CAST(2*m*m*l2 + 2*m*m*l1 + (2*m - t)*l1*l2 AS BIGINT)
             + lp*CAST(6*m*l1*l2 AS BIGINT))*1000000
          + 10*CAST(6*m*l1*l2 AS BIGINT))
         // (2*10*CAST(6*m*l1*l2 AS BIGINT))
       END AS jw_micro,
       CAST(m AS BIGINT) AS jw_m, CAST(t AS BIGINT) AS jw_t
FROM scored
"""

def _build_inclusion_sql() -> str:
    # Mirrors q_inclusion_deps (SINDY single-pass; _IND_COLS is the
    # shared column list).
    legs = "\n            UNION ALL ".join(
        f"SELECT '{t}.{c}' AS col, CAST({c} AS BIGINT) AS val FROM {t}"
        for t, c in _IND_COLS
    )
    all_list = ", ".join(f"'{t}.{c}'" for t, c in _IND_COLS)
    cols_vals = ", ".join(f"('{t}.{c}')" for t, c in _IND_COLS)
    return f"""
    WITH flat AS (SELECT DISTINCT * FROM ({legs})),
    per_val AS (SELECT val, list(DISTINCT col) AS s FROM flat GROUP BY 1),
    miss0 AS (
        SELECT unnest(flatten(list_transform(s, a -> list_transform(
                 list_filter([{all_list}], b -> NOT list_contains(s, b)),
                 b -> {{'a': a, 'b': b}})))) AS p
        FROM per_val
    ),
    miss AS (
        SELECT p.a AS col_a, p.b AS col_b, CAST(count(*) AS BIGINT) AS n_missing
        FROM miss0 GROUP BY 1, 2
    ),
    sizes AS (
        SELECT col AS col_a, CAST(count(*) AS BIGINT) AS n_a
        FROM flat GROUP BY 1
    ),
    cols AS (SELECT * FROM (VALUES {cols_vals}) AS t(c)),
    pairs AS (
        SELECT a.c AS col_a, b.c AS col_b FROM cols a, cols b WHERE a.c != b.c
    )
    SELECT p.col_a, p.col_b, s.n_a,
           CAST(coalesce(m.n_missing, 0) AS BIGINT) AS n_missing,
           coalesce(m.n_missing, 0) = 0 AS included
    FROM pairs p JOIN sizes s ON s.col_a = p.col_a
    LEFT JOIN miss m ON m.col_a = p.col_a AND m.col_b = p.col_b
"""


ORACLES["inclusion_deps"] = _build_inclusion_sql()

ORACLES["decision_stump"] = """
WITH flat AS (
  SELECT 'qty' AS feature, CAST(round(l_quantity) AS BIGINT) AS value,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem
  UNION ALL
  SELECT 'disc', CAST(round(l_discount * 100) AS BIGINT),
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
  UNION ALL
  SELECT 'tax', CAST(round(l_tax * 100) AS BIGINT),
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
  UNION ALL
  SELECT 'month', CAST(month(l_shipdate) AS BIGINT),
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
),
stats AS (
  SELECT feature, value, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos
  FROM flat GROUP BY 1, 2
),
pre AS (
  SELECT feature, value,
         sum(n) OVER (PARTITION BY feature ORDER BY value) AS n_l,
         sum(pos) OVER (PARTITION BY feature ORDER BY value) AS pos_l,
         sum(n) OVER (PARTITION BY feature) AS n_t,
         sum(pos) OVER (PARTITION BY feature) AS pos_t
  FROM stats
),
scored AS (
  SELECT feature, value AS threshold, n_l, pos_l,
         n_t - n_l AS n_r, pos_t - pos_l AS pos_r,
         CAST(pos_l * (n_l - pos_l) AS DOUBLE) / CAST(n_l AS DOUBLE)
           + CAST((pos_t - pos_l) * ((n_t - n_l) - (pos_t - pos_l)) AS DOUBLE)
             / CAST(n_t - n_l AS DOUBLE) AS imp
  FROM pre WHERE n_l < n_t
),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY feature ORDER BY imp ASC, threshold ASC) AS rk
  FROM scored
)
SELECT feature, CAST(threshold AS BIGINT) AS threshold,
       CAST(n_l AS BIGINT) AS n_l, CAST(pos_l AS BIGINT) AS pos_l,
       CAST(n_r AS BIGINT) AS n_r, CAST(pos_r AS BIGINT) AS pos_r
FROM r WHERE rk = 1
"""

ORACLES["ab_test_welch"] = """
WITH pu AS (
  SELECT (CAST(('0x' || substring(md5('ab|' || CAST(user_id AS VARCHAR)),
                1, 15)) AS BIGINT) % 2) AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
g AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS ss
  FROM pu GROUP BY 1
),
j AS (
  SELECT a.n AS na, a.s AS sa, a.ss AS ssa,
         b.n AS nb, b.s AS sb, b.ss AS ssb
  FROM (SELECT * FROM g WHERE arm = 0) a, (SELECT * FROM g WHERE arm = 1) b
)
SELECT na, nb,
       round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE), 6) AS mean_a,
       round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS mean_b,
       round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
             / sqrt((CAST(na * ssa - sa * sa AS DOUBLE)
                     / CAST(na * (na - 1) AS DOUBLE)) / CAST(na AS DOUBLE)
                    + (CAST(nb * ssb - sb * sb AS DOUBLE)
                       / CAST(nb * (nb - 1) AS DOUBLE)) / CAST(nb AS DOUBLE)),
             6) AS t_stat
FROM j
"""

ORACLES["readability"] = """
WITH c AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1)
             AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables,
         greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS n_sentences
  FROM documents
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, n_syllables,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(round((CAST(206.835 AS DOUBLE)
                   - CAST(1.015 AS DOUBLE)
                     * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                   - CAST(84.6 AS DOUBLE)
                     * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
                  * 1000000e0, 0) AS BIGINT) AS flesch_micro
FROM c
"""

ORACLES["score_auc"] = """
WITH g AS (
  SELECT n_chars AS s, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM documents GROUP BY 1
),
r AS (
  SELECT cnt, pos,
         pos * (2 * coalesce(sum(cnt) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1) AS pr
  FROM g
),
t AS (
  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
         CAST(sum(pr) AS BIGINT) AS two_r
  FROM r
)
SELECT n_pos, n_neg,
       CAST((2 * (two_r - n_pos * (n_pos + 1)) * 1000000
             + 2 * n_pos * n_neg) // (2 * 2 * n_pos * n_neg) AS BIGINT)
           AS auc_micro
FROM t
"""

ORACLES["embedding_gram"] = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * CAST(1000 AS DOUBLE))
                       AS BIGINT)) AS qv
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(qv) AS x,
         CAST(generate_subscripts(qv, 1) AS BIGINT) AS i
  FROM q
)
SELECT CAST(a.i - 1 AS INTEGER) AS i, CAST(b.i - 1 AS INTEGER) AS j,
       CAST(sum(a.x * b.x) AS BIGINT) AS dot
FROM ex a JOIN ex b ON b.vec_id = a.vec_id AND b.i >= a.i
GROUP BY 1, 2
"""

# km oracle family (r11 hardening, VERDICT r10 next-#1): every epoch is
# epoch_ns(ts) // 1000 — TRUNCATION made explicit and version-proof. In
# duckdb 1.0.0 epoch_ns(TIMESTAMP_NS) itself truncates to us (verified:
# '.123456789' -> ...123456000); in newer engines it returns exact ns;
# either way // 1000 floors to the same us value Spark's normalize
# (`ts div 1000`) produces. epoch_us() was the one call whose ns->us
# behavior an engine-version bump could silently change to rounding —
# the only hypothesis four local vintage replicas could not rule out.
# min/max commute with the truncation (monotone), so aggregating at ns
# then truncating equals Spark's truncate-then-aggregate.
_KM_USERS_SQL = """
h AS (SELECT epoch_ns(max(ts)) // 1000 AS hmax_us FROM events),
users AS (
  SELECT CAST(((epoch_ns(max(e.ts)) // 1000) - (epoch_ns(min(e.ts)) // 1000))
              // 3600000000 AS BIGINT) AS dur_h,
         CASE WHEN epoch_ns(max(e.ts)) // 1000
                   < (SELECT hmax_us FROM h) - 21600000000
              THEN 1 ELSE 0 END AS death
  FROM events e GROUP BY e.user_id
)"""

ORACLES["km_horizon_probe"] = """
SELECT CAST(count(*) AS BIGINT) AS n_events,
       CAST(epoch_ns(min(ts)) // 1000 AS BIGINT) AS tmin_us,
       CAST(epoch_ns(max(ts)) // 1000 AS BIGINT) AS tmax_us
FROM events
"""

ORACLES["km_user_lifetimes"] = f"""
WITH {_KM_USERS_SQL}
SELECT dur_h, CAST(death AS INTEGER) AS death,
       CAST(count(*) AS BIGINT) AS n_users
FROM users GROUP BY 1, 2
"""

ORACLES["km_risk_table"] = f"""
WITH {_KM_USERS_SQL},
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM users),
by_dur AS (
  SELECT dur_h, CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(death) AS BIGINT) AS n_deaths
  FROM users GROUP BY 1
)
SELECT dur_h, n_at, n_deaths,
       CAST((SELECT n FROM tot)
         - coalesce(sum(n_at) OVER (ORDER BY dur_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
FROM by_dur
QUALIFY n_deaths > 0 AND n_risk > n_deaths
"""

ORACLES["km_survival"] = f"""
WITH RECURSIVE {_KM_USERS_SQL},
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM users),
by_dur AS (
  SELECT dur_h, CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(death) AS BIGINT) AS n_deaths
  FROM users GROUP BY 1
),
risk AS (
  SELECT dur_h, n_deaths,
         CAST((SELECT n FROM tot)
           - coalesce(sum(n_at) OVER (ORDER BY dur_h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_risk
  FROM by_dur
),
km AS (
  SELECT dur_h, n_risk, n_deaths,
         row_number() OVER (ORDER BY dur_h) AS rn
  FROM risk WHERE n_deaths > 0 AND n_risk > n_deaths
),
prod AS (
  SELECT rn, dur_h, n_risk, n_deaths,
         CAST(CAST(1000000000 AS BIGINT) * (n_risk - n_deaths) // n_risk
              AS BIGINT) AS surv_nano
  FROM km WHERE rn = 1
  UNION ALL
  SELECT k.rn, k.dur_h, k.n_risk, k.n_deaths,
         CAST(p.surv_nano * (k.n_risk - k.n_deaths) // k.n_risk AS BIGINT)
  FROM prod p JOIN km k ON k.rn = p.rn + 1
)
SELECT dur_h, n_risk, n_deaths, surv_nano FROM prod
"""

ORACLES["parts_skyline"] = """
WITH p AS (SELECT p_partkey, p_retailprice, p_size FROM part),
g AS (SELECT p_retailprice, min(p_size) AS msize FROM p GROUP BY 1),
k AS (
  SELECT p_retailprice, msize,
         min(msize) OVER (ORDER BY p_retailprice
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS strict_min
  FROM g
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM p JOIN k ON k.p_retailprice = p.p_retailprice AND p.p_size = k.msize
WHERE k.strict_min IS NULL OR k.msize < k.strict_min
"""

ORACLES["purchase_attribution"] = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
  FROM events
)
SELECT coalesce(prev_type, 'none') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS attributed_cents
FROM e WHERE event_type = 'purchase'
GROUP BY 1
"""

ORACLES["events_ohlc"] = """
WITH e AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_id, ts, value
  FROM events
), w AS (
  SELECT day, value,
         row_number() OVER (PARTITION BY day ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY day ORDER BY ts DESC, event_id DESC)
             AS rn_d
  FROM e
)
SELECT day,
       max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       max(CASE WHEN rn_d = 1 THEN value END) AS close_v,
       CAST(count(*) AS BIGINT) AS n_events
FROM w GROUP BY 1
"""

ORACLES["dp_order_stats"] = """
WITH g AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(greatest(0, least(CAST(round(o_totalprice * 100) AS BIGINT),
                                    5000000))) AS BIGINT) AS s
  FROM orders GROUP BY 1
), noise AS (
  SELECT o_orderpriority, n, s,
         CAST(('0x' || substring(md5('dpc|' || o_orderpriority), 1, 15))
              AS BIGINT) AS hc,
         CAST(('0x' || substring(md5('dps|' || o_orderpriority), 1, 15))
              AS BIGINT) AS hs
  FROM g
), lap AS (
  SELECT o_orderpriority, n, s,
         (CAST(hc AS DOUBLE) / 1152921504606846976e0) - 0.5e0 AS xc,
         (CAST(hs AS DOUBLE) / 1152921504606846976e0) - 0.5e0 AS xs
  FROM noise
)
SELECT o_orderpriority,
       n * 1000000 + CAST(round(
           -1e0 * sign(xc)
           * ln(greatest(1e0 - 2e0 * abs(xc), 8.673617379884035e-19))
           * 1000000e0) AS BIGINT) AS n_noisy_micro,
       s * 1000000 + CAST(round(
           -5000000e0 * sign(xs)
           * ln(greatest(1e0 - 2e0 * abs(xs), 8.673617379884035e-19))
           * 1000000e0) AS BIGINT) AS sum_noisy_cents_micro
FROM lap
"""

ORACLES["audience_overlap"] = """
WITH r AS (
  SELECT event_type,
         hv % 32 AS bucket,
         CASE WHEN hv // 32 = 0 THEN 55
              ELSE bit_count(((hv // 32) & -(hv // 32)) - 1) + 1 END AS rho
  FROM (
    SELECT event_type,
           CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
    FROM events
  )
), regs AS (
  SELECT event_type, bucket, max(rho) AS reg FROM r GROUP BY 1, 2
), est AS (
  SELECT event_type,
         round(0.697e0 * 32e0 * 32e0 * 36028797018963968e0 /
               CAST(CAST(sum(1::BIGINT << (55 - reg)) AS BIGINT)
                    + (32 - count(*)) * (1::BIGINT << 55) AS DOUBLE), 4) AS e
  FROM regs GROUP BY 1
), pairs AS (
  SELECT a.event_type AS set_a, b.event_type AS set_b
  FROM (SELECT DISTINCT event_type FROM regs) a
  JOIN (SELECT DISTINCT event_type FROM regs) b ON a.event_type < b.event_type
), contrib AS (
  SELECT p.set_a, p.set_b, r.bucket, r.reg
  FROM pairs p JOIN regs r ON r.event_type = p.set_a
  UNION ALL
  SELECT p.set_a, p.set_b, r.bucket, r.reg
  FROM pairs p JOIN regs r ON r.event_type = p.set_b
), uregs AS (
  SELECT set_a, set_b, bucket, max(reg) AS reg
  FROM contrib GROUP BY 1, 2, 3
), uest AS (
  SELECT set_a, set_b,
         round(0.697e0 * 32e0 * 32e0 * 36028797018963968e0 /
               CAST(CAST(sum(1::BIGINT << (55 - reg)) AS BIGINT)
                    + (32 - count(*)) * (1::BIGINT << 55) AS DOUBLE), 4)
             AS est_union
  FROM uregs GROUP BY 1, 2
)
SELECT u.set_a, u.set_b, ea.e AS est_a, eb.e AS est_b, u.est_union,
       round(ea.e + eb.e - u.est_union, 4) AS est_inter
FROM uest u
JOIN est ea ON ea.event_type = u.set_a
JOIN est eb ON eb.event_type = u.set_b
"""

ORACLES["volume_shipping"] = """
    SELECT supp_nation, cust_nation, yr, round(sum(volume), 4) AS revenue FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS yr,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) t GROUP BY 1, 2, 3
"""
ORACLES["promo_revenue"] = """
    SELECT round(
        100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                         THEN l.l_extendedprice * (1 - l.l_discount)
                         ELSE 0.0 END)
        / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1997-01-01' AND l.l_shipdate < DATE '1997-04-01'
"""
ORACLES["top_supplier"] = """
    WITH rev AS (
        SELECT l_suppkey AS s_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON r.s_suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
"""
ORACLES["small_qty_revenue"] = """
    SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN (SELECT l_partkey, 0.5 * avg(l_quantity) AS threshold
          FROM lineitem GROUP BY 1) a
      ON l.l_partkey = a.l_partkey
    WHERE p.p_brand = 'Brand#13' AND l.l_quantity < a.threshold
"""
ORACLES["large_volume_customers"] = """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(t.total_qty AS DOUBLE) AS total_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 320) t
    JOIN orders o ON t.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
"""
ORACLES["idle_rich_customers"] = """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c.c_acctbal), 4) AS totacctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    GROUP BY 1
"""
# md5 MinHash signatures over 16 seeds, as CTEs shared by every MinHash
# oracle: sigrow (doc_id, seed, mh) and sig (doc_id, sig list) — the SQL
# mirror of dedup._md5_sig.
_DUCK_MINHASH_CTES = f"""
    toks AS (
        SELECT doc_id, {_DUCK_TOKENS} AS t
        FROM documents
    ),
    sh AS (
        -- mirrors _shingles_from incl. the short-doc fallback: docs with
        -- < 3 tokens contribute ONE whole-text shingle, not zero rows
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
        UNION ALL
        -- coalesce: DuckDB array_to_string([]) is NULL, Spark's
        -- concat_ws on an empty array is '' — the fallback must match
        SELECT doc_id, coalesce(array_to_string(t, ' '), '') AS s
        FROM toks WHERE len(t) < 3
    ),
    sigrow AS (
        SELECT doc_id, seed,
               min(CAST(('0x' || substring(md5(CAST(seed AS VARCHAR) || '|' || s),
                                           1, 15)) AS BIGINT)) AS mh
        FROM sh, UNNEST(range(0, 16)) AS v(seed)
        GROUP BY 1, 2
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM sigrow GROUP BY 1)
"""


def _build_minhash_pairs_sql(bands: int, threshold: float) -> str:
    """Oracle of ``dedup.minhash_lsh_pairs`` at 16 hashes in ``bands``
    bands: every pair sharing a band key, est_jaccard >= threshold."""
    rows = 16 // bands
    return f"""
    WITH {_DUCK_MINHASH_CTES},
    banded AS (
        SELECT doc_id, sig, band,
               array_to_string(list_transform(sig[band*{rows}+1:band*{rows}+{rows}],
                                              x -> CAST(x AS VARCHAR)), ',') AS bkey
        FROM sig, UNNEST(range(0, {bands})) AS u(band)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(list_sum(list_transform(generate_series(1, 16),
                    i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                    AS DOUBLE) / 16 AS est_jaccard
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, est_jaccard FROM pairs
    WHERE est_jaccard >= CAST({threshold} AS DOUBLE)
"""


ORACLES["minhash_signatures"] = f"""
    WITH {_DUCK_MINHASH_CTES}
    SELECT doc_id, CAST(seed AS INTEGER) AS seed, mh AS minhash
    FROM sigrow
"""
ORACLES["dedup_minhash"] = _build_minhash_pairs_sql(bands=8, threshold=0.3)
# ngram_jaccard_pairs at threshold 0.3: MinHash candidates at est >= 0.1
# (threshold - candidate_margin), verified by exact Jaccard over the
# distinct shingle sets, short-doc fallback included (_shingles_from).
ORACLES["ngram_jaccard"] = f"""
    WITH cand AS ({_build_minhash_pairs_sql(bands=8, threshold=0.1)}),
    tk AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    sets AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(
                       generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
        FROM tk
    ),
    j AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.s, sb.s)) AS ni,
               len(sa.s) AS na, len(sb.s) AS nb
        FROM cand c
        JOIN sets sa ON sa.doc_id = c.id_a
        JOIN sets sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, CAST(ni AS DOUBLE) / (na + nb - ni) AS jaccard
    FROM j
    WHERE CAST(ni AS DOUBLE) / (na + nb - ni) >= CAST(0.3 AS DOUBLE)
"""
def _betweenness_core_parts(levels: int = 12, num_sources: int = 32):
    # Unrolled multi-source BFS + dependency accumulation mirroring
    # operators/betweenness.py exactly: sigma (shortest-path counts) and
    # g (continuation counts) are INTEGERS, so the whole computation is
    # order-exact and hash-comparable — the reference's never-completed
    # query (src/main.js:108-125), cross-engine verified. ``levels`` must
    # be >= the sources' max eccentricity (measured 5 at sf0.01; extra
    # levels are empty-frontier no-ops, so 12 is safe margin for any SF
    # the driver checks).
    # MATERIALIZED hints: sym is referenced 2x per unrolled level and the
    # vis chain fans out similarly — without the hint DuckDB re-inlines
    # the whole parquet-scanning CTE tree per reference (observed as
    # "Too many open files" at 12 levels).
    parts = [f"""
    symm AS MATERIALIZED (SELECT * FROM sym),
    srcs AS (SELECT DISTINCT v AS s FROM symm ORDER BY s LIMIT {num_sources}),
    f0 AS (SELECT s, s AS v, 0 AS dist, CAST(1 AS BIGINT) AS sigma FROM srcs),
    vis0 AS (SELECT * FROM f0)"""]
    for k in range(1, levels + 1):
        parts.append(f""",
    f{k} AS (
        SELECT f.s, e.n AS v, {k} AS dist, sum(f.sigma) AS sigma
        FROM f{k - 1} f JOIN symm e ON e.v = f.v
        WHERE NOT EXISTS (SELECT 1 FROM vis{k - 1} x
                          WHERE x.s = f.s AND x.v = e.n)
        GROUP BY f.s, e.n
    ),
    vis{k} AS MATERIALIZED (
        SELECT * FROM vis{k - 1} UNION ALL SELECT * FROM f{k})""")
    vis = f"vis{levels}"
    parts.append(f""",
    g{levels} AS (SELECT s, CAST(NULL AS BIGINT) AS v,
                         CAST(NULL AS BIGINT) AS g FROM srcs WHERE FALSE)""")
    for l in range(levels - 1, -1, -1):
        parts.append(f""",
    g{l} AS (
        SELECT a.s, a.v, sum(coalesce(gn.g, 0) + 1) AS g
        FROM {vis} a
        JOIN symm e ON e.v = a.v
        JOIN {vis} b ON b.s = a.s AND b.v = e.n AND b.dist = {l + 1}
        LEFT JOIN g{l + 1} gn ON gn.s = a.s AND gn.v = e.n
        WHERE a.dist = {l}
        GROUP BY a.s, a.v
    )""")
    allg = " UNION ALL ".join(
        f"SELECT * FROM g{l}" for l in range(0, levels)
    )
    parts.append(f""",
    allg AS MATERIALIZED ({allg})""")
    return "".join(parts), vis


def _build_betweenness_sql(levels: int = 12, num_sources: int = 32) -> str:
    core, vis = _betweenness_core_parts(levels, num_sources)
    return (
        f"WITH {GRAPH_CTES},{core},\n"
        f"""    score AS (
        SELECT vis.v AS id, sum(vis.sigma * allg.g) AS b
        FROM {vis} vis JOIN allg ON allg.s = vis.s AND allg.v = vis.v
        WHERE vis.dist >= 1
        GROUP BY vis.v
    ),
    verts2 AS (SELECT DISTINCT v AS id FROM symm)\n"""
        "    SELECT verts2.id, CAST(coalesce(score.b, 0) AS BIGINT)"
        " AS betweenness\n"
        "    FROM verts2 LEFT JOIN score ON verts2.id = score.id"
    )


def _build_edge_betweenness_sql(levels: int = 12, num_sources: int = 32) -> str:
    # Edge stress (Girvan-Newman primitive) over the SAME unrolled
    # sigma/g CTEs: a DAG edge v->w for source s carries
    # sigma(s, v) * (1 + g(s, w)) shortest paths; undirected edges
    # canonicalize via least/greatest before the integer sum.
    core, vis = _betweenness_core_parts(levels, num_sources)
    return (
        f"WITH {GRAPH_CTES},{core},\n"
        f"""    dag AS (
        SELECT a.s, a.v, a.sigma, e.n, coalesce(gn.g, 0) AS g_n
        FROM {vis} a
        JOIN symm e ON e.v = a.v
        JOIN {vis} b ON b.s = a.s AND b.v = e.n AND b.dist = a.dist + 1
        LEFT JOIN allg gn ON gn.s = a.s AND gn.v = e.n
    ),
    escore AS (
        SELECT least(v, n) AS src, greatest(v, n) AS dst,
               sum(sigma * (g_n + 1)) AS b
        FROM dag GROUP BY 1, 2
    )\n"""
        "    SELECT e.src, e.dst, CAST(coalesce(sc.b, 0) AS BIGINT)"
        " AS edge_betweenness\n"
        "    FROM edges e LEFT JOIN escore sc"
        " ON sc.src = e.src AND sc.dst = e.dst"
    )


def _build_ktruss_sql(k: int = 4, rounds: int = 16) -> str:
    # Unrolled peeling (recursive SQL can't reference the survivor set
    # three times per round, but a fixed unroll can): each round is the
    # wedge self-join + closure probe + support filter of
    # operators/truss.py. Peeling is monotone, so rounds past the fix-
    # point are no-ops (measured: stable after 4 rounds at sf0.01 and 10
    # at sf0.001 — sparser graphs cascade SLOWER; 16 is margin). Supports are integer counts — order-exact.
    parts = ["""
    e0 AS MATERIALIZED (SELECT src, dst FROM edges)"""]
    for r in range(rounds):
        parts.append(f""",
    s{r} AS MATERIALIZED (
        SELECT src AS v, dst AS n FROM e{r}
        UNION ALL SELECT dst, src FROM e{r}
    ),
    sup{r} AS MATERIALIZED (
        SELECT wed.src, wed.dst, count(*) AS support
        FROM (SELECT a.v AS w, a.n AS src, b.n AS dst
              FROM s{r} a JOIN s{r} b ON a.v = b.v AND a.n < b.n) wed
        JOIN e{r} e ON e.src = wed.src AND e.dst = wed.dst
        GROUP BY wed.src, wed.dst
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT src, dst FROM sup{r} WHERE support >= {k - 2}
    )""")
    parts.append(f""",
    sfin AS (
        SELECT src AS v, dst AS n FROM e{rounds}
        UNION ALL SELECT dst, src FROM e{rounds}
    )""")
    return (
        f"WITH {GRAPH_CTES},{''.join(parts)}\n"
        "    SELECT wed.src, wed.dst, CAST(count(*) AS BIGINT) AS support\n"
        "    FROM (SELECT a.v AS w, a.n AS src, b.n AS dst\n"
        "          FROM sfin a JOIN sfin b ON a.v = b.v AND a.n < b.n) wed\n"
        f"    JOIN e{rounds} e ON e.src = wed.src AND e.dst = wed.dst\n"
        "    GROUP BY wed.src, wed.dst"
    )


def _build_pagerank_q_sql(
    iters: int = 10,
    weighted: bool = False,
    seeds: int | None = None,
    graph_sql: str | None = None,
    tol: float = 0.0,
) -> str:
    # Unrolled PageRank: one (messages, ranks) CTE pair per round,
    # mirroring operators/pagerank's expression trees operand-for-operand
    # (see that docstring for why this hash-matches).
    # ``weighted``: co-purchase tie-strength weights — integer counts, so
    # strength sums and ratio*weight messages stay exact.
    # ``seeds``: personalized teleport on the ``seeds`` smallest vertex
    # ids (None = uniform teleport).
    # ``graph_sql``: a caller-supplied CTE chain defining symw(v, n, w)
    # replaces the co-purchase prelude entirely (textrank's word graph).
    # ``tol`` > 0: the operator's early stop — d_k = max|r_k - r_{k-1}|
    # per round, answer = the first round with d_k < tol * 1e9 (the same
    # Python float the operator compares against), else the last round.
    # Every r_k is then read up to four times, so each is MATERIALIZED;
    # an inlined chain re-derives every earlier round per reference.
    if graph_sql is not None:
        sym_cte = ""
    elif weighted:
        sym_cte = """
    we AS (
        SELECT a.c AS src, b.c AS dst, count(*) AS w
        FROM cp a JOIN cp b ON a.p = b.p AND a.w = b.w AND a.c < b.c
        GROUP BY 1, 2
    ),
    symw AS (
        SELECT src AS v, dst AS n, w FROM we
        UNION ALL
        SELECT dst AS v, src AS n, w FROM we
    ),"""
    else:
        sym_cte = """
    symw AS (SELECT v, n, CAST(1 AS BIGINT) AS w FROM sym),"""
    if seeds is not None:
        # Teleport preference: 1e9/|S| on the smallest vertex ids, 0
        # elsewhere - mirrors pagerank(sources=...).
        pref_cte = f"""
    srcs AS (SELECT DISTINCT v AS id FROM symw ORDER BY id LIMIT {int(seeds)}),
    ns AS (SELECT count(*) AS c FROM srcs),
    prefs AS MATERIALIZED (
        SELECT d.id,
               CASE WHEN s.id IS NOT NULL
                    THEN CAST(1000000000 AS DOUBLE) / CAST(ns.c AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS pref
        FROM deg d LEFT JOIN srcs s ON s.id = d.id CROSS JOIN ns
    ),
    r0 AS (SELECT id, CAST(round(pref, 0) AS BIGINT) AS r FROM prefs)"""
    else:
        pref_cte = """
    prefs AS MATERIALIZED (
        SELECT id, CAST(1000000000 AS DOUBLE) / CAST(nn.n AS DOUBLE) AS pref
        FROM deg CROSS JOIN nn
    ),
    r0 AS (SELECT id, CAST(round(pref, 0) AS BIGINT) AS r FROM prefs)"""
    parts = [
        sym_cte
        + """
    deg AS (SELECT v AS id, sum(w) AS deg FROM symw GROUP BY v),
    nn AS (SELECT count(*) AS n FROM deg),"""
        + pref_cte
    ]
    mat = " MATERIALIZED" if tol > 0 else ""
    for k in range(1, iters + 1):
        parts.append(f""",
    m{k} AS (
        SELECT p.id, CAST(round(CAST(p.r AS DOUBLE)
                                / CAST(d.deg AS DOUBLE), 0) AS BIGINT) AS m
        FROM r{k - 1} p JOIN deg d USING (id)
    ),
    r{k} AS{mat} (
        SELECT s.n AS id,
               CAST(round(
                   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * pf.pref
                   + CAST(0.85 AS DOUBLE) * CAST(sum(m.m * s.w) AS DOUBLE),
                   0) AS BIGINT) AS r
        FROM symw s JOIN m{k} m ON m.id = s.v JOIN prefs pf ON pf.id = s.n
        GROUP BY s.n, pf.pref
    )""")
    prelude = GRAPH_CTES if graph_sql is None else graph_sql
    if tol <= 0:
        return (
            f"WITH {prelude},{''.join(parts)}\n"
            f"    SELECT id, r AS rank_nano FROM r{iters}"
        )
    deltas = "\n        UNION ALL\n".join(
        f"        SELECT {k} AS k, max(abs(a.r - b.r)) AS d"
        f" FROM r{k} a JOIN r{k - 1} b USING (id)"
        for k in range(1, iters + 1)
    )
    rounds = "\n        UNION ALL\n".join(
        f"        SELECT {k} AS k, id, r FROM r{k}" for k in range(1, iters + 1)
    )
    return (
        f"WITH {prelude},{''.join(parts)},\n"
        f"    deltas AS (\n{deltas}\n    ),\n"
        "    stop AS (\n"
        "        SELECT coalesce(min(k) FILTER (WHERE d < "
        f"CAST({tol * 1e9!r} AS DOUBLE)), {iters}) AS k FROM deltas\n"
        "    )\n"
        f"    SELECT rs.id, rs.r AS rank_nano\n"
        f"    FROM (\n{rounds}\n    ) rs JOIN stop USING (k)"
    )


_TEXTRANK_GRAPH = f"""
    toks AS (
        SELECT list_filter(string_split({_NORM_TEXT}, ' '), t -> t != '') AS t
        FROM documents
    ),
    bi AS (
        SELECT t[g.i] AS a, t[g.i + 1] AS b
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
        WHERE len(t) >= 2 AND t[g.i] != t[g.i + 1]
    ),
    wedges AS (
        SELECT least(a, b) AS src, greatest(a, b) AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM bi GROUP BY 1, 2
    ),
    symw AS (
        SELECT src AS v, dst AS n, w FROM wedges
        UNION ALL
        SELECT dst AS v, src AS n, w FROM wedges
    )"""

ORACLES["textrank_keywords"] = _build_pagerank_q_sql(graph_sql=_TEXTRANK_GRAPH)

def _build_max_cover_sql(k: int = 5) -> str:
    # Mirrors operators/cover.max_cover_seeds: unrolled greedy rounds,
    # ties on the smallest vertex id.
    parts = [
        """
    nbhd AS MATERIALIZED (
        SELECT v, n FROM sym
        UNION ALL
        SELECT DISTINCT v, v FROM sym
    ),
    c0 AS (SELECT CAST(NULL AS BIGINT) AS id WHERE FALSE)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""",
    g{r} AS (
        SELECT nb.v, CAST(count(*) AS BIGINT) AS g
        FROM nbhd nb
        WHERE NOT EXISTS (SELECT 1 FROM c{r - 1} c WHERE c.id = nb.n)
        GROUP BY 1 HAVING count(*) >= 1
    ),
    p{r} AS (SELECT v, g FROM g{r} ORDER BY g DESC, v ASC LIMIT 1),
    c{r} AS MATERIALIZED (
        SELECT id FROM c{r - 1}
        UNION
        SELECT nb.n AS id FROM nbhd nb JOIN p{r} ON p{r}.v = nb.v
    )"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT {r} AS seed_rank, v AS seed, g AS gain FROM p{r}"
        for r in range(1, k + 1)
    )
    return f"WITH {GRAPH_CTES},{''.join(parts)}\n    {union}"


ORACLES["max_cover_seeds"] = _build_max_cover_sql()

def _build_did_sql() -> str:
    micro = "((2 * s{a}{p} * 1000000 + n{a}{p}) // (2 * n{a}{p}))"
    m = {f"m{a}{p}": micro.format(a=a, p=p) for a in (0, 1) for p in (0, 1)}
    cell_cols = ",\n         ".join(
        f"CAST(max(CASE WHEN arm = {a} AND period = {p} THEN {c} END)"
        f" AS BIGINT) AS {c}{a}{p}"
        for a in (0, 1)
        for p in (0, 1)
        for c in ("n", "s")
    )
    return f"""
WITH bounds AS (
  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
),
pu AS (
  SELECT (CAST(('0x' || substring(md5('ab|' || CAST(user_id AS VARCHAR)),
               1, 15)) AS BIGINT) % 2) AS arm,
         period, sum(cents) AS cents
  FROM (
    SELECT user_id,
           CAST(epoch_us(ts) >= (lo + hi) // 2 AS BIGINT) AS period,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events CROSS JOIN bounds
    WHERE event_type = 'purchase'
  ) GROUP BY user_id, period
),
g AS (
  SELECT arm, period, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s
  FROM pu GROUP BY 1, 2
),
cells AS (
  SELECT {cell_cols}
  FROM g
)
SELECT n00, s00, n01, s01, n10, s10, n11, s11,
       ({m['m11']} - {m['m10']}) - ({m['m01']} - {m['m00']}) AS did_micro
FROM cells
"""


ORACLES["diff_in_diff"] = _build_did_sql()

def _build_soundex_sql() -> str:
    from graph_database_spark.operators.linkage import _soundex_code_sql

    c0 = _soundex_code_sql("substr(blk, 1, 1)")
    cd = _soundex_code_sql("substr(blk, i + 1, 1)")
    return f"""
WITH RECURSIVE names AS (
    SELECT p_name,
           list_extract(string_split(p_name, ' '),
                        len(string_split(p_name, ' '))) AS blk
    FROM (SELECT DISTINCT p_name FROM part)
),
f AS (
    SELECT p_name, blk, 1 AS i, {c0} AS last, '' AS digits FROM names
    UNION ALL
    SELECT p_name, blk, i + 1,
        CASE WHEN cd != '' AND cd != last THEN cd
             WHEN cd != '' THEN last
             WHEN c IN ('h', 'w') THEN last
             ELSE '' END,
        CASE WHEN cd != '' AND cd != last THEN digits || cd
             ELSE digits END
    FROM (SELECT *, substr(blk, i + 1, 1) AS c, {cd} AS cd
          FROM f WHERE i < length(blk))
)
SELECT p_name, blk,
       upper(substr(blk, 1, 1)) || substr(digits || '000', 1, 3) AS soundex
FROM f WHERE i = length(blk)
"""


ORACLES["soundex_blocks"] = _build_soundex_sql()

ORACLES["rectangle_count"] = f"""
WITH {GRAPH_CTES},
wp AS (
    SELECT a.n AS u, b.n AS w, CAST(count(*) AS BIGINT) AS c
    FROM sym a JOIN sym b ON a.v = b.v AND a.n < b.n
    GROUP BY 1, 2
)
SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) // 2 AS BIGINT)
    AS n_rectangles
FROM wp
"""

ORACLES["timedecay_attribution"] = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS jny
  FROM events
),
purchases AS (
  SELECT user_id, jny, cents, ts AS pts FROM e WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, jny, event_type AS channel, ts
  FROM e WHERE event_type != 'purchase'
),
jt AS (
  SELECT t.channel, t.user_id, t.jny, p.cents,
         (CAST(1 AS BIGINT) << (24 - CAST(least(
             (epoch_us(p.pts) - epoch_us(t.ts)) // 43200000000, 24)
           AS INTEGER))) AS wgt
  FROM touches t JOIN purchases p
    ON p.user_id = t.user_id AND p.jny = t.jny
),
tot AS (
  SELECT user_id, jny, CAST(sum(wgt) AS BIGINT) AS tw
  FROM jt GROUP BY 1, 2
),
credited AS (
  SELECT j.channel,
         (2 * j.cents * 1000000 * j.wgt + t.tw) // (2 * t.tw) AS credit
  FROM jt j JOIN tot t ON t.user_id = j.user_id AND t.jny = j.jny
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
       CAST(sum(credit) AS BIGINT) AS credit_micro_cents
FROM credited GROUP BY 1
"""

ORACLES["quantile_normalize"] = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (
             PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rs,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s,
         CAST(count(*) OVER () AS BIGINT) AS nn
  FROM documents
),
pooled AS (
  SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS idx,
         n_chars AS norm_chars
  FROM documents
)
SELECT r.doc_id, r.source, r.n_chars, p.norm_chars
FROM ranked r
JOIN pooled p ON p.idx = (r.rs * r.nn + r.n_s - 1) // r.n_s
"""

ORACLES["position_attribution"] = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS jny
  FROM events
),
purchases AS (
  SELECT user_id, jny, cents FROM e WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, jny, event_type AS channel,
         row_number() OVER (PARTITION BY user_id, jny
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id, jny
                            ORDER BY ts DESC, event_id DESC) AS rd,
         count(*) OVER (PARTITION BY user_id, jny) AS n
  FROM e WHERE event_type != 'purchase'
),
credited AS (
  SELECT t.channel,
         CASE
           WHEN t.n = 1 THEN p.cents * 1000000
           WHEN t.n = 2 THEN (2 * p.cents * 1000000 + 2) // (2 * 2)
           WHEN t.ra = 1 OR t.rd = 1 THEN
             (2 * p.cents * 1000000 * 2 + 5) // (2 * 5)
           ELSE (2 * p.cents * 1000000 + 5 * (t.n - 2))
                // (2 * 5 * (t.n - 2))
         END AS credit
  FROM touches t JOIN purchases p
    ON p.user_id = t.user_id AND p.jny = t.jny
),
none_credit AS (
  SELECT 'none' AS channel, p.cents * 1000000 AS credit
  FROM purchases p
  WHERE NOT EXISTS (SELECT 1 FROM touches t
                    WHERE t.user_id = p.user_id AND t.jny = p.jny)
),
allc AS (SELECT * FROM credited UNION ALL SELECT * FROM none_credit)
SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
       CAST(sum(credit) AS BIGINT) AS credit_micro_cents
FROM allc GROUP BY 1
"""

ORACLES["f2_ams"] = f"""
WITH toks AS (SELECT unnest({_DUCK_TOKENS}) AS t FROM documents),
freq AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
exact AS (SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2 FROM freq),
byj AS (
    SELECT j, CAST(sum(((CAST(('0x' || substring(md5(
               'ams|' || CAST(j AS VARCHAR) || '|' || t), 1, 15)) AS BIGINT)
               % 2) * 2 - 1) * f) AS BIGINT) AS z
    FROM freq, (SELECT unnest(generate_series(0, 15)) AS j)
    GROUP BY 1
)
SELECT CAST(j AS BIGINT) AS j, z, z * z AS est, exact_f2
FROM byj CROSS JOIN exact
"""

ORACLES["sprt_monitor"] = f"""
WITH users AS (
  SELECT user_id, min(ts) AS t0,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS succ,
         (CAST(('0x' || substring(md5('ab|' || CAST(user_id AS VARCHAR)),
               1, 15)) AS BIGINT) % 2) AS arm
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT arm, user_id,
         CAST(row_number() OVER (
             PARTITION BY arm ORDER BY t0, user_id) AS BIGINT) AS idx,
         CAST(sum(succ) OVER (
             PARTITION BY arm ORDER BY t0, user_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS ks
  FROM users
)
SELECT CAST(arm AS BIGINT) AS arm, user_id, idx, ks,
       ks * {_SPRT_C1} + (idx - ks) * ({_SPRT_C2}) AS llr_micro,
       CASE WHEN ks * {_SPRT_C1} + (idx - ks) * ({_SPRT_C2}) >= {_SPRT_A}
              THEN 'reject_h0'
            WHEN ks * {_SPRT_C1} + (idx - ks) * ({_SPRT_C2}) <= {_SPRT_B}
              THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM ranked
"""

ORACLES["dedup_survivorship"] = f"""
WITH RECURSIVE toks AS (
    SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2),
           i -> array_to_string(t[i:i+2], ' '))) AS s
    FROM toks WHERE len(t) >= 3
),
inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT id_a, id_b
    FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
          >= CAST(0.5 AS DOUBLE)
),
sym2 AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
    SELECT DISTINCT a, a FROM sym2
    UNION
    SELECT s.b, reach.r FROM reach JOIN sym2 s ON s.a = reach.id
),
groups AS (
    SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS group_id
    FROM reach GROUP BY id
),
qual AS ({_build_quality_sql()})
SELECT g.doc_id, g.group_id, q.quality,
       CAST(CASE WHEN row_number() OVER (
                PARTITION BY g.group_id
                ORDER BY q.quality DESC, g.doc_id ASC) = 1
            THEN 1 ELSE 0 END AS INTEGER) AS is_survivor
FROM groups g JOIN qual q ON q.doc_id = g.doc_id
"""

ORACLES["collocations_llr"] = f"""
WITH toks AS (
    SELECT list_filter(string_split({_NORM_TEXT}, ' '), t -> t != '') AS t
    FROM documents
),
bi AS (
    SELECT t[i] AS a, t[i + 1] AS b
    FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 2)
),
k AS (SELECT a, b, CAST(count(*) AS BIGINT) AS k11 FROM bi GROUP BY 1, 2),
row_m AS (SELECT a, CAST(sum(k11) AS BIGINT) AS ra FROM k GROUP BY 1),
col_m AS (SELECT b, CAST(sum(k11) AS BIGINT) AS cb FROM k GROUP BY 1),
nt AS (SELECT CAST(sum(k11) AS BIGINT) AS nn FROM k)
SELECT a, b, k11, 2 * ({_LLR_EXPR}) AS llr2_micro
FROM k JOIN row_m USING (a) JOIN col_m USING (b) CROSS JOIN nt
WHERE k11 >= 5
"""

_RETRIEVAL_TERMS = f"""
    terms AS (
        SELECT doc_id, unnest({_DUCK_TOKENS}) AS term
        FROM documents
    )
"""
# Count-derived LSH width, mirroring similarity._auto_bits exactly:
# max(4, ceil(log2(max(N/128, 1.0)))). N/128 is a dyadic-rational float,
# so log2 only lands ON an integer when N/128 is an exact power of two
# (where log2 is IEEE-exact in both engines) — ceil is cross-engine
# stable. Used by the ANN twins whose Spark side passes n_bits=None
# (r7 VERDICT wrong-#3: a pinned width degrades to in-bucket quadratic
# if the driver ever raises sf).
_AUTO_BITS_SQL = (
    "(SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST("
    "CAST(count(*) AS DOUBLE) / CAST(128 AS DOUBLE), "
    "CAST(1 AS DOUBLE)))) AS INTEGER)) FROM embeddings)"
)


def _md5_bucket_ctes(dim: int, n_bits: "int | str", n_tables: int) -> str:
    # Mirrors operators/similarity._md5_buckets exactly: md5-parity ±1
    # signs (derived IN SQL — the sign family itself is verified, not
    # trusted), integer micro-unit hyperplane sums (order-exact), bucket
    # = big-endian bit-fold (shifts < 31 bits). ``n_bits`` may be a SQL
    # scalar expression (e.g. _AUTO_BITS_SQL) — DuckDB evaluates the
    # uncorrelated subquery once.
    nb = str(n_bits)
    total_bits = f"({nb} * {n_tables})"
    return f"""
    ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
    xm AS (
        SELECT vec_id, i, CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm
        FROM ex
    ),
    signs AS (
        SELECT ii.i, jj.j,
               (CAST(('0x' || substring(md5(CAST(ii.i AS VARCHAR) || '|' ||
                                            CAST(jj.j AS VARCHAR)), 1, 1))
                     AS BIGINT) % 2) * 2 - 1 AS s
        FROM (SELECT unnest(range(0, {dim})) AS i) ii,
             (SELECT unnest(range(0, {total_bits})) AS j) jj
    ),
    hs AS (
        SELECT m.vec_id, s.j, sum(m.xm * s.s) AS h
        FROM xm m JOIN signs s ON s.i = m.i - 1
        GROUP BY 1, 2
    ),
    buckets AS (
        SELECT vec_id, CAST(j // {nb} AS INTEGER) AS tbl,
               sum(CASE WHEN h > 0 THEN 1 ELSE 0 END
                   * (CAST(1 AS BIGINT) << ({nb} - 1 - (j % {nb}))))
                   AS bucket
        FROM hs GROUP BY 1, 2
    )"""


def _pair_dots_cte(a: str, b: str) -> str:
    # ``dots(a, b, dp)`` over the candidate pairs in ``cand(a, b, ...)``:
    # one list_dot_product per pair over the DOUBLE[] embeddings. The
    # unnest-both-sides-and-join-on-i form materialized dim rows per
    # candidate pair and spilled past 20 GB at sf0.1 (2.56 M pairs).
    return f"""
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dots AS (
        SELECT c.{a}, c.{b}, list_dot_product(va.v, vb.v) AS dp
        FROM cand c
        JOIN vecs va ON va.vec_id = c.{a}
        JOIN vecs vb ON vb.vec_id = c.{b}
    )"""


def _build_ann_lsh_md5_sql(
    dim: int = 64, n_bits: "int | str" = 6, n_tables: int = 8, k: int = 10
) -> str:
    # Bucketing CTEs + rounded-6 in-bucket cosine and the
    # (sim DESC, cand_id) row_number re-rank — the similarity_topk
    # oracle's form. Mirrors lsh_topk over every 50th vector as queries.
    return f"""
    WITH {_md5_bucket_ctes(dim, n_bits, n_tables)},
    cand AS (
        SELECT DISTINCT qa.vec_id AS query_id, cb.vec_id AS cand_id
        FROM buckets qa
        JOIN buckets cb ON cb.tbl = qa.tbl AND cb.bucket = qa.bucket
        WHERE qa.vec_id % 50 = 0 AND qa.vec_id <> cb.vec_id
    ),
    {_pair_dots_cte("query_id", "cand_id")},
    scored AS (
        SELECT query_id, cand_id,
               round(dp / (na.nrm * nb.nrm), 6) AS sim
        FROM dots
        JOIN norms na ON na.vec_id = query_id
        JOIN norms nb ON nb.vec_id = cand_id
    )
    SELECT query_id, cand_id, sim, CAST(rank AS INTEGER) AS rank FROM (
        SELECT query_id, cand_id, sim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, cand_id
               ) AS rank
        FROM scored
    ) r WHERE rank <= {k}
"""


def _build_lsh_pairs_md5_sql(
    dim: int = 64, n_bits: "int | str" = 6, n_tables: int = 8,
    threshold: float = 0.35,
) -> str:
    # Mirrors lsh_pairs_above: same bucketing CTEs, candidate pairs
    # are id_a < id_b sharing any (table, bucket), rounded-6 verify.
    return f"""
    WITH {_md5_bucket_ctes(dim, n_bits, n_tables)},
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a
        JOIN buckets b ON b.tbl = a.tbl AND b.bucket = a.bucket
        WHERE a.vec_id < b.vec_id
    ),
    {_pair_dots_cte("id_a", "id_b")}
    SELECT id_a, id_b, round(dp / (na.nrm * nb.nrm), 6) AS sim
    FROM dots
    JOIN norms na ON na.vec_id = id_a
    JOIN norms nb ON nb.vec_id = id_b
    WHERE round(dp / (na.nrm * nb.nrm), 6) >= CAST({threshold} AS DOUBLE)
"""


def _md5_all_topk_ctes(
    dim: int = 64, n_bits: "int | str" = 6, n_tables: int = 8, k: int = 10
) -> str:
    # The _build_ann_lsh_md5_sql chain with EVERY vector as a query (no
    # %50 subsample): bucket CTEs + in-bucket exact rounded-6 re-rank,
    # ending in a `topk(query_id, cand_id, sim, rnk)` CTE. Shared by the
    # knn_graph and embedding_outliers oracles, which replay the Spark
    # side's lsh_topk candidates exactly.
    return f"""{_md5_bucket_ctes(dim, n_bits, n_tables)},
    cand AS (
        SELECT DISTINCT qa.vec_id AS query_id, cb.vec_id AS cand_id
        FROM buckets qa
        JOIN buckets cb ON cb.tbl = qa.tbl AND cb.bucket = qa.bucket
        WHERE qa.vec_id <> cb.vec_id
    ),
    {_pair_dots_cte("query_id", "cand_id")},
    scored AS (
        SELECT query_id, cand_id,
               round(dp / (na.nrm * nb.nrm), 6) AS sim
        FROM dots
        JOIN norms na ON na.vec_id = query_id
        JOIN norms nb ON nb.vec_id = cand_id
    ),
    topk AS (
        SELECT query_id, cand_id, sim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, cand_id
               ) AS rnk
        FROM scored QUALIFY rnk <= {k}
    )"""


def _build_ann_ivf_md5_sql(
    n_centroids: int = 16, n_probe: int = 4, k: int = 10
) -> str:
    # Mirrors operators/ivf.ivf_topk: md5-ordered centroid draw;
    # nrm via list_sum(list_transform(...)) — LIST-ORDER sequential
    # summation matching Python's sum() over the same elements, with
    # IEEE sqrt/divide exact in both; integer micro-unit cell sims;
    # candidate cell = argmax with FIRST-index tiebreak (s DESC, c ASC);
    # probe cells from reverse(array_sort(struct(s,c))) = (s DESC,
    # c DESC); double re-rank (list_dot_product over DOUBLE[], as
    # similarity._pair_sim casts before multiplying) rounded to 6.
    return f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
    xm AS (
        SELECT vec_id, i, CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm
        FROM ex
    ),
    cent AS (
        SELECT vec_id AS cid,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS c
        FROM embeddings
        QUALIFY c <= {n_centroids}
    ),
    cnrm AS (
        SELECT c, sqrt(list_sum(list_transform(e.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM cent JOIN embeddings e ON e.vec_id = cid
    ),
    cm AS (
        SELECT n.c, ex.i,
               CAST(round(ex.x / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END)
                          * 1000000.0, 0) AS BIGINT) AS cm
        FROM cent JOIN ex ON ex.vec_id = cid JOIN cnrm n USING (c)
    ),
    sims AS (
        SELECT v.vec_id, c.c, sum(v.xm * c.cm) AS s
        FROM xm v JOIN cm c ON c.i = v.i
        GROUP BY 1, 2
    ),
    cand_cell AS (
        SELECT vec_id, CAST(c AS INTEGER) AS cell FROM (
            SELECT vec_id, c,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY s DESC, c ASC
                   ) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    probe AS (
        SELECT vec_id, CAST(c AS INTEGER) AS cell FROM (
            SELECT vec_id, c,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY s DESC, c DESC
                   ) AS rn
            FROM sims WHERE vec_id % 50 = 0
        ) t WHERE rn <= {n_probe}
    ),
    cand AS (
        SELECT DISTINCT p.vec_id AS query_id, cc.vec_id AS cand_id
        FROM probe p JOIN cand_cell cc USING (cell)
        WHERE p.vec_id <> cc.vec_id
    ),
    {_pair_dots_cte("query_id", "cand_id")},
    scored AS (
        SELECT query_id, cand_id,
               round(dp / (na.nrm * nb.nrm), 6) AS sim
        FROM dots
        JOIN norms na ON na.vec_id = query_id
        JOIN norms nb ON nb.vec_id = cand_id
    )
    SELECT query_id, cand_id, sim, CAST(rank AS INTEGER) AS rank FROM (
        SELECT query_id, cand_id, sim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, cand_id
               ) AS rank
        FROM scored
    ) r WHERE rank <= {k}
"""


def _build_semdedup_sql(
    n_centroids: int = 16, tau_micro2: int = 300_000_000_000
) -> str:
    # Mirrors operators/semdedup.semdedup_md5: md5-ordered centroid draw
    # (same CTE as ann_ivf_md5); UNIT micro vectors for every row via
    # the list-order sequential norm (list_sum matches the Spark
    # F.aggregate fold and Python's sum() bit-for-bit); centroid micro
    # vectors ARE the um rows of the drawn ids (the driver-side
    # _unit_centroid_micro computes the identical IEEE expression);
    # argmax cell with FIRST-index tiebreak; integer pairwise dots.
    return f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    lnrm AS (
        SELECT vec_id, sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    um AS (
        SELECT ex.vec_id, ex.i,
               CAST(round(ex.x / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END)
                          * 1000000.0, 0) AS BIGINT) AS um
        FROM ex JOIN lnrm n USING (vec_id)
    ),
    cent AS (
        SELECT vec_id AS cid,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS c
        FROM embeddings
        QUALIFY c <= {n_centroids}
    ),
    cm AS (SELECT cent.c, u.i, u.um AS cm FROM cent JOIN um u ON u.vec_id = cid),
    sims AS (
        SELECT u.vec_id, c.c, sum(u.um * c.cm) AS s
        FROM um u JOIN cm c ON c.i = u.i
        GROUP BY 1, 2
    ),
    cell AS (
        SELECT vec_id, CAST(c AS INTEGER) AS cell FROM (
            SELECT vec_id, c,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY s DESC, c ASC
                   ) AS rn
            FROM sims
        ) t WHERE rn = 1
    ),
    pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb,
               CAST(sum(ua.um * ub.um) AS BIGINT) AS d
        FROM cell a
        JOIN cell b ON b.cell = a.cell AND b.vec_id < a.vec_id
        JOIN um ua ON ua.vec_id = a.vec_id
        JOIN um ub ON ub.vec_id = b.vec_id AND ub.i = ua.i
        GROUP BY 1, 2
    ),
    qual AS (
        SELECT ida, min(idb) AS dup_of, max(d) AS best_sim
        FROM pairs WHERE d >= {tau_micro2} GROUP BY 1
    )
    SELECT c.vec_id, c.cell,
           CAST(CASE WHEN q.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
               AS is_dup,
           q.dup_of, q.best_sim
    FROM cell c LEFT JOIN qual q ON q.ida = c.vec_id
    ORDER BY c.vec_id
"""


def _build_sssp_sql(num_sources: int = 4, rounds: int = 12) -> str:
    # Mirrors operators/sssp.sssp_weighted: weighted co-purchase edges
    # (the copurchase_strength `we` CTE), integer micro-costs via floor
    # division, K smallest vertex ids as sources, and exactly `rounds`
    # unrolled min-fold relax rounds (the graph_mis pinned-budget
    # pattern — both engines run the same recurrence, no convergence
    # claim needed).
    parts = [
        f"""
    WITH cp AS ({_CP}),
    we AS (
        SELECT a.c AS src, b.c AS dst, count(*) AS weight
        FROM cp a JOIN cp b ON a.p = b.p AND a.w = b.w AND a.c < b.c
        GROUP BY 1, 2
    ),
    wsym AS MATERIALIZED (
        SELECT src AS v, dst AS n,
               CAST(1000000 AS BIGINT) // weight AS cost FROM we
        UNION ALL
        SELECT dst, src, CAST(1000000 AS BIGINT) // weight FROM we
    ),
    roots AS (SELECT DISTINCT v AS s FROM wsym ORDER BY s LIMIT {num_sources}),
    r0 AS (SELECT s, s AS id, CAST(0 AS BIGINT) AS dist FROM roots)"""
    ]
    for k in range(rounds):
        parts.append(
            f""",
    r{k + 1} AS MATERIALIZED (
        SELECT s, id, min(dist) AS dist FROM (
            SELECT s, id, dist FROM r{k}
            UNION ALL
            SELECT r.s, e.n AS id, r.dist + e.cost AS dist
            FROM r{k} r JOIN wsym e ON e.v = r.id
        ) u GROUP BY 1, 2
    )"""
        )
    parts.append(
        f"""
    SELECT s AS source, id, dist AS dist_micro FROM r{rounds}
    ORDER BY source, id"""
    )
    return "".join(parts)


ORACLES["semdedup"] = _build_semdedup_sql()
ORACLES["sssp_weighted"] = _build_sssp_sql()
ORACLES["ann_lsh_md5"] = _build_ann_lsh_md5_sql()
ORACLES["embedding_neardup_lsh_md5"] = _build_lsh_pairs_md5_sql()
ORACLES["ann_lsh"] = _build_ann_lsh_md5_sql(n_bits=_AUTO_BITS_SQL, n_tables=16)
ORACLES["embedding_neardup_lsh"] = _build_lsh_pairs_md5_sql(
    n_bits=_AUTO_BITS_SQL, n_tables=16
)
ORACLES["ann_ivf_md5"] = _build_ann_ivf_md5_sql()
ORACLES["ann_ivf"] = _build_ann_ivf_md5_sql()
ORACLES["doc_chunks"] = f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    c AS (
        SELECT doc_id, t, CAST(cid AS BIGINT) AS chunk_id
        FROM toks, UNNEST(range(0, (len(t) - 1) // 24 + 1)) AS u(cid)
        WHERE len(t) > 0
    )
    SELECT doc_id, chunk_id,
           chunk_id * 24 AS start_tok,
           CAST(least(32, len(t) - chunk_id * 24) AS BIGINT) AS n_tok_chunk,
           coalesce(array_to_string(
               t[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' '), '')
               AS chunk_text
    FROM c
"""
ORACLES["winnow_fingerprints"] = f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    sh AS (
        -- k=5 shingles with the _shingles_from short-doc fallback
        SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s,
               CAST(i AS BIGINT) AS i
        FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
        WHERE len(t) >= 5
        UNION ALL
        SELECT doc_id, coalesce(array_to_string(t, ' '), '') AS s,
               CAST(1 AS BIGINT) AS i
        FROM toks WHERE len(t) < 5
    ),
    h AS (
        SELECT doc_id, i,
               CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS hv
        FROM sh
    ),
    nn AS (SELECT doc_id, max(i) AS n FROM h GROUP BY 1),
    -- windows of w = least(4, n) hashes starting at p = 1 .. n-w+1;
    -- per window keep the min hash, RIGHTMOST position on ties
    pick AS (
        SELECT h.doc_id, p.p, h.i, h.hv,
               row_number() OVER (
                   PARTITION BY h.doc_id, p.p ORDER BY h.hv ASC, h.i DESC
               ) AS rn
        FROM nn,
             UNNEST(range(1, nn.n - least(4, nn.n) + 2)) AS p(p),
             h
        WHERE h.doc_id = nn.doc_id
          AND h.i BETWEEN p.p AND p.p + least(4, nn.n) - 1
    )
    SELECT DISTINCT doc_id, CAST(i AS INTEGER) AS pos, hv AS fp
    FROM pick WHERE rn = 1
"""
ORACLES["text_embedding_neardup_md5"] = f"""
    WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents),
    h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 64 AS b,
               (CAST(('0x' || substring(md5('s|' || t), 1, 1)) AS BIGINT) % 2)
                   * 2 - 1 AS s
        FROM toks
    ),
    vec AS (SELECT doc_id, b, sum(s) AS v FROM h GROUP BY 1, 2),
    norms AS (
        SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm
        FROM vec GROUP BY 1
        HAVING sum(v * v) > 0
    ),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.v * b.v) AS dp
        FROM vec a JOIN vec b ON a.b = b.b AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(dp AS DOUBLE) / (na.nrm * nb.nrm), 6) AS sim
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE round(CAST(dp AS DOUBLE) / (na.nrm * nb.nrm), 6)
          >= CAST(0.8 AS DOUBLE)
"""
ORACLES["text_embedding_neardup"] = ORACLES["text_embedding_neardup_md5"]
def _build_hits_sql(iters: int = 6) -> str:
    # Unrolled HITS: one (auth-raw, auth, hub-raw, hub) CTE quartet per
    # round, mirroring hits_quantized's expression trees operand-for-
    # operand — integer message sums are order-free, and the L1
    # normalization is the single float expression
    # round(1e9 * raw / tot) on both sides.
    parts = ["""
    bip AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS hub, l.l_partkey AS auth
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT hub, CAST(1000000000 AS BIGINT) AS score FROM bip)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
    ar{k} AS MATERIALIZED (
        SELECT b.auth, sum(h.score) AS raw
        FROM bip b JOIN h{k - 1} h ON h.hub = b.hub GROUP BY b.auth
    ),
    a{k} AS (
        SELECT auth,
               CAST(round(CAST(1000000000 AS DOUBLE) * CAST(raw AS DOUBLE)
                          / CAST(t.t AS DOUBLE), 0) AS BIGINT) AS score
        FROM ar{k} CROSS JOIN (SELECT sum(raw) AS t FROM ar{k}) t
    ),
    hr{k} AS MATERIALIZED (
        SELECT b.hub, sum(a.score) AS raw
        FROM bip b JOIN a{k} a ON a.auth = b.auth GROUP BY b.hub
    ),
    h{k} AS (
        SELECT hub,
               CAST(round(CAST(1000000000 AS DOUBLE) * CAST(raw AS DOUBLE)
                          / CAST(t.t AS DOUBLE), 0) AS BIGINT) AS score
        FROM hr{k} CROSS JOIN (SELECT sum(raw) AS t FROM hr{k}) t
    )""")
    return (
        "WITH" + "".join(parts) + f"""
    SELECT hub AS id, 'hub' AS kind, score AS score_nano FROM h{iters}
    UNION ALL
    SELECT auth AS id, 'auth' AS kind, score AS score_nano FROM a{iters}"""
    )


def _build_coreness_sql(rounds: int = 16) -> str:
    # Unrolled h-index iteration: one (messages, state) CTE pair per
    # round mirroring operators/kcore.coreness — row_number with the
    # same (value desc, neighbor id) tiebreak, max(least(rn, cn))
    # h-index, all integer. The fixpoint is reached well inside the
    # budget; extra unrolled rounds are no-ops on the stable state.
    parts = [""",
    c0 AS (SELECT v AS id, count(*) AS c FROM sym GROUP BY v)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
    m{k} AS (
        SELECT s.v AS id, c.c AS cn,
               row_number() OVER (PARTITION BY s.v
                                  ORDER BY c.c DESC, s.n) AS rn
        FROM sym s JOIN c{k - 1} c ON c.id = s.n
    ),
    c{k} AS MATERIALIZED (
        SELECT id, max(least(rn, cn)) AS c FROM m{k} GROUP BY id
    )""")
    return (
        f"WITH {GRAPH_CTES}{''.join(parts)}\n"
        f"    SELECT id, CAST(c AS BIGINT) AS core FROM c{rounds}"
    )


ORACLES["coreness"] = _build_coreness_sql()

ORACLES["onion_layers"] = f"""
WITH RECURSIVE {GRAPH_CTES},
-- Onion decomposition: the recursive state carries BOTH the surviving
-- edge rows (kind 'e') and the alive vertex rows (kind 'v' — so
-- isolated vertices keep degree 0 instead of vanishing with their last
-- edge), plus the peel threshold k on every row. Peeled vertices are
-- emitted as kind 'o' rows that never recurse (the CLAUDE.md
-- carry-the-edge-list pattern, extended with vertex rows + emission).
st(r, kind, v, n, k, layer, core) AS (
    SELECT * FROM (
        SELECT 0 AS r, 'e' AS kind, v, n, CAST(0 AS BIGINT) AS k,
               CAST(NULL AS BIGINT) AS layer, CAST(NULL AS BIGINT) AS core
        FROM sym
        UNION ALL
        SELECT 0, 'v', v, NULL, CAST(0 AS BIGINT), NULL, NULL
        FROM (SELECT DISTINCT v FROM sym)
    )
    UNION ALL
    SELECT r + 1,
           CASE WHEN kind = 'v' AND dv_v <= k2 THEN 'o' ELSE kind END,
           v, n, k2,
           CASE WHEN kind = 'v' AND dv_v <= k2
                THEN CAST(r + 1 AS BIGINT) END,
           CASE WHEN kind = 'v' AND dv_v <= k2 THEN k2 END
    FROM (
        SELECT *, greatest(k, min(CASE WHEN kind = 'v' THEN dv_v END)
                              OVER ()) AS k2
        FROM (
            SELECT r, kind, v, n, k,
                   sum(CASE WHEN kind = 'e' THEN 1 ELSE 0 END)
                       OVER (PARTITION BY v) AS dv_v,
                   sum(CASE WHEN kind = 'e' THEN 1 ELSE 0 END)
                       OVER (PARTITION BY n) AS dv_n
            FROM st WHERE kind != 'o' AND r < 64
        ) t1
    ) t2
    WHERE kind = 'v'
       OR (kind = 'e' AND dv_v > k2 AND dv_n > k2)
)
SELECT v AS id, CAST(layer AS BIGINT) AS layer, CAST(core AS BIGINT) AS core
FROM st WHERE kind = 'o'
"""
ORACLES["hits_scores"] = _build_hits_sql()
ORACLES["betweenness"] = _build_betweenness_sql()
ORACLES["edge_betweenness"] = _build_edge_betweenness_sql()
ORACLES["ktruss"] = _build_ktruss_sql()
ORACLES["pagerank_quantized"] = _build_pagerank_q_sql()
ORACLES["pagerank_weighted_quantized"] = _build_pagerank_q_sql(weighted=True)
ORACLES["pagerank_personalized_quantized"] = _build_pagerank_q_sql(seeds=32)
ORACLES["pagerank"] = _build_pagerank_q_sql(iters=20, tol=1e-6)
ORACLES["pagerank_weighted"] = _build_pagerank_q_sql(
    iters=20, weighted=True, tol=1e-6
)
ORACLES["pagerank_personalized"] = _build_pagerank_q_sql(
    iters=20, seeds=4, tol=1e-6
)
ORACLES["excess_suppliers"] = """
    WITH flt AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    ),
    tot AS (SELECT l_partkey, sum(qty) AS total FROM flt GROUP BY 1),
    dom AS (
        SELECT DISTINCT f.l_suppkey
        FROM flt f JOIN tot t USING (l_partkey)
        WHERE f.qty > CAST(0.5 AS DOUBLE) * t.total
    )
    SELECT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)
"""
ORACLES["bloom_semijoin"] = """
    WITH pos AS (
        SELECT (CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || '|'
                                        || CAST(o_custkey AS VARCHAR)),
                                        1, 15)) AS BIGINT) % 4096) AS p
        FROM orders, UNNEST(range(0, 3)) AS u(j)
    ),
    words AS (
        SELECT p // 32 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
        FROM pos GROUP BY 1
    ),
    members AS (SELECT DISTINCT o_custkey AS k FROM orders),
    probe AS (
        SELECT c.c_custkey AS k, h.j,
               ((CAST(('0x' || substring(md5(CAST(h.j AS VARCHAR) || '|'
                                         || CAST(c.c_custkey AS VARCHAR)),
                                         1, 15)) AS BIGINT) % 4096)) AS p
        FROM customer c, UNNEST(range(0, 3)) AS h(j)
    ),
    checked AS (
        SELECT pr.k,
               bool_and((coalesce(w.bits, 0)
                         & (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INTEGER)))
                        != 0) AS pass
        FROM probe pr LEFT JOIN words w ON w.word = pr.p // 32
        GROUP BY pr.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(count(CASE WHEN m.k IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_exact,
           CAST(count(CASE WHEN c.pass THEN 1 END) AS BIGINT) AS n_pass,
           CAST(count(CASE WHEN c.pass AND m.k IS NULL THEN 1 END) AS BIGINT)
               AS n_false_pos
    FROM checked c LEFT JOIN members m ON c.k = m.k
"""
def _walks_ctes(num_walks: int = 32, steps: int = 8) -> tuple[str, str]:
    # Unrolled walk replay: one CTE per hop; the md5 transition index is
    # mirrored byte-for-byte (see operators/walks.py). Returns (ctes,
    # union-select) so walk consumers (skip-grams) can build on it.
    parts = [f"""
    adj AS MATERIALIZED (
        SELECT v, list_sort(list(n)) AS nbrs FROM sym GROUP BY v
    ),
    s0 AS (
        SELECT v AS walk_id, 0 AS step, v AS node
        FROM (SELECT v FROM adj ORDER BY v LIMIT {num_walks})
    )"""]
    for t in range(1, steps + 1):
        parts.append(f""",
    s{t} AS (
        SELECT s.walk_id, {t} AS step,
               a.nbrs[CAST((CAST(('0x' || substring(md5(
                       CAST(s.walk_id AS VARCHAR) || '|{t}|'
                       || CAST(s.node AS VARCHAR)), 1, 15)) AS BIGINT)
                     % len(a.nbrs)) + 1 AS INTEGER)] AS node
        FROM s{t - 1} s JOIN adj a ON a.v = s.node
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM s{t}" for t in range(steps + 1))
    return "".join(parts), union


def _build_walks_sql() -> str:
    ctes, union = _walks_ctes()
    return f"WITH {GRAPH_CTES},{ctes}\n    {union}"


def _build_node2vec_sql(
    num_walks: int = 32, steps: int = 8, w_ret: int = 4, w_bfs: int = 2, w_out: int = 1
) -> str:
    # Mirrors operators/walks.node2vec_walks: uniform first hop (the
    # random_walks recipe), then per-step integer-weighted inverse-CDF
    # picks r = md5_60(w|t|v) % total over the sorted neighbor list with
    # second-order weights (return / distance-1 / outward).
    parts = [
        f"""
    s0 AS (
        SELECT v AS walk_id, 0 AS step, v AS node
        FROM (SELECT v FROM adj ORDER BY v LIMIT {num_walks})
    ),
    s1 AS (
        SELECT s.walk_id, 1 AS step,
               a.nbrs[CAST((CAST(('0x' || substring(md5(
                       CAST(s.walk_id AS VARCHAR) || '|1|'
                       || CAST(s.node AS VARCHAR)), 1, 15)) AS BIGINT)
                     % len(a.nbrs)) + 1 AS INTEGER)] AS node,
               s.node AS prev
        FROM s0 s JOIN adj a ON a.v = s.node
    )"""
    ]
    for t in range(2, steps + 1):
        parts.append(
            f""",
    w{t} AS (
        SELECT s.walk_id, s.node, s.prev, a.nbrs,
               list_transform(a.nbrs, x -> CAST(
                   CASE WHEN x = s.prev THEN {w_ret}
                        WHEN list_contains(p.nbrs, x) THEN {w_bfs}
                        ELSE {w_out} END AS BIGINT)) AS wl
        FROM s{t - 1} s JOIN adj a ON a.v = s.node JOIN adj p ON p.v = s.prev
    ),
    r{t} AS (
        SELECT *, CAST(('0x' || substring(md5(
                   CAST(walk_id AS VARCHAR) || '|{t}|'
                   || CAST(node AS VARCHAR)), 1, 15)) AS BIGINT)
                 % list_sum(wl) AS r
        FROM w{t}
    ),
    s{t} AS (
        SELECT walk_id, step, nd AS node, prev FROM (
            SELECT walk_id, {t} AS step,
                   nbrs[CAST(list_min(list_filter(
                       generate_series(1, len(wl)),
                       i -> list_sum(wl[1:i]) > r)) AS INTEGER)] AS nd,
                   node AS prev
            FROM r{t}
        )
    )"""
        )
    union = "\n    UNION ALL ".join(
        ["SELECT walk_id, step, node FROM s0",
         "SELECT walk_id, step, node FROM s1"]
        + [f"SELECT walk_id, step, node FROM s{t}" for t in range(2, steps + 1)]
    )
    body = "".join(parts)
    return (
        f"WITH {GRAPH_CTES},\n"
        "    adj AS MATERIALIZED (\n"
        "        SELECT v, list_sort(list(n)) AS nbrs FROM sym GROUP BY v\n"
        f"    ),{body}\n    {union}"
    )


ORACLES["node2vec_walks"] = _build_node2vec_sql()


def _build_skipgrams_sql() -> str:
    ctes, union = _walks_ctes()
    return f"""WITH {GRAPH_CTES},{ctes},
    walks AS ({union})
    SELECT a.node AS center, b.node AS context,
           CAST(count(*) AS BIGINT) AS cnt
    FROM walks a JOIN walks b
      ON a.walk_id = b.walk_id AND abs(a.step - b.step) BETWEEN 1 AND 2
    GROUP BY 1, 2"""


def _build_mis_sql(rounds: int = 16) -> str:
    # Unrolled Luby rounds (measured: 4-5 to empty at sf0.001/0.01/0.1;
    # rounds past an empty undecided set yield empty winner sets, so 16
    # is 3x margin). q_graph_mis pins the Spark side to the SAME budget,
    # so a dataset needing more rounds raises loudly there instead of
    # silently hash-mismatching here. Priorities mirror operators/mis.py
    # byte-for-byte.
    parts = ["""
    symm2 AS MATERIALIZED (SELECT * FROM sym),
    und0 AS MATERIALIZED (SELECT DISTINCT v FROM symm2)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    pr{r} AS MATERIALIZED (
        SELECT v, CAST(('0x' || substring(md5('{r}|' || CAST(v AS VARCHAR)),
                                          1, 15)) AS BIGINT) AS p
        FROM und{r - 1}
    ),
    win{r} AS MATERIALIZED (
        SELECT a.v FROM pr{r} a
        WHERE NOT EXISTS (
            SELECT 1 FROM symm2 s JOIN pr{r} b ON b.v = s.n
            WHERE s.v = a.v
              AND (b.p < a.p OR (b.p = a.p AND b.v < a.v))
        )
    ),
    und{r} AS MATERIALIZED (
        SELECT u.v FROM und{r - 1} u
        WHERE u.v NOT IN (SELECT v FROM win{r})
          AND NOT EXISTS (SELECT 1 FROM symm2 s JOIN win{r} w ON w.v = s.v
                          WHERE s.n = u.v)
    )""")
    union = " UNION ALL ".join(
        f"SELECT v AS id, {r} AS round FROM win{r}" for r in range(1, rounds + 1)
    )
    return f"WITH {GRAPH_CTES},{''.join(parts)}\n    {union}"


def _build_matching_sql(rounds: int = 16) -> str:
    # Unrolled Israeli-Itai rounds mirroring operators/matching.py
    # byte-for-byte: an edge wins round r iff its (p, src, dst) is the
    # minimum at BOTH endpoints; matched endpoints' edges dissolve.
    # Rounds past an empty live set yield empty winner sets (the MIS
    # oracle's budget argument applies verbatim).
    parts = ["""
    me0 AS MATERIALIZED (SELECT src, dst FROM edges)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    mpr{r} AS MATERIALIZED (
        SELECT src, dst,
               CAST(('0x' || substring(md5('{r}|' || CAST(src AS VARCHAR)
                     || '|' || CAST(dst AS VARCHAR)), 1, 15)) AS BIGINT) AS p
        FROM me{r - 1}
    ),
    mvm{r} AS MATERIALIZED (
        SELECT vert, p, src, dst FROM (
            SELECT src AS vert, p, src, dst FROM mpr{r}
            UNION ALL
            SELECT dst AS vert, p, src, dst FROM mpr{r}
        ) QUALIFY row_number() OVER (
            PARTITION BY vert ORDER BY p, src, dst) = 1
    ),
    mwin{r} AS MATERIALIZED (
        SELECT a.src, a.dst
        FROM mpr{r} a
        JOIN mvm{r} u ON u.vert = a.src AND u.p = a.p
                     AND u.src = a.src AND u.dst = a.dst
        JOIN mvm{r} v ON v.vert = a.dst AND v.p = a.p
                     AND v.src = a.src AND v.dst = a.dst
    ),
    mx{r} AS MATERIALIZED (
        SELECT src AS x FROM mwin{r} UNION SELECT dst FROM mwin{r}
    ),
    me{r} AS MATERIALIZED (
        SELECT e.src, e.dst FROM me{r - 1} e
        WHERE e.src NOT IN (SELECT x FROM mx{r})
          AND e.dst NOT IN (SELECT x FROM mx{r})
    )""")
    union = " UNION ALL ".join(
        f"SELECT src, dst, CAST({r} AS INTEGER) AS round FROM mwin{r}"
        for r in range(1, rounds + 1)
    )
    return f"WITH {GRAPH_CTES},{''.join(parts)}\n    {union}"


ORACLES["maximal_matching"] = _build_matching_sql()

ORACLES["community_modularity"] = f"""
    WITH RECURSIVE {GRAPH_CTES},
    lp(r, id, community) AS (
        SELECT 0, v, v FROM (SELECT DISTINCT v FROM sym)
        UNION ALL
        SELECT r + 1, id, community FROM (
            SELECT l.r AS r, s.n AS id, l.community AS community,
                   count(*) AS cnt
            FROM lp l JOIN sym s ON s.v = l.id
            GROUP BY l.r, s.n, l.community
            QUALIFY row_number() OVER (
                PARTITION BY s.n ORDER BY cnt DESC, l.community ASC
            ) = 1
        ) t WHERE t.r < 10
    ),
    comm AS (SELECT id, community FROM lp WHERE r = 10),
    mm AS (SELECT count(*) AS m FROM edges),
    intra AS (
        SELECT count(*) AS e_in
        FROM edges e JOIN comm a ON a.id = e.src JOIN comm b ON b.id = e.dst
        WHERE a.community = b.community
    ),
    deg AS (SELECT v AS id, count(*) AS d FROM sym GROUP BY v),
    dc AS (
        SELECT c.community, sum(d.d) AS dcs
        FROM deg d JOIN comm c ON c.id = d.id GROUP BY 1
    ),
    s2 AS (SELECT sum(dcs * dcs) AS sdc2, count(*) AS n_comm FROM dc)
    SELECT CAST(s2.n_comm AS BIGINT) AS n_communities,
           CAST(4 * mm.m * intra.e_in - s2.sdc2 AS DOUBLE)
               / CAST(4 * mm.m * mm.m AS DOUBLE) AS modularity
    FROM mm, intra, s2
"""
ORACLES["conductance"] = f"""
    WITH {GRAPH_CTES},
    comm AS (SELECT id, CAST(attr_a AS BIGINT) AS community FROM verts),
    mm AS (SELECT 2 * count(*) AS m2 FROM edges),
    deg AS (SELECT v AS id, count(*) AS d FROM sym GROUP BY v),
    vol AS (
        SELECT c.community, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d.d) AS BIGINT) AS vol
        FROM deg d JOIN comm c ON c.id = d.id GROUP BY 1
    ),
    cut AS (
        SELECT a.community, count(*) AS cut
        FROM sym s JOIN comm a ON a.id = s.v JOIN comm b ON b.id = s.n
        WHERE a.community <> b.community
        GROUP BY 1
    )
    SELECT v.community, v.n_nodes, v.vol,
           CAST(coalesce(c.cut, 0) AS BIGINT) AS cut,
           CASE WHEN least(v.vol, mm.m2 - v.vol) > 0
                THEN round(CAST(coalesce(c.cut, 0) AS DOUBLE)
                           / CAST(least(v.vol, mm.m2 - v.vol) AS DOUBLE), 6)
           END AS conductance
    FROM vol v LEFT JOIN cut c ON c.community = v.community, mm
    ORDER BY v.community
"""
ORACLES["rich_club"] = f"""
    WITH {GRAPH_CTES},
    deg AS (SELECT v AS id, count(*) AS d FROM sym GROUP BY v),
    ks AS (SELECT unnest([4, 8, 16, 32]) AS k),
    nk AS (
        SELECT k, count(*) AS n_rich FROM ks, deg WHERE d > k GROUP BY k
    ),
    ek AS (
        SELECT k, count(*) AS e_rich
        FROM ks, edges e
        JOIN deg a ON a.id = e.src JOIN deg b ON b.id = e.dst
        WHERE a.d > k AND b.d > k
        GROUP BY k
    )
    SELECT CAST(nk.k AS INTEGER) AS k, CAST(nk.n_rich AS BIGINT) AS n_rich,
           CAST(coalesce(ek.e_rich, 0) AS BIGINT) AS e_rich,
           CASE WHEN nk.n_rich >= 2
                THEN CAST(2 * coalesce(ek.e_rich, 0) AS DOUBLE)
                     / CAST(nk.n_rich * (nk.n_rich - 1) AS DOUBLE)
           END AS phi
    FROM nk LEFT JOIN ek ON ek.k = nk.k
"""
ORACLES["user_retention"] = """
    WITH first AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY 1
    ),
    active AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.wk) / 7 AS INTEGER)
               AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN first f USING (user_id)
    GROUP BY 1, 2
"""
ORACLES["effective_diameter"] = f"""
    WITH anf AS ({{ANF}}),
    nf AS (
        SELECT t,
               CAST(sum(CAST(round(est_reach * 1000000.0, 0) AS BIGINT))
                    AS BIGINT) AS nf_micro
        FROM anf GROUP BY 1
    ),
    p AS (
        SELECT CAST(max(CASE WHEN t = 1 THEN nf_micro END) AS BIGINT)
                   AS nf1_micro,
               CAST(max(CASE WHEN t = 2 THEN nf_micro END) AS BIGINT)
                   AS nf2_micro,
               CAST(max(CASE WHEN t = 3 THEN nf_micro END) AS BIGINT)
                   AS nf3_micro
        FROM nf
    )
    SELECT nf1_micro, nf2_micro, nf3_micro,
           CAST(CASE WHEN nf1_micro * 10 >= 9 * nf3_micro THEN 1
                WHEN nf2_micro * 10 >= 9 * nf3_micro THEN 2
                ELSE 3 END AS BIGINT) AS eff_diameter
    FROM p
"""

ORACLES["powerlaw_alpha"] = f"""
    WITH {GRAPH_CTES},
    deg AS (SELECT v AS id, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY 1),
    h AS (SELECT degree, CAST(count(*) AS BIGINT) AS cnt
          FROM deg GROUP BY 1)
    SELECT CAST(sum(cnt) AS BIGINT) AS n_vertices,
           CAST(max(degree) AS BIGINT) AS max_degree,
           CAST(CAST(1000000 AS BIGINT)
                + (CAST(sum(cnt) AS BIGINT) * 1000000000000)
                  // CAST(sum(cnt * CAST(round(ln(CAST(degree AS DOUBLE)
                         / CAST(0.5 AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
                       AS BIGINT)
                AS BIGINT) AS alpha_micro
    FROM h
"""

ORACLES["embedding_isotropy"] = """
    WITH nrm AS (
        SELECT vec_id,
               sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
        WHERE list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    ),
    comp AS (
        SELECT generate_subscripts(e.embedding, 1) AS d,
               CAST(round(CAST(unnest(e.embedding) AS DOUBLE) / n.nrm
                          * 1000.0, 0) AS BIGINT) AS c
        FROM embeddings e JOIN nrm n ON n.vec_id = e.vec_id
    ),
    sums AS (SELECT d, CAST(sum(c) AS BIGINT) AS s FROM comp GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nrm)
    SELECT nn.n AS n_vectors,
           CAST(sum(s * s) AS BIGINT) AS norm_sq_milli2,
           CAST((CAST(sum(s * s) AS BIGINT) - nn.n * 1000000)
                // (nn.n * (nn.n - 1)) AS BIGINT) AS mean_cos_micro
    FROM sums CROSS JOIN nn
    GROUP BY nn.n
"""

ORACLES["attribute_assortativity"] = f"""
    WITH {GRAPH_CTES},
    lab AS (
        SELECT va.attr_a AS ni, vb.attr_a AS nj
        FROM sym s
        JOIN verts va ON va.id = s.v
        JOIN verts vb ON vb.id = s.n
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(CASE WHEN ni = nj THEN 1 ELSE 0 END) AS BIGINT)
                   AS se
        FROM lab
    ),
    pa AS (SELECT ni, CAST(count(*) AS BIGINT) AS ai FROM lab GROUP BY 1),
    sq AS (SELECT CAST(sum(ai * ai) AS BIGINT) AS sab FROM pa)
    SELECT m AS m_directed, se AS n_same, sab,
           CAST(((se * m - sab) * 1000000) // (m * m - sab) AS BIGINT)
               AS r_ppm
    FROM tot CROSS JOIN sq
"""

ORACLES["length_emd_matrix"] = """
    WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
    g AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS cnt
          FROM d GROUP BY 1, 2),
    vals AS (
        SELECT v, coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS gap
        FROM (SELECT DISTINCT v FROM d)
    ),
    langs AS (SELECT DISTINCT lang FROM d),
    lv AS (
        SELECT l.lang, va.v, va.gap, coalesce(g.cnt, 0) AS cnt
        FROM vals va CROSS JOIN langs l
        LEFT JOIN g ON g.lang = l.lang AND g.v = va.v
    ),
    cum AS (
        SELECT lang, v, gap,
               CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
               CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
        FROM lv
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(max(a.n) AS BIGINT) AS n_a,
           CAST(max(b.n) AS BIGINT) AS n_b,
           CAST((CAST(sum(abs(a.cum * b.n - b.cum * a.n) * a.gap)
                      AS BIGINT) * 1000000)
                // (max(a.n) * max(b.n) * (max(a.v) - min(a.v)))
                AS BIGINT) AS emd_ppm
    FROM cum a JOIN cum b ON a.v = b.v AND a.lang < b.lang
    GROUP BY 1, 2
"""

ORACLES["source_diversity"] = """
    WITH g AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS ns
        FROM documents GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(ns) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_sources,
           CAST(CASE WHEN CAST(sum(ns) AS BIGINT) > 1 THEN
               1000000 - (CAST(sum(ns * (ns - 1)) AS BIGINT) * 1000000)
                 // (CAST(sum(ns) AS BIGINT) * (CAST(sum(ns) AS BIGINT) - 1))
               ELSE 0 END AS BIGINT) AS diversity_ppm
    FROM g GROUP BY 1
"""

ORACLES["interarrival_fit"] = """
    WITH e AS (
        SELECT event_type, epoch_ns(ts) // 1000 AS t, event_id FROM events
    ),
    g AS (
        SELECT event_type,
               t - lag(t) OVER (PARTITION BY event_type
                                ORDER BY t, event_id) AS gap
        FROM e
    ),
    gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
    st AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(gap) AS BIGINT) AS s
        FROM gg GROUP BY 1
    ),
    d AS (
        SELECT event_type, gap, CAST(count(*) AS BIGINT) AS cnt
        FROM gg GROUP BY 1, 2
    ),
    c AS (
        SELECT event_type, gap, cnt,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY gap
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM d
    ),
    sc AS (
        SELECT c.event_type, c.cum, c.cum - c.cnt AS prev, st.n, st.s,
               CAST(round((CAST(1 AS DOUBLE)
                   - exp(-(CAST(c.gap * st.n AS DOUBLE)
                           / CAST(st.s AS DOUBLE)))) * 1000000.0, 0)
                   AS BIGINT) AS f_micro
        FROM c JOIN st ON st.event_type = c.event_type
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(max(s) // max(n) AS BIGINT) AS mean_gap_us,
           CAST(greatest(max((cum * 1000000) // n - f_micro),
                         max(f_micro - (prev * 1000000) // n))
                AS BIGINT) AS d_micro
    FROM sc GROUP BY 1
"""

ORACLES["degree_assortativity"] = f"""
    WITH {GRAPH_CTES},
    deg AS (SELECT v AS id, count(*) AS d FROM sym GROUP BY v),
    pairs AS (
        SELECT dx.d AS dx, dy.d AS dy
        FROM sym s JOIN deg dx ON dx.id = s.v JOIN deg dy ON dy.id = s.n
    ),
    agg AS (
        SELECT count(*) AS n, sum(dx) AS sx,
               sum(dx * dy) AS sxy, sum(dx * dx) AS sxx
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(n * sxy - sx * sx AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS assortativity
    FROM agg
"""
ORACLES["graph_mis"] = _build_mis_sql()
ORACLES["random_walks"] = _build_walks_sql()
ORACLES["walk_skipgrams"] = _build_skipgrams_sql()
ORACLES["token_counts_cms"] = f"""
    WITH {_RETRIEVAL_TERMS},
    cms AS (
        SELECT u.j AS row,
               (CAST(('0x' || substring(md5(CAST(u.j AS VARCHAR) || '|'
                                        || term), 1, 15)) AS BIGINT)
                % 1024) AS col,
               count(*) AS cnt
        FROM terms, UNNEST(range(0, 3)) AS u(j)
        GROUP BY 1, 2
    ),
    tc AS (SELECT term, count(*) AS true_cnt FROM terms GROUP BY 1),
    top AS (SELECT term, true_cnt FROM tc
            ORDER BY true_cnt DESC, term LIMIT 20),
    probes AS (
        SELECT t.term, u.j AS row,
               (CAST(('0x' || substring(md5(CAST(u.j AS VARCHAR) || '|'
                                        || t.term), 1, 15)) AS BIGINT)
                % 1024) AS col
        FROM top t, UNNEST(range(0, 3)) AS u(j)
    ),
    est AS (
        SELECT p.term, min(coalesce(c.cnt, 0)) AS est
        FROM probes p LEFT JOIN cms c ON c.row = p.row AND c.col = p.col
        GROUP BY 1
    )
    SELECT top.term, CAST(top.true_cnt AS BIGINT) AS true_cnt,
           CAST(est.est AS BIGINT) AS est
    FROM top JOIN est USING (term)
"""
ORACLES["token_heavy_hitters"] = f"""
    WITH {_RETRIEVAL_TERMS},
    cms AS (
        SELECT u.j AS row,
               (CAST(('0x' || substring(md5(CAST(u.j AS VARCHAR) || '|'
                                        || term), 1, 15)) AS BIGINT)
                % 1024) AS col,
               count(*) AS cnt
        FROM terms, UNNEST(range(0, 3)) AS u(j)
        GROUP BY 1, 2
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM terms),
    cand AS (
        SELECT term FROM (
            SELECT term, count(*) AS cnt FROM terms GROUP BY 1
            ORDER BY cnt DESC, term LIMIT 64
        )
    ),
    probes AS (
        SELECT c.term, u.j AS row,
               (CAST(('0x' || substring(md5(CAST(u.j AS VARCHAR) || '|'
                                        || c.term), 1, 15)) AS BIGINT)
                % 1024) AS col
        FROM cand c, UNNEST(range(0, 3)) AS u(j)
    ),
    est AS (
        SELECT p.term, CAST(min(coalesce(m.cnt, 0)) AS BIGINT) AS est
        FROM probes p LEFT JOIN cms m ON m.row = p.row AND m.col = p.col
        GROUP BY 1
    )
    SELECT e.term, e.est
    FROM est e, total t
    WHERE e.est * 1000 >= t.n
    ORDER BY e.est DESC, e.term
    LIMIT 15
"""
ORACLES["embedding_quantize"] = """
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i)
    SELECT e.vec_id, CAST(e.i AS INTEGER) AS i,
           CAST(CASE WHEN s.mx = s.mn THEN 0.0
                     ELSE round((e.x - s.mn) / (s.mx - s.mn)
                                * CAST(255.0 AS DOUBLE), 0)
                END AS INTEGER) AS code
    FROM ex e JOIN stats s USING (i)
"""
ORACLES["triad_census"] = f"""
    WITH {GRAPH_CTES},
    deg AS (SELECT v, count(*) AS degree FROM sym GROUP BY v),
    wg AS (
        SELECT CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg
    ),
    wedges AS (
        SELECT a.v AS v, a.n AS n1, b.n AS n2
        FROM sym a JOIN sym b ON a.v = b.v AND a.n < b.n
    ),
    closed AS (
        SELECT w.v FROM wedges w JOIN edges e ON w.n1 = e.src AND w.n2 = e.dst
    ),
    tri AS (SELECT CAST(count(*) // 3 AS BIGINT) AS n_triangles FROM closed)
    SELECT n_wedges, n_triangles,
           CAST(n_wedges - 3 * n_triangles AS BIGINT) AS n_open,
           round(CAST(3.0 AS DOUBLE) * CAST(n_triangles AS DOUBLE)
                 / CAST(n_wedges AS DOUBLE), 6) AS transitivity
    FROM wg CROSS JOIN tri
"""
ORACLES["degree_powerlaw"] = f"""
    WITH {GRAPH_CTES},
    deg AS (SELECT v, count(*) AS degree FROM sym GROUP BY v),
    tail AS (
        SELECT CAST(round(ln(CAST(degree AS DOUBLE) / CAST(2.0 AS DOUBLE))
                          * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS lnd
        FROM deg WHERE degree >= 2
    ),
    mom AS (SELECT count(*) AS n_tail, sum(lnd) AS s FROM tail)
    SELECT CAST(n_tail AS BIGINT) AS n_tail,
           CASE WHEN s > 0 THEN
               round(CAST(1.0 AS DOUBLE)
                     + CAST(n_tail AS DOUBLE) * CAST(1000000.0 AS DOUBLE)
                       / CAST(s AS DOUBLE), 6)
           END AS alpha
    FROM mom
"""
ORACLES["event_transitions"] = """
    WITH seq AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    counts AS (
        SELECT prev_type, event_type, count(*) AS n FROM seq
        WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT prev_type, sum(n) AS tot FROM counts GROUP BY 1)
    SELECT c.prev_type, c.event_type, CAST(c.n AS BIGINT) AS n,
           round(c.n / CAST(t.tot AS DOUBLE), 6) AS prob
    FROM counts c JOIN tot t USING (prev_type)
"""
ORACLES["token_pmi"] = f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest({_DUCK_TOKENS}) AS term
        FROM documents
    ),
    dfreq AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
    nd AS (SELECT count(DISTINCT doc_id) AS nd FROM dt),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b, count(*) AS c_ab
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT p.term_a, p.term_b, CAST(p.c_ab AS BIGINT) AS c_ab,
           CAST(round(ln(CAST(p.c_ab AS DOUBLE) * CAST(nd.nd AS DOUBLE)
                         / (CAST(da.df AS DOUBLE) * CAST(db.df AS DOUBLE)))
                      * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS pmi_micro
    FROM pairs p
    JOIN dfreq da ON da.term = p.term_a
    JOIN dfreq db ON db.term = p.term_b
    CROSS JOIN nd
    ORDER BY pmi_micro DESC, term_a, term_b LIMIT 100
"""
ORACLES["graph_drift"] = f"""
    WITH cpm AS ({_CP}),
    em AS (
        SELECT DISTINCT a.c AS src, b.c AS dst, a.w AS w
        FROM cpm a JOIN cpm b ON a.p = b.p AND a.w = b.w AND a.c < b.c
    ),
    sizes AS (SELECT w, count(*) AS n_edges FROM em GROUP BY w),
    inter AS (
        SELECT n.w, count(*) AS n_common
        FROM em e
        JOIN (SELECT src, dst, w + INTERVAL 1 MONTH AS w FROM em) n
          ON e.src = n.src AND e.dst = n.dst AND e.w = n.w
        GROUP BY n.w
    )
    SELECT strftime(cur.w, '%Y-%m') AS month,
           CAST(prv.n_edges AS BIGINT) AS n_prev,
           CAST(cur.n_edges AS BIGINT) AS n_edges,
           CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
           round(coalesce(i.n_common, 0)
                 / CAST(prv.n_edges + cur.n_edges - coalesce(i.n_common, 0)
                        AS DOUBLE), 6) AS jaccard
    FROM sizes cur
    JOIN (SELECT w + INTERVAL 1 MONTH AS w, n_edges FROM sizes) prv
      ON prv.w = cur.w
    LEFT JOIN inter i ON i.w = cur.w
"""
ORACLES["heaps_fit"] = f"""
    WITH tk AS (
        SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ),
    maxd AS (SELECT max(doc_id) AS maxd FROM tk),
    ends AS (
        SELECT j, CAST((maxd * j) // 20 AS BIGINT) AS d_end
        FROM (SELECT unnest(range(1, 21)) AS j) CROSS JOIN maxd
    ),
    first AS (SELECT term, min(doc_id) AS fd FROM tk GROUP BY term),
    vocab AS (
        SELECT e.j, count(*) AS v
        FROM first f JOIN ends e ON f.fd <= e.d_end GROUP BY e.j
    ),
    percnt AS (SELECT doc_id, count(*) AS nt FROM tk GROUP BY doc_id),
    toktot AS (
        SELECT e.j, sum(p.nt) AS t
        FROM percnt p JOIN ends e ON p.doc_id <= e.d_end GROUP BY e.j
    ),
    pts AS (
        SELECT CAST(round(ln(CAST(t.t AS DOUBLE))
                          * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS x,
               CAST(round(ln(CAST(v.v AS DOUBLE))
                          * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS y
        FROM vocab v JOIN toktot t USING (j)
    ),
    mom AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS beta
    FROM mom
"""
ORACLES["zipf_slope"] = f"""
    WITH tk AS (
        SELECT unnest({_DUCK_TOKENS}) AS term FROM documents
    ),
    freqs AS (
        SELECT term, count(*) AS freq FROM tk GROUP BY term
        ORDER BY freq DESC, term LIMIT 1000
    ),
    ranked AS (
        SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
                                  AS DOUBLE)) * CAST(1000000.0 AS DOUBLE), 0)
                    AS BIGINT) AS x,
               CAST(round(ln(CAST(freq AS DOUBLE))
                          * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS y
        FROM freqs
    ),
    mom AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope
    FROM mom
"""
ORACLES["quantile_hist"] = """
    WITH b AS (
        SELECT CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bucket
        FROM lineitem
    ),
    counts AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
    tot AS (SELECT sum(n) AS total FROM counts),
    cum AS (
        SELECT bucket, sum(n) OVER (ORDER BY bucket) AS cum FROM counts
    ),
    qs AS (SELECT unnest([1, 5, 25, 50, 75, 90, 95, 99]) AS q),
    ranks AS (
        SELECT q, (total * q + 99) // 100 AS rank FROM qs CROSS JOIN tot
    )
    SELECT CAST(q AS INTEGER) AS q, CAST(rank AS BIGINT) AS rank,
           CAST(min(bucket) * 1000 AS BIGINT) AS est_lo,
           CAST((min(bucket) + 1) * 1000 AS BIGINT) AS est_hi
    FROM cum JOIN ranks ON cum.cum >= ranks.rank
    GROUP BY q, rank
"""
ORACLES["embedding_standardize"] = """
    WITH ex0 AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    ex AS (
        SELECT vec_id, i, CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm
        FROM ex0
    ),
    st AS (
        SELECT i, count(*) AS n, sum(xm) AS s, sum(xm * xm) AS ss
        FROM ex GROUP BY i
    ),
    zrows AS (
        SELECT e.vec_id,
               CASE WHEN (CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)
                         > CAST(0.0 AS DOUBLE)
                    THEN CAST(round(
                        (CAST(e.xm AS DOUBLE)
                         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                        / sqrt((CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                  / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
                        * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT)
               END AS z
        FROM ex e JOIN st USING (i)
    )
    SELECT vec_id, CAST(sum(z) AS BIGINT) AS z_sum_micro,
           CAST(min(z) AS BIGINT) AS z_min_micro,
           CAST(max(z) AS BIGINT) AS z_max_micro
    FROM zrows GROUP BY vec_id
"""
ORACLES["events_ewma"] = """
    WITH q AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 1000000.0, 0) AS BIGINT) AS v_micro
        FROM events WHERE value IS NOT NULL
    ),
    wv AS (
        SELECT user_id, event_id,
               list(v_micro) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS vals
        FROM q
    )
    SELECT user_id, event_id,
           (CAST(list_sum(list_transform(generate_series(1, len(vals)),
                          j -> vals[j] * (CAST(1 AS BIGINT) << (j - 1))))
                 AS DOUBLE)
            / CAST((CAST(1 AS BIGINT) << len(vals)) - 1 AS DOUBLE))
               / 1000000.0 AS ewma
    FROM wv
"""
ORACLES["dedup_minhash_md5"] = _build_minhash_pairs_sql(bands=4, threshold=0.5)
# Append-equals-rerun contract: the oracle reruns the FULL banding over
# corpus UNION batch from scratch (nothing incremental), applies the
# "corpus before batch, then smaller id" order, and must hash-match the
# incremental probe — same md5 signature fragments as dedup_minhash_md5.
ORACLES["dedup_incremental"] = f"""
    WITH {_DUCK_MINHASH_CTES},
    banded AS (
        SELECT doc_id, sig, band,
               array_to_string(list_transform(sig[band*4+1:band*4+4],
                                              x -> CAST(x AS VARCHAR)), ',') AS bkey,
               (doc_id % 10 = 0) AS is_batch
        FROM sig, UNNEST(range(0, 4)) AS u(band)
    ),
    hits AS (
        SELECT DISTINCT a.doc_id AS id, b.doc_id AS other, b.is_batch AS o_batch
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.is_batch AND a.doc_id != b.doc_id
          AND (NOT b.is_batch OR b.doc_id < a.doc_id)
          AND CAST(list_sum(list_transform(generate_series(1, 16),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                   AS DOUBLE) / 16 >= CAST(0.5 AS DOUBLE)
    ),
    counts AS (
        SELECT id,
               count(DISTINCT CASE WHEN NOT o_batch THEN other END) AS cd,
               count(DISTINCT CASE WHEN o_batch THEN other END) AS bd
        FROM hits GROUP BY id
    )
    SELECT d.doc_id,
           CAST(coalesce(c.cd, 0) AS BIGINT) AS corpus_dups,
           CAST(coalesce(c.bd, 0) AS BIGINT) AS batch_dups,
           (coalesce(c.cd, 0) + coalesce(c.bd, 0) = 0) AS kept
    FROM (SELECT doc_id FROM sig WHERE doc_id % 10 = 0) d
    LEFT JOIN counts c ON c.id = d.doc_id
"""
ORACLES["tfidf_terms"] = f"""
    WITH {_RETRIEVAL_TERMS},
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(round(tf.tf * ln(CAST(n_docs + 1 AS DOUBLE)
                                     / CAST(df.df + 1 AS DOUBLE))
                          * 1000000.0, 0) AS BIGINT) AS tfidf_micro
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf_micro,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf_micro DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, CAST(tfidf_micro AS DOUBLE) / 1000000.0 AS tfidf,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
"""
ORACLES["phrase_search"] = f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    bi AS (
        SELECT doc_id, i AS first_pos, t[i] || ' ' || t[i + 1] AS phrase
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    top AS (
        SELECT phrase, count(*) AS cnt FROM bi GROUP BY 1
        QUALIFY row_number() OVER (ORDER BY cnt DESC, phrase ASC) <= 3
    )
    SELECT b.phrase, b.doc_id, CAST(count(*) AS BIGINT) AS matches,
           CAST(min(b.first_pos) AS BIGINT) AS first_pos
    FROM bi b JOIN top USING (phrase)
    GROUP BY 1, 2
"""
ORACLES["bm25_search"] = f"""
    WITH {_RETRIEVAL_TERMS},
    dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
           WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
    scored AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln(CAST(1.0 AS DOUBLE)
                      + (CAST(n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
                        / (df + CAST(0.5 AS DOUBLE)))
                   * ((tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                      / (tf + CAST(1.2 AS DOUBLE)
                           * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                              + CAST(0.75 AS DOUBLE)
                                * (CAST(dl AS DOUBLE)
                                   / (CAST(sum_dl AS DOUBLE)
                                      / CAST(n_docs AS DOUBLE))))))
                   * 1000000.0, 0) AS BIGINT) AS s_micro
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    agg AS (SELECT doc_id, count(*) AS matched, sum(s_micro) AS sum_micro
            FROM scored GROUP BY 1),
    ranked AS (
        SELECT doc_id, matched, sum_micro,
               row_number() OVER (ORDER BY sum_micro DESC, doc_id) AS rank
        FROM agg
    )
    SELECT CAST(rank AS INTEGER) AS rank, doc_id,
           CAST(matched AS BIGINT) AS matched,
           CAST(sum_micro AS DOUBLE) / 1000000.0 AS score
    FROM ranked WHERE rank <= 20
"""
# Same query, same ranking — the persisted-index path must reproduce
# the refit path bit for bit, so it shares the oracle verbatim.
ORACLES["bm25_indexed"] = ORACLES["bm25_search"]
ORACLES["bpe_pair_counts"] = f"""
    WITH {_RETRIEVAL_TERMS},
    pairs AS (
        SELECT substring(term, CAST(i AS INTEGER), 2) AS pair
        FROM terms, UNNEST(range(1, length(term))) AS u(i)
        WHERE length(term) >= 2
    ),
    cnt AS (SELECT pair, count(*) AS cnt FROM pairs GROUP BY 1)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM cnt
    ORDER BY cnt DESC, pair LIMIT 30
"""
ORACLES["bigram_logprob"] = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({_DUCK_TOKENS}) AS term,
               generate_subscripts({_DUCK_TOKENS}, 1) AS pos
        FROM documents
    ),
    bi AS (
        SELECT doc_id,
               lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
               term
        FROM toks QUALIFY prev IS NOT NULL
    ),
    bic AS (SELECT prev, term, count(*) AS cb FROM bi GROUP BY 1, 2),
    ctx AS (SELECT prev, sum(cb) AS cp FROM bic GROUP BY 1),
    uni AS (SELECT term, count(*) AS cu FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS t FROM toks),
    scored AS (
        SELECT b.doc_id,
               CAST(round(-ln(CAST(0.75 AS DOUBLE)
                              * (CAST(bc.cb AS DOUBLE) / CAST(cx.cp AS DOUBLE))
                              + (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                              * (CAST(u.cu AS DOUBLE) / CAST(tt.t AS DOUBLE)))
                          * 1000000.0, 0) AS BIGINT) AS nlp_micro
        FROM bi b
        JOIN bic bc ON bc.prev = b.prev AND bc.term = b.term
        JOIN ctx cx ON cx.prev = b.prev
        JOIN uni u ON u.term = b.term
        CROSS JOIN tot tt
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
           (CAST(sum(nlp_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               / 1000000.0 AS avg_neglogprob
    FROM scored GROUP BY 1
"""
ORACLES["unigram_logprob"] = f"""
    WITH {_RETRIEVAL_TERMS},
    counts AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
    tot AS (SELECT count(*) AS t FROM terms),
    model AS (
        SELECT term,
               CAST(round(ln(CAST(t AS DOUBLE) / CAST(c AS DOUBLE))
                          * 1000000.0, 0) AS BIGINT) AS nlp_micro
        FROM counts CROSS JOIN tot
    )
    SELECT terms.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           (CAST(sum(m.nlp_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               / 1000000.0 AS avg_neglogprob
    FROM terms JOIN model m USING (term)
    GROUP BY 1
"""
ORACLES["doc_kl_divergence"] = f"""
    WITH {_RETRIEVAL_TERMS},
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
        FROM terms GROUP BY 1, 2
    ),
    nd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
    ct AS (SELECT term, CAST(count(*) AS BIGINT) AS ct FROM terms GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM terms),
    scored AS (
        SELECT tf.doc_id, nd.n_tokens,
               tf.c * CAST(round(ln(CAST(tf.c * t.n AS DOUBLE)
                                    / CAST(nd.n_tokens * ct.ct AS DOUBLE))
                                 * 1000000.0, 0) AS BIGINT) AS w_micro
        FROM tf
        JOIN nd ON nd.doc_id = tf.doc_id
        JOIN ct ON ct.term = tf.term
        CROSS JOIN tot t
    )
    SELECT doc_id, n_tokens,
           round(CAST(sum(w_micro) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 / 1000000.0, 6) AS kl
    FROM scored GROUP BY 1, 2
"""
# dedup.simhash: per token the md5-60 hash, per bit b < 60 the +/-1
# vote sum, bit b of sh set iff its sum is positive.
_SIMHASH_CTES = f"""
    toks AS (
        SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM toks
    ),
    bitsum AS (
        SELECT doc_id, b,
               sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM h, UNNEST(range(0, 60)) AS u(b)
        GROUP BY 1, 2
    ),
    sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT)
                   AS sh
        FROM bitsum GROUP BY 1
    )"""
ORACLES["simhash_signatures"] = f"""
    WITH {_SIMHASH_CTES}
    SELECT doc_id, sh AS simhash FROM sh
"""
# All pairs, not the 4x15-bit banded join: a pair the banding loses
# would show here as a missing row.
ORACLES["dedup_simhash"] = f"""
    WITH {_SIMHASH_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""
ORACLES["decontamination"] = f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKENS} AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
    ),
    eval_docs AS (
        SELECT DISTINCT doc_id FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
    ),
    eg AS (
        SELECT DISTINCT g.doc_id AS eval_doc, g.g
        FROM grams g JOIN eval_docs e USING (doc_id)
    ),
    hits AS (
        SELECT DISTINCT t.doc_id, e.eval_doc
        FROM grams t JOIN eg e ON t.g = e.g
        WHERE t.doc_id <> e.eval_doc
    )
    SELECT doc_id, count(*) AS n_eval_matches FROM hits GROUP BY 1
"""
ORACLES["merkle_ranges"] = """
WITH src AS (
    SELECT o_orderkey AS k,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
dst AS (
    SELECT k,
           cents + CASE WHEN substring(md5(CAST(k AS VARCHAR)), 1, 2) < '01'
                        THEN 1 ELSE 0 END AS cents
    FROM src
),
fl AS (
    SELECT k // 1024 AS leaf, CAST(count(*) AS BIGINT) AS n_left,
           CAST(sum(CAST(('0x' || substring(md5(CAST(k AS VARCHAR) || '|'
                         || CAST(cents AS VARCHAR)), 1, 10)) AS BIGINT))
                AS BIGINT) AS fp_left
    FROM src GROUP BY 1
),
fr AS (
    SELECT k // 1024 AS leaf, CAST(count(*) AS BIGINT) AS n_right,
           CAST(sum(CAST(('0x' || substring(md5(CAST(k AS VARCHAR) || '|'
                         || CAST(cents AS VARCHAR)), 1, 10)) AS BIGINT))
                AS BIGINT) AS fp_right
    FROM dst GROUP BY 1
),
j AS (
    SELECT coalesce(fl.leaf, fr.leaf) AS leaf,
           CAST(coalesce(n_left, 0) AS BIGINT) AS n_left,
           CAST(coalesce(n_right, 0) AS BIGINT) AS n_right,
           CAST(coalesce(fp_left, 0) AS BIGINT) AS fp_left,
           CAST(coalesce(fp_right, 0) AS BIGINT) AS fp_right
    FROM fl FULL OUTER JOIN fr ON fl.leaf = fr.leaf
),
p AS (
    SELECT leaf // 16 AS parent
    FROM j GROUP BY 1
    HAVING CAST(sum(fp_left) AS BIGINT) != CAST(sum(fp_right) AS BIGINT)
)
SELECT p.parent, j.leaf, j.n_left, j.n_right, j.fp_left, j.fp_right
FROM j JOIN p ON j.leaf // 16 = p.parent
WHERE j.fp_left != j.fp_right
"""
ORACLES["decontamination_bloom"] = f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g
        FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
    ),
    eval_docs AS (
        SELECT DISTINCT doc_id FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
    ),
    eg AS (
        SELECT DISTINCT g.g FROM grams g
        JOIN eval_docs e USING (doc_id)
    ),
    pos AS (
        SELECT (CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || '|' || g),
                                        1, 15)) AS BIGINT) % 131072) AS p
        FROM eg, UNNEST(range(0, 3)) AS u(j)
    ),
    words AS (
        SELECT p // 32 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
        FROM pos GROUP BY 1
    ),
    train AS (
        SELECT doc_id, g FROM grams
        WHERE doc_id NOT IN (SELECT doc_id FROM eval_docs)
    ),
    probe AS (
        SELECT t.doc_id, t.g, h.j,
               (CAST(('0x' || substring(md5(CAST(h.j AS VARCHAR) || '|'
                                        || t.g), 1, 15)) AS BIGINT)
                % 131072) AS p
        FROM train t, UNNEST(range(0, 3)) AS h(j)
    ),
    checked AS (
        SELECT pr.doc_id, pr.g,
               bool_and((coalesce(w.bits, 0)
                         & (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INTEGER)))
                        != 0) AS pass
        FROM probe pr LEFT JOIN words w ON w.word = pr.p // 32
        GROUP BY 1, 2
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(CASE WHEN c.pass THEN 1 END) AS BIGINT) AS n_pass,
           CAST(count(CASE WHEN m.g IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_hits,
           CAST(count(CASE WHEN c.pass AND m.g IS NULL THEN 1 END) AS BIGINT)
               AS n_false_pos
    FROM checked c LEFT JOIN eg m ON m.g = c.g
    GROUP BY 1
    HAVING count(CASE WHEN c.pass THEN 1 END) > 0
"""
ORACLES["media_resize"] = """
    SELECT doc_id AS media_id,
           CAST(length(text) AS BIGINT) AS orig_bytes,
           CAST((length(text) + 3) // 4 AS BIGINT) AS resized_bytes,
           md5(string_agg(substring(text, i, 1), '' ORDER BY i)) AS resized_md5
    FROM documents, UNNEST(range(1, length(text) + 1, 4)) u(i)
    GROUP BY doc_id, text
"""
ORACLES["event_funnel"] = """
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1
            AND e.ts <= v.t1 + INTERVAL 1 DAY GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
            AND e.ts <= c.t2 + INTERVAL 1 DAY GROUP BY 1)
    SELECT 'view' AS stage, count(*) AS users FROM v
    UNION ALL SELECT 'click', count(*) FROM c
    UNION ALL SELECT 'purchase', count(*) FROM p
"""
ORACLES["event_anomalies"] = """
    WITH s AS (SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
               FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.mu) / s.sigma) > 3
"""
ORACLES["min_cost_supplier"] = """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               round(avg(l_extendedprice / l_quantity), 4) AS unit_cost
        FROM lineitem GROUP BY 1, 2
    )
    SELECT p.p_partkey, p.p_brand, c.l_suppkey AS s_suppkey, c.unit_cost
    FROM cost c JOIN part p ON p.p_partkey = c.l_partkey
    WHERE p.p_size = 7
      AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                         WHERE c2.l_partkey = c.l_partkey)
    ORDER BY p.p_partkey, s_suppkey LIMIT 50
"""
ORACLES["nation_market_share"] = """
    SELECT yr, round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                              ELSE 0 END) / sum(volume), 6) AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS yr,
               n2.n_name AS supp_nation,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    ) t GROUP BY yr
"""
ORACLES["product_profit"] = """
    SELECT supp_nation, yr, round(sum(amount), 4) AS profit
    FROM (
        SELECT n.n_name AS supp_nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS yr,
               l.l_extendedprice * (1 - l.l_discount)
                   - 0.5 * p.p_retailprice * l.l_quantity AS amount
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
    ) t GROUP BY 1, 2
"""
ORACLES["banded_revenue"] = """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""
ORACLES["important_stock"] = """
    WITH val AS (
        SELECT s.s_nationkey, l.l_partkey,
               sum(l.l_extendedprice * l.l_quantity) AS v
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    )
    SELECT n.n_name AS nation, val.l_partkey AS p_partkey,
           round(val.v, 4) AS part_value
    FROM val JOIN nation n ON val.s_nationkey = n.n_nationkey
    WHERE val.v > (SELECT 0.0001 * sum(v) FROM val)
    ORDER BY part_value DESC, nation, p_partkey LIMIT 30
"""
ORACLES["dataset_split"] = """
    SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT n_chars,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % 100 AS b
        FROM documents
    ) t GROUP BY 1
"""
ORACLES["degree_histogram"] = f"""
    WITH {GRAPH_CTES},
    deg AS (SELECT v, count(*) AS degree FROM sym GROUP BY v)
    SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_vertices
    FROM deg GROUP BY 1
"""
ORACLES["copurchase_strength"] = f"""
    WITH cp AS ({_CP}),
    we AS (
        SELECT a.c AS src, b.c AS dst, count(*) AS weight
        FROM cp a JOIN cp b ON a.p = b.p AND a.w = b.w AND a.c < b.c
        GROUP BY 1, 2
    ),
    wsym AS (
        SELECT src AS id, weight FROM we
        UNION ALL
        SELECT dst AS id, weight FROM we
    )
    SELECT id, CAST(count(*) AS BIGINT) AS degree,
           CAST(sum(weight) AS BIGINT) AS strength
    FROM wsym GROUP BY 1
"""
_EMBEDDEDNESS_SQL = """
deg AS (SELECT v AS id, count(*) AS degree FROM sym GROUP BY 1),
w AS (
    SELECT a.n AS n1, b.n AS n2, count(*) AS cw
    FROM sym a JOIN sym b ON a.v = b.v AND a.n < b.n
    GROUP BY 1, 2
),
emb AS (
    SELECT e.src, e.dst,
           CAST(coalesce(w.cw, 0) AS BIGINT) AS common,
           da.degree AS da, db.degree AS db
    FROM edges e
    LEFT JOIN w ON w.n1 = e.src AND w.n2 = e.dst
    JOIN deg da ON da.id = e.src
    JOIN deg db ON db.id = e.dst
)"""

ORACLES["edge_embeddedness"] = f"""
    WITH {GRAPH_CTES},
    {_EMBEDDEDNESS_SQL}
    SELECT src, dst, common,
           CAST(CASE WHEN da + db - 2 - common > 0
                THEN (common * 1000000) // (da + db - 2 - common)
                ELSE 0 END AS BIGINT) AS jaccard_ppm
    FROM emb
"""

ORACLES["local_bridges"] = f"""
    WITH {GRAPH_CTES},
    {_EMBEDDEDNESS_SQL}
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum(CASE WHEN common = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_local_bridges,
           CAST((CAST(sum(CASE WHEN common = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) * 1000000) // count(*) AS BIGINT)
               AS bridge_ppm,
           CAST(max(common) AS BIGINT) AS max_embeddedness
    FROM emb
"""

ORACLES["link_prediction"] = f"""
    WITH {GRAPH_CTES},
    wedge_pairs AS (
        SELECT a.n AS id_a, b.n AS id_b, count(*) AS common
        FROM sym a JOIN sym b ON a.v = b.v AND a.n < b.n
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    open_pairs AS (
        SELECT w.* FROM wedge_pairs w
        WHERE NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.src = w.id_a AND e.dst = w.id_b)
    ),
    deg AS (SELECT v AS id, count(*) AS degree FROM sym GROUP BY 1)
    SELECT o.id_a, o.id_b, CAST(o.common AS BIGINT) AS common,
           round(o.common / CAST(da.degree + db.degree - o.common AS DOUBLE), 6)
               AS jaccard
    FROM open_pairs o
    JOIN deg da ON da.id = o.id_a
    JOIN deg db ON db.id = o.id_b
    ORDER BY jaccard DESC, id_a, id_b LIMIT 100
"""
ORACLES["link_scores"] = f"""
    WITH {GRAPH_CTES},
    deg AS (SELECT v AS id, count(*) AS degree FROM sym GROUP BY 1),
    nbr AS (
        SELECT s.v, s.n,
               CASE WHEN d.degree > 1 THEN
                   CAST(round(CAST(1000000.0 AS DOUBLE)
                              / ln(CAST(d.degree AS DOUBLE)), 0) AS BIGINT)
               END AS aa_unit,
               CAST(round(CAST(1000000.0 AS DOUBLE)
                          / CAST(d.degree AS DOUBLE), 0) AS BIGINT) AS ra_unit
        FROM sym s JOIN deg d ON d.id = s.v
    ),
    wedge AS (
        SELECT a.n AS id_a, b.n AS id_b, count(*) AS common,
               CAST(sum(a.aa_unit) AS BIGINT) AS aa_micro,
               CAST(sum(a.ra_unit) AS BIGINT) AS ra_micro
        FROM nbr a JOIN nbr b ON a.v = b.v AND a.n < b.n
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    open_pairs AS (
        SELECT w.* FROM wedge w
        WHERE NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.src = w.id_a AND e.dst = w.id_b)
    )
    SELECT o.id_a, o.id_b, CAST(o.common AS BIGINT) AS common,
           o.aa_micro, o.ra_micro,
           round(o.common / CAST(da.degree + db.degree - o.common AS DOUBLE), 6)
               AS jaccard
    FROM open_pairs o
    JOIN deg da ON da.id = o.id_a
    JOIN deg db ON db.id = o.id_b
    ORDER BY aa_micro DESC, id_a, id_b LIMIT 100
"""
ORACLES["closeness_sampled"] = f"""
    WITH RECURSIVE {GRAPH_CTES},
    roots AS (SELECT DISTINCT v AS s FROM sym ORDER BY s LIMIT 8),
    walk(s, id, dist) AS (
        SELECT s, s, 0 FROM roots
        UNION
        SELECT w.s, e.n, w.dist + 1
        FROM walk w JOIN sym e ON e.v = w.id
        WHERE w.dist < 64
    ),
    mind AS (SELECT s, id, min(dist) AS dist FROM walk GROUP BY 1, 2)
    SELECT s AS source,
           CAST(count(*) AS BIGINT) AS reached,
           CAST(sum(dist) AS BIGINT) AS total_dist,
           CASE WHEN sum(dist) > 0
                THEN round((count(*) - 1) / CAST(sum(dist) AS DOUBLE), 6)
           END AS closeness,
           round(sum(CASE WHEN dist > 0 THEN 1.0 / dist END), 6) AS harmonic,
           CAST(max(dist) AS BIGINT) AS eccentricity
    FROM mind GROUP BY 1
"""
ORACLES["priority_waiting_orders"] = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
"""
ORACLES["priority_line_counts"] = """
    SELECT l_returnflag,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
               AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
               AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
    GROUP BY 1
"""
ORACLES["customer_distribution"] = """
    SELECT c_count, count(*) AS custdist FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY 1
    ) t GROUP BY 1
"""
ORACLES["parts_supplier_counts"] = """
    SELECT p.p_brand, p.p_size, count(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_size IN (1, 5, 9, 13)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
"""
ORACLES["brand_quantity_revenue"] = """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
           AND l_quantity BETWEEN 20 AND 50)
"""
ORACLES["waiting_supplier_rank"] = """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20
"""
ORACLES["triangle_count"] = f"""
    WITH {GRAPH_CTES},
    wedges AS (
        SELECT a.v AS v, a.n AS n1, b.n AS n2
        FROM sym a JOIN sym b ON a.v = b.v AND a.n < b.n
    ),
    closed AS (
        SELECT w.v FROM wedges w JOIN edges e ON w.n1 = e.src AND w.n2 = e.dst
    )
    SELECT CAST(count(*) // 3 AS BIGINT) AS n_triangles FROM closed
"""
ORACLES["copurchase_components"] = f"""
    WITH RECURSIVE {GRAPH_CTES},
    reach(id, r) AS (
        SELECT DISTINCT v, v FROM sym
        UNION
        SELECT s.n, reach.r FROM reach JOIN sym s ON s.v = reach.id
    )
    SELECT id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY id
"""
ORACLES["doc_repetition"] = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS repetition
    FROM toks WHERE len(t) > 0
"""
ORACLES["stratified_sample"] = """
WITH r AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
           count(*) OVER (PARTITION BY source) AS n
    FROM documents
)
SELECT doc_id, source FROM r WHERE rn * 5 <= n * 1
"""

ORACLES["char_entropy"] = f"""
WITH norm AS (
    SELECT doc_id, array_to_string({_DUCK_TOKENS}, ' ') AS norm
    FROM documents
),
bg AS (
    SELECT doc_id, substring(norm, CAST(i AS INT), 2) AS b
    FROM norm, UNNEST(range(1, length(norm))) AS u(i)
    WHERE length(norm) >= 2
),
c AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(CAST(round(ln(CAST(sum(c) AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
            - CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0)
                                AS BIGINT)) AS BIGINT) // sum(c)
            AS BIGINT) AS h_micro
FROM c GROUP BY 1
"""

ORACLES["rag_chunks"] = f"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
st AS (
    SELECT doc_id, t, n,
           CASE WHEN n <= 32 THEN [CAST(1 AS BIGINT)]
                ELSE list_filter(
                    list_transform(range(0, (n - 1) // 24 + 1),
                                   j -> j * 24 + 1),
                    s -> s <= n - 7)
           END AS starts
    FROM base
),
exd AS (SELECT doc_id, t, unnest(starts) AS s FROM st)
SELECT doc_id,
       CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
       CAST(len(t[CAST(s AS INT):CAST(s + 31 AS INT)]) AS BIGINT)
           AS n_tokens,
       md5(array_to_string(t[CAST(s AS INT):CAST(s + 31 AS INT)], ' '))
           AS chunk_md5
FROM exd
"""

ORACLES["gopher_repetition"] = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
base AS (
    SELECT doc_id, t, length(array_to_string(t, ' ')) AS tc
    FROM toks WHERE len(t) > 0
),
g AS (
    SELECT doc_id, tc, nn.n AS n,
           array_to_string(t[i:i + nn.n - 1], ' ') AS g
    FROM base, UNNEST([2, 3, 4, 5, 6, 7, 8]) AS nn(n),
         UNNEST(range(1, len(t) - nn.n + 2)) AS u(i)
    WHERE len(t) >= nn.n
),
c AS (
    SELECT doc_id, n, g, max(tc) AS tc, count(*) AS cnt
    FROM g GROUP BY 1, 2, 3
),
m AS (
    SELECT *, CAST(length(g) AS BIGINT) AS charlen,
           max(cnt) OVER (PARTITION BY doc_id, n) AS mx
    FROM c
),
s AS (
    SELECT doc_id, n, max(tc) AS tc,
           CAST(max(CASE WHEN cnt = mx THEN cnt * charlen END) AS BIGINT)
               AS top_chars,
           CAST(coalesce(sum(CASE WHEN cnt >= 2 THEN cnt * charlen END), 0)
                AS BIGINT) AS dup_chars
    FROM m GROUP BY 1, 2
)
SELECT doc_id,
       CAST(coalesce(max(CASE WHEN n = 2
                THEN (top_chars * 1000000) // tc END), 0) AS BIGINT)
           AS top2_ppm,
       CAST(coalesce(max(CASE WHEN n = 3
                THEN (top_chars * 1000000) // tc END), 0) AS BIGINT)
           AS top3_ppm,
       CAST(coalesce(max(CASE WHEN n = 4
                THEN (top_chars * 1000000) // tc END), 0) AS BIGINT)
           AS top4_ppm,
       CAST(coalesce(max(CASE WHEN n = 5
                THEN (dup_chars * 1000000) // tc END), 0) AS BIGINT)
           AS dup5_ppm,
       CAST(coalesce(max(CASE WHEN n = 6
                THEN (dup_chars * 1000000) // tc END), 0) AS BIGINT)
           AS dup6_ppm,
       CAST(coalesce(max(CASE WHEN n = 7
                THEN (dup_chars * 1000000) // tc END), 0) AS BIGINT)
           AS dup7_ppm,
       CAST(coalesce(max(CASE WHEN n = 8
                THEN (dup_chars * 1000000) // tc END), 0) AS BIGINT)
           AS dup8_ppm
FROM s GROUP BY 1
"""
ORACLES["common_ngrams"] = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 4)) AS g(i)
        WHERE len(t) >= 5
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams GROUP BY gram
    ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 20
"""
ORACLES["column_stats"] = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS "column",
           CAST(min({c}) AS DOUBLE) AS min_v,
           CAST(max({c}) AS DOUBLE) AS max_v,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM lineitem
    """
    for c in _STATS_COLS
)
ORACLES["quality_rules"] = """
    WITH t AS (
        SELECT doc_id, text,
               greatest(len(string_split(text, ' ')), 1) AS n_tok,
               len(string_split(text, ' ')) AS n_raw,
               len(list_distinct(string_split(text, ' '))) AS n_dis
        FROM documents
    )
    SELECT doc_id,
        CAST(n_raw >= 20 AND n_raw <= 100000 AS INTEGER) AS ok_len,
        CAST((CAST(length(text) - (n_raw - 1) AS DOUBLE) / n_tok) >= 2.0
             AND (CAST(length(text) - (n_raw - 1) AS DOUBLE) / n_tok) <= 10.0
             AS INTEGER) AS ok_token_len,
        CAST((1.0 - CAST(n_dis AS DOUBLE) / n_tok) <= 0.8 AS INTEGER) AS ok_repetition,
        CAST((CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1)) >= 0.6 AS INTEGER) AS ok_alpha,
        CAST((n_raw >= 20 AND n_raw <= 100000)
             AND ((CAST(length(text) - (n_raw - 1) AS DOUBLE) / n_tok) >= 2.0
                  AND (CAST(length(text) - (n_raw - 1) AS DOUBLE) / n_tok) <= 10.0)
             AND ((1.0 - CAST(n_dis AS DOUBLE) / n_tok) <= 0.8)
             AND ((CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1)) >= 0.6)
             AS INTEGER) AS keep
    FROM t
"""
ORACLES["weighted_jaccard"] = f"""
    WITH sdocs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    wterms AS (
        SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM sdocs
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
        FROM wterms GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t FROM tf GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(least(a.c, b.c)) AS BIGINT) AS inter
        FROM tf a JOIN tf b ON b.term = a.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.inter,
           CAST(ta.t + tb.t - i.inter AS BIGINT) AS n_union,
           CAST((2 * i.inter * 1000000 + (ta.t + tb.t - i.inter))
                // (2 * (ta.t + tb.t - i.inter)) AS BIGINT) AS jw_micro
    FROM inter i
    JOIN tot ta ON ta.doc_id = i.doc_a
    JOIN tot tb ON tb.doc_id = i.doc_b
    WHERE (2 * i.inter * 1000000 + (ta.t + tb.t - i.inter))
          // (2 * (ta.t + tb.t - i.inter)) >= 500000
"""
ORACLES["mixture_weights"] = """
    WITH counts AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n_docs,
           round(pow(CAST(n_docs AS DOUBLE), 0.5)
                 / sum(pow(CAST(n_docs AS DOUBLE), 0.5)) OVER (), 6) AS weight
    FROM counts
"""
ORACLES["ngram_jaccard_exact"] = f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM toks WHERE len(t) >= 3
    ),
    inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
    FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
"""
ORACLES["order_stats_ext"] = """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           round(stddev_samp(l_extendedprice), 4) AS std_price,
           round(var_samp(l_discount), 6) AS var_discount
    FROM lineitem GROUP BY 1
"""
ORACLES["docs_hash_sample"] = _build_hash_sample_sql()
ORACLES["token_packing"] = _build_token_packing_sql()
ORACLES["lang_id"] = _build_lang_id_sql()

ORACLES["hopkins_statistic"] = f"""
WITH {_SIM_CTES},
synth AS (
    SELECT j, i,
           (CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|'
                 || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2001
            - 1000) / CAST(1000.0 AS DOUBLE) AS y
    FROM range(32) t(j), range(64) u(i)
),
snorm AS (SELECT j, sqrt(sum(y * y)) AS nrm FROM synth GROUP BY 1),
udots AS (
    SELECT s.j, e.vec_id, sum(s.y * e.x) AS dp
    FROM synth s JOIN ex e ON e.i = s.i + 1
    GROUP BY 1, 2
),
umin AS (
    SELECT d.j,
           min(CAST(1000000 AS BIGINT) - CAST(round(
               round(d.dp / (sn.nrm * cn.nrm), 6)
               * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS umin
    FROM udots d
    JOIN snorm sn ON sn.j = d.j
    JOIN norms cn ON cn.vec_id = d.vec_id
    GROUP BY 1
),
probes AS (
    SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM norms
    ) WHERE rn <= 32
),
wdots AS (
    SELECT a.vec_id AS pj, b.vec_id AS cid, sum(a.x * b.x) AS dp
    FROM ex a JOIN ex b ON b.i = a.i AND b.vec_id <> a.vec_id
    WHERE a.vec_id IN (SELECT vec_id FROM probes)
    GROUP BY 1, 2
),
wmin AS (
    SELECT d.pj,
           min(CAST(1000000 AS BIGINT) - CAST(round(
               round(d.dp / (pn.nrm * cn.nrm), 6)
               * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS wmin
    FROM wdots d
    JOIN norms pn ON pn.vec_id = d.pj
    JOIN norms cn ON cn.vec_id = d.cid
    GROUP BY 1
)
SELECT CAST(32 AS BIGINT) AS m,
       CAST(su.sum_u AS BIGINT) AS sum_u,
       CAST(sw.sum_w AS BIGINT) AS sum_w,
       (CAST(su.sum_u AS BIGINT) * 1000000)
         // (CAST(su.sum_u AS BIGINT) + CAST(sw.sum_w AS BIGINT))
         AS hopkins_ppm
FROM (SELECT sum(umin) AS sum_u FROM umin) su
CROSS JOIN (SELECT sum(wmin) AS sum_w FROM wmin) sw
"""

ORACLES["cohens_kappa"] = f"""
WITH p AS ({_build_lang_id_sql()}),
cells AS (
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
),
rm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS rown FROM cells GROUP BY 1),
cm AS (
    SELECT pred_lang, CAST(sum(n) AS BIGINT) AS coln FROM cells GROUP BY 1
),
pe AS (
    SELECT CAST(coalesce(sum(rm.rown * cm.coln), 0) AS BIGINT) AS pv
    FROM rm JOIN cm ON cm.pred_lang = rm.lang
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS nn,
           CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END)
                AS BIGINT) AS agree
    FROM cells
)
SELECT nn AS n_docs, agree AS n_agree,
       (agree * 1000000) // nn AS po_ppm,
       (pv * 1000000) // (nn * nn) AS pe_ppm,
       CASE WHEN nn * nn = pv THEN CAST(1000000 AS BIGINT)
            ELSE (1000000 * (nn * agree - pv)) // (nn * nn - pv)
       END AS kappa_ppm
FROM tot CROSS JOIN pe
"""
ORACLES["quality_score"] = _build_quality_sql()
ORACLES["quality_dedup"] = f"""
    WITH q AS ({_build_quality_sql()}),
    fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
        FROM documents
    ),
    ranked AS (
        SELECT fp.fingerprint, fp.doc_id, q.quality,
               row_number() OVER (PARTITION BY fp.fingerprint
                                  ORDER BY q.quality DESC, fp.doc_id) AS rn,
               count(*) OVER (PARTITION BY fp.fingerprint) AS gs
        FROM fp JOIN q USING (doc_id)
    )
    SELECT fingerprint, doc_id, quality, CAST(gs AS BIGINT) AS group_size
    FROM ranked WHERE rn = 1
"""
ORACLES["corpus_curation"] = f"""
    WITH keep AS (
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
        FROM documents GROUP BY md5({_NORM_TEXT})
    ),
    q AS ({_build_quality_sql()})
    SELECT d.lang, d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens,
           round(avg(q.quality), 4) AS avg_quality
    FROM documents d
    JOIN keep k ON d.doc_id = k.doc_id
    JOIN q ON q.doc_id = d.doc_id
    WHERE q.quality >= 0.5
    GROUP BY 1, 2
"""

ORACLES["event_burstiness"] = """
    WITH gaps AS (
        SELECT user_id,
               date_diff('second',
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap
        FROM events
    ),
    m AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(gap) AS BIGINT) AS s1,
               CAST(sum(gap * gap) AS BIGINT) AS s2
        FROM gaps WHERE gap IS NOT NULL GROUP BY 1
    ),
    -- mu/sigma mirror the Spark expression tree operand-for-operand:
    -- integer moments are order-exact, then one fixed IEEE chain.
    d AS (
        SELECT user_id, n_gaps,
               s1 / CAST(n_gaps AS DOUBLE) AS mu,
               sqrt(greatest(CAST(0 AS DOUBLE),
                             s2 / CAST(n_gaps AS DOUBLE)
                             - (s1 / CAST(n_gaps AS DOUBLE))
                               * (s1 / CAST(n_gaps AS DOUBLE)))) AS sigma
        FROM m WHERE n_gaps >= 2
    )
    SELECT user_id, n_gaps,
           round(mu, 6) AS mean_gap,
           round(CASE WHEN mu > 0 THEN sigma / mu END, 6) AS cv,
           round(CASE WHEN sigma + mu > 0
                      THEN (sigma - mu) / (sigma + mu) END, 6) AS burstiness
    FROM d
"""
ORACLES["span_dedup"] = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, i,
               CAST(('0x' || substring(md5(array_to_string(t[i:i+7], ' ')),
                                       1, 15)) AS BIGINT) AS h
        FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
        WHERE len(t) >= 8
    ),
    dup AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i, count(*) OVER (PARTITION BY h) AS cnt
            FROM spans
        ) s WHERE cnt > 1
    ),
    cov AS (
        SELECT d.doc_id,
               CAST(count(DISTINCT d.i) AS BIGINT) AS dup_spans,
               CAST(count(DISTINCT p.pos) AS BIGINT) AS covered_tokens
        FROM dup d, UNNEST(range(d.i, d.i + 8)) AS p(pos)
        GROUP BY 1
    ),
    lens AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT l.doc_id, l.n_tokens,
           coalesce(c.dup_spans, 0) AS dup_spans,
           coalesce(c.covered_tokens, 0) AS covered_tokens,
           CASE WHEN l.n_tokens > 0
                THEN CAST(coalesce(c.covered_tokens, 0) AS DOUBLE) / l.n_tokens
                ELSE CAST(0 AS DOUBLE) END AS coverage
    FROM lens l LEFT JOIN cov c ON c.doc_id = l.doc_id
"""
def _build_suffix_lcp_sql(min_match: int = 30, ext_cap: int = 64) -> str:
    # q_suffix_array_dedup's mirror: identical construction in windowed
    # SQL — token starts from an exclusive prefix sum, bucket = first
    # min_match chars, adjacent-LCP via list HOFs. Sort collation is
    # byte order over [a-z0-9 ] in both engines.
    return f"""
WITH {_suffix_span_ctes(min_match, ext_cap)}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_dup_starts,
       CAST(max(mlcp) AS BIGINT) AS max_lcp,
       CAST(sum(xd) AS BIGINT) AS n_cross_doc
FROM sc WHERE mlcp >= {min_match} GROUP BY 1
"""


def _suffix_span_ctes(min_match: int, ext_cap: int) -> str:
    # Shared CTE chain of the ExactSubstr oracle family, ending in
    # sc(doc_id, pos, mlcp, xd) — the mirror of
    # operators/suffixarray._span_scores.
    def lcp(a: str, b: str) -> str:
        n = f"least(length({a}), length({b}))"
        return (
            f"coalesce(list_min(list_filter(range(1, {n} + 1),"
            f" i -> substr({a}, CAST(i AS INT), 1)"
            f" != substr({b}, CAST(i AS INT), 1))) - 1, {n})"
        )

    return f"""toks AS (
    SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
),
norm AS (
    SELECT doc_id, array_to_string(toks, ' ') AS norm, toks FROM toks
),
tk AS (
    SELECT doc_id, norm, list_extract(toks, CAST(i AS INT)) AS tok, i
    FROM norm, UNNEST(range(1, len(toks) + 1)) AS u(i)
),
st AS (
    SELECT doc_id, norm,
           1 + coalesce(sum(length(tok) + 1) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
    FROM tk
),
fsuf AS (
    SELECT doc_id, pos, suf, substring(suf, 1, {min_match}) AS bkt
    FROM (SELECT doc_id, pos,
                 substring(norm, CAST(pos AS INT), {ext_cap}) AS suf
          FROM st)
    WHERE length(suf) >= {min_match}
),
nb AS (
    SELECT bkt, doc_id, pos, suf,
           lag(suf) OVER w AS pv_suf, lag(doc_id) OVER w AS pv_doc,
           lead(suf) OVER w AS nx_suf, lead(doc_id) OVER w AS nx_doc
    FROM fsuf
    WINDOW w AS (PARTITION BY bkt ORDER BY suf, doc_id, pos)
),
l AS (
    SELECT bkt, doc_id, pos, suf, pv_suf, nx_suf, pv_doc, nx_doc,
           CASE WHEN pv_suf IS NULL THEN 0
                ELSE {lcp('suf', 'pv_suf')} END AS lcp_pv,
           CASE WHEN nx_suf IS NULL THEN 0
                ELSE {lcp('suf', 'nx_suf')} END AS lcp_nx
    FROM nb
),
sc AS (
    SELECT doc_id, pos, greatest(lcp_pv, lcp_nx) AS mlcp,
           CASE WHEN (lcp_pv >= {min_match} AND pv_doc != doc_id)
                  OR (lcp_nx >= {min_match} AND nx_doc != doc_id)
                THEN 1 ELSE 0 END AS xd
    FROM l
)"""


ORACLES["suffix_array_dedup"] = _build_suffix_lcp_sql()

ORACLES["suffix_cross_doc"] = f"""
WITH {_suffix_span_ctes(30, 64)},
seg AS (
    SELECT *,
           sum(CASE WHEN pv_suf IS NULL OR pv_doc != doc_id
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY bkt ORDER BY suf, doc_id, pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS seg_b,
           sum(CASE WHEN nx_suf IS NULL OR nx_doc != doc_id
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY bkt
                     ORDER BY suf DESC, doc_id DESC, pos DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS seg_f
    FROM l
),
cr AS (
    SELECT doc_id, greatest(lcp_pv, lcp_nx) AS mlcp,
           CASE WHEN (lcp_pv >= 30 AND pv_doc != doc_id)
                  OR (lcp_nx >= 30 AND nx_doc != doc_id)
                THEN 1 ELSE 0 END AS xd,
           greatest(
               min(lcp_pv) OVER (PARTITION BY bkt, seg_b
                   ORDER BY suf, doc_id, pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               min(lcp_nx) OVER (PARTITION BY bkt, seg_f
                   ORDER BY suf DESC, doc_id DESC, pos DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ) AS cross_lcp
    FROM seg
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_dup_starts,
       CAST(sum(xd) AS BIGINT) AS n_cross_lb,
       CAST(sum(CASE WHEN cross_lcp >= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cross_exact,
       CAST(max(CASE WHEN cross_lcp >= 30 THEN cross_lcp ELSE 0 END)
            AS BIGINT) AS max_cross_lcp
FROM cr WHERE mlcp >= 30 GROUP BY 1
"""

ORACLES["dedup_span_cuts"] = f"""
WITH {_suffix_span_ctes(30, 64)},
spans AS (SELECT doc_id, pos, mlcp FROM sc WHERE mlcp >= 30),
isl AS (
    SELECT doc_id, pos, mlcp,
           CASE WHEN pos > coalesce(max(pos + mlcp) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1)
                THEN 1 ELSE 0 END AS new_isl
    FROM spans
),
isl2 AS (
    SELECT doc_id, pos, mlcp,
           sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island
    FROM isl
),
per_island AS (
    SELECT doc_id, island,
           CAST(count(*) AS BIGINT) AS n_starts,
           min(pos) AS s, max(pos + mlcp) AS e
    FROM isl2 GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(n_starts) AS BIGINT) AS n_starts,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(e - s) AS BIGINT) AS cut_chars
FROM per_island GROUP BY 1
"""

ORACLES["dedup_span_apply"] = f"""
WITH {_suffix_span_ctes(30, 64)},
spans AS (SELECT doc_id, pos, mlcp FROM sc WHERE mlcp >= 30),
isl AS (
    SELECT doc_id, pos, mlcp,
           CASE WHEN pos > coalesce(max(pos + mlcp) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1)
                THEN 1 ELSE 0 END AS new_isl
    FROM spans
),
isl2 AS (
    SELECT doc_id, pos, mlcp,
           sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island
    FROM isl
),
per_island AS (
    SELECT doc_id, island, min(pos) AS s, max(pos + mlcp) AS e
    FROM isl2 GROUP BY 1, 2
),
segs AS (
    SELECT i.doc_id, i.island,
           substring(n.norm,
                     CAST(coalesce(lag(i.e) OVER (
                         PARTITION BY i.doc_id ORDER BY i.island), 1)
                       AS INT),
                     CAST(greatest(0, i.s - coalesce(lag(i.e) OVER (
                         PARTITION BY i.doc_id ORDER BY i.island), 1))
                       AS INT)) AS seg,
           i.e
    FROM per_island i JOIN norm n ON n.doc_id = i.doc_id
),
kept0 AS (
    SELECT doc_id,
           string_agg(seg, '' ORDER BY island) AS head,
           max(e) AS e_max
    FROM segs GROUP BY 1
),
kept AS (
    SELECT n.doc_id,
           CASE WHEN k.e_max IS NULL THEN n.norm
                ELSE concat(k.head,
                     substring(n.norm, CAST(k.e_max AS INT),
                               CAST(greatest(0, length(n.norm)
                                    - k.e_max + 1) AS INT)))
           END AS kept
    FROM norm n LEFT JOIN kept0 k ON k.doc_id = n.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(kept) AS BIGINT) AS kept_chars,
       md5(kept) AS kept_md5
FROM kept
"""


def _build_mg_sql(k: int = _MG_K, buckets: int = _MG_BUCKETS) -> str:
    # q_mg_heavy_hitters' mirror: same md5 buckets, same one-window
    # per-bucket summaries, then every driver merge round replayed as
    # generated MATERIALIZED CTEs (the m{b} frame is referenced twice —
    # order statistic + subtraction; plain CTEs would inline).
    parts = [
        f"""
WITH toks AS (
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
           AS BIGINT) % {buckets} AS bkt,
           unnest({_DUCK_TOKENS}) AS token
    FROM documents
),
counts AS (
    SELECT bkt, token, CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY 1, 2
),
ranked AS (
    SELECT bkt, token, c,
           row_number() OVER (PARTITION BY bkt ORDER BY c DESC, token)
             AS rnk
    FROM counts
),
tb AS (SELECT bkt, c AS t FROM ranked WHERE rnk = {k + 1}),
summ AS MATERIALIZED (
    SELECT r.bkt, r.token, r.c - coalesce(tb.t, 0) AS est
    FROM ranked r LEFT JOIN tb ON tb.bkt = r.bkt
    WHERE r.c - coalesce(tb.t, 0) > 0
),
st0 AS (
    SELECT CAST(NULL AS VARCHAR) AS token, CAST(0 AS BIGINT) AS est
    WHERE 1 = 0
)"""
    ]
    for b in range(buckets):
        parts.append(
            f""",
m{b} AS MATERIALIZED (
    SELECT coalesce(s.token, d.token) AS token,
           coalesce(s.est, 0) + coalesce(d.est, 0) AS est
    FROM st{b} s FULL OUTER JOIN
         (SELECT token, est FROM summ WHERE bkt = {b}) d
      ON d.token = s.token
),
t{b} AS (
    SELECT coalesce(max(CASE WHEN rnk = {k + 1} THEN est END), 0) AS t
    FROM (SELECT est, row_number() OVER (ORDER BY est DESC, token)
                 AS rnk
          FROM m{b})
),
st{b + 1} AS MATERIALIZED (
    SELECT token, est - t.t AS est
    FROM m{b} CROSS JOIN t{b} t WHERE est - t.t > 0
)"""
        )
    parts.append(f"\nSELECT token, est FROM st{buckets}")
    return "".join(parts)


ORACLES["mg_heavy_hitters"] = _build_mg_sql()


def _build_space_saving_sql(
    k: int = _MG_K, buckets: int = _MG_BUCKETS
) -> str:
    # q_space_saving_hh's mirror: identical md5-bucketed (bkt, token)
    # count stream in (bkt, token) order, replayed one weighted arrival
    # per recursion step. The state is ALWAYS exactly k rows: it seeds
    # with k zero-count placeholder counters ('~pad0'.., '~' > any
    # [a-z0-9] token byte), which makes "add while fewer than k" the
    # same rule as "evict the min" (evicting a cnt=0 placeholder yields
    # cnt = w, err = 0 — exactly the insert case), so the recursive
    # member is ONE select: windows over the k rows find the hit flag
    # and the min row, CASEs apply the update.
    return f"""
WITH RECURSIVE toks AS (
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
           AS BIGINT) % {buckets} AS bkt,
           unnest({_DUCK_TOKENS}) AS token
    FROM documents
),
stream AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY bkt, token) AS rn, token,
           CAST(c AS BIGINT) AS w
    FROM (SELECT bkt, token, count(*) AS c FROM toks GROUP BY 1, 2)
),
ss(step, token, cnt, err) AS (
    SELECT 0, '~pad' || CAST(i AS VARCHAR), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT)
    FROM range({k}) t(i)
    UNION ALL
    SELECT step + 1,
           CASE WHEN hit = 0 AND pos = 1 THEN atoken ELSE token END,
           CASE WHEN (hit = 1 AND token = atoken)
                     OR (hit = 0 AND pos = 1)
                THEN cnt + w ELSE cnt END,
           CASE WHEN hit = 0 AND pos = 1 THEN cnt ELSE err END
    FROM (
        SELECT s.step, s.token, s.cnt, s.err, a.token AS atoken, a.w,
               max(CASE WHEN s.token = a.token THEN 1 ELSE 0 END)
                 OVER () AS hit,
               row_number() OVER (ORDER BY s.cnt, s.token) AS pos
        FROM ss s JOIN stream a ON a.rn = s.step + 1
    )
)
SELECT token, cnt AS est, err
FROM ss
WHERE step = (SELECT count(*) FROM stream) AND cnt > 0
"""


ORACLES["space_saving_hh"] = _build_space_saving_sql()

def _build_mmr_sql(pool_n: int = 32, k: int = 10) -> str:
    # q_mmr_diversify's mirror: the same rounded-cosine pool (the
    # similarity_topk oracle shape for query vec 0), the same
    # micro-snap, then every greedy selection round replayed as a
    # (sel{t}, ms{t}) MATERIALIZED CTE pair — pick = ORDER BY score
    # DESC, cand LIMIT 1; max-sim state updated by a left join against
    # the symmetric pool-pairs frame.
    parts = [
        f"""
WITH {_SIM_CTES},
qdots AS (
    SELECT c.vec_id AS cand_id, sum(q.x * c.x) AS dp
    FROM ex q JOIN ex c ON c.i = q.i
    WHERE q.vec_id = 0 AND c.vec_id <> 0
    GROUP BY 1
),
pool AS MATERIALIZED (
    SELECT cand_id,
           CAST(round(round(dp / (nq.nrm * nc.nrm), 6)
                * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS rel_micro,
           row_number() OVER (
               ORDER BY round(dp / (nq.nrm * nc.nrm), 6) DESC, cand_id
           ) AS rn
    FROM qdots
    JOIN norms nq ON nq.vec_id = 0
    JOIN norms nc ON nc.vec_id = cand_id
    QUALIFY rn <= {pool_n}
),
pdots AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS dp
    FROM ex a JOIN ex b ON b.i = a.i AND a.vec_id < b.vec_id
    WHERE a.vec_id IN (SELECT cand_id FROM pool)
      AND b.vec_id IN (SELECT cand_id FROM pool)
    GROUP BY 1, 2
),
phalf AS (
    SELECT ia, ib,
           CAST(round(round(dp / (na.nrm * nb.nrm), 6)
                * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS sim_micro
    FROM pdots
    JOIN norms na ON na.vec_id = ia
    JOIN norms nb ON nb.vec_id = ib
),
psim AS MATERIALIZED (
    SELECT ia, ib, sim_micro FROM phalf
    UNION ALL
    SELECT ib, ia, sim_micro FROM phalf
),
sel1 AS MATERIALIZED (
    SELECT cand_id, rel_micro, 7 * rel_micro AS score_micro
    FROM pool WHERE rn = 1
),
ms1 AS MATERIALIZED (
    SELECT p.cand_id, p.rel_micro, coalesce(s.sim_micro, 0) AS maxsim
    FROM pool p CROSS JOIN sel1 f
    LEFT JOIN psim s ON s.ia = p.cand_id AND s.ib = f.cand_id
    WHERE p.cand_id <> f.cand_id
)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f""",
sel{t} AS MATERIALIZED (
    SELECT cand_id, rel_micro,
           7 * rel_micro - 3 * maxsim AS score_micro
    FROM ms{t - 1}
    ORDER BY 7 * rel_micro - 3 * maxsim DESC, cand_id
    LIMIT 1
),
ms{t} AS MATERIALIZED (
    SELECT m.cand_id, m.rel_micro,
           greatest(m.maxsim, coalesce(s.sim_micro, 0)) AS maxsim
    FROM ms{t - 1} m CROSS JOIN sel{t} f
    LEFT JOIN psim s ON s.ia = m.cand_id AND s.ib = f.cand_id
    WHERE m.cand_id <> f.cand_id
)"""
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INTEGER) AS sel_rank,"
        f" CAST(cand_id AS BIGINT) AS cand_id, rel_micro, score_micro"
        f" FROM sel{t}"
        for t in range(1, k + 1)
    )
    parts.append("\n" + finals)
    return "".join(parts)


ORACLES["mmr_diversify"] = _build_mmr_sql()

ORACLES["priority_sample"] = """
WITH scored AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice) AS BIGINT) AS w,
           (CAST(round(o_totalprice) AS BIGINT) * 1099511627776)
             // (CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                       1, 10)) AS BIGINT) + 1) AS q
    FROM orders
),
ranked AS (
    SELECT o_orderkey, w, q,
           row_number() OVER (ORDER BY q DESC, o_orderkey) AS rn
    FROM scored QUALIFY rn <= 65
),
tau AS (SELECT q AS tq FROM ranked WHERE rn = 65)
SELECT r.o_orderkey, r.w, r.q, greatest(r.w, t.tq) AS w_hat
FROM ranked r CROSS JOIN tau t
WHERE r.rn <= 64
"""

ORACLES["bh_fdr"] = """
WITH cells AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS x_l FROM documents GROUP BY 1
),
tot AS (
    SELECT CAST(sum(x_l) AS BIGINT) AS nn,
           CAST(count(*) AS BIGINT) AS ll
    FROM cells
),
scored AS (
    SELECT lang, x_l, t.nn AS n_docs,
           (x_l * 1000000) // t.nn - 1000000 // t.ll AS dppm
    FROM cells CROSS JOIN tot t
),
p AS (
    SELECT lang, x_l, n_docs,
           least(CAST(1000000 AS BIGINT), CAST(round(
             CAST(2000000 AS DOUBLE) * exp(
               CAST(-2 * n_docs * dppm * dppm AS DOUBLE)
               / CAST(1000000000000 AS DOUBLE)), 0) AS BIGINT))
             AS p_micro
    FROM scored
),
ranked AS (
    SELECT lang, x_l, n_docs, p_micro,
           CAST(row_number() OVER (ORDER BY p_micro, lang) AS BIGINT)
             AS bh_rank,
           CAST(count(*) OVER () AS BIGINT) AS m
    FROM p
)
SELECT lang, x_l, n_docs, p_micro, bh_rank,
       CAST(CASE WHEN bh_rank <= max(CASE WHEN p_micro * m
                      <= bh_rank * 100000 THEN bh_rank ELSE 0 END)
                 OVER () THEN 1 ELSE 0 END AS INTEGER) AS rejected
FROM ranked
"""

# compression_ratio's Arrow-plumbing twin: one zlib stored block below
# 65531 bytes is exactly octet_length + 11 (see q_compression_stored_twin).
ORACLES["compression_stored_twin"] = """
WITH b AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
)
SELECT doc_id, n_bytes,
       CAST(n_bytes + 11 AS BIGINT) AS n_compressed,
       CAST((1000000 * (n_bytes + 11)) // n_bytes AS BIGINT) AS ratio_ppm
FROM b
WHERE n_bytes > 0 AND n_bytes < 65531
"""

ORACLES["dbscan_customers"] = """
WITH RECURSIVE sp AS (
    SELECT o_custkey, CAST(sum(CAST(round(o_totalprice) AS BIGINT))
           AS BIGINT) AS spend
    FROM orders GROUP BY 1
),
p AS (
    SELECT c.c_custkey AS id,
           CAST(round(c.c_acctbal) AS BIGINT) + 1000 AS x,
           coalesce(s.spend, 0) // 1000 AS y
    FROM customer c LEFT JOIN sp s ON s.o_custkey = c.c_custkey
),
build AS (SELECT id, x, y, x // 300 AS cx, y // 300 AS cy FROM p),
probe AS (
    SELECT id AS ia, x AS xa, y AS ya,
           x // 300 + dx.d AS cx, y // 300 + dy.d AS cy
    FROM p, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
),
pairs AS MATERIALIZED (
    SELECT pr.ia, b.id AS ib
    FROM probe pr JOIN build b ON b.cx = pr.cx AND b.cy = pr.cy
    WHERE (pr.xa - b.x) * (pr.xa - b.x)
        + (pr.ya - b.y) * (pr.ya - b.y) <= 90000
),
neps AS (
    SELECT ia AS id, CAST(count(*) AS BIGINT) AS n_eps
    FROM pairs GROUP BY 1
),
core AS MATERIALIZED (SELECT id FROM neps WHERE n_eps >= 12),
ce AS MATERIALIZED (
    SELECT pairs.ia, pairs.ib FROM pairs
    JOIN core ca ON ca.id = pairs.ia
    JOIN core cb ON cb.id = pairs.ib
    WHERE pairs.ia < pairs.ib
),
sym AS (
    SELECT ia AS v, ib AS n FROM ce
    UNION ALL SELECT ib, ia FROM ce
),
reach(id, r) AS (
    SELECT id, id FROM core
    UNION
    SELECT s.n, reach.r FROM reach JOIN sym s ON s.v = reach.id
),
comp AS (SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY 1),
border AS (
    SELECT pr.ia AS id, CAST(min(c.cluster) AS BIGINT) AS cluster
    FROM pairs pr JOIN comp c ON c.id = pr.ib
    WHERE pr.ia NOT IN (SELECT id FROM core)
    GROUP BY 1
)
SELECT p.id, n.n_eps,
       CASE WHEN cc.cluster IS NOT NULL THEN 'core'
            WHEN b.cluster IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(cc.cluster, b.cluster, -1) AS cluster
FROM p
JOIN neps n ON n.id = p.id
LEFT JOIN comp cc ON cc.id = p.id
LEFT JOIN border b ON b.id = p.id
"""

ORACLES["lof_outliers"] = f"""
    WITH {_md5_all_topk_ctes(64, _AUTO_BITS_SQL, 16, 10)},
    d AS (
        SELECT query_id, cand_id,
               1000000 - CAST(round(sim * 1000000.0, 0) AS BIGINT)
                 AS d_micro
        FROM topk
    ),
    kd AS (
        SELECT query_id AS id, max(d_micro) AS kdist,
               CAST(count(*) AS BIGINT) AS cnt
        FROM d GROUP BY 1
    ),
    reach AS (
        SELECT d.query_id, greatest(d.d_micro, kb.kdist) AS reach
        FROM d JOIN kd kb ON kb.id = d.cand_id
    ),
    lrd AS (
        SELECT query_id AS id,
               (CAST(count(*) AS BIGINT) * 1000000000)
                 // greatest(CAST(sum(reach) AS BIGINT), 1) AS lrd_m
        FROM reach GROUP BY 1
    ),
    agg AS (
        SELECT d.query_id AS id, CAST(sum(lb.lrd_m) AS BIGINT) AS slrd,
               CAST(count(*) AS BIGINT) AS cnt
        FROM d JOIN lrd lb ON lb.id = d.cand_id
        GROUP BY 1
    )
    SELECT a.id AS vec_id, a.cnt AS n_neighbors,
           k.kdist AS kdist_micro, l.lrd_m,
           (a.slrd * 1000000) // (a.cnt * l.lrd_m) AS lof_micro
    FROM agg a JOIN lrd l ON l.id = a.id JOIN kd k ON k.id = a.id
"""

ORACLES["knn_graph"] = f"""
    WITH {_md5_all_topk_ctes(64, _AUTO_BITS_SQL, 16, 10)}
    SELECT f.query_id AS id_a, f.cand_id AS id_b, f.sim,
           CAST(f.rnk AS INTEGER) AS rank_ab,
           CAST(r.rnk AS INTEGER) AS rank_ba
    FROM topk f JOIN topk r
      ON r.query_id = f.cand_id AND r.cand_id = f.query_id
    WHERE f.query_id < f.cand_id
"""

def _build_kcenter_sql(k: int = 10) -> str:
    # q_kcenter_coreset's mirror: the all-pairs micro distance frame
    # (the embedding_neardup oracle meet), then each greedy round as a
    # (pick{t}, st{t}) MATERIALIZED CTE pair — farthest = ORDER BY mind
    # DESC, vec_id LIMIT 1; min-dist state folded by a join against the
    # picked column of the distance frame.
    parts = [
        f"""
WITH {_SIM_CTES},
dots AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS dp
    FROM ex a JOIN ex b ON b.i = a.i AND a.vec_id <> b.vec_id
    GROUP BY 1, 2
),
dist AS MATERIALIZED (
    SELECT ia, ib,
           CAST(1000000 AS BIGINT) - CAST(round(
             round(dp / (na.nrm * nb.nrm), 6) * CAST(1000000 AS DOUBLE),
             0) AS BIGINT) AS d
    FROM dots
    JOIN norms na ON na.vec_id = ia
    JOIN norms nb ON nb.vec_id = ib
),
st1 AS MATERIALIZED (
    SELECT ia AS vec_id, d AS mind FROM dist WHERE ib = 0
)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f""",
pick{t} AS MATERIALIZED (
    SELECT vec_id, mind FROM st{t - 1}
    ORDER BY mind DESC, vec_id LIMIT 1
),
st{t} AS MATERIALIZED (
    SELECT s.vec_id, least(s.mind, d.d) AS mind
    FROM st{t - 1} s
    JOIN dist d ON d.ia = s.vec_id
              AND d.ib = (SELECT vec_id FROM pick{t})
    WHERE s.vec_id <> (SELECT vec_id FROM pick{t})
)"""
        )
    finals = ["SELECT CAST(1 AS INTEGER) AS sel_rank,"
              " CAST(0 AS BIGINT) AS vec_id,"
              " CAST(2000000 AS BIGINT) AS cover_micro"]
    finals += [
        f"SELECT CAST({t} AS INTEGER), CAST(vec_id AS BIGINT), mind"
        f" FROM pick{t}"
        for t in range(2, k + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(finals))
    return "".join(parts)


ORACLES["kcenter_coreset"] = _build_kcenter_sql()

ORACLES["ann_recall_audit"] = f"""
    WITH {_md5_all_topk_ctes(64, _AUTO_BITS_SQL, 16, 10)},
    bd AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               sum(q.x * c.x) AS dp
        FROM ex q JOIN ex c ON q.i = c.i
        WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
        GROUP BY 1, 2
    ),
    bs AS (
        SELECT query_id, cand_id,
               round(dp / (nq.nrm * nc.nrm), 6) AS sim
        FROM bd
        JOIN norms nq ON nq.vec_id = query_id
        JOIN norms nc ON nc.vec_id = cand_id
    ),
    brute AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, cand_id) AS rnk
            FROM bs
        ) r WHERE rnk <= 10
    ),
    ap AS (
        SELECT query_id, cand_id FROM topk WHERE query_id % 50 = 0
    ),
    ta AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
           FROM ap GROUP BY 1),
    h AS (
        SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM brute b
        JOIN ap a ON a.query_id = b.query_id AND a.cand_id = b.cand_id
        GROUP BY 1
    )
    SELECT t.query_id,
           t.n_true,
           CAST(coalesce(ta.n_approx, 0) AS BIGINT) AS n_approx,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST((coalesce(h.n_hit, 0) * 1000000) // t.n_true AS BIGINT)
               AS recall_ppm
    FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS n_true
          FROM brute GROUP BY 1) t
    LEFT JOIN ta ON ta.query_id = t.query_id
    LEFT JOIN h ON h.query_id = t.query_id
"""

ORACLES["ivf_recall_audit"] = f"""
    WITH {_SIM_CTES},
    ap0 AS ({_build_ann_ivf_md5_sql(16, 4, 10)}),
    ap AS (SELECT query_id, cand_id FROM ap0),
    bd AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               sum(q.x * c.x) AS dp
        FROM ex q JOIN ex c ON q.i = c.i
        WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
        GROUP BY 1, 2
    ),
    bs AS (
        SELECT query_id, cand_id,
               round(dp / (nq.nrm * nc.nrm), 6) AS sim
        FROM bd
        JOIN norms nq ON nq.vec_id = query_id
        JOIN norms nc ON nc.vec_id = cand_id
    ),
    brute AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, cand_id) AS rnk
            FROM bs
        ) r WHERE rnk <= 10
    ),
    ta AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
           FROM ap GROUP BY 1),
    h AS (
        SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM brute b
        JOIN ap a ON a.query_id = b.query_id AND a.cand_id = b.cand_id
        GROUP BY 1
    )
    SELECT t.query_id,
           t.n_true,
           CAST(coalesce(ta.n_approx, 0) AS BIGINT) AS n_approx,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST((coalesce(h.n_hit, 0) * 1000000) // t.n_true AS BIGINT)
               AS recall_ppm
    FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS n_true
          FROM brute GROUP BY 1) t
    LEFT JOIN ta ON ta.query_id = t.query_id
    LEFT JOIN h ON h.query_id = t.query_id
"""

ORACLES["grouping_sets_revenue"] = """
    SELECT coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
           coalesce(c_mktsegment, 'ALL') AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment),
                            (c_mktsegment), ())
"""

ORACLES["label_spreading"] = f"""
    WITH {_md5_all_topk_ctes(64, _AUTO_BITS_SQL, 16, 10)},
    lbl AS (SELECT CAST(doc_id AS BIGINT) AS vid, lang FROM documents),
    seeds AS (
        SELECT vid, lang FROM lbl
        WHERE substring(md5(CAST(vid AS VARCHAR)), 1, 2) < '40'
    ),
    tk AS (
        SELECT CAST(query_id AS BIGINT) AS q, CAST(cand_id AS BIGINT) AS c
        FROM topk
    ),
    v1 AS (
        SELECT q AS vid, lang FROM (
            SELECT t.q, s.lang,
                   row_number() OVER (PARTITION BY t.q
                       ORDER BY count(*) DESC, s.lang) AS rn
            FROM tk t JOIN seeds s ON s.vid = t.c
            GROUP BY t.q, s.lang
        ) x WHERE rn = 1
    ),
    r1 AS (
        SELECT * FROM seeds
        UNION ALL
        SELECT * FROM v1 WHERE vid NOT IN (SELECT vid FROM seeds)
    ),
    v2 AS (
        SELECT q AS vid, lang FROM (
            SELECT t.q, s.lang,
                   row_number() OVER (PARTITION BY t.q
                       ORDER BY count(*) DESC, s.lang) AS rn
            FROM tk t JOIN r1 s ON s.vid = t.c
            GROUP BY t.q, s.lang
        ) x WHERE rn = 1
    ),
    r2 AS (
        SELECT * FROM r1
        UNION ALL
        SELECT * FROM v2 WHERE vid NOT IN (SELECT vid FROM r1)
    )
    SELECT e.vec_id,
           CAST(CASE WHEN sd.vid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS seed,
           coalesce(r2.lang, 'none') AS lang_out
    FROM (SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings) e
    LEFT JOIN r2 ON r2.vid = e.vec_id
    LEFT JOIN seeds sd ON sd.vid = e.vec_id
"""

ORACLES["knn_label_noise"] = f"""
    WITH {_md5_all_topk_ctes(64, _AUTO_BITS_SQL, 16, 10)},
    lbl AS (SELECT CAST(doc_id AS BIGINT) AS vid, lang FROM documents)
    SELECT CAST(t.query_id AS BIGINT) AS vec_id, lq.lang,
           CAST(count(*) AS BIGINT) AS n_nbr,
           CAST(sum(CASE WHEN lc.lang <> lq.lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_diff,
           (CAST(sum(CASE WHEN lc.lang <> lq.lang THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
             AS noise_ppm
    FROM topk t
    JOIN lbl lq ON lq.vid = t.query_id
    JOIN lbl lc ON lc.vid = t.cand_id
    GROUP BY 1, 2
"""

ORACLES["events_resample"] = """
    WITH hrs AS (
        SELECT user_id, date_trunc('hour', ts) AS hour, value FROM events
    ),
    obs AS (
        SELECT user_id, hour, CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS v_hour
        FROM hrs GROUP BY 1, 2
    ),
    span AS (
        SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hrs GROUP BY 1
    ),
    grid AS (
        SELECT user_id, u.hour
        FROM span, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS u(hour)
    ),
    g AS (
        SELECT gr.user_id, gr.hour, o.n_events, o.v_hour
        FROM grid gr LEFT JOIN obs o
          ON o.user_id = gr.user_id AND o.hour = gr.hour
    ),
    fills AS (
        SELECT user_id, hour, n_events, v_hour,
               last_value(v_hour IGNORE NULLS) OVER wp AS prev_v,
               last_value(CASE WHEN v_hour IS NOT NULL THEN hour END
                          IGNORE NULLS) OVER wp AS prev_h,
               first_value(v_hour IGNORE NULLS) OVER wn AS next_v,
               first_value(CASE WHEN v_hour IS NOT NULL THEN hour END
                           IGNORE NULLS) OVER wn AS next_h
        FROM g
        WINDOW wp AS (PARTITION BY user_id ORDER BY hour
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY hour
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, hour,
           coalesce(n_events, 0) AS n_events,
           v_hour,
           CASE WHEN v_hour IS NULL THEN 1 ELSE 0 END AS is_gap,
           round(prev_v, 6) AS v_ffill,
           -- interpolation as ONE IEEE division of exact integer
           -- micro-units (mirrors operators/temporal.py resample_hourly
           -- operand-for-operand): float round(6) disagreed with Spark
           -- on .xxxxxx5 boundaries
           CASE WHEN v_hour IS NOT NULL THEN v_hour
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                THEN CAST(CAST(round(prev_v * CAST(10000.0 AS DOUBLE), 0)
                               AS BIGINT)
                          * CAST(epoch(next_h) - epoch(prev_h) AS BIGINT)
                          + (CAST(round(next_v * CAST(10000.0 AS DOUBLE), 0)
                                  AS BIGINT)
                             - CAST(round(prev_v * CAST(10000.0 AS DOUBLE), 0)
                                    AS BIGINT))
                            * CAST(epoch(hour) - epoch(prev_h) AS BIGINT)
                          AS DOUBLE)
                     / CAST(CAST(epoch(next_h) - epoch(prev_h) AS BIGINT)
                            * 10000 AS DOUBLE)
                ELSE coalesce(prev_v, next_v) END AS v_interp
    FROM fills
"""
ORACLES["cumulative_users"] = """
    WITH first_seen AS (
        -- date_trunc('day') yields DATE in DuckDB but TIMESTAMP in
        -- Spark; the cast keeps the hashed string forms identical
        SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS day
        FROM events GROUP BY 1
    ),
    daily AS (
        SELECT day, CAST(count(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY 1
    )
    SELECT day, new_users,
           CAST(sum(new_users) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM daily
"""
ORACLES["part_return_rate"] = """
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           round(sum(CASE WHEN l.l_returnflag = 'R'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                     END), 4) AS returned_revenue,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS return_rate
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
"""
ORACLES["customer_value_deciles"] = """
    WITH rev AS (
        SELECT o_custkey, round(sum(o_totalprice), 4) AS revenue,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    ),
    d AS (
        SELECT ntile(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile,
               n_orders, revenue
        FROM rev
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           round(sum(revenue), 4) AS revenue
    FROM d GROUP BY 1
"""
ORACLES["graph_coloring"] = f"""
    WITH RECURSIVE {GRAPH_CTES},
    -- Speculate-and-resolve replay, kcore-oracle style: the recursive
    -- state is the EDGE list carrying both endpoints' (color,
    -- priority). Inner layer: every uncolored vertex tentatively takes
    -- the smallest color absent from its COLORED neighborhood (windows
    -- over v / n partitions compute both endpoints' picks in one
    -- pass). Outer layer: a pick survives unless some uncolored
    -- neighbor picked the SAME color with a higher (md5 priority, id).
    -- Rows repeat unchanged after convergence (measured 11 rounds at
    -- sf0.1; 24 = the Spark max_iterations budget, pinned together —
    -- the operator RAISES rather than returning an unconverged state).
    jp(r, v, n, cv, cn, pv, pn) AS (
        SELECT 0, v, n,
               CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
               CAST(('0x' || substring(md5('jp|' || CAST(v AS VARCHAR)),
                                       1, 15)) AS BIGINT),
               CAST(('0x' || substring(md5('jp|' || CAST(n AS VARCHAR)),
                                       1, 15)) AS BIGINT)
        FROM sym
        UNION ALL
        SELECT r + 1, v, n,
               CASE WHEN cv IS NOT NULL THEN cv
                    WHEN NOT coalesce(
                        bool_or(cn IS NULL AND tn = tv
                                AND (pn > pv OR (pn = pv AND n > v)))
                            OVER wv, FALSE)
                    THEN tv ELSE NULL END AS new_cv,
               CASE WHEN cn IS NOT NULL THEN cn
                    WHEN NOT coalesce(
                        bool_or(cv IS NULL AND tv = tn
                                AND (pv > pn OR (pv = pn AND v > n)))
                            OVER wn, FALSE)
                    THEN tn ELSE NULL END AS new_cn,
               pv, pn
        FROM (
            SELECT r, v, n, cv, cn, pv, pn,
                   CASE WHEN cv IS NOT NULL THEN cv
                        ELSE CAST(list_filter(
                                 range(0, len(list(cn) OVER wv0) + 1),
                                 x -> NOT list_contains(
                                     list_filter(list(cn) OVER wv0,
                                                 c -> c IS NOT NULL), x)
                             )[1] AS INTEGER) END AS tv,
                   CASE WHEN cn IS NOT NULL THEN cn
                        ELSE CAST(list_filter(
                                 range(0, len(list(cv) OVER wn0) + 1),
                                 x -> NOT list_contains(
                                     list_filter(list(cv) OVER wn0,
                                                 c -> c IS NOT NULL), x)
                             )[1] AS INTEGER) END AS tn
            FROM jp
            WINDOW wv0 AS (PARTITION BY v), wn0 AS (PARTITION BY n)
        ) t WHERE r < 24
        WINDOW wv AS (PARTITION BY v), wn AS (PARTITION BY n)
    )
    SELECT v AS id, CAST(min(cv) AS INTEGER) AS color
    FROM jp WHERE r = 24 GROUP BY v
"""
ORACLES["order_seasonality"] = """
    WITH monthly AS (
        -- CAST: DuckDB date_trunc('month') yields DATE, Spark TIMESTAMP
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT month, n_orders,
           n_orders - lag(n_orders) OVER (ORDER BY month) AS mom_delta,
           CAST(sum(n_orders) OVER w3 AS DOUBLE)
               / CAST(count(*) OVER w3 AS DOUBLE) AS ma3
    FROM monthly
    WINDOW w3 AS (ORDER BY month ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
"""
ORACLES["supplier_concentration"] = """
    WITH rev AS (
        SELECT s.s_nationkey, s.s_suppkey,
               CAST(round(round(sum(l_extendedprice * (1 - l_discount)), 4)
                          * 10000.0, 0) AS BIGINT) AS r4
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    shares AS (
        SELECT s_nationkey, r4,
               CAST(sum(r4) OVER (PARTITION BY s_nationkey) AS BIGINT) AS tot
        FROM rev
    ),
    terms AS (
        SELECT s_nationkey,
               CAST(round((CAST(r4 AS DOUBLE) / CAST(tot AS DOUBLE))
                          * (CAST(r4 AS DOUBLE) / CAST(tot AS DOUBLE))
                          * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT)
                   AS term
        FROM shares
    )
    SELECT s_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(term) AS BIGINT) AS hhi_pico,
           CAST(sum(term) AS DOUBLE)
               / CAST(1000000000000.0 AS DOUBLE) AS hhi
    FROM terms GROUP BY 1
"""
ORACLES["embedding_outliers"] = f"""
    WITH {_md5_all_topk_ctes(64, _AUTO_BITS_SQL, 16, 10)},
    tk AS (
        SELECT query_id AS qa,
               CAST(round(sim * 1000000.0, 0) AS BIGINT) AS sm
        FROM topk
    )
    SELECT qa AS vec_id,
           CAST(max(sm) AS BIGINT) AS max_sim_micro,
           CAST(sum(sm) AS BIGINT) AS sum_top10_micro
    FROM tk GROUP BY 1
    ORDER BY sum_top10_micro, vec_id
    LIMIT 10
"""
ORACLES["token_novelty"] = f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, t
        FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents)
    ),
    first AS (
        SELECT t, min(doc_id) AS first_doc FROM toks GROUP BY 1
    )
    SELECT k.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST(sum(CASE WHEN f.first_doc = k.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_first_seen,
           CAST(sum(CASE WHEN f.first_doc = k.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
    FROM toks k JOIN first f ON f.t = k.t
    GROUP BY 1
"""
ORACLES["events_anomaly_mad"] = """
    WITH base AS (
        SELECT event_type,
               CAST(round(value * 1000000.0, 0) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ),
    med AS (
        SELECT event_type, v AS med, n FROM (
            SELECT event_type, v,
                   row_number() OVER (PARTITION BY event_type ORDER BY v)
                       AS rn,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n
            FROM base
        ) t WHERE rn = (n + 1) // 2
    ),
    devs AS (
        SELECT b.event_type, m.n, m.med, abs(b.v - m.med) AS dev
        FROM base b JOIN med m ON m.event_type = b.event_type
    ),
    mad AS (
        SELECT event_type, dev AS mad FROM (
            SELECT event_type, dev, n,
                   row_number() OVER (PARTITION BY event_type ORDER BY dev)
                       AS rn
            FROM devs
        ) t WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(max(d.n) AS BIGINT) AS n,
           CAST(max(d.med) AS BIGINT) AS median_micro,
           CAST(max(a.mad) AS BIGINT) AS mad_micro,
           CAST(sum(CASE WHEN d.dev * 6745 > 35000 * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM devs d JOIN mad a ON a.event_type = d.event_type
    GROUP BY 1
"""
ORACLES["frequent_itemsets"] = """
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    freq1 AS (
        SELECT l_partkey FROM baskets GROUP BY 1 HAVING count(*) >= 2
    ),
    b AS (
        SELECT l_orderkey, l_partkey AS item
        FROM baskets JOIN freq1 USING (l_partkey)
    )
    SELECT a.item AS item_a, p.item AS item_b, c.item AS item_c,
           CAST(count(*) AS BIGINT) AS support
    FROM b a
    JOIN b p ON p.l_orderkey = a.l_orderkey AND a.item < p.item
    -- the c-join's EQUALITY must reference p (not a): with the
    -- equality on a and the inequality on p, DuckDB's join-order
    -- optimizer pairs (p, c) on the inequality alone — a piecewise
    -- merge join over |b|^2 rows (observed 78 GB / no-finish)
    JOIN b c ON c.l_orderkey = p.l_orderkey AND p.item < c.item
    GROUP BY 1, 2, 3
    HAVING count(*) >= 2
    ORDER BY support DESC, item_a, item_b, item_c
    LIMIT 20
"""
ORACLES["key_skew_profile"] = """
    WITH allc AS (
        SELECT 'orders.o_custkey' AS key_col, count(*) AS cnt
        FROM orders GROUP BY o_custkey
        UNION ALL
        SELECT 'lineitem.l_partkey', count(*) FROM lineitem GROUP BY l_partkey
        UNION ALL
        SELECT 'lineitem.l_suppkey', count(*) FROM lineitem GROUP BY l_suppkey
        UNION ALL
        SELECT 'events.user_id', count(*) FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT key_col, cnt,
               row_number() OVER (PARTITION BY key_col ORDER BY cnt) AS rn,
               CAST(count(*) OVER (PARTITION BY key_col) AS BIGINT) AS n_keys,
               CAST(sum(cnt) OVER (PARTITION BY key_col) AS BIGINT)
                   AS total_rows,
               CAST(max(cnt) OVER (PARTITION BY key_col) AS BIGINT) AS max_cnt
        FROM allc
    )
    SELECT key_col, n_keys, total_rows, max_cnt,
           CAST(max(CASE WHEN rn = (n_keys + 1) // 2 THEN cnt END)
                AS BIGINT) AS p50_cnt,
           CAST(max(CASE WHEN rn = (99 * n_keys + 99) // 100 THEN cnt END)
                AS BIGINT) AS p99_cnt,
           CAST(max_cnt AS DOUBLE) / CAST(total_rows AS DOUBLE) AS top_share,
           CAST(max(CASE WHEN rn = (99 * n_keys + 99) // 100 THEN cnt END)
                AS DOUBLE)
               / CAST(max(CASE WHEN rn = (n_keys + 1) // 2 THEN cnt END)
                      AS DOUBLE) AS p99_p50_ratio
    FROM ranked GROUP BY 1, 2, 3, 4
"""
ORACLES["user_event_paths"] = """
    WITH seqs AS (
        SELECT user_id,
               list(struct_pack(ts := ts, event_id := event_id,
                                event_type := event_type)
                    ORDER BY ts, event_id) AS seq
        FROM events GROUP BY 1
    )
    SELECT user_id,
           CAST(len(seq) AS BIGINT) AS n_events,
           array_to_string(
               list_transform(seq[1:20], s -> s.event_type), '>') AS path
    FROM seqs
"""
ORACLES["scd2_intervals"] = """
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, event_id, ts, event_type,
               sum(chg) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS run_id
        FROM flagged
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
           min(event_type) AS event_type,
           min(ts) AS valid_from,
           max(ts) AS valid_to,
           CAST(count(*) AS BIGINT) AS n_events
    FROM runs GROUP BY 1, 2
"""
ORACLES["event_features"] = """
    WITH base AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 1000000.0, 0) AS BIGINT) AS v_micro
        FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, event_id, v_micro,
           lag(v_micro, 1) OVER w AS lag1_micro,
           lag(v_micro, 3) OVER w AS lag3_micro,
           v_micro - lag(v_micro, 1) OVER w AS delta_micro,
           CAST(sum(v_micro) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rsum5_micro
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""
ORACLES["column_entropy"] = """
    WITH pairs AS (
        SELECT 'l_returnflag' AS "column", CAST(l_returnflag AS VARCHAR) AS val FROM lineitem
        UNION ALL
        SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
    ),
    counts AS (
        SELECT "column", val, CAST(count(*) AS BIGINT) AS c
        FROM pairs GROUP BY 1, 2
    ),
    wt AS (
        SELECT "column", c,
               CAST(sum(c) OVER (PARTITION BY "column") AS BIGINT) AS tot
        FROM counts
    ),
    terms AS (
        SELECT "column",
               CAST(round(-ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
                          * (CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
                          * 1000000.0, 0) AS BIGINT) AS term
        FROM wt
    )
    SELECT "column",
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(term) AS BIGINT) AS entropy_micro,
           CAST(sum(term) AS DOUBLE) / 1000000.0 AS entropy
    FROM terms GROUP BY 1
"""
ORACLES["densest_subgraph"] = f"""
    WITH RECURSIVE {GRAPH_CTES},
    -- Bahmani eps=1/2 peel, synchronous rounds as recursive state
    -- (kcore-oracle pattern): a row survives iff BOTH endpoints beat
    -- 1.5x the round's average degree — d * 2|V| > 3 * sum_deg keeps
    -- every comparison integer. Recursion ends when a round removes
    -- everything (guaranteed: the min-degree vertex never survives).
    peel(r, v, n) AS (
        SELECT 0, v, n FROM sym
        UNION ALL
        SELECT r + 1, v, n FROM (
            SELECT r, v, n, d_v, d_n, sum_d, max(dr) OVER () AS n_v
            FROM (
                SELECT p.r, p.v, p.n,
                       count(*) OVER (PARTITION BY p.v) AS d_v,
                       count(*) OVER (PARTITION BY p.n) AS d_n,
                       count(*) OVER () AS sum_d,
                       dense_rank() OVER (ORDER BY p.v) AS dr
                FROM peel p
            ) a
        ) b
        WHERE d_v * 2 * n_v > 3 * sum_d
          AND d_n * 2 * n_v > 3 * sum_d
          AND r < 48
    ),
    rounds AS (
        SELECT r, count(DISTINCT v) AS n_nodes, count(*) // 2 AS e
        FROM peel GROUP BY r
    )
    SELECT CAST(r AS INTEGER) AS round,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(e AS BIGINT) AS n_edges,
           CAST(e AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS density
    FROM rounds
    QUALIFY row_number() OVER (
        ORDER BY CAST(e AS DOUBLE) / CAST(n_nodes AS DOUBLE) DESC, r
    ) = 1
"""
ORACLES["events_rolling_median"] = """
    WITH q AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 1000000.0, 0) AS BIGINT) AS v_micro
        FROM events WHERE value IS NOT NULL
    ),
    wv AS (
        SELECT user_id, event_id,
               list(v_micro) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS vals
        FROM q
    ),
    sv AS (
        SELECT user_id, event_id, list_sort(vals) AS sv, len(vals) AS m
        FROM wv
    )
    SELECT user_id, event_id,
           (CASE WHEN m % 2 = 1 THEN CAST(sv[(m + 1) // 2] AS DOUBLE)
                 ELSE (CAST(sv[m // 2] AS DOUBLE)
                       + CAST(sv[m // 2 + 1] AS DOUBLE))
                      / CAST(2.0 AS DOUBLE) END)
           / 1000000.0 AS roll_median
    FROM sv
"""
ORACLES["ngram_containment"] = f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM toks WHERE len(t) >= 3
    ),
    inv AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
               count(*) AS inter
        FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) AS cont_a,
           CAST(inter AS DOUBLE) / CAST(nb AS DOUBLE) AS cont_b
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) >= CAST(0.6 AS DOUBLE)
       OR CAST(inter AS DOUBLE) / CAST(nb AS DOUBLE) >= CAST(0.6 AS DOUBLE)
"""
ORACLES["hybrid_search"] = f"""
    WITH {_RETRIEVAL_TERMS},
    dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
           WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
    scored AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln(CAST(1.0 AS DOUBLE)
                      + (CAST(n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
                        / (df + CAST(0.5 AS DOUBLE)))
                   * ((tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                      / (tf + CAST(1.2 AS DOUBLE)
                           * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                              + CAST(0.75 AS DOUBLE)
                                * (CAST(dl AS DOUBLE)
                                   / (CAST(sum_dl AS DOUBLE)
                                      / CAST(n_docs AS DOUBLE))))))
                   * 1000000.0, 0) AS BIGINT) AS s_micro
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    agg AS (SELECT doc_id, sum(s_micro) AS sum_micro FROM scored GROUP BY 1),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY sum_micro DESC, doc_id) AS r_lex
        FROM agg QUALIFY r_lex <= 50
    ),
    -- dense leg: md5 hash-trick embeddings (mirrors
    -- text.hash_embedding / the text_embedding_neardup oracle)
    h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 64 AS b,
               (CAST(('0x' || substring(md5('s|' || t), 1, 1)) AS BIGINT) % 2)
                   * 2 - 1 AS s
        FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents)
    ),
    vec AS (SELECT doc_id, b, sum(s) AS v FROM h GROUP BY 1, 2),
    norms AS (
        SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm
        FROM vec GROUP BY 1 HAVING sum(v * v) > 0
    ),
    qh AS (
        SELECT CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 64 AS b,
               (CAST(('0x' || substring(md5('s|' || t), 1, 1)) AS BIGINT) % 2)
                   * 2 - 1 AS s
        FROM (SELECT unnest(string_split('spark join window', ' ')) AS t)
    ),
    qvec AS (SELECT b, sum(s) AS v FROM qh GROUP BY 1),
    qnorm AS (SELECT sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm FROM qvec),
    dots AS (
        SELECT d.doc_id, sum(d.v * q.v) AS dp
        FROM vec d JOIN qvec q ON d.b = q.b GROUP BY 1
    ),
    sims AS (
        SELECT n.doc_id,
               round(CAST(coalesce(dt.dp, 0) AS DOUBLE) / (n.nrm * qn.nrm),
                     6) AS sim
        FROM norms n
        LEFT JOIN dots dt ON dt.doc_id = n.doc_id
        CROSS JOIN qnorm qn
    ),
    dense AS (
        SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r_dense
        FROM sims QUALIFY r_dense <= 50
    ),
    fused AS (
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END AS in_lex,
               CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS in_dense,
               CAST(coalesce(CAST(round(CAST(1000000.0 AS DOUBLE)
                                        / (l.r_lex + 60), 0) AS BIGINT), 0)
                    + coalesce(CAST(round(CAST(1000000.0 AS DOUBLE)
                                          / (d.r_dense + 60), 0) AS BIGINT), 0)
                    AS BIGINT) AS rrf_micro
        FROM lex l FULL OUTER JOIN dense d ON d.doc_id = l.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
                AS INTEGER) AS rank,
           doc_id, in_lex, in_dense, rrf_micro
    FROM fused QUALIFY rank <= 20
"""
ORACLES["katz_centrality"] = f"""
    WITH {GRAPH_CTES},
    symm AS MATERIALIZED (SELECT * FROM sym),
    w1 AS MATERIALIZED (
        SELECT s.v AS id, CAST(count(*) AS BIGINT) AS w
        FROM symm s GROUP BY 1
    ),
    w2 AS MATERIALIZED (
        SELECT s.v AS id, CAST(sum(w.w) AS BIGINT) AS w
        FROM symm s JOIN w1 w ON w.id = s.n GROUP BY 1
    ),
    w3 AS MATERIALIZED (
        SELECT s.v AS id, CAST(sum(w.w) AS BIGINT) AS w
        FROM symm s JOIN w2 w ON w.id = s.n GROUP BY 1
    ),
    w4 AS (
        SELECT s.v AS id, CAST(sum(w.w) AS BIGINT) AS w
        FROM symm s JOIN w3 w ON w.id = s.n GROUP BY 1
    )
    SELECT w1.id,
           CAST(w1.w * 8 + w2.w * 4 + w3.w * 2 + w4.w AS BIGINT) AS katz_num,
           CAST(w1.w * 8 + w2.w * 4 + w3.w * 2 + w4.w AS DOUBLE)
               / CAST(16 AS DOUBLE) AS katz
    FROM w1
    JOIN w2 ON w2.id = w1.id
    JOIN w3 ON w3.id = w1.id
    JOIN w4 ON w4.id = w1.id
"""
ORACLES["graph_global_stats"] = f"""
    WITH {GRAPH_CTES},
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
    ds AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d) AS BIGINT) AS deg_sum,
               CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS wedges
        FROM deg
    ),
    wj AS (
        SELECT a.v AS v, a.n AS n1, b.n AS n2
        FROM sym a JOIN sym b ON a.v = b.v AND a.n < b.n
    ),
    closed AS (
        SELECT w.v FROM wj w JOIN edges e ON w.n1 = e.src AND w.n2 = e.dst
    ),
    tri AS (SELECT CAST(count(*) // 3 AS BIGINT) AS n_triangles FROM closed)
    SELECT n_nodes,
           CAST(deg_sum // 2 AS BIGINT) AS n_edges,
           CAST(deg_sum AS DOUBLE)
               / CAST(n_nodes * (n_nodes - 1) AS DOUBLE) AS density,
           CAST(deg_sum AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS avg_degree,
           wedges,
           n_triangles,
           CASE WHEN wedges > 0
                THEN CAST(3 * n_triangles AS DOUBLE) / CAST(wedges AS DOUBLE)
           END AS transitivity
    FROM ds, tri
"""
ORACLES["label_centroid_sim"] = """
    WITH ex AS (
        SELECT label, generate_subscripts(embedding, 1) AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE)
                          * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS xm
        FROM embeddings
    ),
    cent AS (
        SELECT label, i, CAST(sum(xm) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM ex GROUP BY 1, 2
    ),
    m AS (
        SELECT label, i, n,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m
        FROM cent
    ),
    norms AS (
        SELECT label, sqrt(sum(m * m)) AS nrm, max(n) AS n_vecs
        FROM m GROUP BY 1
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b, sum(a.m * b.m) AS dp
        FROM m a JOIN m b ON a.i = b.i AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           CAST(na.n_vecs AS BIGINT) AS n_a,
           CAST(nb.n_vecs AS BIGINT) AS n_b,
           round(dp / (na.nrm * nb.nrm), 6) AS sim
    FROM dots
    JOIN norms na ON na.label = label_a
    JOIN norms nb ON nb.label = label_b
"""
ORACLES["order_percentiles"] = """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
"""
ORACLES["weighted_sample"] = """
    WITH keyed AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
               CAST(round(
                   -ln((CAST(('0x' || substring(
                             md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        + 1)
                       / CAST(1152921504606846976 AS DOUBLE))
                   / CAST(n_chars AS DOUBLE)
                   * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS key_micro
        FROM documents
        WHERE n_chars > 0  -- mirrors weighted_sample_es's A-ES domain guard
    )
    SELECT doc_id, weight, key_micro
    FROM keyed ORDER BY key_micro, doc_id LIMIT 50
"""

def q_scc_components(spark, sf_dir):
    # Strongly connected components (r8, VERDICT r7 missing-#3): FW-BW
    # peeling with min-label coloring over the md5-parity orientation of
    # the co-purchase graph — the first directed analytic. scc_id = min
    # member id; phases/budget pinned with the oracle unroll
    # (operators/scc.py docstring has the measured profile: 2 phases at
    # sf0.01, 3 at sf0.1, giant SCC resolves in phase 1).
    from graph_database_spark.operators.scc import orient_md5, scc_components

    return scc_components(orient_md5(_edges(spark, sf_dir)))


def q_topo_layers(spark, sf_dir):
    # Topological layers of the SCC condensation DAG (r8): longest-path
    # depth per component (sources = layer 1) + member counts — the
    # dependency-depth readout a directed pipeline graph needs. Layer
    # relaxation is max-label fixpoint over the CONTRACTED edge set
    # (scc-keyed, small regardless of member counts).
    from graph_database_spark.operators.scc import (
        condensation_layers,
        orient_md5,
        scc_components,
    )

    d = orient_md5(_edges(spark, sf_dir)).localCheckpoint()
    return condensation_layers(d, scc_components(d))


def q_jaccard_prefix_join(spark, sf_dir):
    # PPJoin-style prefix-filtered exact Jaccard (r8): candidates come
    # only from rarest-first shingle PREFIXES (lossless by the prefix-
    # filtering principle), then PPJoin verify. Same result contract as
    # ngram_jaccard_exact — the catalog runs BOTH algorithms against
    # the one oracle, cross-validating each other; the prefix variant
    # is the scale path when boilerplate shingles make the full
    # inverted index quadratic (reduction pinned in test_ppjoin.py).
    return D.prefix_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_incremental_agg(spark, sf_dir):
    # Incremental view maintenance (r8): the standing additive
    # aggregate (orders before 1996 per priority) refreshed with the
    # 1996+ delta through operators/ivm.refresh_additive — one shuffle
    # over |delta| + |groups| rows, never a full-table recompute. The
    # oracle aggregates the FULL table directly, so a hash-pass is a
    # proof the refresh is exact (sums in integer cents: additive state
    # must be partition-order-exact to be maintainable).
    from graph_database_spark.operators.ivm import additive_agg, refresh_additive

    o = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    cut = "1996-01-01"
    base = o.where(F.col("o_orderdate") < F.lit(cut))
    delta = o.where(F.col("o_orderdate") >= F.lit(cut))
    sums = {"total_cents": "cents"}
    state = additive_agg(base, ["o_orderpriority"], sums)
    return refresh_additive(state, delta, ["o_orderpriority"], sums)


def q_incremental_join(spark, sf_dir):
    # Incremental JOIN maintenance (r9): the standing revenue view
    # orders |><| lineitem maintained under inserts on BOTH sides via
    # the delta-join identity dJ = dA|><|B u A|><|dB u dA|><|dB
    # (operators/ivm.delta_join) — two delta-sized probes plus a
    # delta x delta join, never a full recompute. Both tables split
    # base/delta on md5 parity of the order key (a correlated split:
    # some orders arrive with lineitems on either side of the cut, so
    # all three delta terms are non-empty). The maintained view is
    # aggregated per priority in integer micro-units and the oracle
    # aggregates the FULL join directly — a hash-pass proves J u dJ is
    # exactly A' |><| B'.
    from graph_database_spark.operators.ivm import delta_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6, 0
        ).cast("long").alias("rev_micro"),
    )
    o_delta_flag = (
        F.conv(F.md5(F.concat(F.lit("io|"), F.col("o_orderkey").cast("string")))
               .substr(1, 1), 16, 10).cast("long") % 4 == 0
    )
    li_delta_flag = (
        F.conv(F.md5(F.concat_ws("|", F.lit("il"),
                                 F.col("l_orderkey").cast("string"),
                                 F.col("l_linenumber").cast("string")))
               .substr(1, 1), 16, 10).cast("long") % 4 == 0
    )
    base_o, delta_o = o.where(~o_delta_flag), o.where(o_delta_flag)
    base_li, delta_li = li.where(~li_delta_flag), li.where(li_delta_flag)
    key = [F.col("o_orderkey") == F.col("l_orderkey")]
    j0 = base_o.join(base_li, key)
    dj = delta_join(base_o, delta_o, base_li, delta_li, key)
    view = j0.select("o_orderpriority", "rev_micro").unionByName(
        dj.select("o_orderpriority", "rev_micro")
    )
    return view.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.sum("rev_micro").alias("revenue_micro"),
    )


def q_bpe_encode(spark, sf_dir):
    # Tokenizer APPLY (r8): the vocabulary encoded under the 3 learned
    # BPE merges — '|'-joined symbol sequences + counts, the artifact
    # token-count/packing/LM jobs consume. The oracle replays the merge
    # applications per word (gaps-and-islands) and serializes the final
    # symbol table, closing the learn->apply loop begun by bpe_merges.
    from graph_database_spark.operators.bpe import bpe_encode_vocab

    return bpe_encode_vocab(load_table(spark, sf_dir, "documents"), n_merges=3)


def q_tokenizer_fertility(spark, sf_dir):
    # Tokenizer fertility audit (r12): BPE tokens per character by
    # language under the 3 learned merges — the compression-equity
    # readout multilingual-tokenizer work tracks (a language the merges
    # underserve pays more tokens per char of training budget). Word
    # char base excludes separators; both ratios exact integer
    # micro/ppm. The ~31-word vocab encoding table broadcasts; the
    # corpus side is one explode + groupBy(lang).
    from graph_database_spark.operators.bpe import bpe_encode_vocab
    from graph_database_spark.operators.spread import spread

    docs = load_table(spark, sf_dir, "documents")
    vocab = bpe_encode_vocab(docs, n_merges=3).select("w", "n_syms")
    dw = spread(docs).select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    per = dw.join(F.broadcast(vocab), "w")
    return per.groupBy("lang").agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        F.sum(F.length("w")).cast("long").alias("n_chars"),
        F.expr("(sum(n_syms) * 1000000) div sum(length(w))")
        .cast("long")
        .alias("fertility_ppm"),
        F.expr("(sum(length(w)) * 1000000) div sum(n_syms)")
        .cast("long")
        .alias("chars_per_token_micro"),
    )


def q_adpcm_features(spark, sf_dir):
    # Real COMPRESSED (lossy) audio codec round-trip (r8): IMA ADPCM —
    # 4 bits/sample against an adaptive integer predictor. The encoder,
    # nibble packing, strict parse and decoder are all exact integer
    # state machines, so the DuckDB oracle replays the ENTIRE
    # encode->decode chain sample-by-sample in a recursive CTE and the
    # integer features of the decoded waveform must hash-match —
    # certifying a lossy codec bit-for-bit. operators/adpcm.py.
    from graph_database_spark.operators import adpcm

    docs = load_table(spark, sf_dir, "documents")
    return adpcm.decode_adpcm(adpcm.attach_adpcm(docs))


def q_video_codec_features(spark, sf_dir):
    # Motion-compensated predictive video codec (r9): per-4x4-block
    # motion search against the previous RECONSTRUCTED frame + 4-bit
    # quantized residuals, serialized as the MCV1 bitstream, then
    # decoded back WITHOUT the originals — the core loop of every real
    # video codec, completing lossless/lossy x image/audio/video. All
    # state is integer, so the oracle replays the full encode ->
    # serialize -> parse -> reconstruct chain frame-by-frame in a
    # recursive CTE (the adpcm_features pattern, 2-D edition) and the
    # decoder-derived features must hash-match. operators/mcv.py.
    from graph_database_spark.operators.av import attach_video
    from graph_database_spark.operators.mcv import decode_video_mc, encode_video_mc

    docs = load_table(spark, sf_dir, "documents")
    return decode_video_mc(encode_video_mc(attach_video(docs)))


def q_group_split(spark, sf_dir):
    # Group-aware train/val/test split (r8): the split key is the
    # GROUP (user), not the row, so one user's events can never
    # straddle splits — the leakage-correct GroupShuffleSplit next to
    # dataset_split's row-level form. Same md5-bucket determinism;
    # census reports groups AND rows per split, plus a leakage proof
    # column: n_users summed over splits must equal distinct users
    # (each group lands in exactly one split by construction — the
    # oracle recomputes the same census independently).
    ev = load_table(spark, sf_dir, "events")
    bucket = F.conv(
        F.md5(F.concat(F.lit("gs|"), F.col("user_id").cast("string"))).substr(1, 4),
        16,
        10,
    ).cast("long") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        ev.select(split.alias("split"), "user_id", "event_id")
        .groupBy("split")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


def q_table_diff(spark, sf_dir):
    # Keyed snapshot reconciliation (r8): v2 is derived from orders by
    # a deterministic rule (drop keys %89, bump price on keys %97, add
    # negated-key copies of keys %101), and operators/diff.table_diff
    # must recover exactly those added/removed/changed/unchanged counts
    # from row FINGERPRINTS alone (one xxhash64 scalar per side rides
    # the full-outer join — never a column-by-column compare). The
    # oracle states the rule's ground truth; the hash match proves the
    # fingerprint diff reproduces it.
    from graph_database_spark.operators.diff import table_diff

    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    v2 = (
        o.where(k % 89 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 97 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        # added keys = -(k+1): strictly negative even for key 0 (which
        # exists in the testdata and is %89/%97/%101-divisible — a bare
        # -k collided with itself and reclassified as unchanged)
        .unionByName(o.where(k % 101 == 0).withColumn("o_orderkey", -(k + 1)))
    )
    return table_diff(o, v2, ["o_orderkey"])


def q_item_cf(spark, sf_dir):
    # Item-item collaborative filtering (r8, rebased r9): top-5 most
    # similar parts by customer-overlap cosine — co/sqrt(n_a*n_b) over
    # the binary (customer, part) purchase matrix, the classic
    # Amazon-style item-to-item recommender. Scale shape (r9): the
    # co-counts come from operators/bipartite.project_counts, which
    # grid-decomposes hot baskets (a 100k-item customer used to emit
    # C(m,2) rows on ONE join key — r8 VERDICT's scale-killer) and
    # shuffles only the part-id scalar; per-part degrees join the CUT
    # pair set (co >= 2) instead of riding through the explosion; the
    # per-item top-k is a partitioned window after the distributed
    # candidate cut. Cosine = integer co / IEEE sqrt of an integer
    # product, rounded 6 — cross-engine exact.
    from graph_database_spark.operators.bipartite import project_counts

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()  # feeds the projection AND the degree table
    )
    deg = cp.groupBy("p").agg(F.count("*").alias("n"))
    # pairs feeds BOTH union orientations below — un-checkpointed, the
    # whole projection+degree-join subtree was derived twice (the
    # CLAUDE.md reuse rule; r15 A/B min-of-3: 5.73 -> 5.26 s).
    pairs = project_counts(
        cp, "c", "p", min_count=2, out_cols=("pa", "pb", "co")
    ).join(
        deg.select(F.col("p").alias("pa"), F.col("n").alias("na")), "pa"
    ).join(
        deg.select(F.col("p").alias("pb"), F.col("n").alias("nb")), "pb"
    ).localCheckpoint()
    sym = pairs.select(
        F.col("pa").alias("item"), F.col("pb").alias("other"),
        "co", F.col("na").alias("ni"), F.col("nb").alias("no"),
    ).unionByName(
        pairs.select(
            F.col("pb").alias("item"), F.col("pa").alias("other"),
            "co", F.col("nb").alias("ni"), F.col("na").alias("no"),
        )
    )
    scored = sym.select(
        "item", "other",
        "co",
        F.round(
            F.col("co").cast("double")
            / F.sqrt((F.col("ni") * F.col("no")).cast("double")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), F.asc("other"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("item", "other", "co", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def q_copurchase_projection(spark, sf_dir):
    # First-class bipartite projection (r9 VERDICT #5): weighted
    # one-mode part-part graph from the two-mode (customer, part)
    # purchase matrix — edge weight = number of shared customers, the
    # co-purchase graph recsys and market-basket analysis start from.
    # Top-100 by (co DESC, item_a, item_b) keeps the result bounded and
    # totally ordered. Scale shape: operators/bipartite.project_counts
    # (hot-basket grid guard, scalar-only shuffle), then a distributed
    # top-k (TakeOrderedAndProject), no global window.
    from graph_database_spark.operators.bipartite import project_counts

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    return (
        project_counts(cp, "c", "p", min_count=2)
        .orderBy(F.desc("co"), "item_a", "item_b")
        .limit(100)
    )


def q_triangles_sampled(spark, sf_dir):
    # DOULION (Tsourakakis et al., KDD'09) sampled triangle estimation
    # (r8): keep each edge with p = 1/4 via md5 parity, count triangles
    # EXACTLY on the sparsified graph, scale by 1/p^3 = 64. The
    # sampling is deterministic (retry-stable, oracle-replayable), the
    # estimate is an exact integer, and the sparsified count costs
    # ~p^2 of the full wedge join — the knob a trillion-edge graph
    # needs when even the salted wedge join is too much. Exact count
    # rides along from triangle_count for the error readout.
    from graph_database_spark.operators.graph import triangle_count

    edges = _edges(spark, sf_dir)
    keep = (
        F.conv(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit("ts"),
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                )
            ).substr(1, 1),
            16,
            10,
        ).cast("long")
        < 4
    )
    sampled = edges.where(keep).localCheckpoint()
    n_edges = sampled.agg(F.count("*").alias("sampled_edges"))
    tri = triangle_count(sampled).select(
        F.col("n_triangles").alias("triangles_sampled"),
        (F.col("n_triangles") * 64).alias("est_triangles"),
    )
    return n_edges.crossJoin(tri)


def q_join_cardinality(spark, sf_dir):
    # Theta-sketch-style pre-join cardinality estimate (r8): how many
    # DISTINCT keys do orders.o_custkey and events.user_id share —
    # answered from two bottom-K KMV sketches instead of a scan-level
    # join, the statistic a planner (or a pipeline deciding broadcast
    # vs shuffle) wants for pennies. theta = min of the two kth-smallest
    # md5-60 hashes (2^60 when a side holds fewer than K distinct —
    # sampling rate 1); the intersection estimate scales the common
    # kept hashes below theta by 2^60/theta. Every quantity is derived
    # from deterministic md5 hashes + one mirrored IEEE division chain,
    # so the whole estimator is hash-verified — the sketch VALUES, not
    # just plumbing (the distinct_users_kmv philosophy, two-sided).
    K = 32
    span = 1152921504606846976.0  # 2^60

    def side(df, col):
        d = df.select(md5_hash60(F.col(col)).alias("h")).distinct()
        kk = d.orderBy("h").limit(K).localCheckpoint()
        stats = kk.agg(
            F.max("h").alias("kth"), F.count("*").alias("nk")
        ).withColumn(
            "theta",
            F.when(F.col("nk") < K, F.lit(1 << 60)).otherwise(F.col("kth")),
        )
        return kk, stats

    ka, sa = side(load_table(spark, sf_dir, "orders"), "o_custkey")
    kb, sb = side(load_table(spark, sf_dir, "events"), "user_id")
    th = (
        sa.select(
            F.col("theta").alias("th_a"), F.col("nk").alias("nk_a"),
            F.col("kth").alias("kth_a"),
        )
        .crossJoin(
            sb.select(
                F.col("theta").alias("th_b"), F.col("nk").alias("nk_b"),
                F.col("kth").alias("kth_b"),
            )
        )
        .withColumn("theta", F.least("th_a", "th_b"))
    )
    common = (
        ka.join(kb, "h")
        .crossJoin(F.broadcast(th.select("theta")))
        .where(F.col("h") < F.col("theta"))
        .agg(F.count("*").alias("n_common_kept"))
    )
    est = F.round(
        F.col("n_common_kept").cast("double")
        * (F.lit(span) / F.col("theta").cast("double")),
        4,
    )

    def est_side(nk, kth):
        return F.round(
            F.when(F.col(nk) < K, F.col(nk).cast("double")).otherwise(
                F.lit(float(K - 1)) / (F.col(kth).cast("double") / F.lit(span))
            ),
            4,
        )

    return (
        th.crossJoin(common)
        .select(
            "n_common_kept",
            F.col("theta").cast("long").alias("theta"),
            est_side("nk_a", "kth_a").alias("est_keys_a"),
            est_side("nk_b", "kth_b").alias("est_keys_b"),
            est.alias("est_intersection"),
        )
    )


def q_weighted_median(spark, sf_dir):
    # Exact quantity-weighted median price per brand (r8): the robust
    # per-group location statistic a plain AVG distorts under skewed
    # order sizes. Scale shape: rows collapse to the (brand, cents)
    # VALUE UNIVERSE first (distinct price points, bounded by the price
    # domain — the record_linkage collapse), so the per-brand cumsum
    # window runs over aggregated points, not raw lineitems; the median
    # test is 2*cum >= W in integers (no division, no even/odd
    # interpolation ambiguity: smallest value with half the weight at
    # or below it).
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            "p_brand",
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("cents"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("p_brand", "cents")
        .agg(F.sum("w").alias("w"))
    )
    win = (
        Window.partitionBy("p_brand")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("p_brand")
    ranked = pts.select(
        "p_brand",
        "cents",
        F.sum("w").over(win).alias("cum"),
        F.sum("w").over(tot).alias("wtot"),
    ).where(F.col("cum") * 2 >= F.col("wtot"))
    return ranked.groupBy("p_brand").agg(
        F.min("cents").alias("median_cents"),
        F.max("wtot").alias("total_weight"),
    )


def q_incremental_quantiles(spark, sf_dir):
    # Quantile IVM (r8): fixed-width integer histogram state IS
    # additive, so quantile maintenance rides the same refresh as
    # incremental_agg — bins of order totalprice (100-dollar width)
    # maintained as (bin, n) state through a base/delta split, then
    # p50/p90/p99 read out as the first bin where 2/10/100 x cum >=
    # k x total (integer inequalities, no division). The oracle bins
    # the FULL table directly; a hash match proves the maintained
    # histogram exact — the metrics-warehouse latency-quantile recipe.
    from graph_database_spark.operators.ivm import refresh_additive

    o = load_table(spark, sf_dir, "orders").withColumn(
        "bin", F.floor(F.col("o_totalprice") / 100).cast("long")
    )
    cut = "1996-01-01"
    base = o.where(F.col("o_orderdate") < F.lit(cut))
    delta = o.where(F.col("o_orderdate") >= F.lit(cut))
    state = base.groupBy("bin").agg(F.count("*").alias("n_rows"))
    hist = refresh_additive(state, delta, ["bin"], {}).localCheckpoint()
    # The cum window runs over the BIN UNIVERSE (price-domain/100 rows,
    # a few thousand at any sf) — bounded, like lorenz_curve's 10-row
    # decile window, so the unpartitioned window is a non-issue.
    win = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = hist.agg(F.sum("n_rows").alias("t"))
    cum = hist.select(
        "bin", F.sum("n_rows").over(win).alias("cum")
    ).crossJoin(F.broadcast(tot))
    qs = []
    for name, num, den in [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]:
        qs.append(
            cum.where(F.col("cum") * den >= F.col("t") * num)
            .agg(F.min("bin").alias("bin"))
            .select(F.lit(name).alias("quantile"), (F.col("bin") * 100).alias("bin_lo"))
        )
    out = qs[0]
    for q in qs[1:]:
        out = out.unionByName(q)
    return out


def q_incremental_distinct(spark, sf_dir):
    # Distinct-count IVM (r8): distinct counts are NOT additive, so the
    # maintainable form is mergeable HLL register state — register-wise
    # max over any base/delta split equals the registers of the union.
    # Here the events stream is split at a ts cut, the base registers
    # are refreshed with the delta (operators/ivm.refresh_hll), and the
    # estimate must hash-match distinct_users_hll's full-table oracle:
    # a proof the sketch state is split-invariant, in the same sense
    # incremental_agg proves the additive path exact.
    from graph_database_spark.operators.ivm import (
        hll_estimate,
        hll_state,
        refresh_hll,
    )

    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    base = ev.where(F.col("ts") < cut)
    delta = ev.where(F.col("ts") >= cut)
    state = hll_state(base, ["event_type"], "user_id")
    return hll_estimate(
        refresh_hll(state, delta, ["event_type"], "user_id"), ["event_type"]
    )


def q_chi_square_events(spark, sf_dir):
    # Chi-square independence of event_type x customer market segment
    # (r8): the drift family's categorical test next to PSI/Benford/
    # CUSUM. Contingency counts are integers; each cell's expected
    # count e = row_total*col_total/N is one IEEE division and the
    # (n-e)^2/e term snaps to micro-units BEFORE the sum (CLAUDE.md:
    # double group-sums are partition-order-dependent, integer sums are
    # not). dof = (R-1)(C-1) rides along for the driver-side p-value.
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").alias("c_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cells = (
        ev.join(cust, "c_custkey")
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # feeds the margins AND the term sum
    )
    rows = cells.groupBy("event_type").agg(F.sum("n").alias("rtot"))
    colsums = cells.groupBy("c_mktsegment").agg(F.sum("n").alias("ctot"))
    tot = cells.agg(
        F.sum("n").alias("ntot"),
        F.count_distinct("event_type").alias("nr"),
        F.count_distinct("c_mktsegment").alias("nc"),
    )
    term = (
        cells.join(rows, "event_type")
        .join(colsums, "c_mktsegment")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "e",
            (F.col("rtot") * F.col("ctot")).cast("double")
            / F.col("ntot").cast("double"),
        )
        .withColumn(
            "t_micro",
            F.round(
                (F.col("n").cast("double") - F.col("e"))
                * (F.col("n").cast("double") - F.col("e"))
                / F.col("e")
                * F.lit(1000000.0),
                0,
            ).cast("long"),
        )
    )
    return term.groupBy().agg(
        F.sum("t_micro").alias("chi2_micro"),
        F.count("*").alias("n_cells"),
        F.max((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        F.max("ntot").alias("n_obs"),
    )


def q_png_features(spark, sf_dir):
    # Real COMPRESSED image round-trip (r8, closes VERDICT r7
    # missing-#4 for images): spec-valid 8-bit grayscale PNGs written
    # per document (chunk framing + CRC-32 + zlib DEFLATE + rotating
    # None/Sub/Up scanline filters), then strictly parsed back (CRC
    # verified per chunk, full five-filter reconstruction) into integer
    # luma/gradient features. The oracle recomputes the features from
    # the md5 pixel generator — a hash match proves the DEFLATE +
    # predictor round-trip is lossless. operators/png.py.
    from graph_database_spark.operators import png

    docs = load_table(spark, sf_dir, "documents")
    return png.decode_png(png.attach_png(docs))


def q_scc_reach(spark, sf_dir):
    # Downstream-reach estimation per SCC (r8): HLL registers propagated
    # backward along condensation edges for depth(DAG) rounds — the
    # sketch answer to "transitive closure is quadratic". The oracle
    # replays the registers over the EXACT reach sets (UNION-dedup
    # recursion), so the hash match proves the propagated state equals
    # the one-shot sketch of the true closure. operators/scc.py.
    from graph_database_spark.operators.scc import (
        orient_md5,
        scc_components,
        scc_reach_sketch,
    )

    d = orient_md5(_edges(spark, sf_dir)).localCheckpoint()
    return scc_reach_sketch(d, scc_components(d))


def _scc_sql_ctes(phases: int = 4) -> str:
    # FW-BW peel replay for the ORACLES below. Forward/backward labels
    # come from UNION-dedup reachability recursions (worklist semantics
    # — true fixpoints, no round budget to pin) with the min-label prune
    # t.r < e.v: a label larger than the vertex it lands on can never be
    # a component minimum downstream, because that vertex itself is a
    # smaller ancestor/descendant for everything beyond it. MATERIALIZED
    # base CTEs keep DuckDB from re-opening the parquet scans once per
    # phase reference (file-handle exhaustion observed at 4-phase
    # unroll). Phase count pinned with operators/scc.scc_components.
    par = (
        "CAST(('0x' || substring(md5('d|' || CAST(src AS VARCHAR) || '|' || "
        "CAST(dst AS VARCHAR)), 1, 1)) AS BIGINT) % 2"
    )
    parts = [
        f"""
    dedges AS MATERIALIZED (
        SELECT CASE WHEN {par} = 0 THEN src ELSE dst END AS u,
               CASE WHEN {par} = 0 THEN dst ELSE src END AS v
        FROM edges
    ),
    av0 AS MATERIALIZED (SELECT u AS id FROM dedges UNION SELECT v FROM dedges),
    ae0 AS MATERIALIZED (SELECT u, v FROM dedges)"""
    ]
    for p in range(phases):
        parts.append(f""",
    fr{p}(id, r) AS (
        SELECT id, id FROM av{p}
        UNION
        SELECT e.v, t.r FROM fr{p} t JOIN ae{p} e ON e.u = t.id
        WHERE t.r < e.v
    ),
    f{p} AS MATERIALIZED (SELECT id, min(r) AS f FROM fr{p} GROUP BY id),
    ce{p} AS MATERIALIZED (
        SELECT e.v AS u, e.u AS v
        FROM ae{p} e JOIN f{p} a ON a.id = e.u JOIN f{p} b ON b.id = e.v
        WHERE a.f = b.f
    ),
    br{p}(id, r) AS (
        SELECT id, id FROM av{p}
        UNION
        SELECT e.v, t.r FROM br{p} t JOIN ce{p} e ON e.u = t.id
        WHERE t.r < e.v
    ),
    b{p} AS MATERIALIZED (SELECT id, min(r) AS b FROM br{p} GROUP BY id),
    res{p} AS (SELECT f{p}.id AS id, f FROM f{p} JOIN b{p} USING (id) WHERE f = b),
    av{p + 1} AS MATERIALIZED (
        SELECT f{p}.id AS id FROM f{p} JOIN b{p} USING (id) WHERE f <> b
    ),
    ae{p + 1} AS MATERIALIZED (
        SELECT e.u, e.v FROM ae{p} e
        JOIN av{p + 1} x ON x.id = e.u JOIN av{p + 1} y ON y.id = e.v
    )""")
    parts.append(
        ",\n    scc AS MATERIALIZED ("
        + " UNION ALL ".join(
            f"SELECT id, f AS scc_id FROM res{p}" for p in range(phases)
        )
        + ")"
    )
    return "".join(parts)


ORACLES["scc_components"] = f"""
    WITH RECURSIVE {GRAPH_CTES},{_scc_sql_ctes()}
    SELECT id, scc_id FROM scc
"""
ORACLES["scc_reach"] = f"""
    WITH RECURSIVE {GRAPH_CTES},{_scc_sql_ctes()},
    cedges AS (
        SELECT DISTINCT a.scc_id AS u, b.scc_id AS v
        FROM dedges e JOIN scc a ON a.id = e.u JOIN scc b ON b.id = e.v
        WHERE a.scc_id <> b.scc_id
    ),
    cverts AS (SELECT DISTINCT scc_id AS id FROM scc),
    reach(id, r) AS (
        SELECT id, id FROM cverts
        UNION
        SELECT t.id, e.v FROM reach t JOIN cedges e ON e.u = t.r
    ),
    hv AS (
        SELECT id,
               CAST(('0x' || substring(md5(CAST(r AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM reach
    ),
    rr AS (
        SELECT id, h % 32 AS b,
               CASE WHEN h // 32 = 0 THEN 55
                    ELSE bit_count(((h // 32) & -(h // 32)) - 1) + 1
               END AS rho
        FROM hv
    ),
    regs AS (SELECT id, b, max(rho) AS reg FROM rr GROUP BY 1, 2),
    s AS (
        SELECT id,
               CAST(sum(1::BIGINT << (55 - reg)) AS BIGINT)
                 + (32 - count(*)) * (1::BIGINT << 55) AS ssum
        FROM regs GROUP BY 1
    ),
    mem AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS n_members
            FROM scc GROUP BY 1)
    SELECT m.scc_id,
           round(0.697e0 * 32e0 * 32e0 * 36028797018963968e0
                 / CAST(s.ssum AS DOUBLE), 4) AS est_reach,
           m.n_members
    FROM mem m JOIN s ON s.id = m.scc_id
"""
ORACLES["topo_layers"] = f"""
    WITH RECURSIVE {GRAPH_CTES},{_scc_sql_ctes()},
    cedges AS (
        SELECT DISTINCT a.scc_id AS u, b.scc_id AS v
        FROM dedges e JOIN scc a ON a.id = e.u JOIN scc b ON b.id = e.v
        WHERE a.scc_id <> b.scc_id
    ),
    cverts AS (SELECT DISTINCT scc_id AS id FROM scc),
    lw(id, d) AS (
        SELECT id, 1 FROM cverts
        UNION
        SELECT e.v, t.d + 1 FROM lw t JOIN cedges e ON e.u = t.id
    ),
    lay AS (SELECT id AS scc_id, max(d) AS layer FROM lw GROUP BY id),
    mem AS (SELECT scc_id, count(*) AS n_members FROM scc GROUP BY scc_id)
    SELECT m.scc_id, CAST(l.layer AS BIGINT) AS layer,
           CAST(m.n_members AS BIGINT) AS n_members
    FROM mem m JOIN lay l ON l.scc_id = m.scc_id
"""


def q_zorder_index(spark, sf_dir):
    # Z-order / Morton clustering index (r9): interleave a customer
    # dimension and a price band into a 20-bit Z-value and report
    # per-Z-bucket min/max footer stats — the evidence that a
    # Z-ordered layout prunes scans filtering on EITHER dimension
    # (operators/layout.zorder_stats). Pure JVM integer math, one
    # shuffle.
    from graph_database_spark.operators import layout as LAY

    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        (F.col("o_custkey") % 1024).cast("long").alias("zx"),
        F.expr(
            "least(CAST(1023 AS BIGINT),"
            " CAST(round(o_totalprice * 100) AS BIGINT) div 65536)"
        ).alias("zy"),
    )
    return LAY.zorder_stats(dims, "zx", "zy")


def q_range_partition_plan(spark, sf_dir):
    # Balanced range-partition boundaries (r9): the exact 32-bucket
    # split of lineitem by (price cents, unique line id) a sort-based
    # writer / repartitionByRange planner needs — computed with the
    # distributed global_rank, never a bare ORDER BY window
    # (operators/layout.range_partition_plan).
    from graph_database_spark.operators import layout as LAY

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.expr("CAST(l_orderkey * 8 + l_linenumber AS BIGINT)").alias("uid"),
    )
    return LAY.range_partition_plan(d, "cents", "uid", 32)


def q_compaction_plan(spark, sf_dir):
    # Small-files compaction planner (r9): treat per-ship-month
    # lineitem row counts as file sizes and first-fit-decreasing pack
    # them into bins of capacity 2 x max size — the OPTIMIZE planner
    # step. One JVM HOF fold over the bounded file-metadata array
    # (operators/layout.compaction_plan); the oracle replays FFD as a
    # DuckDB recursive CTE carrying the bin-load list.
    from graph_database_spark.operators import layout as LAY

    li = load_table(spark, sf_dir, "lineitem")
    f0 = li.groupBy(
        F.expr(
            "CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)"
        ).alias("fid")
    ).agg(F.count("*").alias("s"))
    return LAY.compaction_plan(f0, "fid", "s")


def q_consistent_hash_rebalance(spark, sf_dir):
    # Consistent-hash shard rebalance audit (r9): assign every document
    # to an 8-node and a 9-node md5 ring (32 vnodes each) and emit the
    # (node_before, node_after, n_docs) transition matrix. Minimal
    # movement — every off-diagonal cell lands on the NEW node — is the
    # property that makes scaling a 100 TB corpus an O(1/N) data move,
    # and the matrix is the proof (operators/chash.py; pinned in
    # tests/test_chash.py).
    from graph_database_spark.operators import chash

    docs = load_table(spark, sf_dir, "documents")
    return chash.rebalance_matrix(docs, 8, 9)


# 2-D query windows for the zonemap-pruning audit: (wid, x0, x1, y0,
# y1) literals shared by the Spark frame and the oracle VALUES list.
_ZONEMAP_WINDOWS = [
    (1, 100, 199, 100, 199),
    (2, 0, 1023, 500, 563),
    (3, 768, 1023, 0, 255),
]


def q_markov_2step(spark, sf_dir):
    # Two-step Markov transition mass (r9): compose the per-user
    # event-type transition matrix with itself — p2(a, b) = sum_m
    # p(a, m) p(m, b) — entirely in exact integers: each path term is
    # (n_am * n_mb * 10^6) div (tot_a * tot_m), summed (the documented
    # per-term floor; no float ever). The matrix is |types|^2 rows, so
    # both composition joins broadcast; the only O(N) work is the same
    # lag window event_transitions pays.
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_id", "ts", "event_type").withColumn(
        "prev_type", F.lag("event_type").over(order)
    )
    counts = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # feeds totals and BOTH composition legs
    )
    tot = counts.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    c1 = counts.join(F.broadcast(tot), "prev_type").select(
        F.col("prev_type").alias("src"),
        F.col("event_type").alias("mid"),
        F.col("n").alias("n1"),
        F.col("tot").alias("tot1"),
    )
    c2 = counts.join(F.broadcast(tot), "prev_type").select(
        F.col("prev_type").alias("mid"),
        F.col("event_type").alias("dst"),
        F.col("n").alias("n2"),
        F.col("tot").alias("tot2"),
    )
    return (
        c1.join(F.broadcast(c2), "mid")
        .groupBy("src", "dst")
        .agg(
            F.sum(F.col("n1") * F.col("n2")).alias("n_paths"),
            F.sum(
                F.expr("(n1 * n2 * 1000000) div (tot1 * tot2)")
            ).alias("p2_ppm"),
        )
    )


def q_zonemap_pruning(spark, sf_dir):
    # Zonemap / data-skipping audit (r9): for three 2-D query windows,
    # count how many per-bucket min/max zonemaps (and how many rows)
    # each layout must touch — the Z-order bucketing vs a 1-D sort on
    # x. This is the measured payoff of zorder_index: the planner-side
    # arithmetic a scan-pruning decision actually runs. Bucket frames
    # are bounded (<=1024 zonemaps), windows broadcast.
    from graph_database_spark.operators import layout as LAY

    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        (F.col("o_custkey") % 1024).cast("long").alias("zx"),
        F.expr(
            "least(CAST(1023 AS BIGINT),"
            " CAST(round(o_totalprice * 100) AS BIGINT) div 65536)"
        ).alias("zy"),
    ).localCheckpoint()  # feeds both layout legs
    zmaps = LAY.zorder_stats(dims, "zx", "zy").select(
        F.lit("zorder").alias("layout"),
        "n_rows", "x_min", "x_max", "y_min", "y_max",
    )
    lin = (
        dims.groupBy(F.expr("zx div 32").alias("b"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("zx").alias("x_min"),
            F.max("zx").alias("x_max"),
            F.min("zy").alias("y_min"),
            F.max("zy").alias("y_max"),
        )
        .select(
            F.lit("linear_x").alias("layout"),
            "n_rows", "x_min", "x_max", "y_min", "y_max",
        )
    )
    buckets = zmaps.unionByName(lin)
    wins = spark.createDataFrame(
        _ZONEMAP_WINDOWS, "wid long, x0 long, x1 long, y0 long, y1 long"
    )
    hit = F.expr(
        "CASE WHEN x_min <= x1 AND x_max >= x0"
        " AND y_min <= y1 AND y_max >= y0 THEN 1 ELSE 0 END"
    )
    return (
        buckets.crossJoin(F.broadcast(wins))
        .groupBy("wid", "layout")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(hit).alias("n_touched"),
            F.sum(F.col("n_rows") * hit).alias("rows_touched"),
        )
    )


def q_compaction_nextfit(spark, sf_dir):
    # Distributed sorted-next-fit compaction (r9): the whole-table
    # sweep twin of compaction_plan — per-ship-DAY file sizes (~2.4k
    # files), one range shuffle via global_prefix_sum, bins cut at
    # capacity quotients. Exact FFD folds bounded per-partition
    # batches; this is the path when the file list is itself big data
    # (operators/layout.compaction_nextfit).
    from graph_database_spark.operators import layout as LAY

    li = load_table(spark, sf_dir, "lineitem")
    f0 = li.groupBy(
        F.expr(
            "CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')"
            " AS BIGINT)"
        ).alias("fid")
    ).agg(F.count("*").alias("s"))
    return LAY.compaction_nextfit(f0, "fid", "s")


def q_haar_orders(spark, sf_dir):
    # Haar wavelet pyramid of the daily order series (r9): unnormalized
    # sum/difference halvings over a fixed 4096-day window — every
    # coefficient an exact integer, the multi-resolution burst
    # signature and top-k-compression basis next to seasonal_decompose
    # and events_autocorr (operators/haar.py; 12 unrolled MATERIALIZED
    # halvings in the oracle).
    from graph_database_spark.operators.haar import haar_transform

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')"
            " AS BIGINT)"
        ).alias("idx")
    ).agg(F.count("*").alias("v"))
    return haar_transform(daily, "idx", "v")


def q_edge_reciprocity(spark, sf_dir):
    # Weighted reciprocity of the event-type transition graph (r9): of
    # all off-diagonal transition mass, how much is matched by the
    # reverse direction — sum over ordered pairs of min(c_ab, c_ba)
    # against total (Squartini et al.'s weighted reciprocity). The
    # directed-family one-number health check; all integer.
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_id", "ts", "event_type").withColumn(
        "prev_type", F.lag("event_type").over(order)
    )
    counts = (
        seq.where(
            F.col("prev_type").isNotNull()
            & (F.col("prev_type") != F.col("event_type"))
        )
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # feeds totals and both sides of the pair join
    )
    rev = counts.select(
        F.col("event_type").alias("prev_type"),
        F.col("prev_type").alias("event_type"),
        F.col("n").alias("n_rev"),
    )
    matched = (
        counts.join(F.broadcast(rev), ["prev_type", "event_type"])
        .agg(F.sum(F.least("n", "n_rev")).alias("n_reciprocated"))
    )
    tot = counts.agg(F.sum("n").alias("n_transitions"))
    return tot.crossJoin(F.broadcast(matched)).select(
        "n_transitions",
        F.coalesce("n_reciprocated", F.lit(0).cast("long")).alias(
            "n_reciprocated"
        ),
        F.expr(
            "(coalesce(n_reciprocated, 0) * 1000000) div n_transitions"
        ).alias("reciprocity_ppm"),
    )


def q_pareto_abc(spark, sf_dir):
    # ABC / Pareto classification (r9): customers ranked by revenue,
    # classified A (first 80% of cumulative revenue), B (to 95%), C
    # (tail) — all comparisons on exact integer cents via the
    # distributed global_prefix_sum (no bare ORDER BY window).
    from graph_database_spark.operators.rank import global_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "rev_cents"
        )
    )
    ranked = global_prefix_sum(
        rev.withColumn("neg_rev", -F.col("rev_cents")),
        ["neg_rev", "custkey"],
        "rev_cents",
        "cum_cents",
    )
    tot = rev.agg(F.sum("rev_cents").alias("tot"))
    cls = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "abc_class",
        F.when(F.col("cum_cents") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C"),
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev_cents").alias("rev_cents"),
        F.expr("(sum(rev_cents) * 1000000) div any_value(tot)").alias(
            "share_ppm"
        ),
    )


def q_cuped_adjustment(spark, sf_dir):
    # CUPED variance reduction (r9): per-user post-period metric
    # adjusted by the pre-period covariate, theta = cov(x,y)/var(x)
    # over exact integer-dollar sums (cents would overflow n*Sxx at
    # BIGINT; round-to-dollars is cross-engine exact). theta and each
    # adjustment are short mirrored IEEE chains over exact ints.
    e = load_table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    split = e.crossJoin(F.broadcast(d0)).select(
        "user_id",
        F.expr("CAST(round(value) AS BIGINT)").alias("v"),
        (F.to_date("ts") < F.date_add(F.col("d0"), 15)).alias("pre"),
    )
    per_user = split.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("pre"), F.col("v"))), F.lit(0)
        ).cast("long").alias("x"),
        F.coalesce(
            F.sum(F.when(~F.col("pre"), F.col("v"))), F.lit(0)
        ).cast("long").alias("y"),
    ).localCheckpoint()  # feeds the moment fold and the per-user output
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).select(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_n"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("var_n"),
    )
    return per_user.crossJoin(F.broadcast(m)).select(
        "user_id",
        "x",
        "y",
        F.expr(
            "CAST(round(CAST(1000000 AS DOUBLE) * (CAST(y AS DOUBLE)"
            " - (CAST(cov_n AS DOUBLE) / CAST(var_n AS DOUBLE))"
            " * CAST(x AS DOUBLE))) AS BIGINT)"
        ).alias("adj_micro"),
    )


# Shared per-item micro-unit fragments (engine-portable: the identical
# text parses in Spark SQL and DuckDB, so the IEEE expression trees
# mirror operand for operand — the collocations_llr pattern).
_ENTROPY_TERM = (
    "CAST(round(CAST(1000000 AS DOUBLE) * (CAST(cnt AS DOUBLE) /"
    " CAST(nn AS DOUBLE)) * ln(CAST(nn AS DOUBLE) / CAST(cnt AS DOUBLE)))"
    " AS BIGINT)"
)
_CHI2_TERM = (
    "CAST(round(CAST(1000000 AS DOUBLE)"
    " * CAST((n_tot * o - r * c) AS DOUBLE)"
    " * CAST((n_tot * o - r * c) AS DOUBLE)"
    " / CAST(n_tot * r * c AS DOUBLE)) AS BIGINT)"
)
# log10(1 + 1/d) in ppm, d = 1..9: universal constants (sum = 10^6
# exactly), hardcoded on BOTH sides so no libm log10 is ever evaluated.
_BENFORD_CASE = (
    "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939"
    " WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947"
    " WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END"
)
_BENFORD_TERM = (
    "CAST(round(CAST((1000000 * n_obs - n_tot * expected_ppm) AS DOUBLE)"
    " * CAST((1000000 * n_obs - n_tot * expected_ppm) AS DOUBLE)"
    " / CAST(n_tot * expected_ppm AS DOUBLE)) AS BIGINT)"
)


def q_bitmap_intersections(spark, sf_dir):
    # Bitmap-index set algebra (r9): pack each event type's distinct
    # user set into 31-bit words, then answer every pairwise
    # |A∩B| / |A∪B| by popcounting ANDed masks on the word axis — a
    # 31x-compressed join instead of a row-level user join
    # (operators/bitmapindex.py).
    from graph_database_spark.operators import bitmapindex as BI

    ev = load_table(spark, sf_dir, "events")
    return BI.bitmap_pair_stats(BI.bitmap_index(ev, "event_type", "user_id"))


def q_benford_audit(spark, sf_dir):
    # Benford first-digit audit (r9): observed leading-digit counts of
    # order totals vs the Benford expectation, with an exact-integer
    # chi-square contribution per digit. Expected probabilities are
    # hardcoded ppm constants on both sides (no libm log10); the one
    # squared double per digit mirrors operand-for-operand.
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    g = (
        d.groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
        .withColumn("n_tot", F.sum("n_obs").over(Window.partitionBy()))
        .withColumn("expected_ppm", F.expr(_BENFORD_CASE).cast("long"))
    )
    # The unpartitioned window runs over the 9-row digit frame only.
    return g.select(
        "digit",
        "n_obs",
        "expected_ppm",
        F.expr(_BENFORD_TERM).alias("chi2_micro"),
    )


def q_chi2_independence(spark, sf_dir):
    # Chi-square independence (r9): event type x 6-hour band
    # contingency table with per-cell chi-square contributions in exact
    # micro units — term = 10^6 * (N*o - r*c)^2 / (N*r*c), integer
    # numerators, one mirrored double division per cell. Windows run
    # over the bounded cell frame (|types| x 4 rows), never raw events.
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select("event_type", F.expr("hour(ts) div 6").alias("band"))
        .groupBy("event_type", "band")
        .agg(F.count("*").alias("o"))
    )
    t = cells.select(
        "event_type",
        "band",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("band")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n_tot"),
    )
    return t.select(
        "event_type",
        "band",
        F.col("o").alias("n_obs"),
        F.expr("(1000000 * r * c) div n_tot").alias("exp_ppm"),
        F.expr(_CHI2_TERM).alias("chi2_micro"),
    )


def q_column_profile(spark, sf_dir):
    # Column profiler (r9): per-column null count, distinct count, mode
    # frequency, and Shannon entropy (per-value micro-snapped terms) of
    # the orders table — the data-quality summary every ingest pipeline
    # runs first. Doubles and dates are banded to injective integer /
    # ISO string forms before grouping so no engine-specific double
    # formatting ever becomes a group key; per-column totals join back
    # as a broadcast 6-row frame (no giant window partition).
    o = load_table(spark, sf_dir, "orders")
    u = o.select(
        F.expr(
            "stack(6,"
            " 'o_orderkey', CAST(o_orderkey AS STRING),"
            " 'o_custkey', CAST(o_custkey AS STRING),"
            " 'o_orderstatus', o_orderstatus,"
            " 'o_totalprice',"
            " CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING),"
            " 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS STRING),"
            " 'o_orderpriority', o_orderpriority) AS (col_name, val)"
        )
    )
    g = u.groupBy("col_name", "val").agg(F.count("*").alias("cnt"))
    tot = g.groupBy("col_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("n_null"),
        F.count("val").alias("n_distinct"),
        F.max(F.when(F.col("val").isNotNull(), F.col("cnt")))
        .cast("long")
        .alias("max_freq"),
    )
    nn = tot.select(
        "col_name", (F.col("n_rows") - F.col("n_null")).alias("nn")
    )
    ent = (
        g.where(F.col("val").isNotNull())
        .join(F.broadcast(nn), "col_name")
        .select("col_name", F.expr(_ENTROPY_TERM).alias("term"))
        .groupBy("col_name")
        .agg(F.sum("term").cast("long").alias("entropy_micro"))
    )
    return tot.join(ent, "col_name").select(
        "col_name", "n_rows", "n_null", "n_distinct", "max_freq",
        "entropy_micro",
    )


def q_naive_bayes_lang(spark, sf_dir):
    # Multinomial Naive Bayes train + predict (r9 continuation,
    # operators/nbayes.py): the supervised-classifier baseline of the
    # corpus-pipeline family — train class priors and Laplace-smoothed
    # token likelihoods on the md5-bucketed 80% split, classify the
    # held-out 20%. Model grid is O(vocab x classes) and broadcast; the
    # only shuffle is the per-(doc, class) micro-unit sum. Every log
    # term snaps to integer micro at the (token, class) grain before
    # summation (CLAUDE.md micro-unit rule), so the argmax is exact on
    # both engines.
    from graph_database_spark.operators.nbayes import nb_predict

    docs = load_table(spark, sf_dir, "documents")
    return nb_predict(docs)


def q_viterbi_paths(spark, sf_dir):
    # Viterbi HMM decode (r9 continuation, operators/viterbi.py): the
    # sequence-labeling primitive — per-user 2-state max-product
    # recursion with data-derived integer-micro emissions and the
    # argmax path carried as a string through ONE JVM aggregate fold
    # (parallel backpointers: no backward pass). The oracle replays
    # the identical recursion as a lockstep recursive CTE — two
    # engines, two control-flow encodings, one integer trace (the
    # ucb_replay verification pattern).
    from graph_database_spark.operators.viterbi import viterbi_decode

    return viterbi_decode(load_table(spark, sf_dir, "events"))


def q_holt_linear(spark, sf_dir):
    # Holt's linear-trend smoothing (r9 continuation): the
    # double-exponential forecasting leg next to events_ewma (single
    # smoothing) and seasonal_decompose — level/trend state over the
    # DENSE per-type daily count series (missing days count 0, so the
    # recurrence is well-defined), alpha=1/5, beta=1/10 as exact
    # integer-micro `div` steps (truncating division agrees across
    # Spark div / DuckDB // / Java). One fold per event type emits the
    # whole (level, trend, one-step forecast) trajectory; the oracle
    # replays the identical recurrence as a lockstep recursive CTE.
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    daily = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            (F.datediff(F.to_date("ts"), F.col("d0")) + 1).alias("day"),
        )
        .agg(F.count("*").alias("y"))
    )
    types = e.select("event_type").distinct()
    span = bounds.select((F.datediff("d1", "d0") + 1).alias("n_days"))
    dense = (
        types.crossJoin(F.broadcast(span))
        .select("event_type", F.explode(F.expr("sequence(1, n_days)")).alias("day"))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("y", F.lit(0)).cast("long").alias("y"),
        )
    )
    packed = dense.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("a")
    )
    step = (
        "struct("
        "(x.y * 1000000 + 4 * (st.l + st.b)) div 5 AS l,"
        " (((x.y * 1000000 + 4 * (st.l + st.b)) div 5) - st.l + 9 * st.b)"
        " div 10 AS b,"
        " concat(st.out, array(struct(x.day AS day,"
        " (x.y * 1000000 + 4 * (st.l + st.b)) div 5 AS level_micro,"
        " (((x.y * 1000000 + 4 * (st.l + st.b)) div 5) - st.l + 9 * st.b)"
        " div 10 AS trend_micro))) AS out)"
    )
    fold = (
        "aggregate(slice(a, 2, greatest(size(a) - 1, 0)),"
        " struct(CAST(element_at(a, 1).y * 1000000 AS BIGINT) AS l,"
        " CAST(0 AS BIGINT) AS b,"
        " array(struct(element_at(a, 1).day AS day,"
        " CAST(element_at(a, 1).y * 1000000 AS BIGINT) AS level_micro,"
        " CAST(0 AS BIGINT) AS trend_micro)) AS out),"
        f" (st, x) -> {step},"
        " st -> st.out)"
    )
    return packed.select(
        "event_type", F.explode(F.expr(fold)).alias("o")
    ).select(
        "event_type",
        F.col("o.day").cast("long").alias("day"),
        F.col("o.level_micro"),
        F.col("o.trend_micro"),
        (F.col("o.level_micro") + F.col("o.trend_micro")).alias(
            "forecast_micro"
        ),
    )


def q_sax_symbols(spark, sf_dir):
    # SAX symbolization (r12): per event type, the daily value series
    # PAA-compressed into 4-day window sums and mapped to a 4-letter
    # alphabet by EQUAL-FREQUENCY rank breakpoints (the deterministic
    # integer variant of SAX's Gaussian breakpoints — no z-normalize,
    # no floats: sym = ((rank-1)*4) div n, rank ties broken by window
    # index). The symbolic word is what motif/discord indexing stores
    # instead of raw series. One dense-series build + two windows over
    # the bounded (types x windows) frame.
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    daily = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            (F.datediff(F.to_date("ts"), F.col("d0")) + 1).alias("day"),
        )
        .agg(
            F.expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
            .alias("cents")
        )
    )
    types = e.select("event_type").distinct()
    span = bounds.select((F.datediff("d1", "d0") + 1).alias("n_days"))
    dense = (
        types.crossJoin(F.broadcast(span))
        .select(
            "event_type", F.explode(F.expr("sequence(1, n_days)")).alias("day")
        )
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    paa = (
        dense.groupBy(
            "event_type", F.expr("(day - 1) div 4").alias("win")
        )
        .agg(F.sum("cents").alias("paa_cents"), F.count("*").alias("nd"))
        .where(F.col("nd") == 4)
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.asc("paa_cents"), F.asc("win")
    )
    wn = Window.partitionBy("event_type")
    sym = (
        paa.withColumn("r", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wn))
        .withColumn("s", F.expr("substring('abcd', ((r - 1) * 4) div n + 1, 1)"))
    )
    return sym.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(win, s))), x -> x.s), '')"
        ).alias("sax_word"),
    )


def q_holt_winters(spark, sf_dir):
    # Holt-Winters ADDITIVE seasonal smoothing (r12), period m=7 over
    # the dense per-type daily counts — the third exponential rung
    # above events_ewma (level) and holt_linear (level+trend): the
    # seasonal state lets the one-step forecast anticipate the weekly
    # cycle instead of lagging it. alpha=1/5, beta=1/10, gamma=1/5 as
    # exact integer-micro truncating divisions (verified: Spark div and
    # DuckDB // both truncate toward zero on negatives, which seasonal
    # deviations produce). Init: l = mean of days 1..7, b = 0, s_i =
    # y_i*1e6 - l. One aggregate-HOF fold per event type carries
    # (l, b, s[7], out); the oracle replays the identical recurrence as
    # a lockstep recursive CTE with seven seasonal columns.
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    daily = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            (F.datediff(F.to_date("ts"), F.col("d0")) + 1).alias("day"),
        )
        .agg(F.count("*").alias("y"))
    )
    types = e.select("event_type").distinct()
    span = bounds.select((F.datediff("d1", "d0") + 1).alias("n_days"))
    dense = (
        types.crossJoin(F.broadcast(span))
        .select(
            "event_type", F.explode(F.expr("sequence(1, n_days)")).alias("day")
        )
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("y", F.lit(0)).cast("long").alias("y"),
        )
    )
    packed = (
        dense.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("day", "y"))).alias("a"))
        .withColumn(
            "l0",
            F.expr(
                "(aggregate(slice(a, 1, 7), 0L, (acc, x) -> acc + x.y)"
                " * 1000000) div 7"
            ),
        )
    )
    s_prev = "element_at(st.s, cast((x.day - 1) % 7 + 1 as int))"
    l_new = f"(x.y * 1000000 - {s_prev} + 4 * (st.l + st.b)) div 5"
    b_new = f"(({l_new}) - st.l + 9 * st.b) div 10"
    s_new = f"(x.y * 1000000 - ({l_new}) + 4 * {s_prev}) div 5"
    s_arr = (
        f"transform(st.s, (v, j) -> CASE WHEN j + 1 = (x.day - 1) % 7 + 1"
        f" THEN {s_new} ELSE v END)"
    )
    fc = f"({l_new}) + ({b_new}) + element_at({s_arr}, cast(x.day % 7 + 1 as int))"
    step = (
        f"named_struct('l', {l_new}, 'b', {b_new}, 's', {s_arr},"
        f" 'out', concat(st.out, array(named_struct("
        f"'day', x.day, 'level_micro', {l_new}, 'trend_micro', {b_new},"
        f" 'seasonal_micro', {s_new}, 'forecast_micro', {fc}))))"
    )
    fold = (
        "aggregate(slice(a, 8, greatest(size(a) - 7, 0)),"
        " named_struct('l', l0, 'b', 0L,"
        " 's', transform(slice(a, 1, 7), x -> x.y * 1000000 - l0),"
        " 'out', CAST(array() AS array<struct<day: int,"
        " level_micro: bigint, trend_micro: bigint,"
        " seasonal_micro: bigint, forecast_micro: bigint>>)),"
        f" (st, x) -> {step},"
        " st -> st.out)"
    )
    return packed.select(
        "event_type", F.explode(F.expr(fold)).alias("o")
    ).select(
        "event_type",
        F.col("o.day").cast("long").alias("day"),
        "o.level_micro",
        "o.trend_micro",
        "o.seasonal_micro",
        "o.forecast_micro",
    )


def q_ndcg_eval(spark, sf_dir):
    # nDCG@10 ranking evaluation (r9 continuation): the graded-relevance
    # metric the retrieval family (BM25/hybrid/PRF) is ultimately judged
    # by — per-brand part rankings by retail price scored against a
    # deterministic graded relevance (p_size mod 4). Each item's DCG
    # gain (2^rel - 1) / log2(rank + 1) snaps to integer micro BEFORE
    # the sum (micro-unit rule: per-item libm, integer aggregation), so
    # DCG/IDCG/nDCG are partition-order-exact. Windows partition by
    # brand — no global sort, scales with the group count.
    p = load_table(spark, sf_dir, "part")
    base = p.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        (F.col("p_size") % 4).cast("long").alias("rel"),
    )
    w_act = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    w_idl = Window.partitionBy("p_brand").orderBy(
        F.col("rel").desc(), F.col("p_partkey").asc()
    )
    gain = (
        "CAST(round(CAST(1000000 AS DOUBLE)"
        " * (pow(CAST(2 AS DOUBLE), CAST(rel AS DOUBLE))"
        " - CAST(1 AS DOUBLE))"
        " * ln(CAST(2 AS DOUBLE)) / ln(CAST(rk + 1 AS DOUBLE)), 0)"
        " AS BIGINT)"
    )
    actual = (
        base.withColumn("rk", F.row_number().over(w_act))
        .where(F.col("rk") <= 10)
        .select("p_brand", F.expr(gain).alias("g"))
        .groupBy("p_brand")
        .agg(F.sum("g").alias("dcg_micro"))
    )
    ideal = (
        base.withColumn("rk", F.row_number().over(w_idl))
        .where(F.col("rk") <= 10)
        .select("p_brand", F.expr(gain).alias("g"))
        .groupBy("p_brand")
        .agg(F.sum("g").alias("idcg_micro"))
    )
    return actual.join(ideal, "p_brand").select(
        F.col("p_brand").alias("brand"),
        "dcg_micro",
        "idcg_micro",
        F.expr("(dcg_micro * 1000000) div idcg_micro").alias("ndcg_ppm"),
    )


def q_rake_keywords(spark, sf_dir):
    # RAKE keyword extraction (r9 continuation): the classic
    # stopword-delimited keyword scorer next to textrank_keywords
    # (graph-based) and collocations_llr (statistical) — candidate
    # phrases are maximal stopword-free token runs (gap-and-island per
    # doc), word score = degree/frequency over corpus-wide phrase
    # occurrences (integer ppm), phrase score = sum of member word
    # scores. Top-20 via orderBy().limit() = TakeOrderedAndProject
    # (distributed top-k, no global sort). The corpus's own articles
    # ('a', 'the') are the stopword set.
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    content = tok.where(~F.col("tok").isin("a", "the"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = content.withColumn("grp", F.col("pos") - F.row_number().over(w))
    ph = isl.groupBy("doc_id", "grp").agg(
        F.count("*").alias("plen"),
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(pos, tok))), s -> s.tok))"
        ).alias("phrase"),
    )
    occ = isl.join(ph.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
    ws = (
        occ.groupBy("tok")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
        .select("tok", F.expr("(deg * 1000000) div freq").alias("wscore"))
    )
    psc = (
        occ.join(F.broadcast(ws), "tok")
        .groupBy("doc_id", "grp")
        .agg(F.sum("wscore").alias("score_micro"))
    )
    return (
        ph.join(psc, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.max("score_micro").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("phrase").asc())
        .limit(20)
    )


def q_cdc_chunks(spark, sf_dir):
    # Content-defined chunking (r9 continuation, operators/cdc.py): the
    # shift-resistant dedup primitive — rolling-hash boundaries over
    # normalized text, evaluated as a fixed W-term dot product inside
    # one JVM HOF per doc (no recursion, no shuffle until the cross-doc
    # group). The oracle computes the identical integer hash with
    # window lags — two engines, two encodings of the same mod-prime
    # arithmetic.
    from graph_database_spark.operators.cdc import cdc_chunks

    return cdc_chunks(load_table(spark, sf_dir, "documents"))


def q_cdc_dedup(spark, sf_dir):
    # Chunk-level dedup census over the CDC boundaries: recurring chunk
    # hashes with copy/doc counts — what shared-boilerplate removal at
    # 100 TB actually keys on. One shuffle on the content hash.
    from graph_database_spark.operators.cdc import cdc_dedup

    return cdc_dedup(load_table(spark, sf_dir, "documents"))


def q_randomized_response(spark, sf_dir):
    # Local-DP randomized response (r9 continuation): the LOCAL privacy
    # counterpart of dp_order_stats' central-DP releases — each event
    # reports its true type with p=3/4, else a uniform category, both
    # decided by seed-prefixed md5 uniforms (deterministic, replayable
    # on both engines; the dp_order_stats noise pattern). The unbiased
    # frequency estimate n_hat = (4*k*obs - N) / (3*k) is an exact
    # rational in micro-units. Category list is a broadcast model;
    # everything else is one grouped count.
    e = load_table(spark, sf_dir, "events")
    types = e.select("event_type").distinct()
    w = Window.orderBy("event_type")  # bounded: |event types| rows
    # idx feeds three joins and k — checkpoint the tiny model frame so
    # the distinct+window build runs once (CLAUDE.md reuse rule; the
    # un-checkpointed form re-derived it per consumer: 17 pre-AQE
    # Exchanges for a 5-row dimension).
    idx = types.select(
        "event_type", (F.row_number().over(w) - 1).alias("idx")
    ).localCheckpoint()
    k = idx.agg(F.count("*").alias("k"))
    coin = F.expr(
        "conv(substr(md5(concat('rr|', CAST(event_id AS STRING))), 1, 15),"
        " 16, 10) % 1000000"
    )
    pick = F.expr(
        "conv(substr(md5(concat('rrpick|', CAST(event_id AS STRING))), 1,"
        " 15), 16, 10)"
    )
    reported = (
        e.join(F.broadcast(idx), "event_type")
        .crossJoin(F.broadcast(k))
        .select(
            F.when(coin < 750000, F.col("idx"))
            .otherwise(pick % F.col("k"))
            .alias("rep_idx")
        )
    )
    obs = (
        reported.groupBy("rep_idx")
        .agg(F.count("*").alias("n_obs"))
        .join(F.broadcast(idx), F.col("rep_idx") == F.col("idx"))
        .select("event_type", "n_obs")
    )
    true_counts = e.groupBy("event_type").agg(F.count("*").alias("n_true"))
    tot = e.agg(F.count("*").alias("n"))
    return (
        true_counts.join(obs, "event_type")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(k))
        .select(
            "event_type",
            "n_true",
            "n_obs",
            F.expr(
                "(1000000 * (4 * k * n_obs - n)) div (3 * k)"
            ).alias("n_hat_micro"),
        )
    )


def q_calibration_bins(spark, sf_dir):
    # Reliability diagram + Brier decomposition (r9 continuation): the
    # calibration diagnostic next to logistic/isotonic_calibration —
    # an intentionally over-binned model (empirical P(purchase) per
    # hour-of-day, trained on an md5-split half of events) scored on
    # the held-out half. On this noise-flat corpus the audit shows the
    # textbook overfit signature: train-rate spread across percent bins
    # collapses to the flat base rate in obs_ppm — the exact failure a
    # reliability diagram exists to expose. Predictions are exact ppm
    # rationals; the Brier term (pred - y)^2 stays integer ppm^2, so
    # every bin statistic is partition-order-exact.
    e = load_table(spark, sf_dir, "events")
    key = F.expr(
        "conv(substr(md5(concat('cal|', CAST(event_id AS STRING))), 1, 4),"
        " 16, 10) % 100"
    )
    base = e.select(
        key.alias("bkt"),
        F.hour("ts").cast("long").alias("band"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    rates = (
        base.where(F.col("bkt") < 50)
        .groupBy("band")
        .agg(
            F.expr("(1000000 * sum(y)) div count(*)").alias("pred_ppm")
        )
    )
    test = base.where(F.col("bkt") >= 50).join(F.broadcast(rates), "band")
    return (
        test.groupBy(F.expr("pred_ppm div 10000").alias("bin"))
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("sum(pred_ppm) div count(*)").alias("mean_pred_ppm"),
            F.expr("(1000000 * sum(y)) div count(*)").alias("obs_ppm"),
            F.expr(
                "sum((pred_ppm - y * 1000000) * (pred_ppm - y * 1000000))"
                " div count(*)"
            ).alias("brier_ppm2"),
        )
    )


def q_ks_drift(spark, sf_dir):
    # Two-sample Kolmogorov-Smirnov drift (r9 continuation): the
    # distribution-level drift gate next to psi_drift's binned form —
    # KS needs no binning choice, so it is the snapshot-vs-snapshot
    # check a corpus refresh runs first. Early orders (pre-1998) vs
    # late; D's numerator max|n2*cumA - n1*cumB| is an exact integer
    # over the merged cents grid, the running sum is the distributed
    # global_prefix_sum (operators/stats_tests.ks_2sample).
    from graph_database_spark.operators import stats_tests as ST

    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        (F.year("o_orderdate") < 1998).cast("int").alias("fl"),
    )
    return ST.ks_2sample(src, "cents", "fl")


def q_mannwhitney_test(spark, sf_dir):
    # Mann-Whitney U rank test (r9 continuation): the nonparametric
    # sibling of ab_test_welch for heavy-tailed metrics — URGENT vs
    # LOW order values. Tie-averaged ranks carried 2-scaled so every
    # statistic (R1, U1, the tie-correction sum t^3-t) is an exact
    # BIGINT; the rank prefix runs on the distributed
    # global_prefix_sum, never a bare ORDER BY window
    # (operators/stats_tests.mannwhitney_u).
    from graph_database_spark.operators import stats_tests as ST

    o = load_table(spark, sf_dir, "orders")
    src = o.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("fl"),
    )
    return ST.mannwhitney_u(src, "cents", "fl")


def q_spearman_nation(spark, sf_dir):
    # Per-nation Spearman rank correlation (r9 continuation): monotone
    # association between a customer's account balance and their total
    # spend, per nation — the rank-based effect readout where Pearson
    # (column_stats) assumes linearity. Within-nation 2-scaled
    # tie-averaged ranks keep (num, dxx, dyy) exact integers; the one
    # sqrt+division pair is IEEE exactly-rounded on both engines and
    # floor-snapped to micro (operators/stats_tests.spearman_grouped).
    from graph_database_spark.operators import stats_tests as ST

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        ).alias("cents")
    )
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(spend, c.c_custkey == spend.o_custkey, "left")
        .select(
            "n_name",
            F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("x"),
            F.coalesce(F.col("cents"), F.lit(0)).cast("long").alias("y"),
        )
    )
    res = ST.spearman_grouped(base, "n_name", "x", "y")
    return res.select(
        F.col("g").alias("n_name"), "n", "num", "dxx", "dyy", "rho_micro"
    )


def q_hilbert_index(spark, sf_dir):
    # Hilbert-curve clustering index (r9 continuation): zorder_index's
    # dims mapped through the Hilbert distance instead of Morton — the
    # strictly-better-locality layout key modern lakehouse clustering
    # uses (every curve step is Manhattan-adjacent, so per-bucket
    # min/max footers are tighter on BOTH dims). The sequential per-bit
    # rotate/reflect loop runs as ONE JVM aggregate-HOF fold
    # (operators/layout.hilbert_expr_spark); the oracle replays it as a
    # generated one-CTE-per-bit chain from the same Python loop.
    from graph_database_spark.operators import layout as LAY

    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        (F.col("o_custkey") % 1024).cast("long").alias("hx"),
        F.expr(
            "least(CAST(1023 AS BIGINT),"
            " CAST(round(o_totalprice * 100) AS BIGINT) div 65536)"
        ).alias("hy"),
    )
    return LAY.hilbert_stats(dims, "hx", "hy")


def q_dsir_selection(spark, sf_dir):
    # DSIR importance selection (r9 continuation): the published
    # Data Selection via Importance Resampling recipe — hashed-bigram
    # bag-of-words models for the English slice (target) vs the whole
    # corpus (raw), each doc scored by its summed bucket log-ratio,
    # top-50 kept. The principled replacement for threshold stacking
    # (quality_rules/corpus_policy); bucket weights are micro-snapped
    # before the per-doc sum (operators/retrieval.dsir_select).
    from graph_database_spark.operators.retrieval import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    return dsir_select(docs, F.col("lang") == "en")


def q_als_factors(spark, sf_dir):
    # Rank-2 ALS user factors (r9 continuation): the trained
    # collaborative-filtering embedding next to item_cf's neighborhood
    # scores — init item factors from md5, then user-solve -> item-solve
    # -> user-solve, every 2x2 ridge system closed-form over
    # mean-normalized integer centi-unit statistics so the whole
    # training loop replays bit-exact in SQL (operators/als.py; the
    # normalization keeps det bounded independent of ratings-per-entity
    # — the arithmetic-range analog of the hot-basket guard).
    from graph_database_spark.operators.als import als_user_factors

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p")
        )
        .agg(
            F.sum(F.expr("CAST(round(l_quantity) AS BIGINT)")).alias("r")
        )
    )
    return als_user_factors(ratings).select(
        F.col("fid").alias("cust"),
        F.col("f1").alias("f1_centi"),
        F.col("f2").alias("f2_centi"),
    )


def q_events_changepoint(spark, sf_dir):
    # Exact mean-shift changepoint per event type (r9 continuation):
    # binary segmentation's base step — the split of the dense hourly
    # series minimizing total SSE, via the division-free integer
    # objective (S_k*n - k*S_n)^2 div (k*(n-k)) over per-type prefix
    # sums. LOCALIZES what events_cusum detects
    # (operators/events.best_mean_shift).
    _utc(spark)
    return E.best_mean_shift(load_table(spark, sf_dir, "events"))


def q_platt_scaling(spark, sf_dir):
    # Platt scaling (r9 continuation): logistic_calibration's Newton
    # loop with Platt's smoothed targets t+ = (N+ + 1)/(N+ + 2) and
    # t- = 1/(N- + 2) — the published score-calibration recipe whose
    # target shrinkage keeps the fitted map off the 0/1 boundary (the
    # MAP-estimate correction the original SVM paper mandates).
    # Targets are exact micro rationals from one bounded 1-row
    # collect; per-round sigmoids micro-snap before the five
    # sufficient sums and the driver float Newton updates mirror the
    # oracle's unrolled CTEs operand-for-operand (the
    # logistic_calibration discipline).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            (F.col("n_chars") - 300).cast("long").alias("zi"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .localCheckpoint()
    )
    c = docs.agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    ).collect()[0]
    npos = int(c["pos"])
    nneg = int(c["n"]) - npos
    tp = ((npos + 1) * 1000000) // (npos + 2)
    tn = 1000000 // (nneg + 2)
    t = (
        F.when(F.col("y") == 1, F.lit(tp))
        .otherwise(F.lit(tn))
        .cast("long")
    )
    w0, w1 = 0.0, 0.0
    for _ in range(_LOGIT_ROUNDS):
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.lit(w0) + F.lit(w1) * F.col("zi").cast("double")))
        )
        pm = F.round(p * F.lit(1000000.0), 0).cast("long")
        wm = F.round(p * (F.lit(1.0) - p) * F.lit(1000000.0), 0).cast(
            "long"
        )
        r = docs.agg(
            F.sum(t - pm).alias("g0"),
            F.sum(F.col("zi") * (t - pm)).alias("g1"),
            F.sum(wm).alias("h00"),
            F.sum(F.col("zi") * wm).alias("h01"),
            F.sum(F.col("zi") * F.col("zi") * wm).alias("h11"),
        ).collect()[0]
        det = float(r["h00"]) * float(r["h11"]) - float(r["h01"]) * float(
            r["h01"]
        )
        w0 = w0 + (
            float(r["h11"]) * float(r["g0"]) - float(r["h01"]) * float(r["g1"])
        ) / det
        w1 = w1 + (
            float(r["h00"]) * float(r["g1"]) - float(r["h01"]) * float(r["g0"])
        ) / det
    return docs.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("pos"),
        F.lit(tp).cast("long").alias("tp_micro"),
        F.lit(tn).cast("long").alias("tn_micro"),
        F.lit(w0).alias("w0"),
        F.lit(w1).alias("w1"),
    )


def q_hashed_features(spark, sf_dir):
    # Feature hashing / hashing trick (r9 continuation): the published
    # signed-hash vectorizer — token -> md5 bucket (64-dim), second
    # hash bit -> +-1 sign so collisions cancel in expectation; cell
    # value = signed term frequency. The fixed-width featurization a
    # streaming/OOV-heavy trainer uses instead of a vocabulary build
    # (no model table at all — the point of the trick at 100 TB).
    # One explode + one combinable groupBy; zero-cancelled cells drop.
    from graph_database_spark.operators.spread import spread

    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    cells = tok.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(concat('fh|', tok)), 1, 15),"
               " 16, 10) AS BIGINT) % 64").alias("bucket"),
        F.expr("1 - 2 * (CAST(conv(substr(md5(concat('fs|', tok)), 1,"
               " 15), 16, 10) AS BIGINT) % 2)").alias("sgn"),
    )
    return (
        cells.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("w"))
        .where(F.col("w") != 0)
    )


def q_cologne_blocks(spark, sf_dir):
    # Cologne-phonetics blocking keys (r9 continuation): the published
    # Koelner Phonetik — soundex_blocks' fourth linkage leg, chosen
    # over NYSIIS/Metaphone because every rule is decidable from the
    # (prev, curr, next) window alone, so the encode is three chained
    # VECTORIZED string passes (digit map, adjacent-dup collapse,
    # zero-strip) with no sequential fold and no rewriting scan —
    # embarrassingly parallel at any scale
    # (operators/linkage.with_cologne).
    from graph_database_spark.operators.linkage import with_cologne

    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("blk", F.element_at(F.split("p_name", " "), -1))
    )
    return with_cologne(names, "blk")


def q_metaphone_blocks(spark, sf_dir):
    # Double Metaphone blocking keys (r10, VERDICT r9 #6): the
    # industry-default English phonetic key (Philips 2000), the fifth
    # linkage leg next to Levenshtein/Jaro-Winkler/Soundex/Cologne.
    # The rule set is NOT window-local (6-char lookahead, 4-char
    # lookbehind, absolute-prefix rules, 1-4 char cursor advances), so
    # per the repo's decision record it is ONE JVM aggregate fold with
    # (cursor, primary, secondary) state whose step applies the full
    # published rule table; the oracle replays the SAME generated rule
    # CASE in a recursive CTE (the soundex_blocks shape) — both engines
    # consume one rule string, so nothing can drift. Canonical
    # published vectors pinned in tests/test_metaphone.py. Per-row
    # string fold, no shuffle — embarrassingly parallel at any scale.
    from graph_database_spark.operators.metaphone import (
        with_double_metaphone,
    )

    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("blk", F.element_at(F.split("p_name", " "), -1))
    )
    return with_double_metaphone(names, "blk")


def q_conformal_intervals(spark, sf_dir):
    # Split-conformal prediction intervals (r9 continuation): the
    # published distribution-free uncertainty recipe — md5 three-way
    # split (train/calibrate/test), a per-priority mean model on the
    # train slice, the ceil((n+1)*0.9)-th smallest absolute calibration
    # residual as the interval half-width, and the empirical coverage
    # audit on the held-out slice. Residuals stay integer cents; the
    # order statistic comes from the distributed global_rank (never a
    # bare ORDER BY window); coverage is an exact ppm rational.
    from graph_database_spark.operators.rank import global_rank

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "conv(substr(md5(concat('cfm|', CAST(o_orderkey AS STRING))),"
            " 1, 4), 16, 10) % 100"
        ).cast("long").alias("bkt"),
    ).localCheckpoint()
    model = (
        o.where(F.col("bkt") < 40)
        .groupBy("o_orderpriority")
        .agg(F.expr("sum(cents) div count(*)").alias("pred_cents"))
    )
    calib = (
        o.where((F.col("bkt") >= 40) & (F.col("bkt") < 70))
        .join(F.broadcast(model), "o_orderpriority")
        .select(
            "o_orderkey",
            F.abs(F.col("cents") - F.col("pred_cents")).alias("res"),
        )
    )
    ranked = global_rank(calib, ["res", "o_orderkey"], out_col="r")
    n_cal = calib.count()
    k = ((n_cal + 1) * 9 + 9) // 10
    qhat = ranked.where(F.col("r") == k).select(
        F.col("res").alias("qhat_cents")
    )
    test = (
        o.where(F.col("bkt") >= 70)
        .join(F.broadcast(model), "o_orderpriority")
        .select(
            F.abs(F.col("cents") - F.col("pred_cents")).alias("res")
        )
    )
    return (
        test.crossJoin(F.broadcast(qhat))
        .agg(
            F.lit(n_cal).cast("long").alias("n_calib"),
            F.count("*").alias("n_test"),
            F.max("qhat_cents").alias("qhat_cents"),
            F.expr(
                "(1000000 * sum(CASE WHEN res <= qhat_cents THEN 1"
                " ELSE 0 END)) div count(*)"
            ).alias("cover_ppm"),
        )
    )


def q_mg_heavy_hitters(spark, sf_dir):
    # Misra-Gries heavy hitters via the mergeable-summaries merge (r10):
    # the DETERMINISTIC counter-based companion of the CMS read path —
    # guarantees est <= true <= est + n/(k+1) with exactly k counters of
    # state, no hash collisions, no randomness. The corpus is split
    # into 30 md5 doc buckets ("days"); each bucket's exact token counts
    # collapse to a valid MG_k summary IN ONE window (counts minus the
    # (k+1)-th largest, clipped: <= k survivors, decrement t_b <=
    # n_b/(k+1) — the canonical bound), and the <= 30*k summary rows
    # fold on the
    # driver in bucket order (markov's bounded-model discipline). The
    # oracle replays every merge round as generated MATERIALIZED CTEs.
    from graph_database_spark.operators.spread import spread

    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
            f" AS BIGINT) % {_MG_BUCKETS}"
        ).alias("bkt"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    counts = tok.groupBy("bkt", "token").agg(F.count("*").alias("c"))
    w = Window.partitionBy("bkt").orderBy(F.desc("c"), "token")
    ranked = counts.withColumn("rnk", F.row_number().over(w)).localCheckpoint()
    tb = ranked.where(F.col("rnk") == _MG_K + 1).select(
        "bkt", F.col("c").alias("t")
    )
    summ = (
        ranked.join(F.broadcast(tb), "bkt", "left")
        .select(
            "bkt",
            "token",
            (F.col("c") - F.coalesce(F.col("t"), F.lit(0))).alias("est"),
        )
        .where(F.col("est") > 0)
        .collect()
    )
    by_bkt: dict[int, dict[str, int]] = {}
    for r in summ:
        by_bkt.setdefault(int(r["bkt"]), {})[r["token"]] = int(r["est"])
    state: dict[str, int] = {}
    for b in range(_MG_BUCKETS):
        state = _mg_merge(state, by_bkt.get(b, {}))
    out = sorted(state.items())
    return spark.createDataFrame(out, "token string, est long")


def q_space_saving_hh(spark, sf_dir):
    # Space-Saving heavy hitters (r11, VERDICT r10 next-#3): the other
    # canonical k-counter next to mg_heavy_hitters — MG decrements all
    # counters (underestimates), Space-Saving evicts the MIN counter and
    # inherits its count (overestimates; est - err <= true <= est, min
    # counter <= n/k). Order-DEPENDENT, so the replayed stream must be
    # deterministic on both engines: the same md5 doc buckets as MG,
    # with the per-(bkt, token) EXACT counts arriving as weighted
    # updates in (bkt, token) order. The stream the fold consumes is
    # bounded by buckets x vocabulary (30 x |tokens|) — a model frame,
    # never the corpus — and the oracle replays every arrival as one
    # recursive-CTE step over the k state rows (the ucb_replay
    # two-encodings pattern; windows inside the recursive member update
    # the whole counter set per step, the kcore-oracle discipline).
    from graph_database_spark.operators.sketches import space_saving_fold
    from graph_database_spark.operators.spread import spread

    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
            f" AS BIGINT) % {_MG_BUCKETS}"
        ).alias("bkt"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    counts = tok.groupBy("bkt", "token").agg(F.count("*").alias("c"))
    arrivals = counts.orderBy("bkt", "token").collect()  # <= buckets*vocab
    state = space_saving_fold(
        ((r["token"], int(r["c"])) for r in arrivals), _MG_K
    )
    out = sorted((t, v[0], v[1]) for t, v in state.items())
    return spark.createDataFrame(out, "token string, est long, err long")


def q_priority_sample(spark, sf_dir):
    # Priority sampling (r11; Duffield-Lund-Thorup 2007, "Priority
    # sampling for estimation of arbitrary subset sums"): the ONE
    # weighted-without-replacement sample every training-data pipeline
    # needs — k items with priorities q_i = w_i / u_i, u_i uniform, kept
    # if q_i is top-k; subset sums are estimated unbiasedly by
    # w_hat = max(w_i, tau) with tau the (k+1)-th priority. The
    # deterministic twin draws u_i from a 40-bit md5 slice, so the
    # priority is the exact integer (w << 40) div (h40 + 1) and both
    # engines rank identically (the docs_hash_sample md5 discipline).
    # Scale shape: priorities are a map-only projection; the ONLY
    # ordering is a TakeOrdered top-(k+1) — no global window ever sees
    # the corpus (the §2.6 distributed-top-k rule). Headroom: w * 2^40
    # needs w < 8.4e6 (order totalprice is ~1e5-1e6 dollars); heavier
    # weights drop to a 30-bit slice (documented knob).
    k = 64
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice) AS BIGINT)").alias("w"),
        F.expr(
            "(CAST(round(o_totalprice) AS BIGINT) * 1099511627776) div"
            " (CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 10),"
            " 16, 10) AS BIGINT) + 1)"
        ).alias("q"),
    )
    # the k+1 survivors feed the rank window, the sample filter, AND
    # tau — checkpoint so the corpus TakeOrdered scan runs once
    # (reuse rule; bounded at k+1 rows).
    top = (
        scored.orderBy(F.desc("q"), F.asc("o_orderkey"))
        .limit(k + 1)
        .localCheckpoint()
    )
    w = Window.orderBy(F.desc("q"), F.asc("o_orderkey"))
    ranked = top.withColumn("rn", F.row_number().over(w))
    tau = ranked.where(F.col("rn") == k + 1).select(
        F.col("q").alias("tq")
    )
    return (
        ranked.where(F.col("rn") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            "o_orderkey",
            "w",
            "q",
            F.greatest("w", "tq").alias("w_hat"),
        )
    )


def q_hopkins_statistic(spark, sf_dir):
    # Hopkins clusterability statistic (r11): BEFORE running kmeans /
    # DBSCAN / SemDeDup pruning, is the embedding space clustered at
    # all? H = sum(u) / (sum(u) + sum(w)) where u = nearest-corpus
    # distance from m SYNTHETIC probes (uniform per-mille components
    # from md5 — deterministic on both engines) and w = nearest-OTHER
    # distance from m md5-sampled REAL points; ~0.5 = unstructured,
    # -> 1 = clustered. Distances are the verified rounded-cosine in
    # exact micro units, so H folds as one integer ratio. Scale shape:
    # both legs are (m x N) broadcast meets + one min-groupBy — m is
    # the cost knob, the corpus is scanned twice.
    m = 32
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    synth = spark.range(m).select(
        F.col("id").alias("j"),
        F.expr(
            "transform(sequence(0, 63), i ->"
            " (CAST(conv(substr(md5(concat(CAST(id AS STRING), '|',"
            " CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2001"
            " - 1000) / CAST(1000.0 AS DOUBLE))"
        ).alias("sv"),
    ).select("j", "sv", l2_norm(F.col("sv")).alias("sn"))
    d_u = (
        corpus.crossJoin(F.broadcast(synth))
        .select(
            "j",
            (
                F.lit(1000000).cast("long")
                - F.expr(
                    "CAST(round(round("
                    " aggregate(zip_with(sv, cv, (x, y) ->"
                    "  CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                    "  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                    " / (sn * cn), 6) * CAST(1000000 AS DOUBLE), 0)"
                    " AS BIGINT)"
                )
            ).alias("d"),
        )
        .groupBy("j")
        .agg(F.min("d").alias("umin"))
    )
    wrnk = Window.orderBy(F.md5(F.col("cid").cast("string")), F.col("cid"))
    probes = (
        corpus.withColumn("rn", F.row_number().over(wrnk))
        .where(F.col("rn") <= m)
        .select(
            F.col("cid").alias("pj"),
            F.col("cv").alias("pv"),
            F.col("cn").alias("pn"),
        )
    )
    d_w = (
        corpus.crossJoin(F.broadcast(probes))
        .where(F.col("cid") != F.col("pj"))
        .select(
            "pj",
            (
                F.lit(1000000).cast("long")
                - F.expr(
                    "CAST(round(round("
                    " aggregate(zip_with(pv, cv, (x, y) ->"
                    "  CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                    "  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                    " / (pn * cn), 6) * CAST(1000000 AS DOUBLE), 0)"
                    " AS BIGINT)"
                )
            ).alias("d"),
        )
        .groupBy("pj")
        .agg(F.min("d").alias("wmin"))
    )
    su = d_u.agg(F.sum("umin").alias("sum_u"))
    sw = d_w.agg(F.sum("wmin").alias("sum_w"))
    return su.crossJoin(F.broadcast(sw)).select(
        F.lit(m).cast("long").alias("m"),
        "sum_u",
        "sum_w",
        F.expr("(sum_u * 1000000) div (sum_u + sum_w)").alias(
            "hopkins_ppm"
        ),
    )


def q_cohens_kappa(spark, sf_dir):
    # Cohen's kappa (r11): chance-corrected agreement between the
    # lang_id predictor and the stored labels — the summary statistic
    # label_confusion's full matrix feeds into. All integer: the
    # confusion cells, both marginals, and
    # kappa_ppm = 1e6 * (N*agree - sum_k row_k*col_k)
    #                div (N^2 - sum_k row_k*col_k),
    # truncation toward zero on BOTH engines even when kappa < 0
    # (verified: DuckDB // and Spark div agree on negatives). Perfect
    # chance agreement (N^2 == pe, a degenerate one-category matrix)
    # is pinned to kappa = 1e6 by convention on both sides. Headroom:
    # the kappa numerator 1e6 * (N*agree - pe) is O(1e6 * N^2), so int64
    # holds only N < ~3e6 docs at full micro resolution (the N^2 term
    # alone would allow 3e9, but the *1e6 scaling dominates; ANSI mode
    # throws rather than wraps past it) — beyond that the documented
    # knob is the hash-sampled kappa. Scale shape: one groupBy to
    # |langs|^2 cells;
    # everything after is marginal-table-sized.
    pred = T.language_id(load_table(spark, sf_dir, "documents")).select(
        "lang", "pred_lang"
    )
    cells = (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # totals + two marginals read it
    )
    rm = cells.groupBy("lang").agg(F.sum("n").alias("rown"))
    cm = cells.groupBy("pred_lang").agg(F.sum("n").alias("coln"))
    pe = (
        rm.join(cm, rm.lang == cm.pred_lang)
        .agg(F.coalesce(F.sum(F.col("rown") * F.col("coln")), F.lit(0)).alias("pv"))
    )
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.sum(
            F.when(F.col("lang") == F.col("pred_lang"), F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("agree"),
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            F.col("nn").alias("n_docs"),
            F.col("agree").alias("n_agree"),
            F.expr("(agree * 1000000) div nn").alias("po_ppm"),
            F.expr("(pv * 1000000) div (nn * nn)").alias("pe_ppm"),
            F.expr(
                "CASE WHEN nn * nn = pv THEN CAST(1000000 AS BIGINT)"
                " ELSE (1000000 * (nn * agree - pv)) div (nn * nn - pv)"
                " END"
            ).alias("kappa_ppm"),
        )
    )


def q_kcenter_coreset(spark, sf_dir):
    # Greedy k-center coreset selection (r11; Gonzalez 1985 2-approx,
    # the selector behind Sener & Savarese active learning and
    # diversity-first data pruning): seed with vector 0, then k-1 times
    # pick the point FARTHEST from the selected set and fold its
    # distances into the running min. Distances are the verified
    # rounded-cosine in exact micro units (d = 1e6 - sim_micro), so the
    # whole trajectory is integer-deterministic; ties break by vec_id.
    # Scale shape: each round is ONE narrow map over the corpus (HOF
    # dot against a broadcast single picked vector) + ONE TakeOrdered
    # argmax — k linear passes, which IS greedy k-center's cost; the
    # state frame (vec_id, mind) is coalesced small and checkpointed
    # per round (the fixpoint state discipline). The oracle replays the
    # rounds over an all-pairs distance CTE (bounded: corpus is the
    # embeddings table; the md5-cosine oracle family already does this
    # meet for embedding_neardup).
    from graph_database_spark.operators.spread import spread

    k = 10
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    emb = spread(emb).localCheckpoint()  # re-joined every round

    def d_micro_to(vec_lit_expr: str):
        # 1e6 - round(round(dot/(na*nb), 6) * 1e6): mirror of the
        # similarity-family expression tree with one side a literal.
        return F.expr(
            "CAST(1000000 AS BIGINT) - CAST(round(round("
            " aggregate(zip_with(embedding, "
            f"{vec_lit_expr}"
            ", (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            "  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            " / (sqrt(aggregate(transform(embedding,"
            "      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            "      CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
            f"  * sqrt(aggregate(transform({vec_lit_expr},"
            "      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            "      CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))), 6)"
            " * CAST(1000000 AS DOUBLE), 0) AS BIGINT)"
        )

    def vec_literal(arr) -> str:
        vals = ", ".join(f"CAST({float(x)!r} AS FLOAT)" for x in arr)
        return f"array({vals})"

    seed_row = emb.where(F.col("vec_id") == 0).collect()[0]
    picked = [(1, 0, 2 * 10**6)]  # seed enters with sentinel coverage
    lit = vec_literal(seed_row["embedding"])
    # ONE checkpoint at the seeded state; the per-round update is a
    # literal-vector select (state-join-STATIC with no join at all), so
    # the lineage grows by one cheap narrow select per round — k
    # re-executions of that chain cost less than k eager checkpoint
    # materializations (measured 20.9 -> ~7 s at sf0.1).
    state = (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", "embedding", d_micro_to(lit).alias("mind"))
        .coalesce(8)
        .localCheckpoint()
    )
    for t in range(2, k + 1):
        far = state.orderBy(
            F.desc("mind"), F.asc("vec_id")
        ).limit(1).collect()[0]
        picked.append((t, int(far["vec_id"]), int(far["mind"])))
        lit = vec_literal(far["embedding"])
        state = state.where(
            F.col("vec_id") != int(far["vec_id"])
        ).select(
            "vec_id",
            "embedding",
            F.least("mind", d_micro_to(lit)).alias("mind"),
        )
    return spark.createDataFrame(
        picked, "sel_rank INT, vec_id BIGINT, cover_micro BIGINT"
    )


def q_label_spreading(spark, sf_dir):
    # Semi-supervised label spreading (r12): a deterministic 25% md5
    # seed set keeps its documents.lang label; everyone else pulls the
    # MODE of their k=10 nearest LSH neighbors' current labels for 2
    # synchronous rounds (ties break on the smaller label string; seeds
    # clamped; pull-only over the directed top-k graph). The
    # label-completion pass a curation pipeline runs when only a slice
    # of the corpus is annotated. Rides the same hash-verified md5 LSH
    # top-k leg as knn_label_noise/lof; each round is one join + one
    # argmax window on the bounded k*N candidate frame.
    emb = load_table(spark, sf_dir, "embeddings")
    lbl = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("vid"), "lang"
    )
    topk = S.lsh_topk(emb, emb, k=10, n_bits=None, n_tables=16).select(
        F.col("query_id").cast("long").alias("q"),
        F.col("cand_id").cast("long").alias("c"),
    ).localCheckpoint()  # both spreading rounds read it
    seeds = lbl.where(
        F.md5(F.col("vid").cast("string")).substr(1, 2) < "40"
    )
    state = seeds.localCheckpoint()
    w = Window.partitionBy("q").orderBy(F.desc("cnt"), F.asc("lang"))
    for _ in range(2):
        votes = (
            topk.join(
                F.broadcast(
                    state.select(F.col("vid").alias("c"), "lang")
                ),
                "c",
            )
            .groupBy("q", "lang")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("q").alias("vid"), "lang")
        )
        newly = votes.join(state.select("vid"), "vid", "left_anti")
        state = state.unionByName(newly).localCheckpoint()
    return (
        emb.select(F.col("vec_id").cast("long").alias("vec_id"))
        .join(
            state.select(F.col("vid").alias("vec_id"), "lang"), "vec_id", "left"
        )
        .join(
            seeds.select(
                F.col("vid").alias("vec_id"), F.lit(1).alias("s")
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("s", F.lit(0)).cast("long").alias("seed"),
            F.coalesce("lang", F.lit("none")).alias("lang_out"),
        )
    )


def q_ann_recall_audit(spark, sf_dir):
    # ANN index quality audit (r12): recall@10 of the md5-LSH top-k
    # against the exact brute-force ranking over the same deterministic
    # query sample (vec_id % 50) — the measurement that justifies (or
    # indicts) an approximate index BEFORE it serves traffic, and the
    # hash-gated closure of the LSH recall-floor pytest. Both legs are
    # already individually hash-verified; this pins their INTERSECTION
    # per query in exact ppm. Scale: the brute leg is bounded by the
    # sample (the documented knob); the LSH leg is the usual bucketed
    # candidate plan.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    true_tk = S.brute_force_topk(queries, emb, k=10).select(
        "query_id", "cand_id"
    )
    appr = S.lsh_topk(
        queries, emb, k=10, n_bits=None, n_tables=16
    ).select("query_id", "cand_id")
    t = true_tk.groupBy("query_id").agg(F.count("*").alias("n_true"))
    a = appr.groupBy("query_id").agg(F.count("*").alias("n_approx"))
    h = (
        true_tk.join(appr, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        t.join(a, "query_id", "left")
        .join(h, "query_id", "left")
        .select(
            "query_id",
            F.col("n_true").cast("long").alias("n_true"),
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.expr(
                "(coalesce(n_hit, 0) * 1000000) div n_true"
            ).cast("long").alias("recall_ppm"),
        )
    )


def q_knn_label_noise(spark, sf_dir):
    # kNN label-noise scoring (r11; the cheap half of confident
    # learning, Northcutt et al.): for every labeled example, the
    # fraction of its k nearest embedding neighbors carrying a
    # DIFFERENT label — the standard first-pass mislabel screen a
    # training-data pipeline runs before handing labels to a model.
    # Labels = documents.lang (doc_id aligns 1:1 with vec_id); the kNN
    # leg is the same hash-verified md5 LSH top-k the lof/knn_graph
    # family rides (bucketed, sub-quadratic, corpus-adaptive width).
    # noise_ppm is an exact integer ratio; no floats anywhere past the
    # verified rounded-cosine ranking.
    emb = load_table(spark, sf_dir, "embeddings")
    lbl = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("vid"), "lang"
    )
    topk = S.lsh_topk(emb, emb, k=10, n_bits=None, n_tables=16)
    e = topk.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("cand_id").cast("long").alias("cand_id"),
    ).join(
        F.broadcast(
            lbl.select(
                F.col("vid").alias("query_id"), F.col("lang").alias("lang_q")
            )
        ),
        "query_id",
    ).join(
        F.broadcast(
            lbl.select(
                F.col("vid").alias("cand_id"), F.col("lang").alias("lang_c")
            )
        ),
        "cand_id",
    )
    return (
        e.groupBy(F.col("query_id").alias("vec_id"), F.col("lang_q").alias("lang"))
        .agg(
            F.count("*").alias("n_nbr"),
            F.sum(
                (F.col("lang_c") != F.col("lang_q")).cast("long")
            ).alias("n_diff"),
        )
        .select(
            "vec_id",
            "lang",
            "n_nbr",
            "n_diff",
            F.expr("(n_diff * 1000000) div n_nbr").alias("noise_ppm"),
        )
    )


def q_mmr_diversify(spark, sf_dir):
    # Maximal Marginal Relevance re-ranking (r11; Carbonell & Goldstein
    # 1998): the diversity step between retrieval and a RAG context
    # window — greedily pick k results maximizing
    # lambda*rel - (1-lambda)*max-sim-to-selected (lambda = 0.7 as the
    # exact integer weights 7/10). Candidate pool = top-32 by the
    # already-hash-verified rounded cosine vs query vector 0
    # (brute_force_topk), pairwise pool sims from cosine_pairs_above —
    # both micro-snapped IN SPARK (round half-up, mirrored in the
    # oracle) so the greedy fold is pure integer arithmetic. The fold
    # itself runs on the driver over the bounded pool (32 rel rows +
    # 496 pair rows — the markov bounded-model discipline); the oracle
    # replays each of the 10 selection rounds as generated MATERIALIZED
    # CTEs. Scale shape: pool selection is the distributed top-k;
    # nothing downstream ever sees the corpus.
    pool_n, k = 32, 10
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0)
    rel = S.brute_force_topk(qv, emb, k=pool_n, max_broadcast_rows=None)
    pool = rel.select(
        "cand_id",
        F.expr(
            "CAST(round(sim * CAST(1000000 AS DOUBLE), 0) AS BIGINT)"
        ).alias("rel_micro"),
        "rank",
    ).collect()  # bounded: pool_n rows
    ids = [int(r["cand_id"]) for r in pool]
    pairs = S.cosine_pairs_above(
        emb.where(F.col("vec_id").isin(ids)), threshold=-2.0
    )
    sim_m: dict[tuple[int, int], int] = {}
    for r in pairs.select(
        "id_a",
        "id_b",
        F.expr(
            "CAST(round(sim * CAST(1000000 AS DOUBLE), 0) AS BIGINT)"
        ).alias("sim_micro"),
    ).collect():  # bounded: pool_n*(pool_n-1)/2 rows
        a, b, s = int(r["id_a"]), int(r["id_b"]), int(r["sim_micro"])
        sim_m[(a, b)] = s
        sim_m[(b, a)] = s
    rel_m = {int(r["cand_id"]): int(r["rel_micro"]) for r in pool}
    first = min(rel_m, key=lambda c: (-rel_m[c], c))
    out = [(1, first, rel_m[first], 7 * rel_m[first])]
    remaining = {c for c in rel_m if c != first}
    maxsim = {c: sim_m.get((c, first), 0) for c in remaining}
    for t in range(2, k + 1):
        pick = min(
            remaining,
            key=lambda c: (-(7 * rel_m[c] - 3 * maxsim[c]), c),
        )
        out.append((t, pick, rel_m[pick], 7 * rel_m[pick] - 3 * maxsim[pick]))
        remaining.discard(pick)
        for c in remaining:
            maxsim[c] = max(maxsim[c], sim_m.get((c, pick), 0))
    return spark.createDataFrame(
        out,
        "sel_rank INT, cand_id BIGINT, rel_micro BIGINT, score_micro BIGINT",
    )


def q_bh_fdr(spark, sf_dir):
    # Benjamini-Hochberg FDR control (r11): the multiple-testing gate
    # every experimentation/drift platform runs over a family of
    # hypotheses. Family here: per language, "is this language's corpus
    # share the uniform 1/L?" — a per-category goodness-of-fit sweep
    # (the corpus is heavily en-skewed, so the family genuinely mixes
    # rejections and acceptances), with a HOEFFDING tail-bound p-value
    # p = min(1, 2*exp(-2 N (x_l/N - 1/L)^2)) — a valid (conservative)
    # p-value needing only exp(), no erf. The shares are snapped to
    # exact ppm integers BEFORE the one libm call, whose output is
    # micro-rounded (the CLAUDE.md micro-unit rule), so ordering and
    # the BH step-up compare p_(i) * m <= i * q_micro are pure integer
    # arithmetic (q = 10%). Scale shape: one groupBy to L language
    # cells + windows over L rows. Headroom: 2 * N * dppm^2 needs
    # N * dppm^2 < 4.6e18 — safe to ~4.6e6 docs at full ppm
    # resolution; beyond that the documented knob is per-mille units.
    docs = load_table(spark, sf_dir, "documents").select("lang")
    cells = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("x_l"))
        .localCheckpoint()  # totals + window both read it
    )
    tot = cells.agg(
        F.sum("x_l").alias("nn"), F.count("*").alias("ll")
    )
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "lang",
        "x_l",
        F.col("nn").alias("n_docs"),
        F.expr(
            "(x_l * 1000000) div nn - 1000000 div ll"
        ).alias("dppm"),
    )
    p = scored.select(
        "lang",
        "x_l",
        "n_docs",
        F.expr(
            "least(CAST(1000000 AS BIGINT), CAST(round("
            " CAST(2000000 AS DOUBLE) * exp("
            "  CAST(-2 * n_docs * dppm * dppm AS DOUBLE)"
            "  / CAST(1000000000000 AS DOUBLE)), 0) AS BIGINT))"
        ).alias("p_micro"),
    )
    wrank = Window.orderBy("p_micro", "lang")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = p.withColumn("bh_rank", F.row_number().over(wrank)).withColumn(
        "m", F.count("*").over(wall)
    )
    return ranked.withColumn(
        "kmax",
        F.max(
            F.when(
                F.col("p_micro") * F.col("m")
                <= F.col("bh_rank") * F.lit(100000),
                F.col("bh_rank"),
            ).otherwise(F.lit(0))
        ).over(wall),
    ).select(
        "lang",
        "x_l",
        "n_docs",
        "p_micro",
        "bh_rank",
        (F.col("bh_rank") <= F.col("kmax")).cast("int").alias("rejected"),
    )


def q_good_turing(spark, sf_dir):
    # Good-Turing frequency smoothing (r9 continuation): the classic
    # count-of-counts estimator over token TRIGRAM types (the 31-word
    # vocabulary makes unigrams/bigrams saturate — trigrams have a
    # genuine rare tail; the CLAUDE.md vocab lesson applied to species
    # counting). For each frequency class r <= 10: N_r and the adjusted
    # count r* = (r+1) * N_{r+1} / N_r in exact micro — the smoothing
    # every held-out LM estimate builds on. Two combinable shuffles
    # (trigram counts, count-of-counts); no windows.
    from graph_database_spark.operators.spread import spread

    docs = load_table(spark, sf_dir, "documents")
    t = spread(docs).select(tokens(F.col("text")).alias("arr"))
    tri = t.select(
        F.explode(
            F.expr(
                "CASE WHEN size(arr) < 3 THEN CAST(array() AS"
                " array<string>) ELSE transform(sequence(1, size(arr)"
                " - 2), i -> concat(element_at(arr, i), ' ',"
                " element_at(arr, i + 1), ' ', element_at(arr, i + 2)))"
                " END"
            )
        ).alias("g")
    )
    counts = tri.groupBy("g").agg(F.count("*").alias("r"))
    # nr feeds both sides of the shifted self-join — checkpoint the
    # count-of-counts (bounded by max frequency) so the trigram scan
    # runs once (reuse rule).
    nr = (
        counts.groupBy("r").agg(F.count("*").alias("n_r")).localCheckpoint()
    )
    nxt = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    return (
        nr.join(nxt, "r", "left")
        .where(F.col("r") <= 10)
        .select(
            "r",
            "n_r",
            F.coalesce(F.col("n_r1"), F.lit(0)).cast("long").alias("n_r1"),
            F.expr(
                "((r + 1) * coalesce(n_r1, 0) * 1000000) div n_r"
            ).alias("rstar_micro"),
        )
    )


def q_shapley_attribution(spark, sf_dir):
    # Shapley-value channel attribution (r9 continuation): the
    # game-theoretic completion of the attribution family
    # (position/time-decay/markov) — the published coalition recipe:
    # v(S) = conversion rate (ppm) of users whose non-purchase channel
    # set is exactly S, phi_c = sum over S not containing c of
    # |S|!(k-|S|-1)! * (v(S+c) - v(S)), divided by k! once at the end.
    # Coalition masks are integer bitmaps; k (channels) is a bounded
    # distinct-collect; every term is exact integer ppm — the
    # truncating final div matches // cross-engine even when negative.
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("event_type")  # bounded: |event types| rows
    chan = (
        ev.where(F.col("event_type") != "purchase")
        .select("event_type")
        .distinct()
        .select(
            "event_type", (F.row_number().over(w) - 1).alias("idx")
        )
        .localCheckpoint()
    )
    k = chan.count()
    um = (
        ev.join(F.broadcast(chan), "event_type")
        .select("user_id", "idx")
        .distinct()
        .groupBy("user_id")
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), idx)")).alias("m"))
    )
    conv = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias("y")
    )
    coal = (
        conv.join(um, "user_id", "left")
        .select(F.coalesce(F.col("m"), F.lit(0)).alias("m"), "y")
        .groupBy("m")
        .agg(F.expr("(1000000 * sum(y)) div count(*)").alias("v_ppm"))
        .localCheckpoint()
    )
    masks = spark.range(1 << k).select(F.col("id").alias("s"))
    pairs = masks.crossJoin(F.broadcast(chan)).where(
        F.expr("(s div shiftleft(CAST(1 AS BIGINT), idx)) % 2 = 0")
    )
    scored = (
        pairs.join(
            F.broadcast(coal.select(F.col("m").alias("s"), F.col("v_ppm").alias("v0"))),
            "s",
            "left",
        )
        .withColumn(
            "s1", F.expr("s + shiftleft(CAST(1 AS BIGINT), idx)")
        )
        .join(
            F.broadcast(
                coal.select(F.col("m").alias("s1"), F.col("v_ppm").alias("v1"))
            ),
            "s1",
            "left",
        )
        .select(
            "event_type",
            "idx",
            F.expr(
                f"factorial(bit_count(s)) * factorial({k} - bit_count(s)"
                " - 1) * (coalesce(v1, 0) - coalesce(v0, 0))"
            ).alias("term"),
        )
    )
    return scored.groupBy("event_type").agg(
        F.expr(f"sum(term) div factorial({k})").alias("phi_ppm")
    )


def q_ipw_effect(spark, sf_dir):
    # Inverse-propensity-weighted treatment effect (r9 continuation):
    # the propensity-weighting leg of the causal family (diff_in_diff
    # removes time confounding, cuped removes pre-period variance —
    # IPW removes OBSERVED covariate confounding). Propensity
    # P(urgent | order-year) fitted with the 4-round Newton loop
    # (driver floats mirrored operand-for-operand in the unrolled
    # oracle); per-row Hajek weights micro-snapped BEFORE the four
    # sufficient sums, outcome in whole DOLLARS (the ols_price_model
    # overflow lesson); the two means and the ATE are chains of exact
    # IEEE ops over identical integers.
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") - 1998).cast("long").alias("zi"),
            (F.col("o_orderpriority") == "1-URGENT")
            .cast("long")
            .alias("y"),
            F.expr("CAST(round(o_totalprice) AS BIGINT)").alias("val"),
        )
        .localCheckpoint()
    )
    w0, w1 = 0.0, 0.0
    for _ in range(_LOGIT_ROUNDS):
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.lit(w0) + F.lit(w1) * F.col("zi").cast("double")))
        )
        pm = F.round(p * F.lit(1000000.0), 0).cast("long")
        wm = F.round(p * (F.lit(1.0) - p) * F.lit(1000000.0), 0).cast(
            "long"
        )
        r = o.agg(
            F.sum(F.col("y") * 1000000 - pm).alias("g0"),
            F.sum(F.col("zi") * (F.col("y") * 1000000 - pm)).alias("g1"),
            F.sum(wm).alias("h00"),
            F.sum(F.col("zi") * wm).alias("h01"),
            F.sum(F.col("zi") * F.col("zi") * wm).alias("h11"),
        ).collect()[0]
        det = float(r["h00"]) * float(r["h11"]) - float(r["h01"]) * float(
            r["h01"]
        )
        w0 = w0 + (
            float(r["h11"]) * float(r["g0"]) - float(r["h01"]) * float(r["g1"])
        ) / det
        w1 = w1 + (
            float(r["h00"]) * float(r["g1"]) - float(r["h01"]) * float(r["g0"])
        ) / det
    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.lit(w0) + F.lit(w1) * F.col("zi").cast("double")))
    )
    wt = (
        F.when(
            F.col("y") == 1, F.round(F.lit(1000000.0) / p, 0)
        )
        .otherwise(F.round(F.lit(1000000.0) / (F.lit(1.0) - p), 0))
        .cast("long")
    )
    return o.agg(
        F.count("*").alias("n"),
        F.lit(w0).alias("pw0"),
        F.lit(w1).alias("pw1"),
        F.sum(F.col("y") * wt * F.col("val")).alias("s1"),
        F.sum(F.col("y") * wt).alias("d1"),
        F.sum((1 - F.col("y")) * wt * F.col("val")).alias("s0"),
        F.sum((1 - F.col("y")) * wt).alias("d0"),
    ).select(
        "n",
        "pw0",
        "pw1",
        "s1",
        "d1",
        "s0",
        "d0",
        F.expr(
            "CAST(s1 AS DOUBLE) / CAST(d1 AS DOUBLE)"
            " - CAST(s0 AS DOUBLE) / CAST(d0 AS DOUBLE)"
        ).alias("ate_dollars"),
    )


def q_propensity_matching(spark, sf_dir):
    # Propensity-score matching with a caliper (r10, VERDICT r9 #5):
    # the most-used causal tool, completing the family next to
    # ipw_effect (weighting), diff_in_diff (time), cuped (variance).
    # Question: does the BUILDING market segment spend differently,
    # controlling for account balance? Propensity P(BUILDING | balance
    # bucket) is fitted with the same 4-round Newton driver-float loop
    # as ipw_effect (oracle replays it operand-for-operand); each
    # treated bucket is matched to the NEAREST control bucket by
    # micro-snapped propensity (ties: all equidistant control cells
    # pool), within a 0.05 caliper (50000 ppm); the readout is the ATT
    # over matched cells.
    #
    # Scale shape: the covariate is a balance bucket (round(acctbal)
    # div 100), so the match universe is bounded by the BALANCE RANGE
    # (~110 cells at any corpus size), never the corpus — the
    # cell-vs-cell distance join is a broadcast of two tiny aggregates.
    # Outcome = whole-dollar spend summed per customer as exact
    # integers; headroom: 1e6 * (dollar sum per cell) must fit int64 —
    # safe to ~9.2e12 dollars per cell. ATT division truncates toward
    # zero in BOTH engines (Spark div / DuckDB //).
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("CAST(round(c_acctbal) AS BIGINT) div 100").alias("zi"),
        (F.col("c_mktsegment") == "BUILDING").cast("long").alias("y"),
    )
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.expr("sum(CAST(round(o_totalprice) AS BIGINT))").alias("sp"))
    )
    d = (
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            "zi", "y", F.coalesce(F.col("sp"), F.lit(0)).alias("val")
        )
        .localCheckpoint()
    )
    w0, w1 = 0.0, 0.0
    for _ in range(_LOGIT_ROUNDS):
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.lit(w0) + F.lit(w1) * F.col("zi").cast("double")))
        )
        pm = F.round(p * F.lit(1000000.0), 0).cast("long")
        wm = F.round(p * (F.lit(1.0) - p) * F.lit(1000000.0), 0).cast(
            "long"
        )
        r = d.agg(
            F.sum(F.col("y") * 1000000 - pm).alias("g0"),
            F.sum(F.col("zi") * (F.col("y") * 1000000 - pm)).alias("g1"),
            F.sum(wm).alias("h00"),
            F.sum(F.col("zi") * wm).alias("h01"),
            F.sum(F.col("zi") * F.col("zi") * wm).alias("h11"),
        ).collect()[0]
        det = float(r["h00"]) * float(r["h11"]) - float(r["h01"]) * float(
            r["h01"]
        )
        w0 = w0 + (
            float(r["h11"]) * float(r["g0"]) - float(r["h01"]) * float(r["g1"])
        ) / det
        w1 = w1 + (
            float(r["h00"]) * float(r["g1"]) - float(r["h01"]) * float(r["g0"])
        ) / det
    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.lit(w0) + F.lit(w1) * F.col("zi").cast("double")))
    )
    scored = d.select(
        "y", "val", F.round(p * F.lit(1000000.0), 0).cast("long").alias("pm")
    ).localCheckpoint()
    tg = scored.where(F.col("y") == 1).groupBy("pm").agg(
        F.count("*").alias("n_t"), F.sum("val").alias("sv_t")
    )
    cg = scored.where(F.col("y") == 0).groupBy(
        F.col("pm").alias("pm_c")
    ).agg(F.count("*").alias("n_c"), F.sum("val").alias("sv_c"))
    # cand feeds both the per-cell min-distance aggregate and the match
    # join (reuse rule) — bounded by treated-cells x control-cells.
    cand = tg.crossJoin(F.broadcast(cg)).select(
        "pm",
        "n_t",
        "sv_t",
        "n_c",
        "sv_c",
        F.abs(F.col("pm") - F.col("pm_c")).alias("dist"),
    ).localCheckpoint()
    dm = cand.groupBy(F.col("pm").alias("pm_d")).agg(
        F.min("dist").alias("dmin")
    )
    mt = (
        cand.join(
            F.broadcast(dm),
            (F.col("pm") == F.col("pm_d")) & (F.col("dist") == F.col("dmin")),
        )
        .groupBy("pm")
        .agg(
            F.max("n_t").alias("n_t"),
            F.max("sv_t").alias("sv_t"),
            F.sum("n_c").alias("cn"),
            F.sum("sv_c").alias("csv"),
            F.max("dmin").alias("dmin"),
        )
        .where(F.col("dmin") <= 50000)
        .select(
            "n_t",
            "sv_t",
            F.expr("(2 * 1000000 * csv + cn) div (2 * cn)").alias(
                "avg_c_micro"
            ),
        )
    )
    totals = tg.agg(F.sum("n_t").alias("n_treated"))
    return (
        mt.agg(
            F.sum("n_t").alias("n_matched"),
            F.expr(
                "sum(sv_t * 1000000 - n_t * avg_c_micro) div sum(n_t)"
            ).alias("att_micro"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_treated",
            "n_matched",
            F.lit(w0).alias("pw0"),
            F.lit(w1).alias("pw1"),
            "att_micro",
        )
        # Degenerate no-match symmetry (ADVICE r10): with zero treated
        # cells inside the caliper, the global agg yields one all-NULL
        # row while the oracle's `FROM ok ... GROUP BY` yields zero
        # rows. Filter the NULL row so both engines report empty.
        .where(F.col("n_matched").isNotNull())
    )


# Synthetic-control fit geometry shared by q_synthetic_control and its
# oracle builder: Frank-Wolfe rounds, the treated unit, and the
# pre/post cutoff month (1996-01 in year*12+month-1 encoding).
_SC_ITERS = 12
_SC_TREATED = 0
_SC_CUT_M = 1996 * 12


def q_synthetic_control(spark, sf_dir):
    # Synthetic control (r11, VERDICT r10 next-#4 — completes the
    # causal family next to ipw_effect / diff_in_diff / cuped /
    # propensity_matching / uplift / shapley): which weighted blend of
    # donor nations best reproduces the treated nation's PRE-period
    # monthly revenue, and what does that synthetic twin say the
    # POST-period effect is (Abadie & Gardeazabal 2003 shape).
    #
    # The simplex-constrained least-squares fit runs as FRANK-WOLFE in
    # exact integer PPM weights — the kfold_cv sufficient-stats idiom
    # applied to a constrained fit: ONE distributed pass builds the
    # donor x donor Gram A = X X^T and b = X y over pre-period monthly
    # k$ revenue (bounded: |donors|^2 x months products, <= 576 cells
    # at any corpus size), then 12 deterministic driver rounds over the
    # 24-weight vector:
    #   g_t   = A w_t - b * 1e6            (integer gradient, PPM scale)
    #   s_t   = argmin_d (g_t[d], d)       (FW vertex, ties by key)
    #   gamma = 2e6 div (t + 2)            (the canonical 2/(t+2) step)
    #   w'    = w - (gamma * w) div 1e6, then w'[s] += 1e6 - sum(w')
    # The floor-div shrink + residual reassignment keeps sum(w) == 1e6
    # EXACTLY every round, so the whole trajectory is integer and the
    # oracle replays it operand-for-operand as generated MATERIALIZED
    # CTEs (the mg_heavy_hitters round-replay discipline). Effect
    # readout in micro-dollars: eff = post_treated$ * 1e6 -
    # sum_d w_ppm[d] * post_donor$[d].
    #
    # Headroom: k$ revenue quantization keeps A*w under 2^63 through
    # ~1e8 k$ of monthly per-nation revenue; past that (extreme scale)
    # the documented knob is coarser units (M$), the ks_drift
    # branch-switch discipline.
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cal = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_nationkey").cast("long").alias("nk"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("m"),
            F.expr("CAST(round(o_totalprice) AS BIGINT)").alias("d"),
        )
        .groupBy("nk", "m")
        .agg(F.sum("d").alias("rev"))
        .select("nk", "m", "rev", F.expr("rev div 1000").alias("rk"))
        .localCheckpoint()
    )
    dpre = cal.where(
        (F.col("nk") != _SC_TREATED) & (F.col("m") < _SC_CUT_M)
    ).select("nk", "m", "rk")
    tpre = cal.where(
        (F.col("nk") == _SC_TREATED) & (F.col("m") < _SC_CUT_M)
    ).select("m", F.col("rk").alias("rt"))
    a, bb = dpre.alias("a"), dpre.alias("b")
    gram = (
        a.join(bb, "m")
        .groupBy(
            F.col("a.nk").alias("nk_a"), F.col("b.nk").alias("nk_b")
        )
        .agg(F.sum(F.col("a.rk") * F.col("b.rk")).alias("g"))
        .collect()
    )  # bounded: <= |donors|^2 cells
    bvec = (
        dpre.join(tpre, "m")
        .groupBy("nk")
        .agg(F.sum(F.col("rk") * F.col("rt")).alias("bv"))
        .collect()
    )  # bounded: <= |donors| cells
    A = {(int(r["nk_a"]), int(r["nk_b"])): int(r["g"]) for r in gram}
    b = {int(r["nk"]): int(r["bv"]) for r in bvec}
    donors = sorted({nk for nk, _ in A})
    n = len(donors)
    base = 10**6 // n
    w = {d: base for d in donors}
    w[donors[0]] += 10**6 - base * n
    for t in range(_SC_ITERS):
        g = {
            d: sum(A.get((d, e), 0) * w[e] for e in donors)
            - b.get(d, 0) * 10**6
            for d in donors
        }
        s = min(donors, key=lambda d: (g[d], d))
        gamma = 2 * 10**6 // (t + 2)
        w = {d: w[d] - (gamma * w[d]) // 10**6 for d in donors}
        w[s] += 10**6 - sum(w.values())
    post = {
        int(r["nk"]): int(r["pr"])
        for r in cal.where(F.col("m") >= _SC_CUT_M)
        .groupBy("nk")
        .agg(F.sum("rev").alias("pr"))
        .collect()
    }  # bounded: one row per nation
    synth_micro = sum(w[d] * post.get(d, 0) for d in donors)
    eff = post.get(_SC_TREATED, 0) * 10**6 - synth_micro
    out = [(d, w[d], eff) for d in donors]
    return spark.createDataFrame(
        out, "nk BIGINT, w_ppm BIGINT, eff_micro BIGINT"
    )


def q_wl_refinement(spark, sf_dir):
    # Weisfeiler-Leman color refinement (r9 continuation): 2 rounds of
    # the published 1-WL iteration — color' = md5(own color | sorted
    # neighbor-color multiset) from degree init — the graph-isomorphism
    # fingerprint (and the exact expressiveness ceiling of
    # message-passing GNNs, which is why a graph-data pipeline wants
    # it precomputed). md5 keeps colors fixed-width across rounds so
    # state never grows; one keyed shuffle per round; the oracle
    # unrolls both rounds with ORDER BY string_agg (binary collation
    # matches sort_array on both engines).
    from graph_database_spark.plans.copurchase import symmetrize

    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    sym = symmetrize(edges).localCheckpoint()
    cur = (
        sym.groupBy(F.col("v").alias("id"))
        .agg(F.count("*").alias("d"))
        .select("id", F.col("d").cast("string").alias("c"))
    )
    for _ in range(2):
        nbr = cur.select(
            F.col("id").alias("n"), F.col("c").alias("nc")
        )
        own = cur.select(F.col("id").alias("v"), F.col("c").alias("oc"))
        cur = (
            sym.join(nbr, "n")
            .groupBy("v")
            .agg(
                F.expr(
                    "array_join(sort_array(collect_list(nc)), ',')"
                ).alias("ns")
            )
            .join(own, "v")
            .select(
                F.col("v").alias("id"),
                F.md5(F.concat(F.col("oc"), F.lit("|"), F.col("ns"))).alias(
                    "c"
                ),
            )
            .localCheckpoint()
        )
    return cur.select("id", F.col("c").alias("wl_color"))


def q_jl_projection(spark, sf_dir):
    # Johnson-Lindenstrauss sign projection (r9 continuation): the
    # published database-friendly random projection — embeddings
    # micro-snapped to integers, then multiplied by a deterministic
    # md5-seeded +-1 matrix (generated once in Python, inlined as ONE
    # literal array on BOTH engines — the CLAUDE.md literal-array
    # rule), giving 64 -> 16 dims with exact BIGINT arithmetic. The
    # dimensionality-reduction step LSH/IVF pipelines run before
    # indexing when the raw dim is large.
    import hashlib

    from graph_database_spark.operators.spread import spread

    signs = []
    for j in range(16):
        for i in range(64):
            h = hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()
            signs.append(1 if int(h[:8], 16) % 2 == 0 else -1)
    sm = "array(" + ",".join(str(s) for s in signs) + ")"
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        spread(emb)
        .select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
                " * 1000000, 0) AS BIGINT))"
            ).alias("q"),
        )
        .withColumn("sm", F.expr(sm))
    )
    ex = q.select(
        "vec_id",
        "q",
        "sm",
        F.explode(F.expr("sequence(0, 15)")).alias("j"),
    )
    return ex.select(
        "vec_id",
        F.col("j").cast("long").alias("j"),
        F.expr(
            "aggregate(sequence(1, 64), CAST(0 AS BIGINT),"
            " (acc, i) -> acc + element_at(sm, j * 64 + i)"
            " * element_at(q, i))"
        ).alias("proj_micro"),
    )


def q_mrr_eval(spark, sf_dir):
    # Mean-reciprocal-rank eval (r9 continuation): ndcg_eval's ranking
    # construction (per-brand price ranking, graded relevance p_size%4)
    # scored by the OTHER standard IR metric — the rank of the FIRST
    # highly-relevant item (rel >= 2). 1/rank is an exact micro
    # rational; per-brand windows are bounded by brand group size.
    p = load_table(spark, sf_dir, "part")
    base = p.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        (F.col("p_size") % 4).cast("long").alias("rel"),
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    ranked = base.withColumn("rk", F.row_number().over(w).cast("long"))
    return (
        ranked.where(F.col("rel") >= 2)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.min("rk").alias("first_rel_rank"))
        .select(
            "brand",
            "first_rel_rank",
            F.expr("1000000 div first_rel_rank").alias("rr_micro"),
        )
    )


def q_gram_power_iteration(spark, sf_dir):
    # Power iteration on a feature Gram matrix (r9 continuation): 3
    # exact-integer matrix-vector rounds over G = X^T X of lineitem's
    # four numeric features (qty units, price dollars, discount%,
    # tax%) — a spectrum with a ~1e7 eigengap, so three rounds
    # CONVERGE (cosine 0.9999999 vs numpy eigh; the embeddings table's
    # near-flat random spectrum was deliberately rejected — power
    # iteration contracts by lambda2/lambda1 per round). G is rescaled
    # ~1e6 via one truncating div so w = G v stays in int64 at any row
    # count; v renormalizes to max|v| = 1000 milli per round (max is
    # order-independent); the final multiply's raw w rides along as
    # the discriminating magnitude column. Oracle unrolls all rounds.
    li = load_table(spark, sf_dir, "lineitem")
    xv = (
        li.select(
            F.expr(
                "CAST(l_orderkey * 8 + l_linenumber AS BIGINT)"
            ).alias("rid"),
            F.explode(
                F.expr(
                    "array("
                    " named_struct('i', 1, 'xi',"
                    "   CAST(round(l_quantity) AS BIGINT)),"
                    " named_struct('i', 2, 'xi',"
                    "   CAST(round(l_extendedprice) AS BIGINT)),"
                    " named_struct('i', 3, 'xi',"
                    "   CAST(round(l_discount * 100) AS BIGINT)),"
                    " named_struct('i', 4, 'xi',"
                    "   CAST(round(l_tax * 100) AS BIGINT)))"
                )
            ).alias("e"),
        )
        .select("rid", F.col("e.i").alias("i"), F.col("e.xi").alias("xi"))
        .localCheckpoint()
    )
    g = (
        xv.alias("a")
        .join(xv.alias("b"), "rid")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.expr("sum(a.xi * b.xi) div 1000000").alias("gs"))
        .localCheckpoint()
    )
    v = spark.range(1, 5).select(
        F.col("id").cast("long").alias("j"),
        F.lit(1000).cast("long").alias("vj"),
    )
    w = None
    for _ in range(3):
        w = (
            g.join(F.broadcast(v), "j")
            .groupBy(F.col("i"))
            .agg(F.sum(F.col("gs") * F.col("vj")).alias("wi"))
            .localCheckpoint()
        )
        mx = w.agg(F.max(F.abs(F.col("wi"))).alias("m"))
        v = w.crossJoin(F.broadcast(mx)).select(
            F.col("i").alias("j"),
            F.expr("(1000 * wi) div m").alias("vj"),
        )
    return (
        v.join(w.select(F.col("i").alias("j"), "wi"), "j")
        .select(
            F.col("j").alias("dim"),
            F.col("vj").alias("v_milli"),
            F.col("wi").alias("w_last"),
        )
    )


def q_bm25_indexed(spark, sf_dir):
    # Index-backed BM25 (r9 continuation): build the persisted
    # inverted index (sinks/text_index.py — bucketed postings, df
    # table, stats manifest), then answer the SAME query bm25_search
    # answers by refitting — and hash-verify against the SAME oracle,
    # making the build->probe lifecycle itself externally verified
    # (the ann_ivf_md5 philosophy applied to text). The probe plan
    # scans only the query terms' buckets: no tokenize, no
    # corpus-wide shuffle (pytest-pinned <= 2 Exchanges).
    import tempfile
    import uuid

    from graph_database_spark.sinks.text_index import (
        build_text_index,
        probe_text_index,
    )

    tag = uuid.uuid4().hex[:12]
    path = tempfile.mkdtemp(prefix=f"bm25idx_{tag}_")
    build_text_index(
        load_table(spark, sf_dir, "documents"), f"bm25_idx_{tag}", path
    )
    return probe_text_index(spark, path, BM25_QUERY)


def _ransac_models(n_models: int = 32):
    # Per-model universal-hash constants (a*h31 + b) mod p over ONE
    # md5-derived 31-bit row hash — md5 per (row, model) was the r9
    # bench's slowest query (43.8 s: 38M md5 calls); the hash family
    # costs two integer ops per pair instead (BENCH: 43.8 -> ~3 s).
    import hashlib

    p = 2147483647
    out = []
    for m in range(n_models):
        def h(tag):
            return int(
                hashlib.md5(f"{tag}|{m}".encode()).hexdigest()[:8], 16
            )

        out.append(
            (
                m,
                h("ra") % (p - 1) + 1,
                h("rb") % p,
                h("rc") % (p - 1) + 1,
                h("rd") % p,
            )
        )
    return out


def q_ransac_line(spark, sf_dir):
    # RANSAC robust line fit (r9 continuation): 32 candidate models,
    # each defined by two hash-argmin-sampled points (no ranks, no RNG
    # state — candidate m's anchors minimize a per-model universal
    # hash of ONE md5 row digest; the digest includes the (x, y)
    # payload because lineitem rows are NOT unique, and it rides
    # inside the min-struct so any key tie still returns an identical
    # payload on both engines), scored by EXACT integer inlier tests:
    # |(y-y1)*dx - dy*(x-x1)| <= tol*|dx| cross-multiplies the
    # point-to-line residual so no division ever happens. The robust
    # complement of ols_price_model (mean) and theil_sen_trend
    # (median): RANSAC survives gross outliers both distort.
    from graph_database_spark.operators.spread import spread

    li = load_table(spark, sf_dir, "lineitem")
    # spread: the 32x model fan-out runs per input partition, and the
    # parquet scan arrives in a handful of file partitions (CLAUDE.md
    # small-scan rule) — without it the 19M-row candidate stage ran
    # 3-wide (measured 12.2 -> ~3 s warm).
    pts = spread(li).select(
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("x"),
        F.expr("CAST(round(l_extendedprice) AS BIGINT)").alias("y"),
        F.expr(
            "md5(concat(CAST(l_orderkey * 8 + l_linenumber AS STRING),"
            " '|', CAST(CAST(round(l_quantity) AS BIGINT) AS STRING),"
            " '|', CAST(CAST(round(l_extendedprice) AS BIGINT)"
            " AS STRING)))"
        ).alias("h0"),
    ).withColumn(
        "h31",
        F.expr(
            "CAST(conv(substr(h0, 1, 8), 16, 10) AS BIGINT)"
            " % 2147483647"
        ),
    ).localCheckpoint()
    models = spark.createDataFrame(
        _ransac_models(), "m long, a1 long, b1 long, a2 long, b2 long"
    )
    cand = pts.crossJoin(F.broadcast(models)).select(
        "m",
        "x",
        "y",
        "h0",
        F.expr("(a1 * h31 + b1) % 2147483647").alias("k1"),
        F.expr("(a2 * h31 + b2) % 2147483647").alias("k2"),
    )
    sel = cand.groupBy("m").agg(
        F.expr(
            "min(named_struct('k', k1, 'h', h0, 'x', x, 'y', y))"
        ).alias("s1"),
        F.expr(
            "min(named_struct('k', k2, 'h', h0, 'x', x, 'y', y))"
        ).alias("s2"),
    ).select(
        "m",
        F.col("s1.x").alias("x1"),
        F.col("s1.y").alias("y1"),
        F.col("s2.x").alias("x2"),
        F.col("s2.y").alias("y2"),
    )
    mod = sel.where(F.col("x2") != F.col("x1")).select(
        "m",
        "x1",
        "y1",
        "x2",
        "y2",
        (F.col("x2") - F.col("x1")).alias("dx"),
        (F.col("y2") - F.col("y1")).alias("dy"),
    )
    cnt = (
        pts.crossJoin(F.broadcast(mod))
        .where(
            F.expr(
                "abs((y - y1) * dx - dy * (x - x1)) <= 5000 * abs(dx)"
            )
        )
        .groupBy("m", "x1", "y1", "x2", "y2", "dx", "dy")
        .agg(F.count("*").alias("n_inliers"))
    )
    return (
        cnt.orderBy(F.desc("n_inliers"), F.asc("m"))
        .limit(1)
        .select(
            "m",
            "n_inliers",
            "x1",
            "y1",
            "x2",
            "y2",
            F.expr("(1000000 * dy) div dx").alias("slope_micro"),
        )
    )


def q_band_join_pairs(spark, sf_dir):
    # Bucketed band join (r9 continuation): ALL (view, purchase) pairs
    # by the same user within +-30 minutes — the generic
    # range-predicate join pattern (events_asof_order is the
    # first-match special case). The interval predicate becomes ONE
    # equi-join: purchases keep their 30-min cell, views explode to
    # {cell-1, cell, cell+1}, so each true pair meets exactly once and
    # the residual |dt| filter runs row-local — no inequality-only
    # join, no quadratic meet (cell occupancy bounds the fan-in).
    # Timestamps compare in exact integer MICROSECONDS (epoch_us /
    # unix_micros — double-seconds epoch would round differently
    # cross-engine). Output: signed 5-minute-band histogram.
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("tp"),
        F.expr("unix_micros(ts) div 1800000000").alias("cell"),
    )
    v = e.where(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros("ts").alias("tv"),
        F.explode(
            F.expr(
                "array(unix_micros(ts) div 1800000000 - 1,"
                " unix_micros(ts) div 1800000000,"
                " unix_micros(ts) div 1800000000 + 1)"
            )
        ).alias("cell"),
    )
    j = v.join(p, ["user_id", "cell"]).where(
        F.abs(F.col("tp") - F.col("tv")) <= 1_800_000_000
    )
    return (
        j.groupBy(
            F.expr(
                "(tp - tv + 1800000000) div 300000000"
            ).alias("band")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_em_gmm(spark, sf_dir):
    # EM for a 2-component homoscedastic Gaussian mixture over document
    # lengths (r9 continuation): the unsupervised counterpart of the
    # Newton family — 3 full E/M rounds with per-row responsibilities
    # computed via the max-shift trick (exponent <= 0, so no 0/0
    # underflow), milli-snapped BEFORE the three sufficient sums (the
    # complement sums derive from the global moments, computed once).
    # Driver float M-steps mirror the oracle's unrolled CTEs
    # operand-for-operand, parenthesized identically — every mu/w/var
    # is the same double on both engines (the logistic_calibration
    # discipline applied to EM).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("n_chars").cast("long").alias("xi"),
            F.col("n_chars").cast("double").alias("xd"),
        )
        .localCheckpoint()
    )
    gl = docs.agg(
        F.count("*").alias("n"),
        F.sum("xi").alias("sx"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
    ).collect()[0]
    gn, gsx, gsxx = int(gl["n"]), int(gl["sx"]), int(gl["sxx"])
    mu1, mu2, var, w1, w2 = 200.0, 400.0, 10000.0, 0.5, 0.5
    for _ in range(3):
        x = F.col("xd")
        d1 = (x - F.lit(mu1)) * (x - F.lit(mu1))
        d2 = (x - F.lit(mu2)) * (x - F.lit(mu2))
        dm = F.least(d1, d2)
        e1 = F.lit(w1) * F.exp(-((d1 - dm) / (F.lit(2.0) * F.lit(var))))
        e2 = F.lit(w2) * F.exp(-((d2 - dm) / (F.lit(2.0) * F.lit(var))))
        rm = F.round(e1 / (e1 + e2) * F.lit(1000.0), 0).cast("long")
        s = docs.agg(
            F.sum(rm).alias("n1"),
            F.sum(rm * F.col("xi")).alias("sx1"),
            F.sum(rm * F.col("xi") * F.col("xi")).alias("sxx1"),
        ).collect()[0]
        n1, sx1, sxx1 = int(s["n1"]), int(s["sx1"]), int(s["sxx1"])
        n2 = 1000 * gn - n1
        sx2 = 1000 * gsx - sx1
        sxx2 = 1000 * gsxx - sxx1
        n1f, sx1f, sxx1f = float(n1), float(sx1), float(sxx1)
        n2f, sx2f, sxx2f = float(n2), float(sx2), float(sxx2)
        mu1 = sx1f / n1f
        mu2 = sx2f / n2f
        w1 = n1f / (1000.0 * float(gn))
        w2 = 1.0 - w1
        var = (
            (
                (
                    (
                        (sxx1f - (2.0 * mu1 * sx1f))
                        + ((mu1 * mu1) * n1f)
                    )
                    + sxx2f
                )
                - (2.0 * mu2 * sx2f)
            )
            + ((mu2 * mu2) * n2f)
        ) / (1000.0 * float(gn))
    return docs.agg(
        F.count("*").alias("n"),
        F.lit(w1).alias("w1"),
        F.lit(mu1).alias("mu1"),
        F.lit(mu2).alias("mu2"),
        F.lit(var).alias("var"),
    )


def q_kneser_ney(spark, sf_dir):
    # Interpolated Kneser-Ney bigram smoothing (r9 continuation): THE
    # published LM smoothing — absolute discount d = 3/4 as an exact
    # rational ((4c-3)/(4c(v))), continuation probability from
    # distinct-predecessor counts, backoff weight lambda(v) folded into
    # one truncating division per term so both engines agree digit for
    # digit. Completes the LM ladder: unigram/bigram MLE ->
    # Good-Turing -> KN. Two combinable shuffles + three
    # vocabulary-sized broadcasts; observed bigrams only (the unseen
    # mass is exactly the lambda column).
    from graph_database_spark.operators.spread import spread

    docs = load_table(spark, sf_dir, "documents")
    t = spread(docs).select(tokens(F.col("text")).alias("arr"))
    bg = t.select(
        F.explode(
            F.expr(
                "CASE WHEN size(arr) < 2 THEN"
                " CAST(array() AS array<struct<v:string,w:string>>)"
                " ELSE transform(sequence(1, size(arr) - 1),"
                " i -> named_struct('v', element_at(arr, i),"
                " 'w', element_at(arr, i + 1))) END"
            )
        ).alias("p")
    ).select(F.col("p.v").alias("v"), F.col("p.w").alias("w"))
    c_vw = bg.groupBy("v", "w").agg(F.count("*").alias("c")).localCheckpoint()
    c_v = c_vw.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count("*").alias("n1v")
    )
    n_w = c_vw.groupBy("w").agg(F.count("*").alias("n1w"))
    n_all = c_vw.agg(F.count("*").alias("n1all"))
    return (
        c_vw.join(F.broadcast(c_v), "v")
        .join(F.broadcast(n_w), "w")
        .crossJoin(F.broadcast(n_all))
        .select(
            "v",
            "w",
            "c",
            "cv",
            F.expr(
                "((4 * c - 3) * 1000000) div (4 * cv)"
                " + (3 * n1v * n1w * 1000000) div (4 * cv * n1all)"
            ).alias("p_kn_micro"),
            F.expr("(3 * n1v * 1000000) div (4 * cv)").alias(
                "lambda_micro"
            ),
        )
    )


def q_perplexity_filter(spark, sf_dir):
    # LM-perplexity quality scoring (r12): the CCNet-style filter — per
    # document, the average Kneser-Ney bigram log-probability under the
    # corpus model (q_kneser_ney's exact integer-micro model; every doc
    # bigram is corpus-observed by construction, so no unseen-mass
    # branch). Perplexity = exp(-avg) is monotone in avg_lp, so the
    # filter thresholds on the INTEGER avg_lp_micro and the one libm
    # ln() per distinct model bigram is micro-snapped before any sum —
    # no exp, no derived-value rounding hazard (the events_resample
    # lesson). Model rows broadcast (vocab-bounded); the corpus side is
    # one bigram explode + one per-doc fold.
    from graph_database_spark.operators.spread import spread

    docs = load_table(spark, sf_dir, "documents")
    t = spread(docs).select(
        "doc_id", tokens(F.col("text")).alias("arr")
    ).localCheckpoint()  # model build + per-doc scoring both read it
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(arr) < 2 THEN"
                " CAST(array() AS array<struct<v:string,w:string>>)"
                " ELSE transform(sequence(1, size(arr) - 1),"
                " i -> named_struct('v', element_at(arr, i),"
                " 'w', element_at(arr, i + 1))) END"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.v").alias("v"), F.col("p.w").alias("w"))
    c_vw = bg.groupBy("v", "w").agg(F.count("*").alias("c")).localCheckpoint()
    c_v = c_vw.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count("*").alias("n1v")
    )
    n_w = c_vw.groupBy("w").agg(F.count("*").alias("n1w"))
    n_all = c_vw.agg(F.count("*").alias("n1all"))
    model = (
        c_vw.join(F.broadcast(c_v), "v")
        .join(F.broadcast(n_w), "w")
        .crossJoin(F.broadcast(n_all))
        .select(
            "v",
            "w",
            F.expr(
                "CAST(round(ln(CAST("
                "((4 * c - 3) * 1000000) div (4 * cv)"
                " + (3 * n1v * n1w * 1000000) div (4 * cv * n1all)"
                " AS DOUBLE) / CAST(1000000 AS DOUBLE)) * 1000000.0, 0)"
                " AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    return (
        bg.join(F.broadcast(model), ["v", "w"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("lp_micro").cast("long").alias("lp_sum_micro"),
            F.expr("sum(lp_micro) div count(*)")
            .cast("long")
            .alias("avg_lp_micro"),
        )
    )


def q_mutual_information(spark, sf_dir):
    # Mutual information of (6-hour band, event type) (r9
    # continuation): the information-theoretic dependence screen next
    # to chi2_independence's test statistic — per-cell terms
    # n_rc * ln(n_rc*N/(n_r*n_c)) micro-snapped before the sum
    # (collocations_llr's cell discipline), so the per-cell
    # contributions and their total are partition-order-exact.
    e = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(hour(ts) AS BIGINT) div 4").alias("band"),
        "event_type",
    )
    cells = e.groupBy("band", "event_type").agg(
        F.count("*").alias("n_rc")
    ).localCheckpoint()
    rows_ = cells.groupBy("band").agg(F.sum("n_rc").alias("n_r"))
    cols_ = cells.groupBy("event_type").agg(F.sum("n_rc").alias("n_c"))
    tot = cells.agg(F.sum("n_rc").alias("n"))
    return (
        cells.join(F.broadcast(rows_), "band")
        .join(F.broadcast(cols_), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "event_type",
            "n_rc",
            (
                F.col("n_rc")
                * F.round(
                    F.log(
                        (F.col("n_rc") * F.col("n")).cast("double")
                        / (F.col("n_r") * F.col("n_c")).cast("double")
                    )
                    * F.lit(1000000.0),
                    0,
                ).cast("long")
            ).alias("mi_term_micro"),
        )
    )


def _fit_stump(grid, total_n, total_s):
    # Driver-side regression-stump fit from a bounded per-value grid
    # (the kmeans/logistic bounded-model-collect discipline): gain is
    # the between-segment SSE term computed in PURE DOUBLES with a
    # fixed operand order (the exact-integer square would overflow on
    # dollar sums — doubles are identical cross-engine when the
    # operand trees match), leaf means stay exact integer milli.
    best = None
    for v, k, cs in grid:
        if k >= total_n:
            continue
        numd = float(cs) * float(total_n) - float(k) * float(total_s)
        gain = (numd * numd) / (float(k) * float(total_n - k))
        key = (-gain, v)
        if best is None or key < best[0]:
            best = (key, v, k, cs)
    _, s, k, cs = best

    def tdiv(a, b):
        # Truncation toward zero: python // FLOORS on negatives, but
        # the oracle's // and Spark's div truncate (CLAUDE.md gotcha);
        # round-2 residual sums go negative, so this matters.
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    ml = tdiv(1000 * cs, k)
    mr = tdiv(1000 * (total_s - cs), total_n - k)
    return s, ml, mr


def q_boosted_stumps(spark, sf_dir):
    # Two-round gradient boosting with regression stumps (r9
    # continuation): round 1 fits the best SSE split of price on
    # quantity, round 2 fits a stump on discount over the ROUND-1
    # RESIDUALS — the additive-modeling step beyond the single
    # decision_stump classifier. Split search runs over bounded
    # per-value grids (<= 51 rows) collected to the driver; leaf means
    # are exact integer milli; residuals ride in whole dollars (the
    # ols overflow lesson); the final SSE of the boosted model is an
    # exact BIGINT. The oracle replays both fits with the identical
    # double gain tree and window prefix sums.
    li = load_table(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.expr("CAST(round(l_extendedprice) AS BIGINT)").alias("y"),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("x1"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x2"),
    ).localCheckpoint()

    def grid_of(xcol, tcol):
        g = (
            rows_.groupBy(xcol)
            .agg(F.count("*").alias("n"), F.sum(tcol).alias("s"))
            .orderBy(xcol)
            .collect()
        )
        out, ck, cs = [], 0, 0
        for r in g:
            ck += int(r["n"])
            cs += int(r["s"])
            out.append((int(r[xcol]), ck, cs))
        return out, ck, cs

    g1, n, s = grid_of("x1", "y")
    s1, ml1, mr1 = _fit_stump(g1, n, s)
    rows2 = rows_.withColumn(
        "r",
        F.expr(
            f"y - (CASE WHEN x1 <= {s1} THEN {ml1} ELSE {mr1} END)"
            " div 1000"
        ),
    ).localCheckpoint()

    g2 = (
        rows2.groupBy("x2")
        .agg(F.count("*").alias("n"), F.sum("r").alias("s"))
        .orderBy("x2")
        .collect()
    )
    grid2, ck, cs = [], 0, 0
    for r in g2:
        ck += int(r["n"])
        cs += int(r["s"])
        grid2.append((int(r["x2"]), ck, cs))
    s2, ml2, mr2 = _fit_stump(grid2, ck, cs)
    return rows2.agg(
        F.count("*").alias("n"),
        F.lit(s1).cast("long").alias("split1"),
        F.lit(ml1).cast("long").alias("ml1_milli"),
        F.lit(mr1).cast("long").alias("mr1_milli"),
        F.lit(s2).cast("long").alias("split2"),
        F.lit(ml2).cast("long").alias("ml2_milli"),
        F.lit(mr2).cast("long").alias("mr2_milli"),
        F.sum(
            F.expr(
                f"(r - (CASE WHEN x2 <= {s2} THEN {ml2} ELSE {mr2} END)"
                " div 1000) * (r - (CASE WHEN x2 <="
                f" {s2} THEN {ml2} ELSE {mr2} END) div 1000)"
            )
        ).alias("sse2"),
    )


def q_trimmed_mean(spark, sf_dir):
    # 5%-trimmed and winsorized means of order value (r9 continuation):
    # the robust location estimates next to weighted_median — both
    # bounds are exact order statistics from ONE distributed
    # global_rank (never a bare ORDER BY window); the trimmed mean
    # drops ranks outside (lo, hi], the winsorized mean clamps to the
    # boundary values. Integer cents end to end; one division each at
    # the end via exact micro div.
    from graph_database_spark.operators.rank import global_rank

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    ranked = global_rank(o, ["cents", "o_orderkey"], out_col="r")
    n = ranked.count()
    lo = (n * 5) // 100
    hi = n - lo
    bounds = ranked.where(
        (F.col("r") == lo + 1) | (F.col("r") == hi)
    ).agg(
        F.min("cents").alias("lo_cents"), F.max("cents").alias("hi_cents")
    )
    return (
        ranked.crossJoin(F.broadcast(bounds))
        .agg(
            F.lit(n).cast("long").alias("n"),
            F.max("lo_cents").alias("lo_cents"),
            F.max("hi_cents").alias("hi_cents"),
            F.expr(
                f"(1000 * sum(CASE WHEN r > {lo} AND r <= {hi}"
                " THEN cents ELSE 0 END))"
                f" div ({hi} - {lo})"
            ).alias("trimmed_mean_milli"),
            F.expr(
                "(1000 * sum(CASE WHEN cents < lo_cents THEN lo_cents"
                " WHEN cents > hi_cents THEN hi_cents"
                f" ELSE cents END)) div {n}"
            ).alias("winsor_mean_milli"),
        )
    )


def q_uplift_segments(spark, sf_dir):
    # Two-model uplift by segment (r9 continuation): md5-assigned
    # treatment arms over customers, outcome = customer placed an
    # URGENT order; per market segment the treated and control
    # response rates and their difference (the uplift a targeting
    # policy ranks on) as exact ppm integers — the causal family's
    # heterogeneous-effect readout next to ipw_effect's single ATE.
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    conv = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    base = c.join(conv.withColumn("y", F.lit(1)), "c_custkey", "left").select(
        "c_mktsegment",
        F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
        F.expr(
            "conv(substr(md5(concat('up|', CAST(c_custkey AS STRING))),"
            " 1, 4), 16, 10) % 2"
        ).cast("long").alias("t"),
    )
    return base.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.sum("t").alias("n_treat"),
        (F.count("*") - F.sum("t")).alias("n_ctrl"),
        F.expr(
            "(1000000 * sum(CASE WHEN t = 1 THEN y ELSE 0 END))"
            " div sum(t)"
        ).alias("p_treat_ppm"),
        F.expr(
            "(1000000 * sum(CASE WHEN t = 0 THEN y ELSE 0 END))"
            " div (count(*) - sum(t))"
        ).alias("p_ctrl_ppm"),
        F.expr(
            "(1000000 * sum(CASE WHEN t = 1 THEN y ELSE 0 END))"
            " div sum(t) - (1000000 * sum(CASE WHEN t = 0 THEN y"
            " ELSE 0 END)) div (count(*) - sum(t))"
        ).alias("uplift_ppm"),
    )


_MK_CHANNELS = ["click", "error", "signup", "view"]


def _markov_converge(cnt, rowtot, removed, iters=16):
    # Truncated value iteration for the absorbing chain, PURE python
    # ints (exact, mirrored by the oracle's unrolled CTEs): p_k(s) =
    # conversion probability within k transitions, in micro units.
    # Removal redirects mass INTO the removed channel to NULL (the
    # published removal-effect recipe): edges to it contribute 0 and
    # its own p is pinned 0.
    states = ["START"] + _MK_CHANNELS
    p = {s: 0 for s in states}
    p["CONV"] = 1000000
    p["NULL"] = 0
    for _ in range(iters):
        nxt = dict(p)
        for s in states:
            if s == removed or s not in rowtot:
                nxt[s] = 0
                continue
            v = sum(
                c * p[t]
                for (s2, t), c in sorted(cnt.items())
                if s2 == s and t != removed
            )
            nxt[s] = v // rowtot[s]
        p = nxt
    return p["START"]


def q_markov_attribution(spark, sf_dir):
    # Markov removal-effect attribution (r9 continuation): the
    # published data-driven attribution model completing the family
    # (position / time-decay / Shapley): per-user journeys truncate at
    # first purchase, first-order transition counts over
    # START/channels/CONV/NULL, and each channel's credit is the drop
    # in absorbing-chain conversion probability when that channel's
    # incoming mass redirects to NULL. The chain solve is 16 rounds of
    # exact integer-micro value iteration over the BOUNDED transition
    # table (driver ints, the logistic bounded-model discipline),
    # replayed by 80 generated oracle CTEs.
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).localCheckpoint()
    fp = (
        r.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("fp_rn"))
    )
    ch = (
        r.join(fp, "user_id", "left")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("fp_rn").isNull() | (F.col("rn") < F.col("fp_rn")))
        )
        .localCheckpoint()
    )
    wc = Window.partitionBy("user_id").orderBy("rn")
    t1 = ch.select(
        F.coalesce(F.lag("event_type").over(wc), F.lit("START")).alias(
            "src"
        ),
        F.col("event_type").alias("tgt"),
    )
    lastc = ch.groupBy("user_id").agg(
        F.expr("max_by(event_type, rn)").alias("lt")
    )
    term = (
        r.select("user_id")
        .distinct()
        .join(lastc, "user_id", "left")
        .join(fp, "user_id", "left")
        .select(
            F.coalesce("lt", F.lit("START")).alias("src"),
            F.when(F.col("fp_rn").isNotNull(), F.lit("CONV"))
            .otherwise(F.lit("NULL"))
            .alias("tgt"),
        )
    )
    edges = (
        t1.unionByName(term).groupBy("src", "tgt").agg(
            F.count("*").alias("c")
        )
    ).collect()
    cnt = {(e["src"], e["tgt"]): int(e["c"]) for e in edges}
    rowtot = {}
    for (s, _), c in cnt.items():
        rowtot[s] = rowtot.get(s, 0) + c
    p_full = _markov_converge(cnt, rowtot, None)
    out = []
    for c in _MK_CHANNELS:
        pr = _markov_converge(cnt, rowtot, c)
        out.append((c, p_full, pr, p_full - pr))
    return spark.createDataFrame(
        out,
        "channel string, p_full_micro long, p_removed_micro long,"
        " re_micro long",
    )


def q_emd_drift(spark, sf_dir):
    # 1-D Wasserstein-1 / earth-mover drift (r9 continuation): the
    # transport-aware companion of ks_drift on the same early/late
    # order split — W1 integrates |F1 - F2| over the value axis, so it
    # weights HOW FAR the mass moved where KS only sees the largest
    # gap. Exact integers: |n2*cumA - n1*cumB| times the grid gap from
    # a consecutive-rank equi-join (operators/stats_tests.emd_1d).
    from graph_database_spark.operators import stats_tests as ST

    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        (F.year("o_orderdate") < 1998).cast("int").alias("fl"),
    )
    return ST.emd_1d(src, "cents", "fl")


def q_ar1_fit(spark, sf_dir):
    # AR(1) autoregression per event type (r9 continuation): the
    # forecasting-model fit next to holt_linear's smoother and
    # events_autocorr's diagnostic — OLS of y_t on y_{t-1} over the
    # dense hourly series, five integer sufficient statistics per
    # type, slope/intercept/r2 as identical-operand IEEE chains (the
    # ols_price_model discipline). Lag pairs come from a per-type
    # window over the bounded hour grid.
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("y"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias(
                "h"
            ),
        )
    )
    dense = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = dense.select(
        "event_type",
        F.lag("y").over(w).alias("x"),
        "y",
    ).where(F.col("x").isNotNull())
    g = pairs.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return g.select(
        "event_type",
        "n",
        "sx",
        "sy",
        "sxy",
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE)"
        ).alias("phi"),
        F.expr(
            "(CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " / CAST(n AS DOUBLE)"
        ).alias("intercept"),
        F.expr(
            "(CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE))"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE))"
        ).alias("r2"),
    )


def q_logrank_test(spark, sf_dir):
    # Log-rank test (r9 continuation): the two-sample survival
    # comparison next to km_survival's single curve — md5-assigned
    # arms (every user here sees every event type, so an error-based
    # split is degenerate), same lifetime/censoring scheme. At
    # each death hour: observed group-1 deaths vs expected under the
    # null (d * n1/n), variance hypergeometric — every per-time term an
    # exact integer via staged truncating division (interleaved divs
    # keep the products inside int64 at any user count), summed
    # exactly; only the final z^2 is one identical-operand double
    # chain. Risk sets from a cumulative window over the bounded hour
    # grid (the km discipline).
    e = load_table(spark, sf_dir, "events")
    horizon = e.agg(F.max("ts").alias("hmax"))
    grp = (
        e.groupBy("user_id")
        .agg(
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
            F.max(
                F.expr(
                    "CAST(conv(substr(md5(concat('lr|',"
                    " CAST(user_id AS STRING))), 1, 4), 16, 10)"
                    " AS BIGINT) % 2"
                )
            ).alias("g"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.expr(
                "CAST((unix_micros(t1) - unix_micros(t0))"
                " div 3600000000 AS BIGINT)"
            ).alias("dur_h"),
            (
                F.col("t1") < F.col("hmax") - F.expr("INTERVAL 6 HOURS")
            ).cast("long").alias("death"),
            "g",
        )
    )
    by = grp.groupBy("dur_h").agg(
        F.sum("g").alias("a1"),
        F.sum(1 - F.col("g")).alias("a2"),
        F.sum(F.col("death") * F.col("g")).alias("d1"),
        F.sum(F.col("death") * (1 - F.col("g"))).alias("d2"),
    )
    tot = by.agg(F.sum("a1").alias("t1"), F.sum("a2").alias("t2"))
    w = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # bounded universe: distinct lifetime hours <= corpus span (~720)
    rs = (
        by.crossJoin(F.broadcast(tot))
        .withColumn(
            "c1",
            F.col("t1") - F.coalesce(F.sum("a1").over(w), F.lit(0)),
        )
        .withColumn(
            "c2",
            F.col("t2") - F.coalesce(F.sum("a2").over(w), F.lit(0)),
        )
        .where(
            (F.col("d1") + F.col("d2") > 0)
            & (F.col("c1") + F.col("c2") > 1)
        )
    )
    terms = rs.select(
        F.col("d1"),
        F.expr(
            "(1000000 * (d1 + d2) * c1) div (c1 + c2)"
        ).alias("e1_micro"),
        F.expr(
            "((((1000000 * (d1 + d2) * ((c1 + c2) - (d1 + d2)))"
            " div ((c1 + c2) - 1)) * c1 div (c1 + c2)) * c2"
            " div (c1 + c2))"
        ).alias("v_micro"),
    )
    return terms.agg(
        F.sum("d1").alias("o1"),
        F.sum("e1_micro").alias("e1_micro"),
        F.sum("v_micro").alias("v_micro"),
    ).select(
        "o1",
        "e1_micro",
        "v_micro",
        F.expr(
            "(CAST(o1 * 1000000 - e1_micro AS DOUBLE)"
            " * CAST(o1 * 1000000 - e1_micro AS DOUBLE))"
            " / (CAST(v_micro AS DOUBLE) * CAST(1000000 AS DOUBLE))"
        ).alias("lr_chi2"),
    )


# Split-invariance proof: the incrementally maintained registers must
# estimate exactly what the one-shot full-table sketch does.
ORACLES["incremental_distinct"] = ORACLES["distinct_users_hll"]

def _build_adpcm_sql() -> str:
    # Replays operators/adpcm's integer state machine: per recursion
    # step, derive the encoder nibble from (sample - pred) against the
    # current step size, apply the shared decoder update (diff
    # accumulation, clamp, index walk), and fold the decoded sample
    # into the running integer features. List literals are 1-indexed.
    from graph_database_spark.operators.adpcm import INDEX_TABLE, STEP_TABLE

    st = "[" + ",".join(str(x) for x in STEP_TABLE) + "]"
    it = "[" + ",".join(str(x) for x in INDEX_TABLE) + "]"
    return f"""
    WITH RECURSIVE docs_n AS (
        SELECT doc_id, 160 + n_chars % 97 AS n FROM documents
    ),
    src AS (
        SELECT doc_id, k,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' ||
                     CAST(k AS VARCHAR)), 1, 4)) AS BIGINT) - 32768 AS s
        FROM (SELECT doc_id, unnest(range(0, n)) AS k FROM docs_n)
    ),
    sm(doc_id, k, pred, idx, energy, peak, zc, prev_dec, n) AS (
        SELECT doc_id, -1, 0, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), n
        FROM docs_n
        UNION ALL
        SELECT doc_id, k,
               new_pred,
               greatest(0, least(88, idx + {it}[nib + 1])),
               energy + new_pred * new_pred,
               greatest(peak, abs(new_pred)),
               zc + CASE WHEN prev_dec * new_pred < 0 THEN 1 ELSE 0 END,
               new_pred,
               n
        FROM (
            SELECT *,
                   CASE WHEN nib8 = 8
                        THEN greatest(-32768, least(32767, pred - diff))
                        ELSE greatest(-32768, least(32767, pred + diff))
                   END AS new_pred,
                   nib8 + b4 * 4 + b2 * 2 + b1 AS nib
            FROM (
                SELECT *,
                       (step >> 3) + b4 * step + b2 * (step >> 1)
                           + b1 * (step >> 2) AS diff
                FROM (
                    SELECT *,
                           CASE WHEN d1 - b2 * (step >> 1) >= (step >> 2)
                                THEN 1 ELSE 0 END AS b1
                    FROM (
                        SELECT *,
                               CASE WHEN d1 >= (step >> 1) THEN 1 ELSE 0 END AS b2
                        FROM (
                            SELECT *, d0 - b4 * step AS d1
                            FROM (
                                SELECT t.doc_id, s.k, t.pred, t.idx,
                                       t.energy, t.peak, t.zc, t.prev_dec,
                                       t.n, s.s,
                                       {st}[t.idx + 1] AS step,
                                       abs(s.s - t.pred) AS d0,
                                       CASE WHEN s.s - t.pred < 0
                                            THEN 8 ELSE 0 END AS nib8,
                                       CASE WHEN abs(s.s - t.pred) >=
                                                 {st}[t.idx + 1]
                                            THEN 1 ELSE 0 END AS b4
                                FROM sm t
                                JOIN src s ON s.doc_id = t.doc_id
                                          AND s.k = t.k + 1
                            )
                        )
                    )
                )
            )
        )
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(11 + (n + 1) // 2 AS BIGINT) AS compressed_bytes,
           energy, peak, zc AS zero_crossings
    FROM sm WHERE k = n - 1
"""


ORACLES["adpcm_features"] = _build_adpcm_sql()


def _build_mcv_sql() -> str:
    # Replays operators/mcv end to end: pixel (f, y, x) = byte x of
    # md5(f"{doc}|{f}|{y}") (the attach_video generator); intra frame 0
    # predicts 128; each inter frame picks, per 4x4 block, the motion
    # candidate minimizing SAD against the previous RECONSTRUCTION
    # (tie-break on candidate index — the row_number over (sad, c)),
    # then quantizes the residual to 4 bits with a positive-numerator
    # floor division (floor == truncate in both engines) and clamps the
    # reconstruction to [0, 255]. The recursion steps frames (working
    # table = previous frame's recon); the final aggregate mirrors the
    # decoder's integer features exactly. Base pixel CTE is
    # MATERIALIZED (CLAUDE.md: CTE inlining re-opens parquet per
    # reference inside the recursion).
    from graph_database_spark.operators.mcv import CANDS, Q

    cands = ", ".join(f"({c}, {dy}, {dx})" for c, (dy, dx) in enumerate(CANDS))
    half, big = Q // 2, 2048 * Q
    return f"""
    WITH RECURSIVE docs_n AS (
        SELECT doc_id AS d, 4 + n_chars % 5 AS nf FROM documents
    ),
    grid AS (
        SELECT y.y, x.x
        FROM (SELECT unnest(range(0, 16)) AS y) y,
             (SELECT unnest(range(0, 16)) AS x) x
    ),
    cands(c, dy, dx) AS (VALUES {cands}),
    px AS MATERIALIZED (
        SELECT n.d, f.f, g.y, g.x,
               CAST(('0x' || substring(md5(CAST(n.d AS VARCHAR) || '|' ||
                     CAST(f.f AS VARCHAR) || '|' || CAST(g.y AS VARCHAR)),
                     2 * g.x + 1, 2)) AS BIGINT) AS v
        FROM docs_n n, (SELECT unnest(range(0, 8)) AS f) f, grid g
        WHERE f.f < n.nf
    ),
    rec(d, f, y, x, recon, c, rq) AS (
        SELECT d, f, y, x,
               greatest(0, least(255, 128 + rq * {Q})),
               CAST(NULL AS INTEGER), rq
        FROM (
            SELECT d, f, y, x,
                   greatest(-8, least(7,
                       (v - 128 + {half} + {big}) // {Q} - 2048)) AS rq
            FROM px WHERE f = 0
        )
        UNION ALL
        SELECT d, f, y, x,
               greatest(0, least(255, pred + rq * {Q})), c, rq
        FROM (
            SELECT d, f, y, x, c, pred,
                   greatest(-8, least(7,
                       (v - pred + {half} + {big}) // {Q} - 2048)) AS rq,
                   row_number() OVER (
                       PARTITION BY d, f, y, x ORDER BY sad, c) AS rn
            FROM (
                SELECT p.d, p.f, p.y, p.x, p.v, c.c, s.recon AS pred,
                       sum(abs(p.v - s.recon)) OVER (
                           PARTITION BY p.d, p.f, p.y // 4, p.x // 4, c.c
                       ) AS sad
                FROM rec s
                JOIN cands c ON true
                JOIN px p ON p.d = s.d AND p.f = s.f + 1
                 AND s.y = greatest(0, least(15, p.y + c.dy))
                 AND s.x = greatest(0, least(15, p.x + c.dx))
            )
        ) WHERE rn = 1
    )
    SELECT r.d AS media_id,
           CAST(n.nf AS BIGINT) AS n_frames,
           CAST(coalesce(sum(CASE WHEN r.c = 0 THEN 1 END), 0) // 16
                AS BIGINT) AS mv_zero_blocks,
           CAST(coalesce(sum(CASE WHEN r.c IS NOT NULL THEN 1 END), 0) // 16
                AS BIGINT) AS mv_blocks,
           CAST(sum(abs(r.rq)) AS BIGINT) AS residual_mag,
           CAST(sum(r.recon) AS BIGINT) AS recon_luma,
           CAST(sum(r.recon * (1 + (r.y * 16 + r.x) % 7)) AS BIGINT)
               AS recon_checksum,
           CAST(17 + 128 + (n.nf - 1) * 144 AS BIGINT) AS stream_bytes
    FROM rec r JOIN docs_n n ON n.d = r.d
    GROUP BY r.d, n.nf
"""


ORACLES["video_codec_features"] = _build_mcv_sql()

ORACLES["group_split"] = """
    SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (
        SELECT user_id,
               CAST(('0x' || substring(md5('gs|' || CAST(user_id AS VARCHAR)),
                     1, 4)) AS BIGINT) % 100 AS b
        FROM events
    ) t GROUP BY 1
"""

ORACLES["table_diff"] = """
    WITH st AS (
        SELECT CASE WHEN o_orderkey % 89 = 0 THEN 'removed'
                    WHEN o_orderkey % 97 = 0 THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM orders
        UNION ALL
        SELECT 'added' FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_rows FROM st GROUP BY 1
"""

ORACLES["item_cf"] = """
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM cp GROUP BY 1),
    idx AS (SELECT cp.c, cp.p, d.n FROM cp JOIN deg d ON d.p = cp.p),
    pairs AS (
        SELECT a.p AS pa, b.p AS pb, a.n AS na, b.n AS nb,
               CAST(count(*) AS BIGINT) AS co
        FROM idx a JOIN idx b ON b.c = a.c AND a.p < b.p
        GROUP BY 1, 2, 3, 4
        HAVING count(*) >= 2
    ),
    sym AS (
        SELECT pa AS item, pb AS other, co, na AS ni, nb AS no FROM pairs
        UNION ALL
        SELECT pb, pa, co, nb, na FROM pairs
    ),
    scored AS (
        SELECT item, other, co,
               round(CAST(co AS DOUBLE) / sqrt(CAST(ni * no AS DOUBLE)), 6)
                   AS cosine
        FROM sym
    )
    SELECT item, other, co, cosine, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY item ORDER BY cosine DESC, other
               ) AS rank
        FROM scored
    ) WHERE rank <= 5
"""

ORACLES["copurchase_projection"] = """
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT a.p AS item_a, b.p AS item_b, CAST(count(*) AS BIGINT) AS co
    FROM cp a JOIN cp b ON b.c = a.c AND a.p < b.p
    GROUP BY 1, 2
    HAVING count(*) >= 2
    ORDER BY co DESC, item_a, item_b
    LIMIT 100
"""

ORACLES["triangles_sampled"] = f"""
    WITH {GRAPH_CTES},
    se AS (
        SELECT src, dst FROM edges
        WHERE CAST(('0x' || substring(md5('ts|' || CAST(src AS VARCHAR) ||
                    '|' || CAST(dst AS VARCHAR)), 1, 1)) AS BIGINT) < 4
    ),
    ssym AS (
        SELECT src AS v, dst AS n FROM se
        UNION ALL
        SELECT dst AS v, src AS n FROM se
    ),
    wedges AS (
        SELECT a.v AS v, a.n AS n1, b.n AS n2
        FROM ssym a JOIN ssym b ON a.v = b.v AND a.n < b.n
    ),
    closed AS (
        SELECT w.v FROM wedges w JOIN se e ON w.n1 = e.src AND w.n2 = e.dst
    ),
    tri AS (SELECT CAST(count(*) // 3 AS BIGINT) AS t FROM closed)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM se) AS sampled_edges,
           t AS triangles_sampled,
           CAST(t * 64 AS BIGINT) AS est_triangles
    FROM tri
"""

ORACLES["join_cardinality"] = """
    WITH ha AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
                              1, 15)) AS BIGINT) AS h
        FROM orders
    ),
    hb AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                              1, 15)) AS BIGINT) AS h
        FROM events
    ),
    ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                          FROM ha) WHERE rn <= 32),
    kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                          FROM hb) WHERE rn <= 32),
    sa AS (SELECT max(h) AS kth, count(*) AS nk,
                  CASE WHEN count(*) < 32 THEN 1152921504606846976
                       ELSE max(h) END AS th
           FROM ka),
    sb AS (SELECT max(h) AS kth, count(*) AS nk,
                  CASE WHEN count(*) < 32 THEN 1152921504606846976
                       ELSE max(h) END AS th
           FROM kb),
    th AS (SELECT least(sa.th, sb.th) AS theta,
                  sa.nk AS nk_a, sa.kth AS kth_a,
                  sb.nk AS nk_b, sb.kth AS kth_b
           FROM sa CROSS JOIN sb),
    common AS (
        SELECT CAST(count(*) AS BIGINT) AS n_common_kept
        FROM ka JOIN kb ON kb.h = ka.h CROSS JOIN th
        WHERE ka.h < th.theta
    )
    SELECT common.n_common_kept,
           CAST(th.theta AS BIGINT) AS theta,
           round(CASE WHEN th.nk_a < 32 THEN CAST(th.nk_a AS DOUBLE)
                      ELSE CAST(31 AS DOUBLE)
                           / (CAST(th.kth_a AS DOUBLE)
                              / CAST(1152921504606846976 AS DOUBLE)) END,
                 4) AS est_keys_a,
           round(CASE WHEN th.nk_b < 32 THEN CAST(th.nk_b AS DOUBLE)
                      ELSE CAST(31 AS DOUBLE)
                           / (CAST(th.kth_b AS DOUBLE)
                              / CAST(1152921504606846976 AS DOUBLE)) END,
                 4) AS est_keys_b,
           round(CAST(common.n_common_kept AS DOUBLE)
                 * (CAST(1152921504606846976 AS DOUBLE)
                    / CAST(th.theta AS DOUBLE)), 4) AS est_intersection
    FROM th CROSS JOIN common
"""

ORACLES["weighted_median"] = """
    WITH pts AS (
        SELECT p_brand,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT p_brand, cents,
               sum(w) OVER (PARTITION BY p_brand ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               sum(w) OVER (PARTITION BY p_brand) AS wtot
        FROM pts
    )
    SELECT p_brand,
           CAST(min(cents) AS BIGINT) AS median_cents,
           CAST(max(wtot) AS BIGINT) AS total_weight
    FROM r WHERE cum * 2 >= wtot GROUP BY 1
"""

# The quantile-IVM proof mirrors incremental_agg's: full-table binning.
ORACLES["incremental_quantiles"] = """
    WITH h AS (
        SELECT CAST(floor(o_totalprice / 100) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    c AS (
        SELECT bin,
               sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               (SELECT sum(n) FROM h) AS t
        FROM h
    )
    SELECT 'p50' AS quantile, CAST(min(bin) * 100 AS BIGINT) AS bin_lo
    FROM c WHERE cum * 2 >= t * 1
    UNION ALL
    SELECT 'p90', CAST(min(bin) * 100 AS BIGINT)
    FROM c WHERE cum * 10 >= t * 9
    UNION ALL
    SELECT 'p99', CAST(min(bin) * 100 AS BIGINT)
    FROM c WHERE cum * 100 >= t * 99
"""

ORACLES["png_features"] = f"""
    WITH rh AS (
        SELECT doc_id, y,
               md5(CAST(doc_id AS VARCHAR) || '|png|' || CAST(y AS VARCHAR)) AS h
        FROM (SELECT doc_id, unnest(range(0, {16})) AS y FROM documents)
    ),
    px AS (
        SELECT doc_id, y, j,
               CAST(('0x' || substring(h, 2 * j + 1, 2)) AS BIGINT) AS p
        FROM (SELECT doc_id, y, h, unnest(range(0, {16})) AS j FROM rh)
    ),
    grad AS (
        SELECT a.doc_id, CAST(sum(abs(a.p - b.p)) AS BIGINT) AS g
        FROM px a JOIN px b
          ON b.doc_id = a.doc_id AND b.y = a.y AND b.j = a.j - 1
        GROUP BY 1
    )
    SELECT p.doc_id AS media_id,
           CAST({16} AS BIGINT) AS width,
           CAST({16} AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(sum(p.p) AS BIGINT) AS luma_sum,
           CAST(max(p.p) AS BIGINT) AS peak_luma,
           CAST(max(g.g) AS BIGINT) AS grad_sum
    FROM px p JOIN grad g ON g.doc_id = p.doc_id
    GROUP BY p.doc_id
"""

# Two algorithms, one truth: the prefix-filtered join is exact, so it
# shares ngram_jaccard_exact's oracle verbatim.
ORACLES["jaccard_prefix_join"] = ORACLES["ngram_jaccard_exact"]

# The IVM proof: the oracle aggregates the FULL table in one pass; the
# Spark side must reproduce it from base state + delta refresh.
ORACLES["incremental_agg"] = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY 1
"""

ORACLES["incremental_join"] = """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l.l_extendedprice
                               * (CAST(1 AS DOUBLE) - l.l_discount)
                               * CAST(1000000.0 AS DOUBLE)) AS BIGINT))
                AS BIGINT) AS revenue_micro
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
"""

ORACLES["chi_square_events"] = """
    WITH cells AS (
        SELECT e.event_type, c.c_mktsegment, CAST(count(*) AS BIGINT) AS n
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY 1, 2
    ),
    r AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS rtot FROM cells GROUP BY 1),
    cl AS (SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS ctot FROM cells GROUP BY 1),
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS ntot,
               CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS nc
        FROM cells
    ),
    term AS (
        SELECT CAST(round(
                   (CAST(x.n AS DOUBLE) - x.e) * (CAST(x.n AS DOUBLE) - x.e)
                   / x.e * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS t_micro
        FROM (
            SELECT cells.n,
                   CAST(r.rtot * cl.ctot AS DOUBLE) / CAST(t.ntot AS DOUBLE) AS e
            FROM cells
            JOIN r ON r.event_type = cells.event_type
            JOIN cl ON cl.c_mktsegment = cells.c_mktsegment
            CROSS JOIN t
        ) x
    )
    SELECT CAST(sum(t_micro) AS BIGINT) AS chi2_micro,
           CAST(count(*) AS BIGINT) AS n_cells,
           (SELECT CAST((nr - 1) * (nc - 1) AS BIGINT) FROM t) AS dof,
           (SELECT ntot FROM t) AS n_obs
    FROM term
"""

ORACLES["lorenz_curve"] = """
    WITH spend AS (
        SELECT o_custkey AS c,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM spend),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, c) AS r
        FROM spend
    ),
    dec AS (
        SELECT CAST((r - 1) * 10 // nn.n AS INTEGER) + 1 AS decile, cents
        FROM ranked CROSS JOIN nn
    ),
    per AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS decile_cents
        FROM dec GROUP BY 1
    )
    SELECT decile, n_customers, decile_cents,
           CAST(sum(decile_cents) OVER (
               ORDER BY decile ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_cents
    FROM per
"""

ORACLES["percolation"] = f"""
    WITH RECURSIVE {{GRAPH_CTES}},
    deg AS (SELECT v AS id, count(*) AS d FROM sym GROUP BY 1),
    ranked AS (
        SELECT id, row_number() OVER (ORDER BY d DESC, id) AS r FROM deg
    ),
    k10 AS (SELECT id FROM ranked WHERE r <= 10),
    k50 AS (SELECT id FROM ranked WHERE r <= 50),
    s0 AS (SELECT v, n FROM sym),
    s10 AS (
        SELECT v, n FROM sym
        WHERE v NOT IN (SELECT id FROM k10)
          AND n NOT IN (SELECT id FROM k10)
    ),
    s50 AS (
        SELECT v, n FROM sym
        WHERE v NOT IN (SELECT id FROM k50)
          AND n NOT IN (SELECT id FROM k50)
    ),
    r0(id, r0) AS (
        SELECT DISTINCT v, v FROM s0
        UNION
        SELECT s.n, r0.r0 FROM r0 JOIN s0 s ON s.v = r0.id
    ),
    r10(id, r0) AS (
        SELECT DISTINCT v, v FROM s10
        UNION
        SELECT s.n, r10.r0 FROM r10 JOIN s10 s ON s.v = r10.id
    ),
    r50(id, r0) AS (
        SELECT DISTINCT v, v FROM s50
        UNION
        SELECT s.n, r50.r0 FROM r50 JOIN s50 s ON s.v = r50.id
    ),
    c0 AS (SELECT id, min(r0) AS component FROM r0 GROUP BY id),
    c10 AS (SELECT id, min(r0) AS component FROM r10 GROUP BY id),
    c50 AS (SELECT id, min(r0) AS component FROM r50 GROUP BY id)
    SELECT 0 AS k_removed,
           CAST(count(DISTINCT component) AS BIGINT) AS n_components,
           CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(max(sz) AS BIGINT) AS giant_size
    FROM (SELECT component, count(*) OVER (PARTITION BY component) AS sz
          FROM c0)
    UNION ALL
    SELECT 10, count(DISTINCT component), count(*), max(sz)
    FROM (SELECT component, count(*) OVER (PARTITION BY component) AS sz
          FROM c10)
    UNION ALL
    SELECT 50, count(DISTINCT component), count(*), max(sz)
    FROM (SELECT component, count(*) OVER (PARTITION BY component) AS sz
          FROM c50)
""".format(GRAPH_CTES=GRAPH_CTES)

ORACLES["sequence_logloss"] = """
    WITH seq AS (
        SELECT user_id,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev,
               event_type
        FROM events
    ),
    s AS (SELECT * FROM seq WHERE prev IS NOT NULL),
    nt AS (
        SELECT CAST(count(DISTINCT event_type) AS DOUBLE) AS v FROM events
    ),
    c2 AS (
        SELECT prev, event_type, CAST(count(*) AS BIGINT) AS c2
        FROM s GROUP BY 1, 2
    ),
    c1 AS (SELECT prev, CAST(count(*) AS BIGINT) AS c1 FROM s GROUP BY 1),
    model AS (
        SELECT c2.prev, c2.event_type,
               CAST(round(-ln((CAST(c2.c2 AS DOUBLE) + 1.0)
                              / (CAST(c1.c1 AS DOUBLE) + nt.v))
                          * 1000000.0) AS BIGINT) AS nlp_micro
        FROM c2 JOIN c1 ON c1.prev = c2.prev CROSS JOIN nt
    )
    SELECT s.user_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(m.nlp_micro) AS BIGINT) AS loss_micro
    FROM s JOIN model m
      ON m.prev = s.prev AND m.event_type = s.event_type
    GROUP BY 1
"""

ORACLES["bootstrap_replicates"] = """
    WITH ev AS (
        SELECT event_type, event_id,
               CAST(round(value * 1000.0) AS BIGINT) AS vm
        FROM events
    ),
    drawn AS (
        SELECT event_type, r.rep, vm,
               CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)
                     || '|' || CAST(r.rep AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1000000 AS u
        FROM ev, (SELECT CAST(unnest(range(0, 32)) AS INTEGER) AS rep) r
    ),
    withk AS (
        SELECT event_type, rep,
               CASE WHEN u < 367879 THEN 0
                    WHEN u < 735759 THEN 1
                    WHEN u < 919699 THEN 2
                    WHEN u < 981012 THEN 3
                    WHEN u < 996340 THEN 4
                    WHEN u < 999406 THEN 5
                    WHEN u < 999917 THEN 6
                    WHEN u < 999990 THEN 7
                    ELSE 8 END AS k,
               vm
        FROM drawn
    )
    SELECT event_type, rep,
           CAST(sum(k * vm) AS BIGINT) AS sum_milli,
           CAST(sum(k) AS BIGINT) AS n_eff
    FROM withk GROUP BY 1, 2
"""

ORACLES["spend_gini"] = """
    WITH spend AS (
        SELECT o_custkey AS c,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, c) AS BIGINT) AS r
        FROM spend
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(r * cents) AS BIGINT) AS rank_weighted_cents
    FROM ranked
"""

ORACLES["association_rules"] = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM items),
    supp AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
    pairs AS (
        SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS s_ab
        FROM items a JOIN items b ON a.o = b.o
        WHERE a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    rules AS (
        SELECT pa AS antecedent, pb AS consequent, s_ab FROM pairs
        UNION ALL
        SELECT pb, pa, s_ab FROM pairs
    )
    SELECT r.antecedent, r.consequent, r.s_ab AS support,
           CAST((r.s_ab * 1000000) // sa.s AS BIGINT) AS confidence_ppm,
           CAST((r.s_ab * nb.n * 1000000) // (sa.s * sb.s) AS BIGINT)
               AS lift_ppm
    FROM rules r
    JOIN supp sa ON sa.p = r.antecedent
    JOIN supp sb ON sb.p = r.consequent
    CROSS JOIN nb
"""

ORACLES["rfm_segments"] = """
    WITH per_cust AS (
        SELECT o_custkey AS c_custkey,
               max(o_orderdate) AS last_date,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_cust),
    scored AS (
        SELECT c_custkey, n_orders, monetary_cents,
               CAST((row_number() OVER (ORDER BY last_date, c_custkey) - 1)
                    * 5 // nn.n AS INTEGER) + 1 AS r_q,
               CAST((row_number() OVER (ORDER BY n_orders, c_custkey) - 1)
                    * 5 // nn.n AS INTEGER) + 1 AS f_q,
               CAST((row_number() OVER (
                        ORDER BY monetary_cents, c_custkey) - 1)
                    * 5 // nn.n AS INTEGER) + 1 AS m_q
        FROM per_cust CROSS JOIN nn
    )
    SELECT c_custkey, n_orders, monetary_cents, r_q, f_q, m_q,
           CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
               || CAST(m_q AS VARCHAR) AS segment
    FROM scored
"""

ORACLES["entity_resolution"] = """
    WITH RECURSIVE names AS (
        SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS nid,
               list_extract(string_split(p_name, ' '),
                            len(string_split(p_name, ' '))) AS blk
        FROM part GROUP BY 1
    ),
    prs AS (
        SELECT a.nid AS s, b.nid AS d
        FROM names a JOIN names b ON a.blk = b.blk
        WHERE a.nid < b.nid
          AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    ),
    msym AS (
        SELECT s AS v, d AS n FROM prs
        UNION ALL SELECT d, s FROM prs
    ),
    reach(id, r0) AS (
        SELECT DISTINCT v, v FROM msym
        UNION
        SELECT m.n, reach.r0 FROM reach JOIN msym m ON m.v = reach.id
    ),
    cl AS (SELECT id, min(r0) AS component FROM reach GROUP BY id)
    SELECT nm.p_name, cn.p_name AS canon_name
    FROM names nm
    LEFT JOIN cl ON cl.id = nm.nid
    JOIN names cn ON cn.nid = coalesce(cl.component, nm.nid)
"""

ORACLES["events_twap"] = """
    WITH ev AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               ts, event_id,
               CAST(round(value * 1000.0) AS BIGINT) AS vm
        FROM events
    ),
    seg AS (
        SELECT event_type, day, vm,
               epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt
        FROM ev
        WINDOW w AS (PARTITION BY event_type, day ORDER BY ts, event_id)
    )
    SELECT event_type, day,
           CAST(sum(vm * dt) AS BIGINT) AS vt_sum,
           CAST(sum(dt) AS BIGINT) AS dur_micros,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM seg WHERE dt IS NOT NULL
    GROUP BY 1, 2
"""

ORACLES["max_concurrency"] = """
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess0 AS (
        SELECT user_id, ts,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS session_id
        FROM flagged
    ),
    sess AS (
        SELECT user_id, session_id,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess0 GROUP BY 1, 2
    ),
    pts AS (
        SELECT session_start AS ts, 1 AS delta, -1 AS nd,
               user_id, session_id
        FROM sess
        UNION ALL
        SELECT session_end, -1, 1, user_id, session_id FROM sess
    ),
    run AS (
        SELECT ts,
               sum(delta) OVER (
                   ORDER BY ts, nd, user_id, session_id
               ) AS concurrent
        FROM pts
    )
    SELECT CAST(concurrent AS BIGINT) AS max_concurrent, ts AS at_ts
    FROM run ORDER BY concurrent DESC, ts ASC LIMIT 1
"""

ORACLES["fk_integrity"] = """
    SELECT * FROM (
    SELECT 'lineitem.l_orderkey->orders' AS relation,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n
             WHERE NOT EXISTS (SELECT 1 FROM region r
                               WHERE r.r_regionkey = n.n_regionkey))
    UNION ALL
    SELECT 'events.user_id->customer',
           (SELECT count(*) FROM events),
           (SELECT count(*) FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = e.user_id))
    ) t
"""

ORACLES["benford_prices"] = """
    WITH cents AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
        WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0
    ),
    m AS (
        SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
                   AS digit,
               CAST(count(*) AS BIGINT) AS observed
        FROM cents GROUP BY 1
    )
    SELECT digit, observed,
           CAST(map([1,2,3,4,5,6,7,8,9],
                    [301030,176091,124939,96910,79181,66947,57992,51153,
                     45757])[digit][1] AS BIGINT) AS expected_ppm
    FROM m
"""

ORACLES["hyper_anf"] = f"""
    WITH {{GRAPH_CTES}},
    h0 AS (
        SELECT v, hv % 16 AS b,
               CASE WHEN hv // 16 = 0 THEN 55
                    ELSE bit_count(((hv // 16) & -(hv // 16)) - 1) + 1
               END AS reg
        FROM (
            SELECT DISTINCT v,
                   CAST(('0x' || substring(md5(CAST(v AS VARCHAR)),
                                           1, 15)) AS BIGINT) AS hv
            FROM sym
        )
    ),
    s1 AS (
        SELECT v, b, max(reg) AS reg FROM (
            SELECT v, b, reg FROM h0
            UNION ALL
            SELECT s.v, h.b, h.reg FROM sym s JOIN h0 h ON h.v = s.n
        ) GROUP BY 1, 2
    ),
    s2 AS (
        SELECT v, b, max(reg) AS reg FROM (
            SELECT v, b, reg FROM s1
            UNION ALL
            SELECT s.v, h.b, h.reg FROM sym s JOIN s1 h ON h.v = s.n
        ) GROUP BY 1, 2
    ),
    s3 AS (
        SELECT v, b, max(reg) AS reg FROM (
            SELECT v, b, reg FROM s2
            UNION ALL
            SELECT s.v, h.b, h.reg FROM sym s JOIN s2 h ON h.v = s.n
        ) GROUP BY 1, 2
    ),
    allt AS (
        SELECT v, 1 AS t, b, reg FROM s1
        UNION ALL SELECT v, 2, b, reg FROM s2
        UNION ALL SELECT v, 3, b, reg FROM s3
    ),
    sums AS (
        SELECT v AS id, CAST(t AS INTEGER) AS t,
               CAST(sum(1::BIGINT << (55 - reg)) AS BIGINT)
                   + (16 - count(*)) * (1::BIGINT << 55) AS reg_sum
        FROM allt GROUP BY 1, 2
    )
    SELECT id, t, reg_sum,
           round(0.673e0 * 16e0 * 16e0 * 36028797018963968e0
                 / CAST(reg_sum AS DOUBLE), 4) AS est_reach
    FROM sums
""".format(GRAPH_CTES=GRAPH_CTES)

# Borůvka replay, coloring-oracle style. Soundness rests on the cut
# property: under the strict total edge order (w DESC, src, dst), EVERY
# class's maximum cut edge belongs to the unique maximum spanning
# forest, for ANY label partition — so selection stays correct even
# while hash-min contraction lags behind, and the oracle's lazy
# one-hop-per-iteration merge converges to the same unique forest the
# Spark side reaches via full connected-components contraction. The
# symmetric bool_or over the canonical pair is load-bearing: the raw
# selection flag is direction-local (row (u,v) marks "class(u)'s
# best"), and label-propagating over asymmetric flags lets the two
# endpoint windows see different neighbor sets, diverging per-vertex
# labels (measured: 2053 "forest" rows — a cyclic overcount — vs the
# correct 1498). Budget 60 pinned at 3x the measured sf0.01
# convergence (N=20); the Spark operator raises on exhaustion.
ORACLES["max_spanning_forest"] = f"""
WITH RECURSIVE cp AS ({_CP}),
we AS (
    SELECT a.c AS src, b.c AS dst, CAST(count(*) AS BIGINT) AS w
    FROM cp a JOIN cp b ON a.p = b.p AND a.w = b.w AND a.c < b.c
    GROUP BY 1, 2
),
dsym AS (
    SELECT src AS s, dst AS d, w FROM we
    UNION ALL
    SELECT dst AS s, src AS d, w FROM we
),
bv(r, s, d, w, ls, ld, f) AS (
    SELECT 0, s, d, w, s, d, FALSE FROM dsym
    UNION ALL
    SELECT r + 1, s, d, w,
           least(ls, coalesce(min(CASE WHEN nfs THEN ld END)
                              OVER (PARTITION BY s), ls)),
           least(ld, coalesce(min(CASE WHEN nfs THEN ls END)
                              OVER (PARTITION BY d), ld)),
           nfs
    FROM (
        SELECT r, s, d, w, ls, ld,
               bool_or(nf) OVER (PARTITION BY least(s, d), greatest(s, d))
                   AS nfs
        FROM (
            SELECT r, s, d, w, ls, ld,
                   f OR (ls <> ld AND
                         (w, -least(s, d), -greatest(s, d)) =
                         max(CASE WHEN ls <> ld
                             THEN (w, -least(s, d), -greatest(s, d)) END)
                         OVER (PARTITION BY ls)) AS nf
            FROM bv
        ) t0
    ) t WHERE r < 60
)
SELECT DISTINCT least(s, d) AS src, greatest(s, d) AS dst, w
FROM bv WHERE r = 60 AND f
"""

# Deliberately NOT a forest replay: components of the thresholded
# ORIGINAL graph equal components of the thresholded max spanning
# forest (single-linkage equivalence) — so this cheap oracle verifies
# q_msf_clusters' forest-derived answer along an independent path.
ORACLES["msf_clusters"] = f"""
    WITH RECURSIVE cp AS ({_CP}),
    we AS (
        SELECT a.c AS src, b.c AS dst, CAST(count(*) AS BIGINT) AS w
        FROM cp a JOIN cp b ON a.p = b.p AND a.w = b.w AND a.c < b.c
        GROUP BY 1, 2
    ),
    strong AS (
        SELECT src AS v, dst AS n FROM we WHERE w >= 2
        UNION ALL
        SELECT dst AS v, src AS n FROM we WHERE w >= 2
    ),
    reach(id, r0) AS (
        SELECT DISTINCT v, v FROM strong
        UNION
        SELECT s.n, reach.r0 FROM reach JOIN strong s ON s.v = reach.id
    ),
    cl AS (SELECT id, min(r0) AS cluster FROM reach GROUP BY id),
    vv AS (
        SELECT DISTINCT id FROM (
            SELECT src AS id FROM we UNION ALL SELECT dst FROM we
        )
    )
    SELECT vv.id, CAST(coalesce(cl.cluster, vv.id) AS BIGINT) AS cluster
    FROM vv LEFT JOIN cl ON vv.id = cl.id
"""

ORACLES["matryoshka_fidelity"] = """
    WITH ex AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) AS INTEGER) AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS xm
        FROM embeddings
    ), pv AS (
        SELECT vec_id, sum(xm * xm) AS te,
               sum(CASE WHEN i <= 8 THEN xm * xm ELSE 0 END) AS pe8,
               sum(CASE WHEN i <= 16 THEN xm * xm ELSE 0 END) AS pe16,
               sum(CASE WHEN i <= 32 THEN xm * xm ELSE 0 END) AS pe32
        FROM ex GROUP BY 1
    ), lng AS (
        SELECT te, 8 AS prefix_dim, pe8 AS pe FROM pv
        UNION ALL SELECT te, 16, pe16 FROM pv
        UNION ALL SELECT te, 32, pe32 FROM pv
    )
    SELECT CAST(prefix_dim AS INTEGER) AS prefix_dim,
           CAST((20 * pe) // te AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM lng WHERE te > 0 GROUP BY 1, 2
"""

ORACLES["theil_sen_trend"] = """
    WITH ev AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(round(value * 1000.0) AS BIGINT) AS vm
        FROM events
    ), daily AS (
        SELECT event_type, day, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(vm) AS BIGINT) AS s,
               CAST(date_diff('day', TIMESTAMP '1970-01-01', day)
                    AS BIGINT) AS d
        FROM ev GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               b.s * a.c - a.s * b.c AS num,
               a.c * b.c * (b.d - a.d) AS den
        FROM daily a JOIN daily b ON a.event_type = b.event_type
        WHERE a.d < b.d
    ), scaled AS (
        SELECT event_type,
               CAST((num * 1000000
                     - ((num * 1000000 % den) + den) % den) // den
                    AS BIGINT) AS slope_micro
        FROM pairs
    ), ranked AS (
        SELECT event_type, slope_micro,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY slope_micro
               ) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM scaled
    )
    SELECT event_type, slope_micro AS theil_sen_micro
    FROM ranked WHERE rk = (n + 1) // 2
"""

ORACLES["distinct_users_sliding"] = """
    WITH r AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             hv % 32 AS b,
             CASE WHEN hv // 32 = 0 THEN 55
                  ELSE bit_count(((hv // 32) & -(hv // 32)) - 1) + 1
             END AS rho
      FROM (
        SELECT ts,
               CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                       1, 15)) AS BIGINT) AS hv
        FROM events
      )
    ), daily AS (
      SELECT day, b, max(rho) AS reg FROM r GROUP BY 1, 2
    ), spine AS (
      SELECT d.day, bb.b
      FROM (SELECT DISTINCT day FROM daily) d,
           (SELECT unnest(range(0, 32)) AS b) bb
    ), dense AS (
      SELECT s.day, s.b, dl.reg
      FROM spine s LEFT JOIN daily dl ON s.day = dl.day AND s.b = dl.b
    ), merged AS (
      SELECT day, b,
             max(reg) OVER (
                 PARTITION BY b ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
             ) AS wreg
      FROM dense
    ), s AS (
      SELECT day,
             CAST(sum(1::BIGINT << (55 - coalesce(wreg, 0))) AS BIGINT)
                 AS reg_sum
      FROM merged GROUP BY 1
    )
    SELECT day, reg_sum,
           round(0.697e0 * 32e0 * 32e0 * 36028797018963968e0
                 / CAST(reg_sum AS DOUBLE), 4) AS est_distinct
    FROM s
"""

ORACLES["conversion_latency"] = """
    WITH v0 AS (
        SELECT user_id, min(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY 1
    ), p0 AS (
        SELECT e.user_id, min(e.ts) AS p_ts, min(v0.v_ts) AS v_ts
        FROM events e JOIN v0 ON e.user_id = v0.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= v0.v_ts
        GROUP BY 1
    )
    SELECT CAST(floor(date_diff('second', v_ts, p_ts) / 3600.0)
                AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n_users
    FROM p0 GROUP BY 1
"""

ORACLES["label_confusion"] = """
    WITH ex AS (
        SELECT vec_id, CAST(label AS INTEGER) AS label,
               CAST(generate_subscripts(embedding, 1) AS INTEGER) AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS xm
        FROM embeddings
    ), cent AS (
        SELECT label AS c, i,
               CAST(floor(CAST(sum(xm) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cm
        FROM ex GROUP BY 1, 2
    ), d AS (
        SELECT ex.vec_id, ex.label, cent.c,
               sum((ex.xm - cent.cm) * (ex.xm - cent.cm)) AS d2
        FROM ex JOIN cent ON ex.i = cent.i
        GROUP BY 1, 2, 3
    ), best AS (
        SELECT vec_id, label, c AS pred_label
        FROM (
            SELECT vec_id, label, c,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2, c
                   ) AS rk
            FROM d
        ) t WHERE rk = 1
    )
    SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n
    FROM best GROUP BY 1, 2
"""

ORACLES["record_linkage"] = """
    WITH names AS (
        SELECT p_name, CAST(count(*) AS BIGINT) AS cnt,
               list_extract(string_split(p_name, ' '),
                            len(string_split(p_name, ' '))) AS blk
        FROM part GROUP BY 1
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b, a.blk AS blk,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
           a.cnt AS cnt_a, b.cnt AS cnt_b
    FROM names a JOIN names b ON a.blk = b.blk
    WHERE a.p_name < b.p_name
      AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
"""

ORACLES["events_autocorr"] = """
    WITH ev AS (
        SELECT event_type, ts, event_id,
               CAST(round(value * 1000.0) AS BIGINT) AS vm
        FROM events
    ),
    lagged AS (
        SELECT event_type, vm,
               lag(vm) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS prev
        FROM ev
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(prev) AS BIGINT) AS sum_x,
           CAST(sum(vm) AS BIGINT) AS sum_y,
           CAST(sum(vm * prev) AS BIGINT) AS sum_xy,
           CAST(sum(prev * prev) AS BIGINT) AS sum_x2,
           CAST(sum(vm * vm) AS BIGINT) AS sum_y2
    FROM lagged WHERE prev IS NOT NULL
    GROUP BY 1
"""

ORACLES["vocab_oov"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents
    ),
    freq AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1),
    vocab AS (
        SELECT token FROM (
            SELECT token,
                   row_number() OVER (ORDER BY freq DESC, token) AS rk
            FROM freq
        ) r WHERE rk <= 1000
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS tok_cnt,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS oov_cnt
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY 1
"""

ORACLES["link_negative_samples"] = f"""
    WITH {{GRAPH_CTES}},
    nsv AS (SELECT DISTINCT v AS id FROM sym),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nsv),
    ranked AS (
        SELECT id, row_number() OVER (
            ORDER BY md5(CAST(id AS VARCHAR)), id
        ) AS r
        FROM nsv
    ),
    draws AS (
        SELECT v.id, j.j,
               CAST(('0x' || substring(md5(CAST(v.id AS VARCHAR) || '|' ||
                     CAST(j.j AS VARCHAR)), 1, 15)) AS BIGINT)
                   % nn.n + 1 AS pr
        FROM nsv v, (SELECT unnest(range(1, 13)) AS j) j, nn
    ),
    acc AS (
        SELECT d.id, rk.id AS neg_id, d.j
        FROM draws d
        JOIN ranked rk ON rk.r = d.pr
        WHERE rk.id <> d.id
          AND NOT EXISTS (
              SELECT 1 FROM sym s WHERE s.v = d.id AND s.n = rk.id
          )
    ),
    dd AS (SELECT id, neg_id, min(j) AS j FROM acc GROUP BY 1, 2)
    SELECT id, neg_id, CAST(j AS INTEGER) AS draw_idx FROM (
        SELECT *, row_number() OVER (
            PARTITION BY id ORDER BY j, neg_id
        ) AS pick
        FROM dd
    ) t WHERE pick <= 5
""".format(GRAPH_CTES=GRAPH_CTES)

ORACLES["psi_drift"] = """
    WITH ev AS (
        SELECT event_type, event_id, ts,
               CAST(round(value * 1000000.0, 0) AS BIGINT) AS xm
        FROM events WHERE value IS NOT NULL
    ),
    halves AS (
        SELECT *, ntile(2) OVER (
            PARTITION BY event_type ORDER BY ts, event_id
        ) AS half
        FROM ev
    ),
    ref AS (SELECT * FROM halves WHERE half = 1),
    nref AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_ref
        FROM ref GROUP BY 1
    ),
    ranked AS (
        SELECT r.event_type, r.xm, n.n_ref,
               row_number() OVER (
                   PARTITION BY r.event_type ORDER BY r.xm
               ) AS rn
        FROM ref r JOIN nref n USING (event_type)
    ),
    edges AS (
        SELECT ranked.event_type, k.k, xm AS edge
        FROM ranked JOIN (SELECT unnest(range(1, 10)) AS k) k
          ON rn = (n_ref * k.k + 9) // 10
    ),
    binned AS (
        SELECT h.event_type, h.event_id, h.half,
               1 + sum(CASE WHEN e.edge < h.xm THEN 1 ELSE 0 END) AS bin
        FROM halves h JOIN edges e USING (event_type)
        GROUP BY 1, 2, 3
    ),
    grid AS (
        SELECT DISTINCT event_type, b.bin
        FROM halves, (SELECT unnest(range(1, 11)) AS bin) b
    ),
    cnts AS (
        SELECT g.event_type, g.bin,
               coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
        FROM grid g LEFT JOIN (
            SELECT event_type, bin,
                   sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS ca,
                   sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS cb
            FROM binned GROUP BY 1, 2
        ) c ON c.event_type = g.event_type AND c.bin = g.bin
    ),
    tot AS (
        SELECT event_type,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM halves GROUP BY 1
    )
    SELECT c.event_type,
           CAST(max(t.n_a) AS BIGINT) AS n_a,
           CAST(max(t.n_b) AS BIGINT) AS n_b,
           CAST(sum(CAST(round(
               (CAST(c.ca + 1 AS DOUBLE) / CAST(t.n_a + 10 AS DOUBLE)
                - CAST(c.cb + 1 AS DOUBLE) / CAST(t.n_b + 10 AS DOUBLE))
               * ln(CAST(c.ca + 1 AS DOUBLE) / CAST(t.n_a + 10 AS DOUBLE)
                    / (CAST(c.cb + 1 AS DOUBLE)
                       / CAST(t.n_b + 10 AS DOUBLE)))
               * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS psi_micro
    FROM cnts c JOIN tot t USING (event_type)
    GROUP BY 1
"""

ORACLES["two_hop_reach"] = f"""
    WITH {{GRAPH_CTES}},
    two AS (
        SELECT DISTINCT a.v AS v, b.n AS w
        FROM sym a JOIN sym b ON b.v = a.n
        WHERE a.v <> b.n
    ),
    strict2 AS (
        SELECT t.v, t.w FROM two t
        LEFT JOIN sym s ON s.v = t.v AND s.n = t.w
        WHERE s.v IS NULL
    ),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS n1 FROM sym GROUP BY v),
    n2 AS (SELECT v, CAST(count(*) AS BIGINT) AS n2 FROM strict2 GROUP BY v)
    SELECT deg.v AS id, deg.n1,
           CAST(coalesce(n2.n2, 0) AS BIGINT) AS n2
    FROM deg LEFT JOIN n2 ON n2.v = deg.v
""".format(GRAPH_CTES=GRAPH_CTES)

ORACLES["events_cusum"] = """
    WITH ev AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 1000000.0, 0) AS BIGINT) AS xm
        FROM events WHERE value IS NOT NULL
    ),
    tot AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n, sum(xm) AS t
        FROM ev GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, e.event_id, e.ts, tot.n,
               sum(tot.n * e.xm - tot.t) OVER wk AS pk
        FROM ev e JOIN tot USING (user_id)
        WINDOW wk AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d AS (
        SELECT user_id, event_id, ts, n,
               pk - min(pk) OVER wk AS dev_up,
               max(pk) OVER wk - pk AS dev_dn
        FROM p
        WINDOW wk AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY dev_up DESC, ts, event_id
        ) AS rn FROM d
    )
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(dev_up) AS BIGINT) AS shift_up,
           CAST(max(dev_dn) AS BIGINT) AS shift_dn,
           CAST(max(CASE WHEN rn = 1 THEN event_id END) AS BIGINT)
               AS cp_event_id
    FROM r GROUP BY 1
"""


def _build_kmeans_sql(k: int = 8, rounds: int = 3) -> str:
    # Mirrors operators/kmeans.kmeans_assign: micro-int vectors,
    # md5-ordered seeds (the ann_ivf_md5 draw), BIGINT squared
    # distances with (d2, c) argmin, floor(sum/count) centroid updates
    # (IEEE division + floor — no .5 boundary), empty cells keep their
    # previous centroid.
    parts = [
        f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    xm AS (
        SELECT vec_id, i, CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm
        FROM ex
    ),
    cent AS (
        SELECT vec_id AS cid,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS c
        FROM embeddings
        QUALIFY c <= {k}
    ),
    cm1 AS (
        SELECT CAST(cent.c AS INTEGER) AS c, x.i, x.xm AS cm
        FROM cent JOIN xm x ON x.vec_id = cid
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    d{r} AS (
        SELECT v.vec_id, c.c,
               CAST(sum((v.xm - c.cm) * (v.xm - c.cm)) AS BIGINT) AS d2
        FROM xm v JOIN cm{r} c ON c.i = v.i
        GROUP BY 1, 2
    ),
    a{r} AS (
        SELECT vec_id, CAST(c AS INTEGER) AS cell, d2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2, c
            ) AS rn FROM d{r}
        ) t WHERE rn = 1
    )"""
        )
        if r < rounds:
            parts.append(
                f""",
    cm{r + 1} AS (
        SELECT p.c, p.i, coalesce(m.cm_new, p.cm) AS cm
        FROM cm{r} p LEFT JOIN (
            SELECT a.cell AS c, v.i,
                   CAST(floor(CAST(sum(v.xm) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE)) AS BIGINT)
                       AS cm_new
            FROM a{r} a JOIN xm v ON v.vec_id = a.vec_id
            GROUP BY 1, 2
        ) m ON m.c = p.c AND m.i = p.i
    )"""
            )
    parts.append(
        f"""
    SELECT vec_id, cell, CAST(d2 AS BIGINT) AS dist2 FROM a{rounds}"""
    )
    return "".join(parts)


ORACLES["kmeans_cells"] = _build_kmeans_sql(8, 3)


def _build_pq_sql(
    k: int = 16, rounds: int = 2, sub_dims: int = 16,
    final: str | None = None,
    prelude: str = "",
    train_src: str = "xm",
) -> str:
    # _build_kmeans_sql generalized per-subspace (operators/pq.py):
    # every distance/argmin/update step additionally keys on
    # s = (i-1) // sub_dims, and the update join pins v.s = a.s so a
    # vector's code in one subspace never leaks into another's
    # centroid. Seeds are the same md5-ordered FULL vectors; each
    # subspace just reads its own dims of them. ``final`` (r13)
    # replaces the default readout with caller-supplied SQL appended
    # after the training chain — _build_ann_ivfpq_sql composes the IVF
    # cell CTEs and the ADC ranking onto the same chain (CTE names
    # ex/xm/cent/cm{r}/d{r}/a{r} are its public surface). ``prelude``
    # (r14) injects extra CTEs between xm and the seed draw, and
    # ``train_src`` retargets the whole training chain at one of them —
    # the residual-encoded IVF-PQ oracle trains on rxm (residual micro
    # rows, same (vec_id, i, s, xm) shape) instead of the raw xm.
    parts = [
        f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    xm AS (
        SELECT vec_id, i, CAST((i - 1) // {sub_dims} AS INTEGER) AS s,
               CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm
        FROM ex
    ){prelude},
    cent AS (
        SELECT vec_id AS cid,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS c
        FROM embeddings
        QUALIFY c <= {k}
    ),
    cm1 AS (
        SELECT CAST(cent.c AS INTEGER) AS c, x.i, x.xm AS cm
        FROM cent JOIN {train_src} x ON x.vec_id = cid
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    d{r} AS (
        SELECT v.vec_id, v.s, c.c,
               CAST(sum((v.xm - c.cm) * (v.xm - c.cm)) AS BIGINT) AS d2
        FROM {train_src} v JOIN cm{r} c ON c.i = v.i
        GROUP BY 1, 2, 3
    ),
    a{r} AS (
        SELECT vec_id, s, CAST(c AS INTEGER) AS cell, d2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d2, c
            ) AS rn FROM d{r}
        ) t WHERE rn = 1
    )"""
        )
        if r < rounds:
            parts.append(
                f""",
    cm{r + 1} AS (
        SELECT p.c, p.i, coalesce(m.cm_new, p.cm) AS cm
        FROM cm{r} p LEFT JOIN (
            SELECT a.cell AS c, v.i,
                   CAST(floor(CAST(sum(v.xm) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE)) AS BIGINT)
                       AS cm_new
            FROM a{r} a JOIN {train_src} v
              ON v.vec_id = a.vec_id AND v.s = a.s
            GROUP BY 1, 2
        ) m ON m.c = p.c AND m.i = p.i
    )"""
            )
    parts.append(
        final
        if final is not None
        else f"""
    SELECT vec_id, CAST(s AS INTEGER) AS subspace, cell AS code,
           CAST(d2 AS BIGINT) AS dist2
    FROM a{rounds}"""
    )
    return "".join(parts)


ORACLES["pq_codes"] = _build_pq_sql(16, 2, 16)


def _build_ann_ivfpq_sql(
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 10,
    pq_k: int = 256,
    rounds: int = 2,
    sub_dims: int = 8,
    query_mod: int = 50,
) -> str:
    # Mirrors operators/pq.ivfpq_topk_md5: the IVF cell machinery (same
    # md5 draw, unit micro centroids, integer cell sims, s DESC/c ASC
    # candidate argmax, s DESC/c DESC probe order) now sits in the
    # PRELUDE because the PQ chain trains on rxm — each vector's
    # micro-int RESIDUAL to its cell's integer-mean vector cmn (r14,
    # FAISS IVF-ADC residual encoding; // and div both truncate toward
    # zero, the signed-micro rule) — followed by the ADC readout:
    # per (query, probed cell) exact squared micro distance from the
    # query's residual IN that cell to every codebook centroid per
    # subspace (qtab), summed over the candidate's codes, matched on
    # the candidate's cell. Every output an integer -> hash-exact.
    prelude = f""",
    icent AS (
        SELECT vec_id AS cid,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS c
        FROM embeddings
        QUALIFY c <= {n_centroids}
    ),
    icnrm AS (
        SELECT c, sqrt(list_sum(list_transform(e.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM icent JOIN embeddings e ON e.vec_id = cid
    ),
    icm AS (
        SELECT n.c, ex.i,
               CAST(round(ex.x / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END)
                          * 1000000.0, 0) AS BIGINT) AS cm
        FROM icent JOIN ex ON ex.vec_id = cid JOIN icnrm n USING (c)
    ),
    isims AS (
        SELECT v.vec_id, c.c, sum(v.xm * c.cm) AS sv
        FROM xm v JOIN icm c ON c.i = v.i
        GROUP BY 1, 2
    ),
    cand_cell AS (
        SELECT vec_id, CAST(c AS INTEGER) AS cell FROM (
            SELECT vec_id, c,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY sv DESC, c ASC
                   ) AS rn
            FROM isims
        ) t WHERE rn = 1
    ),
    iprobe AS (
        SELECT vec_id, CAST(c AS INTEGER) AS cell FROM (
            SELECT vec_id, c,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY sv DESC, c DESC
                   ) AS rn
            FROM isims WHERE vec_id % {query_mod} = 0
        ) t WHERE rn <= {n_probe}
    ),
    cmn AS (
        SELECT cc.cell, v.i, CAST(sum(v.xm) // count(*) AS BIGINT) AS cm
        FROM xm v JOIN cand_cell cc ON cc.vec_id = v.vec_id
        GROUP BY 1, 2
    ),
    rxm AS (
        SELECT v.vec_id, v.i, v.s, CAST(v.xm - m.cm AS BIGINT) AS xm
        FROM xm v
        JOIN cand_cell cc ON cc.vec_id = v.vec_id
        JOIN cmn m ON m.cell = cc.cell AND m.i = v.i
    )"""
    final = f""",
    icand AS (
        SELECT DISTINCT p.vec_id AS query_id, cc.vec_id AS cand_id,
               cc.cell
        FROM iprobe p JOIN cand_cell cc USING (cell)
        WHERE p.vec_id <> cc.vec_id
    ),
    qres AS (
        SELECT v.vec_id AS query_id, p.cell, v.i, v.s,
               CAST(v.xm - c.cm AS BIGINT) AS rm
        FROM xm v
        JOIN iprobe p ON p.vec_id = v.vec_id
        JOIN cmn c ON c.cell = p.cell AND c.i = v.i
    ),
    qtab AS (
        SELECT q.query_id, q.cell, q.s, c.c AS code,
               CAST(sum((q.rm - c.cm) * (q.rm - c.cm)) AS BIGINT) AS qd2
        FROM qres q JOIN cm{rounds} c ON c.i = q.i
        GROUP BY 1, 2, 3, 4
    ),
    adc AS (
        SELECT ic.query_id, ic.cand_id, CAST(sum(q.qd2) AS BIGINT) AS adc_d2
        FROM icand ic
        JOIN a{rounds} a ON a.vec_id = ic.cand_id
        JOIN qtab q ON q.query_id = ic.query_id AND q.cell = ic.cell
                   AND q.s = a.s AND q.code = a.cell
        GROUP BY 1, 2
    )
    SELECT query_id, cand_id, CAST(adc_d2 AS BIGINT) AS adc_d2,
           CAST(rank AS INTEGER) AS rank FROM (
        SELECT query_id, cand_id, adc_d2,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY adc_d2, cand_id
               ) AS rank
        FROM adc
    ) r WHERE rank <= {k}"""
    return _build_pq_sql(
        pq_k, rounds, sub_dims, final=final, prelude=prelude,
        train_src="rxm",
    )


ORACLES["ann_ivfpq"] = _build_ann_ivfpq_sql()

ORACLES["ivfpq_recall_audit"] = f"""
    WITH ap0 AS ({_build_ann_ivfpq_sql()}),
    ap AS (SELECT query_id, cand_id FROM ap0),
    bex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    bxm AS (
        SELECT vec_id, i, CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm
        FROM bex
    ),
    bd AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               CAST(sum((q.xm - c.xm) * (q.xm - c.xm)) AS BIGINT) AS d2
        FROM bxm q JOIN bxm c ON q.i = c.i
        WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
        GROUP BY 1, 2
    ),
    brute AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY d2, cand_id) AS rnk
            FROM bd
        ) r WHERE rnk <= 10
    ),
    ta AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
           FROM ap GROUP BY 1),
    h AS (
        SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM brute b
        JOIN ap a ON a.query_id = b.query_id AND a.cand_id = b.cand_id
        GROUP BY 1
    )
    SELECT t.query_id,
           t.n_true,
           CAST(coalesce(ta.n_approx, 0) AS BIGINT) AS n_approx,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST((coalesce(h.n_hit, 0) * 1000000) // t.n_true AS BIGINT)
               AS recall_ppm
    FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS n_true
          FROM brute GROUP BY 1) t
    LEFT JOIN ta ON ta.query_id = t.query_id
    LEFT JOIN h ON h.query_id = t.query_id
"""

# ADC top-30 shortlist -> exact micro-L2 rerank -> top-10 (FAISS
# IndexRefineFlat; q_ann_ivfpq_refined). Every consecutive join pair is
# equality-connected (the frequent_itemsets piecewise-merge trap): ap0
# -> q on query_id, q -> c on (cand_id, i).
ORACLES["ann_ivfpq_refined"] = f"""
    WITH ap0 AS ({_build_ann_ivfpq_sql(k=30)}),
    rex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    rxm2 AS (
        SELECT vec_id, i, CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm
        FROM rex
    ),
    rd AS (
        SELECT a.query_id, a.cand_id,
               CAST(sum((q.xm - c.xm) * (q.xm - c.xm)) AS BIGINT) AS d2
        FROM ap0 a
        JOIN rxm2 q ON q.vec_id = a.query_id
        JOIN rxm2 c ON c.vec_id = a.cand_id AND c.i = q.i
        GROUP BY 1, 2
    )
    SELECT query_id, cand_id, d2, CAST(rank AS INTEGER) AS rank FROM (
        SELECT query_id, cand_id, d2,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY d2, cand_id
               ) AS rank
        FROM rd
    ) r WHERE rank <= 10
"""


ORACLES["graph_diameter"] = f"""
    WITH RECURSIVE {{GRAPH_CTES}},
    root AS (SELECT min(v) AS id FROM sym),
    w1(id, dist) AS (
        SELECT id, 0 FROM root
        UNION
        SELECT s.n, w.dist + 1 FROM w1 w JOIN sym s ON s.v = w.id
        WHERE w.dist < 64
    ),
    d1 AS (SELECT id, min(dist) AS dist FROM w1 GROUP BY id),
    far AS (SELECT id FROM d1 ORDER BY dist DESC, id LIMIT 1),
    w2(id, dist) AS (
        SELECT id, 0 FROM far
        UNION
        SELECT s.n, w.dist + 1 FROM w2 w JOIN sym s ON s.v = w.id
        WHERE w.dist < 64
    ),
    d2 AS (SELECT id, min(dist) AS dist FROM w2 GROUP BY id)
    SELECT CAST((SELECT min(v) FROM sym) AS BIGINT) AS start_id,
           CAST((SELECT id FROM far) AS BIGINT) AS sweep_source,
           CAST((SELECT id FROM d2 ORDER BY dist DESC, id LIMIT 1)
               AS BIGINT) AS peripheral_id,
           CAST(max(dist) AS BIGINT) AS diameter_lb,
           CAST(count(*) AS BIGINT) AS n_reached
    FROM d2
""".format(GRAPH_CTES=GRAPH_CTES)


def _bpe_ctes(n_merges: int = 3) -> str:
    # Mirrors operators/bpe._induce: word-frequency table over
    # _DUCK_TOKENS, per-round integer pair counts with (pc DESC, a, b)
    # argmax, and the greedy left-to-right merge replayed as windows:
    # islands of consecutive matching positions (only possible when
    # a = b) keep their even-parity members — provably the fold's
    # selection; a selected position emits a||b and consumes i+1.
    # Returns ONLY the CTE chain; both bpe oracles compose their final
    # SELECT onto it, so the learn and apply oracles share every CTE
    # by construction (no string surgery — ADVICE r8).
    parts = [
        f"""
    WITH w0 AS (
        SELECT t AS w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({_DUCK_TOKENS}) AS t FROM documents)
        GROUP BY 1
    ),
    sym1 AS (
        SELECT w, cnt, CAST(i AS BIGINT) AS i,
               substring(w, CAST(i AS INTEGER), 1) AS s
        FROM (SELECT w, cnt, unnest(range(1, length(w) + 1)) AS i FROM w0)
    )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""",
    pair{r} AS (
        SELECT x.s AS a, y.s AS b, CAST(sum(x.cnt) AS BIGINT) AS pc
        FROM sym{r} x JOIN sym{r} y ON y.w = x.w AND y.i = x.i + 1
        GROUP BY 1, 2
    ),
    top{r} AS (SELECT a, b, pc FROM pair{r} ORDER BY pc DESC, a, b LIMIT 1),
    m{r} AS (
        SELECT x.w, x.cnt, x.i, x.s,
               CASE WHEN x.s = t.a AND y.s = t.b THEN 1 ELSE 0 END AS m
        FROM sym{r} x
        LEFT JOIN sym{r} y ON y.w = x.w AND y.i = x.i + 1
        CROSS JOIN top{r} t
    ),
    isl{r} AS (
        SELECT *, CASE WHEN m = 1
                       THEN i - row_number() OVER (PARTITION BY w, m ORDER BY i)
                  END AS isl
        FROM m{r}
    ),
    sel{r} AS (
        SELECT *, CASE WHEN m = 1 AND
                       (i - min(i) OVER (PARTITION BY w, isl)) % 2 = 0
                       THEN 1 ELSE 0 END AS sel
        FROM isl{r}
    ),
    emit{r} AS (
        SELECT w, cnt, i,
               CASE WHEN sel = 1 THEN (SELECT a || b FROM top{r}) ELSE s END AS s,
               lag(sel) OVER (PARTITION BY w ORDER BY i) AS consumed
        FROM sel{r}
    ),
    sym{r + 1} AS (
        SELECT w, cnt,
               CAST(row_number() OVER (PARTITION BY w ORDER BY i) AS BIGINT) AS i,
               s
        FROM emit{r} WHERE consumed IS NULL OR consumed = 0
    )"""
        )
    return "".join(parts)


def _build_bpe_sql(n_merges: int = 3) -> str:
    selects = [
        f"SELECT CAST({r} AS INTEGER) AS merge_round, a AS sym_a, b AS sym_b,"
        f" pc AS pair_count FROM top{r}"
        for r in range(1, n_merges + 1)
    ]
    return _bpe_ctes(n_merges) + "\n    " + "\n    UNION ALL ".join(selects)


ORACLES["bpe_merges"] = _build_bpe_sql(3)


def _build_bpe_encode_sql(n_merges: int = 3) -> str:
    # Same CTE chain, but the final select serializes sym{n+1} — the
    # vocabulary AFTER the merges — instead of the merge list.
    return _bpe_ctes(n_merges) + f"""
    SELECT w, cnt,
           CAST(count(*) AS BIGINT) AS n_syms,
           string_agg(s, '|' ORDER BY i) AS encoding
    FROM sym{n_merges + 1}
    GROUP BY w, cnt
"""


ORACLES["bpe_encode"] = _build_bpe_encode_sql(3)

ORACLES["tokenizer_fertility"] = _bpe_ctes(3) + f""",
    vocab AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_syms
        FROM sym4 GROUP BY w
    ),
    dw AS (
        SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS w FROM documents
    )
    SELECT d.lang,
           CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(v.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(length(d.w)) AS BIGINT) AS n_chars,
           CAST((CAST(sum(v.n_syms) AS BIGINT) * 1000000)
                // CAST(sum(length(d.w)) AS BIGINT) AS BIGINT)
               AS fertility_ppm,
           CAST((CAST(sum(length(d.w)) AS BIGINT) * 1000000)
                // CAST(sum(v.n_syms) AS BIGINT) AS BIGINT)
               AS chars_per_token_micro
    FROM dw d JOIN vocab v ON v.w = d.w
    GROUP BY 1
"""

from graph_database_spark.operators.pii import (  # noqa: E402
    EMAIL_RE as _PII_EMAIL,
    IPV4_RE as _PII_IPV4,
    PHONE_RE as _PII_PHONE,
)

ORACLES["pii_scan"] = f"""
    WITH planted AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
                         '@mail' || CAST(doc_id % 100 AS VARCHAR) || '.com'
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0
                    THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
                         '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                    ELSE '' END ||
               CASE WHEN doc_id % 13 = 0
                    THEN ' call ' || CAST(100 + doc_id % 900 AS VARCHAR) ||
                         '-' || CAST(100 + (doc_id * 3) % 900 AS VARCHAR) ||
                         '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                    ELSE '' END AS text
        FROM documents
    ),
    staged AS (
        -- counts follow the staged redaction (mirrors operators/pii.py)
        SELECT doc_id, text,
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g')
                   AS after_email
        FROM planted
    ),
    staged2 AS (
        SELECT doc_id, text, after_email,
               regexp_replace(after_email, '{_PII_IPV4}', '<IP>', 'g')
                   AS after_ip
        FROM staged
    ),
    scanned AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(after_email, '{_PII_IPV4}'))
                   AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(after_ip, '{_PII_PHONE}'))
                   AS BIGINT) AS n_phones,
               CAST(length(regexp_replace(after_ip,
                    '{_PII_PHONE}', '<PHONE>', 'g')) AS BIGINT)
                   AS n_chars_redacted
        FROM staged2
    )
    SELECT doc_id, n_emails, n_ipv4, n_phones,
           CAST(CASE WHEN n_emails + n_ipv4 + n_phones > 0
                     THEN 1 ELSE 0 END AS INTEGER) AS has_pii,
           n_chars_redacted
    FROM scanned
"""

def _build_ucb_sql() -> str:
    ucb_next = _ucb_expr("t + 1").replace(" div ", " // ")
    maxl = _UCB_MAXL
    return f"""
WITH RECURSIVE d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
rewards AS (
    SELECT CAST(date_diff('day', d0.d0, CAST(ts AS DATE)) + 1 AS INTEGER)
             AS t,
           event_type AS a,
           (2 * CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
              * 10000 + CAST(count(*) AS BIGINT))
             // (2 * CAST(count(*) AS BIGINT)) AS r
    FROM events CROSS JOIN d0
    GROUP BY 1, 2
),
tm AS (SELECT max(t) AS tmax FROM rewards),
arms AS (SELECT DISTINCT a FROM rewards),
f AS (
    SELECT 0 AS t,
           (SELECT list({{'a': a, 'n': CAST(0 AS BIGINT),
                          's': CAST(0 AS BIGINT)}} ORDER BY a) FROM arms)
             AS arms,
           CAST(NULL AS VARCHAR) AS pk,
           CAST(NULL AS BIGINT) AS pk_ucb,
           CAST(NULL AS BIGINT) AS pk_r
    UNION ALL
    SELECT l.t + 1,
           list_transform(l.arms, x -> CASE WHEN x.a = l.pk2
               THEN {{'a': x.a, 'n': x.n + 1, 's': x.s + l.pk_r2}}
               ELSE x END),
           l.pk2, l.mu, l.pk_r2
    FROM (
        SELECT l3.*, coalesce(rw.r, CAST(0 AS BIGINT)) AS pk_r2
        FROM (
            SELECT l2.*,
                   list_min(list_transform(
                       list_filter(l2.arms, x -> {ucb_next} = l2.mu),
                       x -> x.a)) AS pk2
            FROM (
                SELECT f.t, f.arms,
                       list_max(list_transform(f.arms, x -> {ucb_next}))
                         AS mu
                FROM f, tm WHERE f.t < tm.tmax
            ) l2
        ) l3
        LEFT JOIN rewards rw ON rw.t = l3.t + 1 AND rw.a = l3.pk2
    ) l
)
SELECT CAST(t AS BIGINT) AS day, pk AS arm,
       CASE WHEN pk_ucb = CAST({maxl} AS BIGINT) THEN CAST(NULL AS BIGINT)
            ELSE pk_ucb END AS ucb_micro,
       pk_r AS reward_micro
FROM f WHERE t >= 1
"""


ORACLES["ucb_replay"] = _build_ucb_sql()

def _build_logit_sql(rounds: int = _LOGIT_ROUNDS) -> str:
    # Mirrors q_logistic_calibration's per-round expression tree
    # operand-for-operand (micro-snapped sigmoid sums, double 2x2
    # solve) so every w_k is bit-identical.
    parts = [
        """
WITH d AS (
    SELECT CAST(n_chars - 300 AS BIGINT) AS zi,
           CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
    FROM documents
),
wv0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"""
    ]
    p = (
        "(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + exp(-(w.w0 + w.w1 * CAST(d.zi AS DOUBLE)))))"
    )
    for k in range(1, rounds + 1):
        parts.append(
            f""",
it{k} AS (
    SELECT
        CAST(sum(d.y * 1000000
            - CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT))
          AS BIGINT) AS g0,
        CAST(sum(d.zi * (d.y * 1000000
            - CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT)))
          AS BIGINT) AS g1,
        CAST(sum(CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h00,
        CAST(sum(d.zi * CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h01,
        CAST(sum(d.zi * d.zi * CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h11
    FROM d CROSS JOIN wv{k - 1} w
),
wv{k} AS (
    SELECT
        w.w0 + (CAST(i.h11 AS DOUBLE) * CAST(i.g0 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.g1 AS DOUBLE))
           / (CAST(i.h00 AS DOUBLE) * CAST(i.h11 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.h01 AS DOUBLE)) AS w0,
        w.w1 + (CAST(i.h00 AS DOUBLE) * CAST(i.g1 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.g0 AS DOUBLE))
           / (CAST(i.h00 AS DOUBLE) * CAST(i.h11 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.h01 AS DOUBLE)) AS w1
    FROM it{k} i CROSS JOIN wv{k - 1} w
)"""
        )
    parts.append(
        f"""
SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d.y) AS BIGINT) AS pos,
       w.w0 AS w0, w.w1 AS w1
FROM d CROSS JOIN wv{rounds} w
GROUP BY w.w0, w.w1"""
    )
    return "".join(parts)


ORACLES["logistic_calibration"] = _build_logit_sql()


def _build_platt_sql(rounds: int = _LOGIT_ROUNDS) -> str:
    # q_platt_scaling's unrolled mirror: _build_logit_sql's structure
    # with the hard labels replaced by Platt's smoothed micro-rational
    # targets (computed in their own CTE with the same // arithmetic).
    parts = [
        """
WITH d AS (
    SELECT CAST(n_chars - 300 AS BIGINT) AS zi,
           CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
    FROM documents
),
tgt AS (
    SELECT ((sum(y) + 1) * 1000000) // (sum(y) + 2) AS tp,
           1000000 // (count(*) - sum(y) + 2) AS tn
    FROM d
),
wv0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"""
    ]
    p = (
        "(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + exp(-(w.w0 + w.w1 * CAST(d.zi AS DOUBLE)))))"
    )
    t = "(CASE WHEN d.y = 1 THEN g.tp ELSE g.tn END)"
    for k in range(1, rounds + 1):
        parts.append(
            f""",
it{k} AS (
    SELECT
        CAST(sum({t}
            - CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT))
          AS BIGINT) AS g0,
        CAST(sum(d.zi * ({t}
            - CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT)))
          AS BIGINT) AS g1,
        CAST(sum(CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h00,
        CAST(sum(d.zi * CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h01,
        CAST(sum(d.zi * d.zi * CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h11
    FROM d CROSS JOIN wv{k - 1} w CROSS JOIN tgt g
),
wv{k} AS (
    SELECT
        w.w0 + (CAST(i.h11 AS DOUBLE) * CAST(i.g0 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.g1 AS DOUBLE))
           / (CAST(i.h00 AS DOUBLE) * CAST(i.h11 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.h01 AS DOUBLE)) AS w0,
        w.w1 + (CAST(i.h00 AS DOUBLE) * CAST(i.g1 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.g0 AS DOUBLE))
           / (CAST(i.h00 AS DOUBLE) * CAST(i.h11 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.h01 AS DOUBLE)) AS w1
    FROM it{k} i CROSS JOIN wv{k - 1} w
)"""
        )
    parts.append(
        f"""
SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d.y) AS BIGINT) AS pos,
       CAST(g.tp AS BIGINT) AS tp_micro, CAST(g.tn AS BIGINT) AS tn_micro,
       w.w0 AS w0, w.w1 AS w1
FROM d CROSS JOIN wv{rounds} w CROSS JOIN tgt g
GROUP BY g.tp, g.tn, w.w0, w.w1"""
    )
    return "".join(parts)


ORACLES["platt_scaling"] = _build_platt_sql()


def _build_ipw_sql(rounds: int = _LOGIT_ROUNDS) -> str:
    # q_ipw_effect's unrolled mirror: the logit CTE chain fitted on
    # orders (treatment = urgent priority, covariate = order year),
    # then the micro-snapped Hajek weights and four sufficient sums.
    parts = [
        """
WITH d AS (
    SELECT CAST(year(o_orderdate) - 1998 AS BIGINT) AS zi,
           CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                AS BIGINT) AS y,
           CAST(round(o_totalprice) AS BIGINT) AS val
    FROM orders
),
wv0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"""
    ]
    p = (
        "(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + exp(-(w.w0 + w.w1 * CAST(d.zi AS DOUBLE)))))"
    )
    for k in range(1, rounds + 1):
        parts.append(
            f""",
it{k} AS (
    SELECT
        CAST(sum(d.y * 1000000
            - CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT))
          AS BIGINT) AS g0,
        CAST(sum(d.zi * (d.y * 1000000
            - CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT)))
          AS BIGINT) AS g1,
        CAST(sum(CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h00,
        CAST(sum(d.zi * CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h01,
        CAST(sum(d.zi * d.zi * CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h11
    FROM d CROSS JOIN wv{k - 1} w
),
wv{k} AS (
    SELECT
        w.w0 + (CAST(i.h11 AS DOUBLE) * CAST(i.g0 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.g1 AS DOUBLE))
           / (CAST(i.h00 AS DOUBLE) * CAST(i.h11 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.h01 AS DOUBLE)) AS w0,
        w.w1 + (CAST(i.h00 AS DOUBLE) * CAST(i.g1 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.g0 AS DOUBLE))
           / (CAST(i.h00 AS DOUBLE) * CAST(i.h11 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.h01 AS DOUBLE)) AS w1
    FROM it{k} i CROSS JOIN wv{k - 1} w
)"""
        )
    wt = (
        f"(CASE WHEN d.y = 1 THEN CAST(round(CAST(1000000.0 AS DOUBLE)"
        f" / {p}, 0) AS BIGINT) ELSE CAST(round(CAST(1000000.0 AS DOUBLE)"
        f" / (CAST(1.0 AS DOUBLE) - {p}), 0) AS BIGINT) END)"
    )
    parts.append(
        f""",
ag AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           max(w.w0) AS pw0, max(w.w1) AS pw1,
           CAST(sum(d.y * {wt} * d.val) AS BIGINT) AS s1,
           CAST(sum(d.y * {wt}) AS BIGINT) AS d1,
           CAST(sum((1 - d.y) * {wt} * d.val) AS BIGINT) AS s0,
           CAST(sum((1 - d.y) * {wt}) AS BIGINT) AS d0
    FROM d CROSS JOIN wv{rounds} w
)
SELECT n, pw0, pw1, s1, d1, s0, d0,
       CAST(s1 AS DOUBLE) / CAST(d1 AS DOUBLE)
         - CAST(s0 AS DOUBLE) / CAST(d0 AS DOUBLE) AS ate_dollars
FROM ag"""
    )
    return "".join(parts)


ORACLES["ipw_effect"] = _build_ipw_sql()


def _build_fs_sql(rounds: int = _FS_ROUNDS) -> str:
    # q_fellegi_sunter's unrolled mirror: same blocked pairs, same
    # 16-row pattern table, same 5 E/M rounds with floor-snapped micro
    # posteriors and integer M-step sums; every float op parenthesized
    # exactly as the driver loop computes it.
    def prod(start: str, param: str) -> str:
        e = start
        for k in range(1, 5):
            f = (
                f"CASE WHEN g{k} = 1 THEN e.{param}{k}"
                f" ELSE (CAST(1.0 AS DOUBLE) - e.{param}{k}) END"
            )
            e = f"({e} * {f})"
        return e

    a = prod("e.p", "m")
    b = prod("(CAST(1.0 AS DOUBLE) - e.p)", "u")
    init_cols = ", ".join(
        [f"CAST(0.9 AS DOUBLE) AS m{k}" for k in range(1, 5)]
        + [f"CAST(0.1 AS DOUBLE) AS u{k}" for k in range(1, 5)]
    )
    parts = [
        f"""
WITH rk AS (
    SELECT p_name, p_brand, p_type, p_size,
           row_number() OVER (
               ORDER BY p_name, p_brand, p_size, p_partkey) AS r
    FROM part
),
pairs AS (
    SELECT a.p_name AS na, a.p_brand AS ba, a.p_type AS tya,
           a.p_size AS sa, b.p_name AS nb, b.p_brand AS bb,
           b.p_type AS tyb, b.p_size AS sb
    FROM (SELECT rk.*, u.off FROM rk, UNNEST([1, 2, 3]) AS u(off)) a
    JOIN rk b ON b.r = a.r + a.off
),
pat AS (
    SELECT CASE WHEN na = nb THEN 1 ELSE 0 END AS g1,
           CASE WHEN ba = bb THEN 1 ELSE 0 END AS g2,
           CASE WHEN tya = tyb THEN 1 ELSE 0 END AS g3,
           CASE WHEN abs(sa - sb) <= 2 THEN 1 ELSE 0 END AS g4,
           CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1, 2, 3, 4
),
em0 AS (SELECT CAST(0.1 AS DOUBLE) AS p, {init_cols})"""
    ]
    estep = (
        f"SELECT g1, g2, g3, g4, n,"
        f" CAST(floor(({a} / ({a} + {b}))"
        f" * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS wm"
        f" FROM pat CROSS JOIN em{{r}} e"
    )
    for r in range(1, rounds + 1):
        mu_cols = ", ".join(
            f"CAST(sum(CASE WHEN g{k} = 1 THEN n * wm ELSE 0 END)"
            f" AS DOUBLE) / CAST(sum(n * wm) AS DOUBLE) AS m{k}"
            for k in range(1, 5)
        )
        u_cols = ", ".join(
            f"CAST(sum(CASE WHEN g{k} = 1 THEN n * (1000000 - wm)"
            f" ELSE 0 END) AS DOUBLE)"
            f" / CAST(sum(n * (1000000 - wm)) AS DOUBLE) AS u{k}"
            for k in range(1, 5)
        )
        parts.append(
            f""",
w{r} AS ({estep.format(r=r - 1)}),
em{r} AS (
    SELECT CAST(sum(n * wm) AS DOUBLE)
             / (CAST(1000000.0 AS DOUBLE) * CAST(sum(n) AS DOUBLE)) AS p,
           {mu_cols}, {u_cols}
    FROM w{r}
)"""
        )
    parts.append(
        f""",
wfin AS ({estep.format(r=rounds)})
SELECT CAST(g1 AS INT) AS g1, CAST(g2 AS INT) AS g2,
       CAST(g3 AS INT) AS g3, CAST(g4 AS INT) AS g4,
       n AS n_pairs, wm AS post_micro
FROM wfin"""
    )
    return "".join(parts)


ORACLES["fellegi_sunter"] = _build_fs_sql()

ORACLES["cmh_test"] = """
WITH cells AS (
    SELECT c.c_nationkey,
           CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                          AND o.o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                     THEN 1 ELSE 0 END) AS BIGINT) AS r1,
           CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(count(*) AS BIGINT) AS nn
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    HAVING count(*) >= 2
       AND sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) > 0
       AND sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) > 0
),
terms AS (
    SELECT c_nationkey,
           1000000 * a - (1000000 * r1 * c1) // nn AS num_micro,
           ((((1000000 * r1 * c1) // nn) * (nn - r1)) // nn)
             * (nn - c1) // (nn - 1) AS var_micro
    FROM cells
)
SELECT CAST(count(*) AS BIGINT) AS n_strata,
       CAST(sum(num_micro) AS BIGINT) AS s_num_micro,
       CAST(sum(var_micro) AS BIGINT) AS s_var_micro,
       (CAST(sum(num_micro) AS DOUBLE) * CAST(sum(num_micro) AS DOUBLE))
         / (CAST(1000000.0 AS DOUBLE) * CAST(sum(var_micro) AS DOUBLE))
         AS cmh_stat
FROM terms
"""


def _build_kfold_sql() -> str:
    # q_kfold_cv's mirror: identical complement-stat IEEE chains (each
    # sufficient stat cast to DOUBLE individually — see the int64 note
    # in the query) and the same floor-snapped whole-dollar residuals.
    num = (
        "(CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)"
        " - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))"
    )
    den = (
        "(CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)"
        " - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE))"
    )
    return f"""
WITH rows_ AS (
    SELECT CAST(('0x' || substr(md5('kf|' || CAST(l_orderkey AS VARCHAR)
               || '|' || CAST(l_linenumber AS VARCHAR)), 1, 4)) AS BIGINT)
               % 5 AS fold,
           CAST(round(l_quantity) AS BIGINT) AS x,
           CAST(round(l_extendedprice) AS BIGINT) AS y
    FROM lineitem
),
fs AS (
    SELECT fold, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM rows_ GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS tn,
           CAST(sum(x) AS BIGINT) AS tsx, CAST(sum(y) AS BIGINT) AS tsy,
           CAST(sum(x * x) AS BIGINT) AS tsxx,
           CAST(sum(x * y) AS BIGINT) AS tsxy
    FROM rows_
),
mdl AS (
    SELECT fold, {num} / {den} AS slope,
           (CAST(tsy - sy AS DOUBLE) - {num} / {den}
            * CAST(tsx - sx AS DOUBLE)) / CAST(tn - n AS DOUBLE)
             AS intercept
    FROM fs CROSS JOIN tot
),
sc AS (
    SELECT r.fold, m.slope, m.intercept,
           r.y - CAST(floor(m.intercept + m.slope * CAST(r.x AS DOUBLE))
                 AS BIGINT) AS res
    FROM rows_ r JOIN mdl m ON m.fold = r.fold
)
SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
       max(slope) AS slope, max(intercept) AS intercept,
       CAST(sum(res * res) AS BIGINT) AS sse_test
FROM sc GROUP BY 1
"""


ORACLES["kfold_cv"] = _build_kfold_sql()


def _build_source_influence_sql() -> str:
    # q_source_influence's mirror: the kfold complement-stat chains
    # keyed by document source; x = textnorm token count (the
    # _DUCK_TOKENS fragment, never regexp-count — CLAUDE.md rule),
    # y = raw char length.
    num = (
        "(CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)"
        " - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))"
    )
    den = (
        "(CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)"
        " - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE))"
    )
    return f"""
WITH rows_ AS (
    SELECT source,
           CAST(len({_DUCK_TOKENS}) AS BIGINT) AS x,
           CAST(length(text) AS BIGINT) AS y
    FROM documents
),
fs AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM rows_ GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS tn,
           CAST(sum(x) AS BIGINT) AS tsx, CAST(sum(y) AS BIGINT) AS tsy,
           CAST(sum(x * x) AS BIGINT) AS tsxx,
           CAST(sum(x * y) AS BIGINT) AS tsxy
    FROM rows_
),
mdl AS (
    SELECT source, {num} / {den} AS slope,
           (CAST(tsy - sy AS DOUBLE) - {num} / {den}
            * CAST(tsx - sx AS DOUBLE)) / CAST(tn - n AS DOUBLE)
             AS intercept
    FROM fs CROSS JOIN tot
),
sc AS (
    SELECT r.source, m.slope, m.intercept,
           r.y - CAST(floor(m.intercept + m.slope * CAST(r.x AS DOUBLE))
                 AS BIGINT) AS res
    FROM rows_ r JOIN mdl m ON m.source = r.source
)
SELECT source, CAST(count(*) AS BIGINT) AS n_test,
       max(slope) AS slope, max(intercept) AS intercept,
       CAST(sum(res * res) AS BIGINT) AS sse_test,
       (CAST(sum(res * res) AS BIGINT) * 1000000)
         // CAST(count(*) AS BIGINT) AS sse_per_row_micro
FROM sc GROUP BY 1
"""


ORACLES["source_influence"] = _build_source_influence_sql()

ORACLES["quantile_treatment_effect"] = """
WITH src AS (
    SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
counts AS (
    SELECT grp, cents, CAST(count(*) AS BIGINT) AS cnt
    FROM src GROUP BY 1, 2
),
grid AS (
    SELECT grp, cents, cnt,
           sum(cnt) OVER (PARTITION BY grp ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM counts
),
ns AS (SELECT grp, CAST(max(cum) AS BIGINT) AS n FROM grid GROUP BY 1),
ranks AS (
    SELECT ns.grp, d.k, (d.k * ns.n + 9) // 10 AS rk
    FROM ns CROSS JOIN (SELECT unnest(range(1, 10)) AS k) d
),
picked AS (
    SELECT r.grp AS g, r.k, g2.cents AS q
    FROM grid g2 JOIN ranks r
      ON r.grp = g2.grp AND g2.cum >= r.rk AND g2.cum - g2.cnt < r.rk
)
SELECT CAST(u.k AS BIGINT) AS decile,
       u.q AS q_urgent_cents,
       l.q AS q_low_cents,
       u.q - l.q AS qte_cents
FROM (SELECT k, q FROM picked WHERE g = 1) u
JOIN (SELECT k, q FROM picked WHERE g = 0) l ON l.k = u.k
"""


def _build_psm_sql(rounds: int = _LOGIT_ROUNDS) -> str:
    # q_propensity_matching's unrolled mirror: the same logit CTE chain
    # (treatment = BUILDING segment, covariate = balance bucket), then
    # the micro-snapped propensity cells, nearest-control-cell match
    # within the 50000-ppm caliper, and the ATT fold.
    parts = [
        """
WITH d AS (
    SELECT CAST(round(c.c_acctbal) AS BIGINT) // 100 AS zi,
           CAST(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                AS BIGINT) AS y,
           coalesce(s.sp, 0) AS val
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS sp
        FROM orders GROUP BY 1
    ) s ON s.o_custkey = c.c_custkey
),
wv0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"""
    ]
    p = (
        "(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + exp(-(w.w0 + w.w1 * CAST(d.zi AS DOUBLE)))))"
    )
    for k in range(1, rounds + 1):
        parts.append(
            f""",
it{k} AS (
    SELECT
        CAST(sum(d.y * 1000000
            - CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT))
          AS BIGINT) AS g0,
        CAST(sum(d.zi * (d.y * 1000000
            - CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT)))
          AS BIGINT) AS g1,
        CAST(sum(CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h00,
        CAST(sum(d.zi * CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h01,
        CAST(sum(d.zi * d.zi * CAST(round({p} * (CAST(1.0 AS DOUBLE) - {p})
            * CAST(1000000 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS h11
    FROM d CROSS JOIN wv{k - 1} w
),
wv{k} AS (
    SELECT
        w.w0 + (CAST(i.h11 AS DOUBLE) * CAST(i.g0 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.g1 AS DOUBLE))
           / (CAST(i.h00 AS DOUBLE) * CAST(i.h11 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.h01 AS DOUBLE)) AS w0,
        w.w1 + (CAST(i.h00 AS DOUBLE) * CAST(i.g1 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.g0 AS DOUBLE))
           / (CAST(i.h00 AS DOUBLE) * CAST(i.h11 AS DOUBLE)
                - CAST(i.h01 AS DOUBLE) * CAST(i.h01 AS DOUBLE)) AS w1
    FROM it{k} i CROSS JOIN wv{k - 1} w
)"""
        )
    parts.append(
        f""",
scored AS (
    SELECT d.y, d.val,
           CAST(round({p} * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS pm
    FROM d CROSS JOIN wv{rounds} w
),
tg AS (
    SELECT pm, CAST(count(*) AS BIGINT) AS n_t,
           CAST(sum(val) AS BIGINT) AS sv_t
    FROM scored WHERE y = 1 GROUP BY 1
),
cg AS (
    SELECT pm AS pm_c, CAST(count(*) AS BIGINT) AS n_c,
           CAST(sum(val) AS BIGINT) AS sv_c
    FROM scored WHERE y = 0 GROUP BY 1
),
cand AS (
    SELECT t.pm, t.n_t, t.sv_t, c.n_c, c.sv_c,
           abs(t.pm - c.pm_c) AS dist
    FROM tg t CROSS JOIN cg c
),
dm AS (SELECT pm AS pm_d, min(dist) AS dmin FROM cand GROUP BY 1),
mt AS (
    SELECT c.pm, max(c.n_t) AS n_t, max(c.sv_t) AS sv_t,
           CAST(sum(c.n_c) AS BIGINT) AS cn,
           CAST(sum(c.sv_c) AS BIGINT) AS csv,
           max(m.dmin) AS dmin
    FROM cand c JOIN dm m ON c.pm = m.pm_d AND c.dist = m.dmin
    GROUP BY c.pm
),
ok AS (
    SELECT n_t, sv_t,
           (2 * 1000000 * csv + cn) // (2 * cn) AS avg_c_micro
    FROM mt WHERE dmin <= 50000
),
tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_treated FROM tg)
SELECT tot.n_treated,
       CAST(sum(ok.n_t) AS BIGINT) AS n_matched,
       max(w.w0) AS pw0, max(w.w1) AS pw1,
       CAST(sum(ok.sv_t * 1000000 - ok.n_t * ok.avg_c_micro) AS BIGINT)
         // CAST(sum(ok.n_t) AS BIGINT) AS att_micro
FROM ok CROSS JOIN tot CROSS JOIN wv{rounds} w
GROUP BY tot.n_treated"""
    )
    return "".join(parts)


ORACLES["propensity_matching"] = _build_psm_sql()


def _build_synthetic_control_sql(
    iters: int = _SC_ITERS,
    treated: int = _SC_TREATED,
    cut_m: int = _SC_CUT_M,
) -> str:
    # q_synthetic_control's unrolled mirror: same monthly k$ revenue
    # calendar, same Gram/b sufficient stats, then every Frank-Wolfe
    # round replayed operand-for-operand — integer gradient, argmin
    # vertex (ties by donor key), floor-div shrink, residual
    # reassignment — as generated MATERIALIZED CTEs (w{t} is referenced
    # twice per round: gradient join and shrink).
    parts = [
        f"""
WITH cal AS MATERIALIZED (
    SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
           CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
                AS BIGINT) AS m,
           CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT)
             AS rev,
           CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT)
             // 1000 AS rk
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
),
dpre AS MATERIALIZED (
    SELECT nk, m, rk FROM cal WHERE nk != {treated} AND m < {cut_m}
),
gram AS MATERIALIZED (
    SELECT a.nk AS nk_a, b.nk AS nk_b, CAST(sum(a.rk * b.rk) AS BIGINT) AS g
    FROM dpre a JOIN dpre b ON b.m = a.m
    GROUP BY 1, 2
),
bvec AS MATERIALIZED (
    SELECT d.nk, CAST(sum(d.rk * t.rt) AS BIGINT) AS bv
    FROM dpre d JOIN (SELECT m, rk AS rt FROM cal
                      WHERE nk = {treated} AND m < {cut_m}) t
      ON t.m = d.m
    GROUP BY 1
),
donors AS (SELECT DISTINCT nk FROM dpre),
w0 AS MATERIALIZED (
    SELECT nk,
           1000000 // (SELECT count(*) FROM donors)
           + CASE WHEN row_number() OVER (ORDER BY nk) = 1
                  THEN 1000000 - (1000000 // (SELECT count(*) FROM donors))
                       * (SELECT count(*) FROM donors)
                  ELSE 0 END AS w
    FROM donors
)"""
    ]
    for t in range(iters):
        gamma = 2 * 10**6 // (t + 2)
        parts.append(
            f""",
g{t} AS MATERIALIZED (
    SELECT wd.nk,
           coalesce(sum(gm.g * we.w), 0)
           - coalesce(max(b.bv), 0) * 1000000 AS grad
    FROM w{t} wd
    LEFT JOIN bvec b ON b.nk = wd.nk
    LEFT JOIN gram gm ON gm.nk_a = wd.nk
    LEFT JOIN w{t} we ON we.nk = gm.nk_b
    GROUP BY 1
),
s{t} AS (SELECT nk FROM g{t} ORDER BY grad, nk LIMIT 1),
w{t + 1} AS MATERIALIZED (
    SELECT nk,
           shr + CASE WHEN nk = (SELECT nk FROM s{t})
                 THEN 1000000 - sum(shr) OVER () ELSE 0 END AS w
    FROM (SELECT nk, w - ({gamma} * w) // 1000000 AS shr FROM w{t})
)"""
        )
    parts.append(
        f""",
post AS (
    SELECT nk, CAST(sum(rev) AS BIGINT) AS pr
    FROM cal WHERE m >= {cut_m} GROUP BY 1
),
eff AS (
    SELECT coalesce((SELECT pr FROM post WHERE nk = {treated}), 0) * 1000000
           - (SELECT coalesce(CAST(sum(w.w * coalesce(p.pr, 0)) AS BIGINT),
                              0)
              FROM w{iters} w LEFT JOIN post p ON p.nk = w.nk) AS eff_micro
)
SELECT w.nk, CAST(w.w AS BIGINT) AS w_ppm,
       CAST(e.eff_micro AS BIGINT) AS eff_micro
FROM w{iters} w CROSS JOIN eff e"""
    )
    return "".join(parts)


ORACLES["synthetic_control"] = _build_synthetic_control_sql()


ORACLES["wl_refinement"] = f"""
WITH {GRAPH_CTES},
deg AS (
  SELECT v AS id, CAST(count(*) AS VARCHAR) AS c FROM sym GROUP BY 1
),
r1 AS (
  SELECT s.v AS id,
         md5(concat(d0.c, '|', string_agg(dn.c, ',' ORDER BY dn.c)))
           AS c
  FROM sym s
  JOIN deg dn ON dn.id = s.n
  JOIN deg d0 ON d0.id = s.v
  GROUP BY s.v, d0.c
),
r2 AS (
  SELECT s.v AS id,
         md5(concat(d0.c, '|', string_agg(dn.c, ',' ORDER BY dn.c)))
           AS c
  FROM sym s
  JOIN r1 dn ON dn.id = s.n
  JOIN r1 d0 ON d0.id = s.v
  GROUP BY s.v, d0.c
)
SELECT id, c AS wl_color FROM r2
"""


def _jl_sql() -> str:
    import hashlib

    signs = []
    for j in range(16):
        for i in range(64):
            h = hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()
            signs.append("1" if int(h[:8], 16) % 2 == 0 else "-1")
    sm = "[" + ",".join(signs) + "]"
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)
           * 1000000, 0) AS BIGINT)) AS q,
         {sm} AS sm
  FROM embeddings
),
ex AS (SELECT vec_id, q, sm, unnest(range(0, 16)) AS j FROM q)
SELECT vec_id, CAST(j AS BIGINT) AS j,
       CAST(list_sum(list_transform(range(1, 65),
            i -> sm[CAST(j * 64 + i AS INT)] * q[CAST(i AS INT)]))
            AS BIGINT) AS proj_micro
FROM ex
"""


ORACLES["jl_projection"] = _jl_sql()


ORACLES["mrr_eval"] = """
WITH base AS (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(p_size % 4 AS BIGINT) AS rel
  FROM part
),
rk AS (
  SELECT p_brand, rel,
         CAST(row_number() OVER (PARTITION BY p_brand
           ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rk
  FROM base
)
SELECT p_brand AS brand,
       CAST(min(rk) AS BIGINT) AS first_rel_rank,
       1000000 // min(rk) AS rr_micro
FROM rk WHERE rel >= 2 GROUP BY 1
"""


def _power_iter_sql(rounds: int = 3) -> str:
    parts = [
        """
WITH xv AS (
  SELECT l_orderkey * 8 + l_linenumber AS rid, CAST(1 AS BIGINT) AS i,
         CAST(round(l_quantity) AS BIGINT) AS xi FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 2,
         CAST(round(l_extendedprice) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 3,
         CAST(round(l_discount * 100) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 4,
         CAST(round(l_tax * 100) AS BIGINT) FROM lineitem
),
g AS (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(a.xi * b.xi) AS BIGINT) // 1000000 AS gs
  FROM xv a JOIN xv b ON a.rid = b.rid
  GROUP BY 1, 2
),
v0 AS (SELECT unnest(range(1, 5)) AS j, CAST(1000 AS BIGINT) AS vj)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""",
w{k} AS (
  SELECT g.i, CAST(sum(g.gs * v.vj) AS BIGINT) AS wi
  FROM g JOIN v{k - 1} v ON v.j = g.j GROUP BY 1
),
m{k} AS (SELECT max(abs(wi)) AS m FROM w{k}),
v{k} AS (
  SELECT i AS j, (1000 * wi) // m AS vj FROM w{k} CROSS JOIN m{k}
)"""
        )
    parts.append(
        f"""
SELECT v.j AS dim, v.vj AS v_milli, w.wi AS w_last
FROM v{rounds} v JOIN w{rounds} w ON w.i = v.j"""
    )
    return "".join(parts)


ORACLES["gram_power_iteration"] = _power_iter_sql()


def _build_gmm_sql(rounds: int = 3) -> str:
    # q_em_gmm's unrolled mirror: the responsibility expression and
    # every M-step double are written with the exact parenthesization
    # the Python driver uses, so all of mu/w/var match bit for bit.
    parts = [
        """
WITH d AS (
    SELECT CAST(n_chars AS BIGINT) AS xi,
           CAST(n_chars AS DOUBLE) AS xd
    FROM documents
),
gl AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xi) AS BIGINT) AS sx,
           CAST(sum(xi * xi) AS BIGINT) AS sxx
    FROM d
),
wv0 AS (SELECT CAST(200.0 AS DOUBLE) AS mu1, CAST(400.0 AS DOUBLE) AS mu2,
               CAST(10000.0 AS DOUBLE) AS var, CAST(0.5 AS DOUBLE) AS w1,
               CAST(0.5 AS DOUBLE) AS w2)"""
    ]
    d1 = "((d.xd - w.mu1) * (d.xd - w.mu1))"
    d2 = "((d.xd - w.mu2) * (d.xd - w.mu2))"
    dm = f"least({d1}, {d2})"
    e1 = (
        f"(w.w1 * exp(-(({d1} - {dm})"
        f" / (CAST(2.0 AS DOUBLE) * w.var))))"
    )
    e2 = (
        f"(w.w2 * exp(-(({d2} - {dm})"
        f" / (CAST(2.0 AS DOUBLE) * w.var))))"
    )
    rm = (
        f"CAST(round((({e1} / ({e1} + {e2}))"
        f" * CAST(1000.0 AS DOUBLE)), 0) AS BIGINT)"
    )
    for k in range(1, rounds + 1):
        parts.append(
            f""",
it{k} AS (
    SELECT CAST(sum({rm}) AS BIGINT) AS n1,
           CAST(sum({rm} * d.xi) AS BIGINT) AS sx1,
           CAST(sum({rm} * d.xi * d.xi) AS BIGINT) AS sxx1
    FROM d CROSS JOIN wv{k - 1} w
),
mv{k} AS (
    SELECT i.n1, i.sx1, i.sxx1,
           (1000 * g.n - i.n1) AS n2,
           (1000 * g.sx - i.sx1) AS sx2,
           (1000 * g.sxx - i.sxx1) AS sxx2,
           g.n AS gn,
           CAST(i.sx1 AS DOUBLE) / CAST(i.n1 AS DOUBLE) AS mu1,
           CAST(1000 * g.sx - i.sx1 AS DOUBLE)
             / CAST(1000 * g.n - i.n1 AS DOUBLE) AS mu2,
           CAST(i.n1 AS DOUBLE)
             / (CAST(1000.0 AS DOUBLE) * CAST(g.n AS DOUBLE)) AS w1
    FROM it{k} i CROSS JOIN gl g
),
wv{k} AS (
    SELECT mu1, mu2,
           (((((CAST(sxx1 AS DOUBLE) - (2.0 * mu1 * CAST(sx1 AS DOUBLE)))
               + ((mu1 * mu1) * CAST(n1 AS DOUBLE)))
              + CAST(sxx2 AS DOUBLE))
             - (2.0 * mu2 * CAST(sx2 AS DOUBLE)))
            + ((mu2 * mu2) * CAST(n2 AS DOUBLE)))
           / (1000.0 * CAST(gn AS DOUBLE)) AS var,
           w1,
           CAST(1.0 AS DOUBLE) - w1 AS w2
    FROM mv{k}
)"""
        )
    parts.append(
        f"""
SELECT g.n AS n, w.w1 AS w1, w.mu1 AS mu1, w.mu2 AS mu2, w.var AS var
FROM gl g CROSS JOIN wv{rounds} w"""
    )
    return "".join(parts)


ORACLES["em_gmm"] = _build_gmm_sql()


ORACLES["kneser_ney"] = f"""
WITH tok AS (
  SELECT {_DUCK_TOKENS} AS t FROM documents
),
bg AS (
  SELECT t[i] AS v, t[i + 1] AS w
  FROM tok, UNNEST(range(1, len(t))) AS u(i)
),
c_vw AS (
  SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
),
c_v AS (
  SELECT v, CAST(sum(c) AS BIGINT) AS cv,
         CAST(count(*) AS BIGINT) AS n1v
  FROM c_vw GROUP BY 1
),
n_w AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM c_vw GROUP BY 1
),
n_all AS (SELECT CAST(count(*) AS BIGINT) AS n1all FROM c_vw)
SELECT b.v, b.w, b.c, cv.cv,
       ((4 * b.c - 3) * 1000000) // (4 * cv.cv)
         + (3 * cv.n1v * nw.n1w * 1000000) // (4 * cv.cv * na.n1all)
         AS p_kn_micro,
       (3 * cv.n1v * 1000000) // (4 * cv.cv) AS lambda_micro
FROM c_vw b
JOIN c_v cv ON cv.v = b.v
JOIN n_w nw ON nw.w = b.w
CROSS JOIN n_all na
"""


ORACLES["perplexity_filter"] = f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS v, t[i + 1] AS w
  FROM tok, UNNEST(range(1, len(t))) AS u(i)
),
c_vw AS (
  SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
),
c_v AS (
  SELECT v, CAST(sum(c) AS BIGINT) AS cv,
         CAST(count(*) AS BIGINT) AS n1v
  FROM c_vw GROUP BY 1
),
n_w AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM c_vw GROUP BY 1
),
n_all AS (SELECT CAST(count(*) AS BIGINT) AS n1all FROM c_vw),
model AS (
  SELECT b.v, b.w,
         CAST(round(ln(CAST(
             ((4 * b.c - 3) * 1000000) // (4 * cv.cv)
               + (3 * cv.n1v * nw.n1w * 1000000) // (4 * cv.cv * na.n1all)
             AS DOUBLE) / CAST(1000000 AS DOUBLE)) * 1000000.0, 0)
           AS BIGINT) AS lp_micro
  FROM c_vw b
  JOIN c_v cv ON cv.v = b.v
  JOIN n_w nw ON nw.w = b.w
  CROSS JOIN n_all na
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(m.lp_micro) AS BIGINT) AS lp_sum_micro,
       CAST(CAST(sum(m.lp_micro) AS BIGINT) // count(*) AS BIGINT)
           AS avg_lp_micro
FROM bg g JOIN model m ON m.v = g.v AND m.w = g.w
GROUP BY 1
"""


def _boost_stage_sql(idx: int, src: str, xcol: str, tcol: str) -> str:
    # One stump fit: per-value grid, window prefix sums, the SAME
    # double gain tree the driver computes, argmax with value
    # tiebreak, exact integer milli leaf means.
    return f"""
g{idx} AS (
  SELECT {xcol} AS v, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({tcol}) AS BIGINT) AS s
  FROM {src} GROUP BY 1
),
t{idx} AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts
  FROM g{idx}
),
p{idx} AS (
  SELECT v, CAST(sum(n) OVER w AS BIGINT) AS k,
         CAST(sum(s) OVER w AS BIGINT) AS cs
  FROM g{idx}
  WINDOW w AS (ORDER BY v)
),
sc{idx} AS (
  SELECT p.v, p.k, p.cs,
         ((CAST(p.cs AS DOUBLE) * CAST(t.tn AS DOUBLE)
           - CAST(p.k AS DOUBLE) * CAST(t.ts AS DOUBLE))
          * (CAST(p.cs AS DOUBLE) * CAST(t.tn AS DOUBLE)
           - CAST(p.k AS DOUBLE) * CAST(t.ts AS DOUBLE)))
         / (CAST(p.k AS DOUBLE) * CAST(t.tn - p.k AS DOUBLE)) AS gain
  FROM p{idx} p CROSS JOIN t{idx} t
  WHERE p.k < t.tn
),
b{idx} AS (
  SELECT v, k, cs, row_number() OVER (ORDER BY gain DESC, v) AS rn
  FROM sc{idx}
),
m{idx} AS (
  SELECT b.v AS s{idx}, (1000 * b.cs) // b.k AS ml{idx},
         (1000 * (t.ts - b.cs)) // (t.tn - b.k) AS mr{idx}
  FROM b{idx} b CROSS JOIN t{idx} t WHERE b.rn = 1
)"""


ORACLES["boosted_stumps"] = f"""
WITH rows_ AS (
  SELECT CAST(round(l_extendedprice) AS BIGINT) AS y,
         CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2
  FROM lineitem
),{_boost_stage_sql(1, "rows_", "x1", "y")},
r2 AS (
  SELECT r.x2,
         r.y - (CASE WHEN r.x1 <= m.s1 THEN m.ml1 ELSE m.mr1 END)
           // 1000 AS r
  FROM rows_ r CROSS JOIN m1 m
),{_boost_stage_sql(2, "r2", "x2", "r")}
SELECT CAST(count(*) AS BIGINT) AS n,
       m1.s1 AS split1, m1.ml1 AS ml1_milli, m1.mr1 AS mr1_milli,
       m2.s2 AS split2, m2.ml2 AS ml2_milli, m2.mr2 AS mr2_milli,
       CAST(sum((r2.r - (CASE WHEN r2.x2 <= m2.s2 THEN m2.ml2
                 ELSE m2.mr2 END) // 1000)
                * (r2.r - (CASE WHEN r2.x2 <= m2.s2 THEN m2.ml2
                   ELSE m2.mr2 END) // 1000)) AS BIGINT) AS sse2
FROM r2 CROSS JOIN m1 CROSS JOIN m2
GROUP BY 2, 3, 4, 5, 6, 7
"""


def _markov_sql(iters: int = 16) -> str:
    # q_markov_attribution's unrolled mirror: the same relational
    # journey/transition construction, then one CTE per value-iteration
    # round per chain (full + one per removed channel), MATERIALIZED so
    # DuckDB doesn't re-inline the 16-deep chain per reference.
    chains = [("all", None)] + [(c, c) for c in _MK_CHANNELS]
    parts = [
        """
WITH r AS (
  SELECT user_id, event_type,
         CAST(row_number() OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS BIGINT) AS rn
  FROM events
),
fp AS (
  SELECT user_id, min(rn) AS fp_rn FROM r
  WHERE event_type = 'purchase' GROUP BY 1
),
ch AS (
  SELECT r.user_id, r.event_type, r.rn
  FROM r LEFT JOIN fp ON fp.user_id = r.user_id
  WHERE r.event_type != 'purchase'
    AND (fp.fp_rn IS NULL OR r.rn < fp.fp_rn)
),
t1 AS (
  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
           ORDER BY rn), 'START') AS src,
         event_type AS tgt
  FROM ch
),
lastc AS (SELECT user_id, arg_max(event_type, rn) AS lt FROM ch GROUP BY 1),
term AS (
  SELECT coalesce(l.lt, 'START') AS src,
         CASE WHEN f.fp_rn IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS tgt
  FROM (SELECT DISTINCT user_id FROM r) u
  LEFT JOIN lastc l ON l.user_id = u.user_id
  LEFT JOIN fp f ON f.user_id = u.user_id
),
edges AS (
  SELECT src, tgt, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM term)
  GROUP BY 1, 2
),
rt AS (SELECT src, CAST(sum(c) AS BIGINT) AS rowtot FROM edges GROUP BY 1),
states AS (SELECT unnest(['START','click','error','signup','view',
                          'CONV','NULL']) AS state)"""
    ]
    for name, removed in chains:
        rm_state = f" OR s.state = '{removed}'" if removed else ""
        rm_edge = f"WHERE e.tgt != '{removed}'" if removed else ""
        parts.append(
            f""",
p{name}0 AS (
  SELECT state, CASE WHEN state = 'CONV' THEN CAST(1000000 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS p
  FROM states
)"""
        )
        for k in range(1, iters + 1):
            parts.append(
                f""",
p{name}{k} AS MATERIALIZED (
  SELECT s.state,
         CASE WHEN s.state = 'CONV' THEN CAST(1000000 AS BIGINT)
              WHEN s.state = 'NULL'{rm_state} THEN CAST(0 AS BIGINT)
              ELSE coalesce(a.v, 0) END AS p
  FROM states s LEFT JOIN (
    SELECT e.src AS state,
           CAST(sum(e.c * p.p) AS BIGINT) // max(r2.rowtot) AS v
    FROM edges e
    JOIN p{name}{k - 1} p ON p.state = e.tgt
    JOIN rt r2 ON r2.src = e.src
    {rm_edge}
    GROUP BY e.src
  ) a ON a.state = s.state
)"""
            )
    selects = []
    for c in _MK_CHANNELS:
        selects.append(
            f"""
SELECT '{c}' AS channel,
       (SELECT p FROM pall{iters} WHERE state = 'START')
         AS p_full_micro,
       (SELECT p FROM p{c}{iters} WHERE state = 'START')
         AS p_removed_micro,
       (SELECT p FROM pall{iters} WHERE state = 'START')
         - (SELECT p FROM p{c}{iters} WHERE state = 'START')
         AS re_micro"""
        )
    parts.append("\nUNION ALL".join(selects))
    return "".join(parts)


ORACLES["markov_attribution"] = _markov_sql()


ORACLES["ar1_fit"] = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0,
         date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (
  SELECT t.event_type, unnest(generate_series(b.h0, b.h1,
         INTERVAL 1 HOUR)) AS h
  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
dense AS (
  SELECT g.event_type, g.h, coalesce(hh.y, 0) AS y
  FROM grid g
  LEFT JOIN hourly hh ON hh.event_type = g.event_type AND hh.h = g.h
),
pairs AS (
  SELECT event_type,
         lag(y) OVER (PARTITION BY event_type ORDER BY h) AS x, y
  FROM dense
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs WHERE x IS NOT NULL GROUP BY 1
)
SELECT event_type, n, sx, sy, sxy,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS phi,
       (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept,
       (CAST(n * sxy - sx * sy AS DOUBLE)
          * CAST(n * sxy - sx * sy AS DOUBLE))
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
FROM g
"""


ORACLES["logrank_test"] = """
WITH horizon AS (SELECT max(ts) AS hmax FROM events),
grp AS (
  SELECT (epoch_us(max(e.ts)) - epoch_us(min(e.ts))) // 3600000000
           AS dur_h,
         CAST(max(e.ts) < h.hmax - INTERVAL 6 HOUR AS BIGINT) AS death,
         max(CAST(('0x' || substr(md5('lr|' || CAST(e.user_id AS VARCHAR)),
             1, 4)) AS BIGINT) % 2) AS g
  FROM events e CROSS JOIN horizon h
  GROUP BY e.user_id, h.hmax
),
by_d AS (
  SELECT dur_h, CAST(sum(g) AS BIGINT) AS a1,
         CAST(sum(1 - g) AS BIGINT) AS a2,
         CAST(sum(death * g) AS BIGINT) AS d1,
         CAST(sum(death * (1 - g)) AS BIGINT) AS d2
  FROM grp GROUP BY 1
),
tot AS (SELECT CAST(sum(a1) AS BIGINT) AS t1,
               CAST(sum(a2) AS BIGINT) AS t2 FROM by_d),
rs AS (
  SELECT b.*,
         t.t1 - coalesce(sum(a1) OVER w, 0) AS c1,
         t.t2 - coalesce(sum(a2) OVER w, 0) AS c2
  FROM by_d b CROSS JOIN tot t
  WINDOW w AS (ORDER BY dur_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
terms AS (
  SELECT d1,
         (1000000 * (d1 + d2) * c1) // (c1 + c2) AS e1_micro,
         ((((1000000 * (d1 + d2) * ((c1 + c2) - (d1 + d2)))
            // ((c1 + c2) - 1)) * c1 // (c1 + c2)) * c2
            // (c1 + c2)) AS v_micro
  FROM rs
  WHERE d1 + d2 > 0 AND c1 + c2 > 1
),
ag AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         CAST(sum(e1_micro) AS BIGINT) AS e1_micro,
         CAST(sum(v_micro) AS BIGINT) AS v_micro
  FROM terms
)
SELECT o1, e1_micro, v_micro,
       (CAST(o1 * 1000000 - e1_micro AS DOUBLE)
          * CAST(o1 * 1000000 - e1_micro AS DOUBLE))
         / (CAST(v_micro AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS lr_chi2
FROM ag
"""


ORACLES["emd_drift"] = """
WITH src AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN year(o_orderdate) < 1998 THEN 1 ELSE 0 END AS fl
  FROM orders
),
grid AS (
  SELECT v, CAST(sum(fl) AS BIGINT) AS na,
         CAST(sum(1 - fl) AS BIGINT) AS nb
  FROM src GROUP BY 1
),
tot AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
               CAST(sum(nb) AS BIGINT) AS n2 FROM grid),
run AS (
  SELECT v, n1, n2,
         sum(n2 * na - n1 * nb) OVER (ORDER BY v) AS cum
  FROM grid CROSS JOIN tot
),
seg AS (
  SELECT v, n1, n2, cum,
         lead(v) OVER (ORDER BY v) - v AS gap
  FROM run
)
SELECT max(n1) AS n1, max(n2) AS n2,
       CAST(sum(abs(cum) * gap) AS BIGINT) AS w1_num,
       CASE WHEN CAST(sum(abs(cum) * gap) AS BIGINT) <= 9223372036854775
            THEN (1000 * CAST(sum(abs(cum) * gap) AS BIGINT))
                 // (max(n1) * max(n2))
            ELSE (1000 * (CAST(sum(abs(cum) * gap) AS BIGINT)
                 // least(max(n1), max(n2)))) // greatest(max(n1), max(n2))
            END AS w1_milli
FROM seg WHERE gap IS NOT NULL
"""


ORACLES["trimmed_mean"] = """
WITH o AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT)
           AS r
  FROM o
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
lim AS (SELECT n, (n * 5) // 100 AS lo, n - (n * 5) // 100 AS hi FROM nn),
bounds AS (
  SELECT min(cents) AS lo_cents, max(cents) AS hi_cents
  FROM ranked CROSS JOIN lim
  WHERE r = lo + 1 OR r = hi
)
SELECT l.n AS n,
       b.lo_cents, b.hi_cents,
       (1000 * CAST(sum(CASE WHEN r.r > l.lo AND r.r <= l.hi
          THEN r.cents ELSE 0 END) AS BIGINT)) // (l.hi - l.lo)
         AS trimmed_mean_milli,
       (1000 * CAST(sum(CASE WHEN r.cents < b.lo_cents THEN b.lo_cents
          WHEN r.cents > b.hi_cents THEN b.hi_cents
          ELSE r.cents END) AS BIGINT)) // l.n AS winsor_mean_milli
FROM ranked r CROSS JOIN lim l CROSS JOIN bounds b
GROUP BY l.n, l.lo, l.hi, b.lo_cents, b.hi_cents
"""


ORACLES["uplift_segments"] = """
WITH conv AS (
  SELECT DISTINCT o_custkey AS c_custkey
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
base AS (
  SELECT c.c_mktsegment,
         CAST(CASE WHEN v.c_custkey IS NULL THEN 0 ELSE 1 END AS BIGINT)
           AS y,
         CAST(('0x' || substr(md5('up|' || CAST(c.c_custkey AS VARCHAR)),
              1, 4)) AS BIGINT) % 2 AS t
  FROM customer c LEFT JOIN conv v ON v.c_custkey = c.c_custkey
)
SELECT c_mktsegment AS segment,
       CAST(sum(t) AS BIGINT) AS n_treat,
       CAST(count(*) - sum(t) AS BIGINT) AS n_ctrl,
       (1000000 * CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT))
         // CAST(sum(t) AS BIGINT) AS p_treat_ppm,
       (1000000 * CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT))
         // CAST(count(*) - sum(t) AS BIGINT) AS p_ctrl_ppm,
       (1000000 * CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT))
         // CAST(sum(t) AS BIGINT)
       - (1000000 * CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END)
          AS BIGINT)) // CAST(count(*) - sum(t) AS BIGINT) AS uplift_ppm
FROM base GROUP BY 1
"""


ORACLES["mutual_information"] = """
WITH e AS (
  SELECT CAST(hour(ts) AS BIGINT) // 4 AS band, event_type FROM events
),
cells AS (
  SELECT band, event_type, CAST(count(*) AS BIGINT) AS n_rc
  FROM e GROUP BY 1, 2
),
r AS (SELECT band, CAST(sum(n_rc) AS BIGINT) AS n_r FROM cells GROUP BY 1),
c AS (SELECT event_type, CAST(sum(n_rc) AS BIGINT) AS n_c
      FROM cells GROUP BY 1),
t AS (SELECT CAST(sum(n_rc) AS BIGINT) AS n FROM cells)
SELECT x.band, x.event_type, x.n_rc,
       x.n_rc * CAST(round(ln(CAST(x.n_rc * t.n AS DOUBLE)
                              / CAST(r.n_r * c.n_c AS DOUBLE))
                           * 1000000.0, 0) AS BIGINT) AS mi_term_micro
FROM cells x
JOIN r ON r.band = x.band
JOIN c ON c.event_type = x.event_type
CROSS JOIN t
"""


ORACLES["band_join_pairs"] = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS tp,
         epoch_us(ts) // 1800000000 AS cell
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS tv,
         unnest([epoch_us(ts) // 1800000000 - 1,
                 epoch_us(ts) // 1800000000,
                 epoch_us(ts) // 1800000000 + 1]) AS cell
  FROM events WHERE event_type = 'view'
),
j AS (
  SELECT v.user_id, v.tv, p.tp
  FROM v JOIN p ON p.user_id = v.user_id AND p.cell = v.cell
  WHERE abs(p.tp - v.tv) <= 1800000000
)
SELECT (tp - tv + 1800000000) // 300000000 AS band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM j GROUP BY 1
"""


def _ransac_models_sql() -> str:
    rows = ", ".join(
        f"({m}, {a1}, {b1}, {a2}, {b2})"
        for m, a1, b1, a2, b2 in _ransac_models()
    )
    return (
        f"SELECT * FROM (VALUES {rows})"
        " AS t(m, a1, b1, a2, b2)"
    )


ORACLES["ransac_line"] = f"""
WITH pts AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice) AS BIGINT) AS y,
         md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)
             || '|' || CAST(CAST(round(l_quantity) AS BIGINT) AS VARCHAR)
             || '|' || CAST(CAST(round(l_extendedprice) AS BIGINT)
                            AS VARCHAR)) AS h0
  FROM lineitem
),
ph AS (
  SELECT x, y, h0,
         CAST(('0x' || substr(h0, 1, 8)) AS BIGINT) % 2147483647 AS h31
  FROM pts
),
models AS ({_ransac_models_sql()}),
cand AS (
  SELECT m, x, y, h0,
         (a1 * h31 + b1) % 2147483647 AS k1,
         (a2 * h31 + b2) % 2147483647 AS k2
  FROM ph CROSS JOIN models
),
sel AS (
  SELECT m,
         min({{'k': k1, 'h': h0, 'x': x, 'y': y}})['x'] AS x1,
         min({{'k': k1, 'h': h0, 'x': x, 'y': y}})['y'] AS y1,
         min({{'k': k2, 'h': h0, 'x': x, 'y': y}})['x'] AS x2,
         min({{'k': k2, 'h': h0, 'x': x, 'y': y}})['y'] AS y2
  FROM cand GROUP BY 1
),
mod AS (
  SELECT m, x1, y1, x2, y2, x2 - x1 AS dx, y2 - y1 AS dy
  FROM sel WHERE x2 != x1
),
cnt AS (
  SELECT d.m, d.x1, d.y1, d.x2, d.y2, d.dx, d.dy,
         CAST(count(*) AS BIGINT) AS n_inliers
  FROM pts p CROSS JOIN mod d
  WHERE abs((p.y - d.y1) * d.dx - d.dy * (p.x - d.x1))
        <= 5000 * abs(d.dx)
  GROUP BY 1, 2, 3, 4, 5, 6, 7
),
best AS (
  SELECT *, row_number() OVER (ORDER BY n_inliers DESC, m) AS rn
  FROM cnt
)
SELECT m, n_inliers, x1, y1, x2, y2,
       (1000000 * dy) // dx AS slope_micro
FROM best WHERE rn = 1
"""


def _cologne_sql() -> str:
    from graph_database_spark.operators.linkage import (
        cologne_dedup_duckdb_sql,
        cologne_duckdb_sql,
    )

    return f"""
WITH names AS (SELECT DISTINCT p_name FROM part),
b AS (SELECT p_name, (string_split(p_name, ' '))[-1] AS blk FROM names),
f AS (SELECT p_name, blk, {cologne_duckdb_sql('blk')} AS _full FROM b),
dd AS (SELECT p_name, blk, {cologne_dedup_duckdb_sql('_full')} AS _dedup
       FROM f)
SELECT p_name, blk,
       concat(substr(_dedup, 1, 1), replace(substr(_dedup, 2), '0', ''))
         AS cologne
FROM dd
"""


ORACLES["cologne_blocks"] = _cologne_sql()


def _build_metaphone_sql() -> str:
    # q_metaphone_blocks' mirror: the SAME generated Double Metaphone
    # rule CASE (operators/metaphone.dm_rule_case_sql — one shared
    # string, engine-portable functions only), replayed as a recursive
    # CTE over (cursor, primary, secondary) state; each name terminates
    # at its first cursor-past-end row (advance >= 1 per step).
    from graph_database_spark.operators.metaphone import (
        dm_init_sql,
        dm_rule_case_sql,
    )

    p0, c0 = dm_init_sql("w")
    rule = dm_rule_case_sql("w", "n", "p")
    return f"""
WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
b AS (SELECT p_name, (string_split(p_name, ' '))[-1] AS blk FROM names),
base AS (
    SELECT p_name, blk, upper(blk) || '     ' AS w, length(blk) AS n
    FROM b
),
f AS (
    SELECT p_name, blk, w, n, {p0} AS p, {c0} AS pri, {c0} AS sec
    FROM base
    UNION ALL
    SELECT p_name, blk, w, n,
           p + CAST(substring(r, 1, 1) AS INT),
           pri || replace(substring(r, 2, 2), '.', ''),
           sec || replace(substring(r, 4, 2), '.', '')
    FROM (SELECT *, {rule} AS r FROM f WHERE p <= n)
)
SELECT p_name, blk,
       substring(pri, 1, 4) AS dm_primary,
       substring(sec, 1, 4) AS dm_secondary
FROM f WHERE p > n
"""


ORACLES["metaphone_blocks"] = _build_metaphone_sql()


ORACLES["conformal_intervals"] = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5('cfm|' || CAST(o_orderkey AS VARCHAR)),
              1, 4)) AS BIGINT) % 100 AS bkt
  FROM orders
),
model AS (
  SELECT o_orderpriority,
         CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS pred_cents
  FROM o WHERE bkt < 40 GROUP BY 1
),
calib AS (
  SELECT o.o_orderkey, abs(o.cents - m.pred_cents) AS res
  FROM o JOIN model m ON m.o_orderpriority = o.o_orderpriority
  WHERE o.bkt >= 40 AND o.bkt < 70
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calib),
ranked AS (
  SELECT res, row_number() OVER (ORDER BY res, o_orderkey) AS r
  FROM calib
),
qh AS (
  SELECT res AS qhat_cents
  FROM ranked CROSS JOIN nc
  WHERE r = ((n_cal + 1) * 9 + 9) // 10
),
test AS (
  SELECT abs(o.cents - m.pred_cents) AS res
  FROM o JOIN model m ON m.o_orderpriority = o.o_orderpriority
  WHERE o.bkt >= 70
)
SELECT nc.n_cal AS n_calib,
       CAST(count(*) AS BIGINT) AS n_test,
       max(q.qhat_cents) AS qhat_cents,
       (1000000 * CAST(sum(CASE WHEN t.res <= q.qhat_cents THEN 1
         ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) AS cover_ppm
FROM test t CROSS JOIN qh q CROSS JOIN nc
GROUP BY nc.n_cal
"""


ORACLES["shapley_attribution"] = """
WITH chan AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
           AS idx
  FROM (SELECT DISTINCT event_type FROM events
        WHERE event_type != 'purchase')
),
kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM chan),
um AS (
  SELECT user_id, CAST(sum(1 << idx) AS BIGINT) AS m
  FROM (SELECT DISTINCT e.user_id, c.idx
        FROM events e JOIN chan c ON c.event_type = e.event_type)
  GROUP BY 1
),
conv AS (
  SELECT user_id,
         max(CAST(event_type = 'purchase' AS BIGINT)) AS y
  FROM events GROUP BY 1
),
coal AS (
  SELECT coalesce(u.m, 0) AS m,
         (1000000 * CAST(sum(v.y) AS BIGINT))
           // CAST(count(*) AS BIGINT) AS v_ppm
  FROM conv v LEFT JOIN um u ON u.user_id = v.user_id
  GROUP BY 1
),
masks AS (
  SELECT unnest(range(0, (1 << k))) AS s FROM kk
),
pairs AS (
  SELECT m.s, c.event_type, c.idx
  FROM masks m CROSS JOIN chan c
  WHERE (m.s // (1 << c.idx)) % 2 = 0
),
scored AS (
  SELECT p.event_type,
         factorial(CAST(bit_count(CAST(p.s AS BIGINT)) AS INT))
           * factorial(CAST(k - bit_count(CAST(p.s AS BIGINT)) - 1
                       AS INT))
           * (coalesce(c1.v_ppm, 0) - coalesce(c0.v_ppm, 0)) AS term
  FROM pairs p
  CROSS JOIN kk
  LEFT JOIN coal c0 ON c0.m = p.s
  LEFT JOIN coal c1 ON c1.m = p.s + (1 << p.idx)
)
SELECT s.event_type,
       CAST(CAST(sum(s.term) AS BIGINT)
            // CAST(factorial(CAST(k AS INT)) AS BIGINT) AS BIGINT)
         AS phi_ppm
FROM scored s CROSS JOIN kk
GROUP BY 1, k
"""


ORACLES["good_turing"] = f"""
WITH tok AS (
  SELECT {_DUCK_TOKENS} AS t FROM documents
),
tri AS (
  SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
  FROM tok, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
),
counts AS (
  SELECT g, CAST(count(*) AS BIGINT) AS r FROM tri GROUP BY 1
),
nr AS (
  SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY 1
)
SELECT a.r, a.n_r,
       coalesce(b.n_r, 0) AS n_r1,
       ((a.r + 1) * coalesce(b.n_r, 0) * 1000000) // a.n_r
         AS rstar_micro
FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
WHERE a.r <= 10
"""


ORACLES["hashed_features"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
),
cells AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('fh|' || tok), 1, 15)) AS BIGINT)
           % 64 AS bucket,
         1 - 2 * (CAST(('0x' || substr(md5('fs|' || tok), 1, 15))
           AS BIGINT) % 2) AS sgn
  FROM tok
)
SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS w
FROM cells GROUP BY 1, 2 HAVING sum(sgn) != 0
"""

ORACLES["mase_backtest"] = """
WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
daily AS (
  SELECT CAST(date_diff('day', d0.d0, CAST(ts AS DATE)) + 1 AS BIGINT) AS t,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events CROSS JOIN d0
  WHERE event_type = 'purchase'
  GROUP BY 1
),
lagged AS (
  SELECT t, cents,
         lag(cents, 7) OVER (ORDER BY t) AS f7,
         lag(cents, 1) OVER (ORDER BY t) AS f1
  FROM daily
)
SELECT CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(abs(cents - f7)) AS BIGINT) AS sae_seasonal,
       CAST(sum(abs(cents - f1)) AS BIGINT) AS sae_naive,
       CAST(sum(abs(cents - f7)) AS DOUBLE)
         / CAST(sum(abs(cents - f1)) AS DOUBLE) AS mase
FROM lagged WHERE f7 IS NOT NULL AND f1 IS NOT NULL
"""

ORACLES["seasonal_decompose"] = """
WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
daily AS (
  SELECT CAST(date_diff('day', d0.d0, CAST(ts AS DATE)) + 1 AS BIGINT) AS t,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events CROSS JOIN d0
  WHERE event_type = 'purchase'
  GROUP BY 1
),
d1 AS (
  SELECT t, (t - 1) % 7 AS wd, cents,
         count(*) OVER w7 AS c7,
         sum(cents) OVER w7 AS s7
  FROM daily
  WINDOW w7 AS (ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
d2 AS (
  SELECT t, wd, cents,
         CAST(CASE WHEN c7 = 7 THEN (2 * s7 * 1000000 + 7) // 14 END
              AS BIGINT) AS trend_micro
  FROM d1
),
d3 AS (
  SELECT *, cents * 1000000 - trend_micro AS detr FROM d2
),
seas AS (
  SELECT wd,
         (2 * CAST(sum(detr) AS BIGINT) + CAST(count(*) AS BIGINT))
           // (2 * CAST(count(*) AS BIGINT)) AS seasonal_micro
  FROM d3 WHERE detr IS NOT NULL GROUP BY 1
)
SELECT d3.t, CAST(d3.wd AS BIGINT) AS wd, d3.cents, d3.trend_micro,
       s.seasonal_micro,
       CAST(d3.detr - s.seasonal_micro AS BIGINT) AS residual_micro
FROM d3 JOIN seas s ON s.wd = d3.wd
"""

def _qdigest_ctes(levels: int = 12, compression: int = 32) -> str:
    # Mirrors operators/qdigest.qdigest_build level-for-level.
    parts = [
        f"""
t AS (SELECT greatest(1, count(*) // {compression}) AS thr FROM documents),
s0 AS (
    SELECT CAST(0 AS INTEGER) AS lvl, CAST(n_chars AS BIGINT) AS idx,
           CAST(count(*) AS BIGINT) AS cnt
    FROM documents GROUP BY 2
)"""
    ]
    for lvl in range(levels):
        parts.append(
            f""",
fam{lvl} AS MATERIALIZED (
    SELECT idx // 2 AS pidx, CAST(sum(cnt) AS BIGINT) AS fc
    FROM s{lvl} WHERE lvl = {lvl} GROUP BY 1
),
s{lvl + 1} AS MATERIALIZED (
    SELECT lvl, idx, cnt FROM s{lvl} WHERE lvl != {lvl}
    UNION ALL
    SELECT c.lvl, c.idx, c.cnt
    FROM s{lvl} c JOIN fam{lvl} f ON c.idx // 2 = f.pidx
    CROSS JOIN t WHERE c.lvl = {lvl} AND f.fc > t.thr
    UNION ALL
    SELECT CAST({lvl + 1} AS INTEGER), f.pidx, f.fc
    FROM fam{lvl} f CROSS JOIN t WHERE f.fc <= t.thr
)"""
        )
    parts.append(
        f""",
nodes AS (
    SELECT CAST(lvl AS BIGINT) AS lvl, idx, cnt,
           (idx + 1) * CAST(pow(2, lvl) AS BIGINT) - 1 AS ub
    FROM s{levels}
)"""
    )
    return "".join(parts)


ORACLES["quantile_digest"] = f"""
WITH {_qdigest_ctes()}
SELECT lvl, idx, cnt, ub FROM nodes
"""

ORACLES["quantile_digest_read"] = f"""
WITH {_qdigest_ctes()},
run AS (
    SELECT ub, CAST(sum(cnt) OVER (
        ORDER BY ub, lvl, idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
    FROM nodes
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
qs AS (SELECT unnest([50, 90, 99]) AS q)
SELECT CAST(qs.q AS BIGINT) AS q,
       CAST((qs.q * nn.n + 99) // 100 AS BIGINT) AS target_rank,
       (SELECT min(ub) FROM run
        WHERE run >= (qs.q * nn.n + 99) // 100) AS est_ub
FROM qs CROSS JOIN nn
"""

def _build_treach_sql(num_sources: int = 8, rounds: int = 12) -> str:
    # Mirrors operators/treach.temporal_reachability round-for-round.
    parts = [
        f"""
    WITH cp2 AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p,
               CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                 AS BIGINT) AS w
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    tedges AS (
        SELECT DISTINCT a.c AS src, b.c AS dst, a.w AS t
        FROM cp2 a JOIN cp2 b
          ON a.p = b.p AND a.w = b.w AND a.c < b.c
    ),
    tsym AS MATERIALIZED (
        SELECT src AS v, dst AS n, t FROM tedges
        UNION ALL
        SELECT dst, src, t FROM tedges
    ),
    roots AS (SELECT DISTINCT v AS s FROM tsym ORDER BY s LIMIT {num_sources}),
    r0 AS (SELECT s, s AS id, CAST(0 AS BIGINT) AS arr FROM roots)"""
    ]
    for k in range(rounds):
        parts.append(
            f""",
    r{k + 1} AS MATERIALIZED (
        SELECT s, id, min(arr) AS arr FROM (
            SELECT s, id, arr FROM r{k}
            UNION ALL
            SELECT r.s, e.n AS id, e.t AS arr
            FROM r{k} r JOIN tsym e ON e.v = r.id AND e.t >= r.arr
        ) u GROUP BY 1, 2
    )"""
        )
    parts.append(
        f"""
    SELECT s AS source, id, arr AS arrival FROM r{rounds}"""
    )
    return "".join(parts)


ORACLES["temporal_reachability"] = _build_treach_sql()

def _build_prf_sql(fb_docs: int = 5, fb_terms: int = 3, top: int = 20) -> str:
    # Mirrors operators/retrieval.prf_search (shared _term_scores
    # expression tree, weights as exact ppm integers).
    q = "('spark', 'join', 'window')"
    qlist = "['spark', 'join', 'window']"
    score = """CAST(round(
               ln(CAST(1.0 AS DOUBLE)
                  + (CAST(n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
                    / (df + CAST(0.5 AS DOUBLE)))
               * ((tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                  / (tf + CAST(1.2 AS DOUBLE)
                       * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE)
                            * (CAST(dl AS DOUBLE)
                               / (CAST(sum_dl AS DOUBLE)
                                  / CAST(n_docs AS DOUBLE))))))
               * 1000000.0, 0) AS BIGINT)"""
    return f"""
    WITH {_RETRIEVAL_TERMS},
    dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
    tf1 AS (SELECT doc_id, term, count(*) AS tf FROM terms
            WHERE term IN {q} GROUP BY 1, 2),
    df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
    s1 AS (
        SELECT tf1.doc_id, {score} AS s_micro
        FROM tf1 JOIN df1 USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats
    ),
    agg1 AS (SELECT doc_id, sum(s_micro) AS sum_micro FROM s1 GROUP BY 1),
    fb AS (SELECT doc_id FROM agg1
           ORDER BY sum_micro DESC, doc_id LIMIT {fb_docs}),
    expt AS (SELECT term FROM terms JOIN fb USING (doc_id)
             WHERE term NOT IN {q}
             GROUP BY term ORDER BY count(*) DESC, term LIMIT {fb_terms}),
    allt AS (
        SELECT unnest({qlist}) AS term, CAST(1000000 AS BIGINT) AS w
        UNION ALL
        SELECT term, CAST(500000 AS BIGINT) FROM expt
    ),
    tf2 AS (SELECT doc_id, term, count(*) AS tf FROM terms
            WHERE term IN (SELECT term FROM allt) GROUP BY 1, 2),
    df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
    s2 AS (
        SELECT tf2.doc_id, tf2.term, {score} AS s_micro
        FROM tf2 JOIN df2 USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats
    ),
    ws AS (
        SELECT s2.doc_id, (a.w * s2.s_micro) // 1000000 AS ws
        FROM s2 JOIN allt a ON a.term = s2.term
    ),
    agg2 AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS matched,
               CAST(sum(ws) AS BIGINT) AS score_micro
        FROM ws GROUP BY 1
    ),
    ranked AS (
        SELECT doc_id, matched, score_micro,
               row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
        FROM agg2
    )
    SELECT CAST(rank AS INTEGER) AS rank, doc_id, matched, score_micro
    FROM ranked WHERE rank <= {top}
"""


ORACLES["prf_search"] = _build_prf_sql()

ORACLES["pit_features"] = """
WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
d AS (
  SELECT user_id, event_type,
         CAST(date_diff('day', d0.d0, CAST(ts AS DATE)) + 1 AS INTEGER) AS t,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events CROSS JOIN d0
),
feats AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_purchases,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
           AS BIGINT) AS spend_cents,
         CAST(count(DISTINCT t) AS BIGINT) AS active_days,
         CAST(max(t) AS BIGINT) AS last_seen_day
  FROM d WHERE t < 20 GROUP BY 1
),
lab AS (
  SELECT DISTINCT user_id, CAST(1 AS BIGINT) AS label
  FROM d WHERE t >= 20 AND event_type = 'purchase'
)
SELECT f.user_id, f.n_events, f.n_purchases, f.spend_cents,
       f.active_days, f.last_seen_day,
       CAST(coalesce(l.label, 0) AS BIGINT) AS label
FROM feats f LEFT JOIN lab l ON l.user_id = f.user_id
"""

ORACLES["k_anonymity_audit"] = """
WITH j AS (
  SELECT c.c_nationkey, c.c_mktsegment,
         CAST(round(c.c_acctbal) AS BIGINT) // 1000 AS bal_band,
         o.o_orderpriority
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_div
  FROM j GROUP BY 1, 2, 3
)
SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
       bal_band, n_rows, l_div,
       n_rows < 5 AS k_violation, l_div < 2 AS l_violation
FROM g
"""

ORACLES["t_closeness"] = """
WITH j AS (
  SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
         c.c_mktsegment AS segment,
         CAST(round(c.c_acctbal) AS BIGINT) // 1000 AS bal_band,
         CAST(substring(o.o_orderpriority, 1, 1) AS BIGINT) AS p
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
),
bounds AS (SELECT unnest(range(1, 5)) AS i),
bi AS (
  SELECT nation, segment, bal_band, i,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CASE WHEN p <= i THEN 1 ELSE 0 END) AS BIGINT) AS cum_g
  FROM j CROSS JOIN bounds GROUP BY 1, 2, 3, 4
),
gall AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(CASE WHEN p <= i THEN 1 ELSE 0 END) AS BIGINT) AS cum_all
  FROM j CROSS JOIN bounds GROUP BY 1
)
SELECT b.nation, b.segment, b.bal_band,
       CAST(max(b.n_g) AS BIGINT) AS n_rows,
       CAST((CAST(sum(abs(b.cum_g * g.n_all - g.cum_all * b.n_g))
                  AS BIGINT) * 1000000)
            // (max(b.n_g) * max(g.n_all) * 4) AS BIGINT) AS t_ppm
FROM bi b JOIN gall g ON g.i = b.i
GROUP BY 1, 2, 3
"""

ORACLES["neyman_allocation"] = """
WITH g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nh,
         CAST(sum(n_chars) AS BIGINT) AS s,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
  FROM documents GROUP BY 1
),
w AS (
  SELECT *, CAST(round(CAST(nh AS DOUBLE)
           * sqrt(CAST(nh * ss - s * s AS DOUBLE)
           / CAST(nh * (nh - 1) AS DOUBLE))
           * CAST(1000 AS DOUBLE), 0) AS BIGINT) AS wh
  FROM g
),
t AS (
  SELECT *, sum(wh) OVER () AS w_tot FROM w
),
b AS (
  SELECT *, (100 * wh) // w_tot AS base,
         100 * wh - ((100 * wh) // w_tot) * w_tot AS rem
  FROM t
),
l AS (
  SELECT *, 100 - sum(base) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM b
)
SELECT source, nh, wh,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM l
"""

ORACLES["temperature_mixing"] = """
WITH g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS nh FROM documents GROUP BY 1
),
w AS (
  SELECT *, CAST(round(sqrt(CAST(nh AS DOUBLE)) * CAST(1000 AS DOUBLE), 0)
                 AS BIGINT) AS wh
  FROM g
),
t AS (SELECT *, CAST(sum(wh) OVER () AS BIGINT) AS w_tot FROM w),
b AS (
  SELECT *, (1000 * wh) // w_tot AS base,
         1000 * wh - ((1000 * wh) // w_tot) * w_tot AS rem
  FROM t
),
l AS (
  SELECT *, 1000 - CAST(sum(base) OVER () AS BIGINT) AS leftover,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk
  FROM b
)
SELECT lang, nh, wh,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS alloc,
       CAST(((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END) * 1000000)
            // nh AS BIGINT) AS rate_ppm
FROM l
"""

ORACLES["image_ahash"] = """
WITH d AS (
  SELECT doc_id AS media_id, text, CAST(length(text) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 64
),
px AS (
  SELECT media_id, i,
         CAST(ascii(substr(text, CAST(1 + ((i - 1) * n) // 64 AS INTEGER),
                           1)) AS BIGINT) AS p
  FROM d, unnest(generate_series(1, 64)) AS g(i)
),
s AS (SELECT media_id, sum(p) AS sp FROM px GROUP BY 1),
fp AS (
  SELECT px.media_id,
         string_agg(CASE WHEN 64 * px.p > s.sp THEN '1' ELSE '0' END, ''
                    ORDER BY px.i) AS f
  FROM px JOIN s ON s.media_id = px.media_id GROUP BY 1
),
bands AS (
  SELECT media_id, f, b, substr(f, CAST(1 + 16 * b AS INTEGER), 16) AS bv
  FROM fp, unnest(generate_series(0, 3)) AS g(b)
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b,
         a.f AS fa, c.f AS fb
  FROM bands a JOIN bands c
    ON a.b = c.b AND a.bv = c.bv AND a.media_id < c.media_id
)
SELECT id_a, id_b,
       CAST(64 - len(list_filter(generate_series(1, 64), i ->
            substr(fa, i, 1) = substr(fb, i, 1))) AS BIGINT) AS hamming
FROM cand
WHERE 64 - len(list_filter(generate_series(1, 64), i ->
        substr(fa, i, 1) = substr(fb, i, 1))) <= 16
"""

ORACLES["sequential_rules"] = """
WITH firsts AS (
  SELECT user_id, event_type, min(ts) AS t0
  FROM events GROUP BY 1, 2
),
nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
pairs AS (
  SELECT a.event_type AS a, b.event_type AS b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM firsts a JOIN firsts b ON a.user_id = b.user_id
  WHERE a.event_type != b.event_type AND a.t0 < b.t0
  GROUP BY 1, 2
),
na AS (
  SELECT event_type AS a, CAST(count(*) AS BIGINT) AS n_a
  FROM firsts GROUP BY 1
)
SELECT p.a, p.b, p.n_ab, na.n_a,
       (2 * p.n_ab * 1000000 + nu.n_users) // (2 * nu.n_users)
         AS support_ppm,
       (2 * p.n_ab * 1000000 + na.n_a) // (2 * na.n_a) AS confidence_ppm
FROM pairs p JOIN na ON na.a = p.a CROSS JOIN nu
"""

ORACLES["sorted_neighborhood"] = """
WITH ranked AS (
  SELECT p_name, CAST(row_number() OVER (ORDER BY p_name) AS BIGINT) AS r
  FROM (SELECT DISTINCT p_name FROM part)
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM ranked a JOIN ranked b ON b.r - a.r BETWEEN 1 AND 3
"""

ORACLES["target_encoding"] = """
WITH rows_t AS (
  SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
         CAST(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
           AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
g AS (
  SELECT p_brand, CAST(sum(y) AS BIGINT) AS sg,
         CAST(count(*) AS BIGINT) AS ng
  FROM rows_t GROUP BY 1
),
tot AS (
  SELECT CAST(sum(y) AS BIGINT) AS st, CAST(count(*) AS BIGINT) AS nt
  FROM rows_t
)
SELECT r.l_orderkey, r.l_linenumber, r.p_brand, r.y,
       (2 * ((g.sg - r.y) * t.nt + 10 * t.st) * 1000000
         + (g.ng + 9) * t.nt) // (2 * (g.ng + 9) * t.nt) AS enc_micro
FROM rows_t r JOIN g ON g.p_brand = r.p_brand CROSS JOIN tot t
"""

ORACLES["woe_iv"] = """
WITH flat AS (
  SELECT 'qty' AS feature, CAST(round(l_quantity) AS BIGINT) AS bin,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem
  UNION ALL
  SELECT 'disc', CAST(round(l_discount * 100) AS BIGINT),
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
  UNION ALL
  SELECT 'month', CAST(month(l_shipdate) AS BIGINT),
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
),
stats AS (
  SELECT feature, bin, CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(1 - y) AS BIGINT) AS neg
  FROM flat GROUP BY 1, 2
),
tot AS (
  SELECT feature, bin, pos, neg,
         CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS pt,
         CAST(sum(neg) OVER (PARTITION BY feature) AS BIGINT) AS nt
  FROM stats
),
scored AS (
  SELECT feature, bin, pos, neg,
         CAST(round(ln(CAST((pos + 1) * (nt + 1) AS DOUBLE)
              / CAST((neg + 1) * (pt + 1) AS DOUBLE))
              * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS woe_micro,
         CAST((2 * pos * 1000000 + pt) // (2 * pt)
           - (2 * neg * 1000000 + nt) // (2 * nt) AS BIGINT) AS gap_ppm
  FROM tot
)
SELECT feature, bin, pos, neg, woe_micro, gap_ppm,
       CAST(sum(gap_ppm * woe_micro) OVER (PARTITION BY feature) AS BIGINT)
         AS iv_feature_micro2
FROM scored
"""

ORACLES["rolling_beta"] = """
WITH bounds AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS d0,
         max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
),
daily AS (
  SELECT CAST(date_diff('day', d0, CAST(o_orderdate AS DATE)) AS BIGINT)
             + 1 AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
  FROM orders, bounds GROUP BY 1
),
span AS (SELECT CAST(date_diff('day', d0, d1) AS BIGINT) + 1 AS n_days
         FROM bounds),
dense AS (
  SELECT d.day, coalesce(dl.cents, 0) AS cents
  FROM (SELECT unnest(range(1, n_days + 1)) AS day FROM span) d
  LEFT JOIN daily dl ON dl.day = d.day
),
s AS (
  SELECT day, cents,
         count(*) OVER w AS n,
         CAST(sum(day) OVER w AS BIGINT) AS sx,
         CAST(sum(cents) OVER w AS BIGINT) AS sy,
         CAST(sum(day * day) OVER w AS BIGINT) AS sxx,
         CAST(sum(day * cents) OVER w AS BIGINT) AS sxy
  FROM dense
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, cents,
       CAST(7 * sxy - sx * sy AS DOUBLE)
         / CAST(7 * sxx - sx * sx AS DOUBLE) AS slope
FROM s WHERE n = 7
"""

ORACLES["regression_discontinuity"] = """
WITH o AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice) AS BIGINT) // 10 - 15000 AS xt
    FROM orders
),
yc AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS y
       FROM lineitem GROUP BY 1),
j AS (
    SELECT xt, y FROM o JOIN yc ON yc.l_orderkey = o.o_orderkey
    WHERE abs(xt) <= 5000
),
g AS (
    SELECT
        CAST(sum(CASE WHEN xt < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
        CAST(sum(CASE WHEN xt < 0 THEN xt ELSE 0 END) AS BIGINT) AS sx_l,
        CAST(sum(CASE WHEN xt < 0 THEN y ELSE 0 END) AS BIGINT) AS sy_l,
        CAST(sum(CASE WHEN xt < 0 THEN xt * xt ELSE 0 END) AS BIGINT)
            AS sxx_l,
        CAST(sum(CASE WHEN xt < 0 THEN xt * y ELSE 0 END) AS BIGINT)
            AS sxy_l,
        CAST(sum(CASE WHEN xt >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
        CAST(sum(CASE WHEN xt >= 0 THEN xt ELSE 0 END) AS BIGINT) AS sx_r,
        CAST(sum(CASE WHEN xt >= 0 THEN y ELSE 0 END) AS BIGINT) AS sy_r,
        CAST(sum(CASE WHEN xt >= 0 THEN xt * xt ELSE 0 END) AS BIGINT)
            AS sxx_r,
        CAST(sum(CASE WHEN xt >= 0 THEN xt * y ELSE 0 END) AS BIGINT)
            AS sxy_r
    FROM j
),
fit AS (
    SELECT n_l AS n_left, n_r AS n_right,
           CAST(n_l * sxy_l - sx_l * sy_l AS DOUBLE)
             / CAST(n_l * sxx_l - sx_l * sx_l AS DOUBLE) AS slope_left,
           CAST(n_r * sxy_r - sx_r * sy_r AS DOUBLE)
             / CAST(n_r * sxx_r - sx_r * sx_r AS DOUBLE) AS slope_right,
           (CAST(sy_l AS DOUBLE)
              - CAST(n_l * sxy_l - sx_l * sy_l AS DOUBLE)
                / CAST(n_l * sxx_l - sx_l * sx_l AS DOUBLE)
                * CAST(sx_l AS DOUBLE)) / CAST(n_l AS DOUBLE)
               AS icept_left,
           (CAST(sy_r AS DOUBLE)
              - CAST(n_r * sxy_r - sx_r * sy_r AS DOUBLE)
                / CAST(n_r * sxx_r - sx_r * sx_r AS DOUBLE)
                * CAST(sx_r AS DOUBLE)) / CAST(n_r AS DOUBLE)
               AS icept_right
    FROM g
)
SELECT *, icept_right - icept_left AS tau FROM fit
"""
ORACLES["ols_price_model"] = """
WITH j AS (
  SELECT p.p_brand,
         CAST(round(l.l_quantity) AS BIGINT) AS x,
         CAST(round(l.l_extendedprice) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
g AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM j GROUP BY 1
)
SELECT p_brand, n, sx, sy, sxy,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept,
       (CAST(n * sxy - sx * sy AS DOUBLE)
          * CAST(n * sxy - sx * sy AS DOUBLE))
         / (CAST(n * sxx - sx * sx AS DOUBLE)
          * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
FROM g
"""

ORACLES["corpus_policy"] = f"""
    WITH planted AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
                         '@mail' || CAST(doc_id % 100 AS VARCHAR) || '.com'
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0
                    THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
                         '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                    ELSE '' END ||
               CASE WHEN doc_id % 13 = 0
                    THEN ' call ' || CAST(100 + doc_id % 900 AS VARCHAR) ||
                         '-' || CAST(100 + (doc_id * 3) % 900 AS VARCHAR) ||
                         '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                    ELSE '' END AS text
        FROM documents
    ),
    staged AS (
        SELECT doc_id, text,
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g')
                   AS after_email
        FROM planted
    ),
    piid AS (
        SELECT doc_id,
               CASE WHEN len(regexp_extract_all(text, '{_PII_EMAIL}'))
                      + len(regexp_extract_all(after_email, '{_PII_IPV4}'))
                      + len(regexp_extract_all(
                            regexp_replace(after_email, '{_PII_IPV4}',
                                           '<IP>', 'g'), '{_PII_PHONE}'))
                      > 0
                    THEN 1 ELSE 0 END AS has_pii
        FROM staged
    ),
    qual AS ({_build_quality_sql()})
    SELECT d.doc_id, d.lang, q.n_tokens,
           CAST(p.has_pii AS INTEGER) AS has_pii, q.quality,
           CASE WHEN d.lang != 'en' THEN 'drop:lang'
                WHEN q.n_tokens < 20 THEN 'drop:short'
                WHEN p.has_pii = 1 THEN 'drop:pii'
                WHEN q.quality < CAST(0.5 AS DOUBLE) THEN 'drop:quality'
                ELSE 'keep' END AS verdict
    FROM documents d
    JOIN qual q ON q.doc_id = d.doc_id
    JOIN piid p ON p.doc_id = d.doc_id
"""

ORACLES["source_reputation"] = f"""
    WITH fp AS (
        SELECT doc_id, source,
               count(*) OVER (PARTITION BY md5({_NORM_TEXT})) AS gs
        FROM documents
    ),
    planted AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
                         '@mail' || CAST(doc_id % 100 AS VARCHAR) || '.com'
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0
                    THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
                         '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                    ELSE '' END ||
               CASE WHEN doc_id % 13 = 0
                    THEN ' call ' || CAST(100 + doc_id % 900 AS VARCHAR) ||
                         '-' || CAST(100 + (doc_id * 3) % 900 AS VARCHAR) ||
                         '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                    ELSE '' END AS text
        FROM documents
    ),
    staged AS (
        SELECT doc_id, text,
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g')
                   AS after_email
        FROM planted
    ),
    staged2 AS (
        SELECT doc_id, text, after_email,
               regexp_replace(after_email, '{_PII_IPV4}', '<IP>', 'g')
                   AS after_ip
        FROM staged
    ),
    scan AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{_PII_EMAIL}'))
                 + len(regexp_extract_all(after_email, '{_PII_IPV4}'))
                 + len(regexp_extract_all(after_ip, '{_PII_PHONE}')) AS spans
        FROM staged2
    )
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f.gs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_docs,
           CAST(sum(CASE WHEN s.spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS pii_docs,
           CAST(sum(s.spans) AS BIGINT) AS pii_spans,
           CAST(sum(CASE WHEN f.gs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS dup_rate,
           CAST(sum(CASE WHEN s.spans > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS pii_rate
    FROM fp f JOIN scan s USING (doc_id)
    GROUP BY f.source
"""

# Mirror operators/av.py's generators exactly: int16 sample
# s(doc,k) = md5("{doc}|{k}")[:4 hex] - 32768; uint8 pixel row (f,y) =
# the 16 md5 digest bytes of "{doc}|{f}|{y}" read as hex pairs. All
# features are integer aggregates, so a hash match certifies the
# WAV / VID0 container round-trip byte-for-byte.
ORACLES["audio_features"] = f"""
    WITH dn AS (
        SELECT doc_id, {160} + (n_chars % {97}) AS n FROM documents
    ),
    ks AS (SELECT doc_id, n, unnest(range(0, n)) AS k FROM dn),
    samp AS (
        SELECT doc_id, n, k,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' ||
                     CAST(k AS VARCHAR)), 1, 4)) AS BIGINT) - 32768 AS s
        FROM ks
    ),
    lagged AS (
        SELECT doc_id, n, s,
               lag(s) OVER (PARTITION BY doc_id ORDER BY k) AS prev
        FROM samp
    )
    SELECT doc_id AS media_id,
           CAST({8000} AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST((max(n) * 1000000) // {8000} AS BIGINT) AS duration_micro,
           CAST(sum(s * s) AS BIGINT) AS energy,
           CAST(max(abs(s)) AS BIGINT) AS peak,
           CAST(sum(CASE WHEN prev IS NOT NULL AND prev * s < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM lagged GROUP BY doc_id
"""
ORACLES["video_motion"] = f"""
    WITH dn AS (
        SELECT doc_id, {4} + (n_chars % {5}) AS nf FROM documents
    ),
    fr AS (SELECT doc_id, nf, unnest(range(0, nf)) AS f FROM dn),
    fy AS (SELECT doc_id, nf, f, unnest(range(0, {16})) AS y FROM fr),
    rh AS (
        SELECT doc_id, nf, f, y,
               md5(CAST(doc_id AS VARCHAR) || '|' || CAST(f AS VARCHAR) ||
                   '|' || CAST(y AS VARCHAR)) AS h
        FROM fy
    ),
    px AS (
        SELECT doc_id, nf, f, y, j,
               CAST(('0x' || substring(h, 2 * j + 1, 2)) AS BIGINT) AS p
        FROM (SELECT doc_id, nf, f, y, h, unnest(range(0, {16})) AS j FROM rh)
    ),
    mot AS (
        SELECT a.doc_id, CAST(sum(abs(a.p - b.p)) AS BIGINT) AS m
        FROM px a JOIN px b
          ON b.doc_id = a.doc_id AND b.f = a.f - 1
         AND b.y = a.y AND b.j = a.j
        GROUP BY 1
    )
    SELECT p.doc_id AS media_id,
           CAST(max(p.nf) AS BIGINT) AS n_frames,
           CAST({16} AS BIGINT) AS width,
           CAST({16} AS BIGINT) AS height,
           CAST(sum(p.p) AS BIGINT) AS luma_sum,
           CAST(max(p.p) AS BIGINT) AS peak_luma,
           CAST(max(m.m) AS BIGINT) AS motion_sum
    FROM px p JOIN mot m ON m.doc_id = p.doc_id
    GROUP BY p.doc_id
"""


def _zorder_sql() -> str:
    from graph_database_spark.operators.layout import morton_expr_duckdb

    return f"""
WITH d AS (
  SELECT CAST(o_custkey % 1024 AS BIGINT) AS zx,
         least(CAST(1023 AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT) // 65536) AS zy
  FROM orders
),
z AS (
  SELECT zx, zy, CAST({morton_expr_duckdb("zx", "zy")} AS BIGINT) AS zval
  FROM d
)
SELECT zval // 1024 AS z_bucket, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(zx) AS BIGINT) AS x_min, CAST(max(zx) AS BIGINT) AS x_max,
       CAST(min(zy) AS BIGINT) AS y_min, CAST(max(zy) AS BIGINT) AS y_max,
       CAST(max(zx) - min(zx) AS BIGINT) AS x_span,
       CAST(max(zy) - min(zy) AS BIGINT) AS y_span,
       CAST(sum(zval) AS BIGINT) AS z_sum
FROM z GROUP BY 1
"""


ORACLES["zorder_index"] = _zorder_sql()

ORACLES["range_partition_plan"] = """
WITH d AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS k
  FROM lineitem
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
b AS (
  SELECT CAST(bucket AS BIGINT) AS bucket,
         (bucket * nn.n) // 32 AS hi_rank,
         ((bucket - 1) * nn.n) // 32 AS lo_rank
  FROM (SELECT unnest(range(1, 33)) AS bucket), nn
  WHERE (bucket * nn.n) // 32 > ((bucket - 1) * nn.n) // 32
),
r AS (SELECT v, k, row_number() OVER (ORDER BY v, k) AS rn FROM d)
SELECT b.bucket, CAST(b.hi_rank - b.lo_rank AS BIGINT) AS n_rows,
       r.v AS hi_value, r.k AS hi_key
FROM b JOIN r ON r.rn = b.hi_rank
"""


ORACLES["bitmap_intersections"] = """
WITH bm AS (
  SELECT event_type AS key, CAST(user_id AS BIGINT) // 31 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(CAST(user_id AS BIGINT) % 31
                                           AS INTEGER)) AS mask
  FROM events GROUP BY 1, 2
),
sz AS (
  SELECT key, CAST(sum(bit_count(mask)) AS BIGINT) AS n FROM bm GROUP BY 1
),
inter AS (
  SELECT a.key AS ka, b.key AS kb,
         CAST(sum(bit_count(a.mask & b.mask)) AS BIGINT) AS n_and
  FROM bm a JOIN bm b ON a.word = b.word AND a.key < b.key
  GROUP BY 1, 2
),
pairs AS (
  SELECT sa.key AS ka, sb.key AS kb, sa.n AS n_a, sb.n AS n_b
  FROM sz sa JOIN sz sb ON sa.key < sb.key
)
SELECT p.ka AS type_a, p.kb AS type_b, p.n_a, p.n_b,
       CAST(coalesce(i.n_and, 0) AS BIGINT) AS n_and,
       p.n_a + p.n_b - coalesce(i.n_and, 0) AS n_or,
       (coalesce(i.n_and, 0) * 1000000)
         // (p.n_a + p.n_b - coalesce(i.n_and, 0)) AS jaccard_ppm
FROM pairs p LEFT JOIN inter i ON i.ka = p.ka AND i.kb = p.kb
"""

ORACLES["benford_audit"] = f"""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
g AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1
),
t AS (
  SELECT digit, n_obs, CAST(sum(n_obs) OVER () AS BIGINT) AS n_tot,
         CAST({_BENFORD_CASE} AS BIGINT) AS expected_ppm
  FROM g
)
SELECT digit, n_obs, expected_ppm, {_BENFORD_TERM} AS chi2_micro
FROM t
"""

ORACLES["chi2_independence"] = f"""
WITH cells AS (
  SELECT event_type, CAST(hour(ts) // 6 AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, band, o,
         CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
         CAST(sum(o) OVER (PARTITION BY band) AS BIGINT) AS c,
         CAST(sum(o) OVER () AS BIGINT) AS n_tot
  FROM cells
)
SELECT event_type, band, o AS n_obs,
       (1000000 * r * c) // n_tot AS exp_ppm,
       {_CHI2_TERM} AS chi2_micro
FROM t
"""

ORACLES["column_profile"] = f"""
WITH u AS (
  SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS val
  FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL
  SELECT 'o_totalprice',
         CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
),
g AS (
  SELECT col_name, val, CAST(count(*) AS BIGINT) AS cnt
  FROM u GROUP BY 1, 2
),
tot AS (
  SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(coalesce(sum(CASE WHEN val IS NULL THEN cnt END), 0)
              AS BIGINT) AS n_null,
         CAST(count(val) AS BIGINT) AS n_distinct,
         CAST(max(CASE WHEN val IS NOT NULL THEN cnt END) AS BIGINT)
           AS max_freq
  FROM g GROUP BY 1
),
ent AS (
  SELECT g.col_name, CAST(sum({_ENTROPY_TERM}) AS BIGINT) AS entropy_micro
  FROM g JOIN (SELECT col_name, n_rows - n_null AS nn FROM tot) t
    ON t.col_name = g.col_name
  WHERE g.val IS NOT NULL
  GROUP BY 1
)
SELECT t.col_name, t.n_rows, t.n_null, t.n_distinct, t.max_freq,
       e.entropy_micro
FROM tot t JOIN ent e ON e.col_name = t.col_name
"""


ORACLES["compaction_plan"] = """
WITH RECURSIVE f0 AS (
  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS fid,
         CAST(count(*) AS BIGINT) AS s
  FROM lineitem GROUP BY 1
),
cap AS (SELECT 2 * max(s) AS c FROM f0),
f AS (SELECT fid, s, row_number() OVER (ORDER BY s DESC, fid) AS rn FROM f0),
rec AS (
  SELECT CAST(0 AS BIGINT) AS step, CAST([] AS BIGINT[]) AS bins,
         CAST(NULL AS BIGINT) AS fid, CAST(NULL AS BIGINT) AS s,
         CAST(NULL AS BIGINT) AS bin
  UNION ALL
  SELECT r.step + 1,
         CASE WHEN coalesce(list_filter(range(1, len(r.bins) + 1),
                      i -> r.bins[i] + f.s <= cap.c)[1],
                    len(r.bins) + 1) <= len(r.bins)
              THEN list_transform(range(1, len(r.bins) + 1),
                     i -> CASE WHEN i = coalesce(
                                 list_filter(range(1, len(r.bins) + 1),
                                   j -> r.bins[j] + f.s <= cap.c)[1],
                                 len(r.bins) + 1)
                          THEN r.bins[i] + f.s ELSE r.bins[i] END)
              ELSE list_append(r.bins, f.s) END,
         f.fid, f.s,
         coalesce(list_filter(range(1, len(r.bins) + 1),
                    i -> r.bins[i] + f.s <= cap.c)[1],
                  len(r.bins) + 1)
  FROM rec r JOIN f ON f.rn = r.step + 1, cap
)
SELECT fid AS file_id, s AS size_bytes, CAST(bin AS BIGINT) AS bin
FROM rec WHERE step > 0
"""


def _chash_sql() -> str:
    from graph_database_spark.operators.chash import rebalance_sql

    return rebalance_sql(8, 9)


ORACLES["consistent_hash_rebalance"] = _chash_sql()


ORACLES["markov_2step"] = """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY 1
),
c1 AS (
  SELECT c.prev_type AS src, c.event_type AS mid, c.n AS n1, t.tot AS tot1
  FROM counts c JOIN tot t ON t.prev_type = c.prev_type
),
c2 AS (
  SELECT c.prev_type AS mid, c.event_type AS dst, c.n AS n2, t.tot AS tot2
  FROM counts c JOIN tot t ON t.prev_type = c.prev_type
)
SELECT c1.src, c2.dst, CAST(sum(c1.n1 * c2.n2) AS BIGINT) AS n_paths,
       CAST(sum((c1.n1 * c2.n2 * 1000000) // (c1.tot1 * c2.tot2))
            AS BIGINT) AS p2_ppm
FROM c1 JOIN c2 ON c2.mid = c1.mid
GROUP BY 1, 2
"""


def _zonemap_sql() -> str:
    from graph_database_spark.operators.layout import morton_expr_duckdb

    wins = ",".join(
        f"({w},{x0},{x1},{y0},{y1})"
        for w, x0, x1, y0, y1 in _ZONEMAP_WINDOWS
    )
    return f"""
WITH d AS (
  SELECT CAST(o_custkey % 1024 AS BIGINT) AS zx,
         least(CAST(1023 AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT) // 65536) AS zy
  FROM orders
),
z AS (
  SELECT zx, zy, CAST({morton_expr_duckdb("zx", "zy")} AS BIGINT) AS zval
  FROM d
),
zb AS (
  SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_rows,
         min(zx) AS x_min, max(zx) AS x_max,
         min(zy) AS y_min, max(zy) AS y_max
  FROM z GROUP BY zval // 1024
),
lb AS (
  SELECT 'linear_x' AS layout, CAST(count(*) AS BIGINT) AS n_rows,
         min(zx) AS x_min, max(zx) AS x_max,
         min(zy) AS y_min, max(zy) AS y_max
  FROM d GROUP BY zx // 32
),
buckets AS (SELECT * FROM zb UNION ALL SELECT * FROM lb),
w(wid, x0, x1, y0, y1) AS (VALUES {wins})
SELECT CAST(w.wid AS BIGINT) AS wid, b.layout,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN b.x_min <= w.x1 AND b.x_max >= w.x0
                      AND b.y_min <= w.y1 AND b.y_max >= w.y0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
       CAST(sum(CASE WHEN b.x_min <= w.x1 AND b.x_max >= w.x0
                      AND b.y_min <= w.y1 AND b.y_max >= w.y0
                     THEN b.n_rows ELSE 0 END) AS BIGINT) AS rows_touched
FROM buckets b, w
GROUP BY 1, 2
"""


ORACLES["zonemap_pruning"] = _zonemap_sql()


ORACLES["edge_reciprocity"] = """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM seq
  WHERE prev_type IS NOT NULL AND prev_type <> event_type
  GROUP BY 1, 2
),
matched AS (
  SELECT CAST(coalesce(sum(least(a.n, b.n)), 0) AS BIGINT)
           AS n_reciprocated
  FROM counts a JOIN counts b
    ON b.prev_type = a.event_type AND b.event_type = a.prev_type
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_transitions FROM counts)
SELECT t.n_transitions, m.n_reciprocated,
       (m.n_reciprocated * 1000000) // t.n_transitions AS reciprocity_ppm
FROM tot t, matched m
"""

ORACLES["pareto_abc"] = """
WITH rev AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
),
r AS (
  SELECT custkey, rev_cents,
         CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents,
         CAST(sum(rev_cents) OVER () AS BIGINT) AS tot
  FROM rev
),
c AS (
  SELECT *, CASE WHEN cum_cents * 100 <= tot * 80 THEN 'A'
                 WHEN cum_cents * 100 <= tot * 95 THEN 'B'
                 ELSE 'C' END AS abc_class
  FROM r
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
       (CAST(sum(rev_cents) AS BIGINT) * 1000000)
         // CAST(any_value(tot) AS BIGINT) AS share_ppm
FROM c GROUP BY 1
"""

ORACLES["cuped_adjustment"] = """
WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
s AS (
  SELECT user_id, CAST(round(value) AS BIGINT) AS v,
         CAST(ts AS DATE) < d0.d0 + 15 AS pre
  FROM events, d0
),
pu AS (
  SELECT user_id,
         CAST(coalesce(sum(CASE WHEN pre THEN v END), 0) AS BIGINT) AS x,
         CAST(coalesce(sum(CASE WHEN NOT pre THEN v END), 0) AS BIGINT) AS y
  FROM s GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pu
),
mm AS (
  SELECT n * sxy - sx * sy AS cov_n, n * sxx - sx * sx AS var_n FROM m
)
SELECT pu.user_id, pu.x, pu.y,
       CAST(round(CAST(1000000 AS DOUBLE) * (CAST(y AS DOUBLE)
            - (CAST(cov_n AS DOUBLE) / CAST(var_n AS DOUBLE))
            * CAST(x AS DOUBLE))) AS BIGINT) AS adj_micro
FROM pu, mm
"""


ORACLES["compaction_nextfit"] = """
WITH f0 AS (
  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS fid,
         CAST(count(*) AS BIGINT) AS s
  FROM lineitem GROUP BY 1
),
cap AS (SELECT 2 * max(s) AS cap FROM f0),
r AS (
  SELECT fid, s,
         CAST(sum(s) OVER (ORDER BY s DESC, fid
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM f0
)
SELECT r.fid AS file_id, r.s AS size_bytes,
       1 + (r.cum - r.s) // cap.cap AS bin
FROM r, cap
"""


def _haar_orders_sql() -> str:
    from graph_database_spark.operators.haar import haar_sql

    return haar_sql(
        "SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'"
        " AS BIGINT) AS idx, CAST(count(*) AS BIGINT) AS v"
        " FROM orders GROUP BY 1"
    )


ORACLES["haar_orders"] = _haar_orders_sql()


ORACLES["naive_bayes_lang"] = f"""
WITH b AS (
  SELECT doc_id, lang, text,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
              AS BIGINT) % 100 AS bkt
  FROM documents
),
tr AS (SELECT * FROM b WHERE bkt < 80),
te AS (SELECT * FROM b WHERE bkt >= 80),
trtok AS (SELECT lang, unnest({_DUCK_TOKENS}) AS tok FROM tr),
counts AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM trtok GROUP BY 1, 2
),
totals AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM counts),
vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
grid AS (
  SELECT v.tok, t.lang,
         CAST(round(1000000 * ln(CAST(coalesce(c.n, 0) + 1 AS DOUBLE)
              / CAST(t.tot + vs.v AS DOUBLE)), 0) AS BIGINT) AS tok_micro
  FROM vocab v
  CROSS JOIN totals t
  CROSS JOIN vs
  LEFT JOIN counts c ON c.lang = t.lang AND c.tok = v.tok
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM tr),
priors AS (
  SELECT lang,
         CAST(round(1000000 * ln(CAST(count(*) AS DOUBLE)
              / CAST(any_value(nd.nd) AS DOUBLE)), 0) AS BIGINT)
           AS prior_micro
  FROM tr, nd GROUP BY lang
),
tetok AS (SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS tok FROM te),
scored AS (
  SELECT tt.doc_id, tt.lang, g.lang AS cls,
         CAST(sum(g.tok_micro) AS BIGINT)
           + CAST(any_value(p.prior_micro) AS BIGINT) AS score_micro
  FROM tetok tt
  JOIN grid g ON g.tok = tt.tok
  JOIN priors p ON p.lang = g.lang
  GROUP BY 1, 2, 3
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score_micro DESC, cls ASC) AS rn
  FROM scored
)
SELECT doc_id, lang, cls AS pred_lang, score_micro FROM rk WHERE rn = 1
"""


def _viterbi_sql() -> str:
    from graph_database_spark.operators.viterbi import (
        INIT,
        MAX_STEPS,
        T_STAY,
        T_SWITCH,
    )

    ts, tw = T_STAY, T_SWITCH
    return f"""
WITH RECURSIVE
et AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
),
tt AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM et),
em AS (
  SELECT event_type,
         CAST(round(1000000 * ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)), 0)
              AS BIGINT) AS e0,
         CAST(round(1000000 * ln(CAST(t - n AS DOUBLE) / CAST(t AS DOUBLE)),
              0) AS BIGINT) AS e1
  FROM et, tt
),
seq0 AS (
  SELECT e.user_id,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS rn,
         m.e0, m.e1
  FROM events e JOIN em m ON m.event_type = e.event_type
),
seq AS (SELECT * FROM seq0 WHERE rn <= {MAX_STEPS}),
lens AS (
  SELECT user_id, CAST(max(rn) AS BIGINT) AS n_steps FROM seq GROUP BY 1
),
rec AS (
  SELECT user_id, 1 AS t, CAST({INIT} + e0 AS BIGINT) AS v0,
         CAST({INIT} + e1 AS BIGINT) AS v1, '0' AS p0, '1' AS p1
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.t + 1,
         s.e0 + greatest(r.v0 + {ts}, r.v1 + {tw}),
         s.e1 + greatest(r.v0 + {tw}, r.v1 + {ts}),
         (CASE WHEN r.v0 + {ts} >= r.v1 + {tw} THEN r.p0 ELSE r.p1 END)
           || '0',
         (CASE WHEN r.v0 + {tw} >= r.v1 + {ts} THEN r.p0 ELSE r.p1 END)
           || '1'
  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.t + 1
)
SELECT r.user_id, l.n_steps,
       CASE WHEN r.v0 >= r.v1 THEN r.v0 ELSE r.v1 END AS score_micro,
       CASE WHEN r.v0 >= r.v1 THEN r.p0 ELSE r.p1 END AS path
FROM rec r JOIN lens l ON l.user_id = r.user_id AND r.t = l.n_steps
"""


ORACLES["viterbi_paths"] = _viterbi_sql()


ORACLES["randomized_response"] = """
WITH idx AS (
  SELECT event_type,
         row_number() OVER (ORDER BY event_type) - 1 AS idx
  FROM (SELECT DISTINCT event_type FROM events)
),
kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM idx),
rep AS (
  SELECT CASE
           WHEN CAST(('0x' || substring(md5('rr|'
                || CAST(e.event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1000000 < 750000
           THEN i.idx
           ELSE CAST(('0x' || substring(md5('rrpick|'
                || CAST(e.event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % kk.k
         END AS rep_idx
  FROM events e
  JOIN idx i ON i.event_type = e.event_type
  CROSS JOIN kk
),
obs AS (
  SELECT i.event_type, CAST(count(*) AS BIGINT) AS n_obs
  FROM rep r JOIN idx i ON i.idx = r.rep_idx
  GROUP BY 1
),
tc AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
  FROM events GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
SELECT t.event_type, t.n_true, o.n_obs,
       (1000000 * (4 * kk.k * o.n_obs - tot.n)) // (3 * kk.k)
         AS n_hat_micro
FROM tc t
JOIN obs o ON o.event_type = t.event_type
CROSS JOIN tot
CROSS JOIN kk
"""


ORACLES["calibration_bins"] = """
WITH base AS (
  SELECT CAST(('0x' || substring(md5('cal|'
              || CAST(event_id AS VARCHAR)), 1, 4)) AS BIGINT)
           % 100 AS bkt,
         CAST(hour(ts) AS BIGINT) AS band,
         CAST(event_type = 'purchase' AS BIGINT) AS y
  FROM events
),
rates AS (
  SELECT band,
         (1000000 * CAST(sum(y) AS BIGINT)) // CAST(count(*) AS BIGINT)
           AS pred_ppm
  FROM base WHERE bkt < 50 GROUP BY 1
),
test AS (
  SELECT b.y, r.pred_ppm FROM base b
  JOIN rates r ON r.band = b.band
  WHERE b.bkt >= 50
)
SELECT pred_ppm // 10000 AS bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(pred_ppm) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS mean_pred_ppm,
       (1000000 * CAST(sum(y) AS BIGINT)) // CAST(count(*) AS BIGINT)
         AS obs_ppm,
       CAST(sum((pred_ppm - y * 1000000) * (pred_ppm - y * 1000000))
            AS BIGINT) // CAST(count(*) AS BIGINT) AS brier_ppm2
FROM test GROUP BY 1
"""


def _cdc_ctes() -> str:
    from graph_database_spark.operators.cdc import (
        MASK,
        POWERS,
        PRIME,
        WINDOW,
    )

    lags = " + ".join(
        (f"c * {p}" if k == 0 else f"coalesce(lag(c, {k}) OVER w, 0) * {p}")
        for k, p in enumerate(POWERS)
    )
    return f"""
d AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
dd AS (SELECT doc_id, norm, length(norm) AS n FROM d WHERE length(norm) > 0),
ch AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS i, norm FROM dd),
cc AS (
  SELECT doc_id, n, i,
         CAST(ascii(substr(norm, CAST(i AS INT), 1)) AS BIGINT) AS c
  FROM ch
),
hh AS (
  SELECT doc_id, n, i, c,
         CASE WHEN i >= {WINDOW}
              AND (({lags}) % {PRIME}) % {MASK} = 0
              THEN 1 ELSE 0 END AS b
  FROM cc
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
g AS (
  SELECT doc_id, i, c,
         coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
  FROM hh
),
chunks AS (
  SELECT doc_id, CAST(cid AS BIGINT) AS chunk_idx,
         CAST(min(i) AS BIGINT) AS start,
         CAST(count(*) AS BIGINT) AS chunk_len,
         md5(string_agg(chr(CAST(c AS INT)), '' ORDER BY i)) AS chunk_md5
  FROM g GROUP BY 1, 2
)
"""


ORACLES["cdc_chunks"] = f"""
WITH {_cdc_ctes()}
SELECT doc_id, chunk_idx, start, chunk_len, chunk_md5 FROM chunks
"""

ORACLES["cdc_dedup"] = f"""
WITH {_cdc_ctes()}
SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       max(chunk_len) AS chunk_len
FROM chunks GROUP BY 1 HAVING count(*) > 1
"""


ORACLES["rake_keywords"] = f"""
WITH tok AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)
),
content AS (SELECT * FROM tok WHERE tok NOT IN ('a', 'the')),
isl AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM content
),
ph AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS plen,
         string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM isl GROUP BY 1, 2
),
occ AS (
  SELECT i.doc_id, i.grp, i.tok, p.plen
  FROM isl i JOIN ph p ON p.doc_id = i.doc_id AND p.grp = i.grp
),
ws AS (
  SELECT tok, (CAST(sum(plen) AS BIGINT) * 1000000)
              // CAST(count(*) AS BIGINT) AS wscore
  FROM occ GROUP BY 1
),
psc AS (
  SELECT o.doc_id, o.grp, CAST(sum(w.wscore) AS BIGINT) AS score_micro
  FROM occ o JOIN ws w ON w.tok = o.tok GROUP BY 1, 2
),
ps AS (
  SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         max(s.score_micro) AS score_micro
  FROM ph p JOIN psc s ON s.doc_id = p.doc_id AND s.grp = p.grp
  GROUP BY 1
)
SELECT phrase, n_occurrences, score_micro FROM ps
ORDER BY score_micro DESC, phrase ASC LIMIT 20
"""


ORACLES["ndcg_eval"] = """
WITH base AS (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(p_size % 4 AS BIGINT) AS rel
  FROM part
),
actual AS (
  SELECT p_brand, rel,
         row_number() OVER (PARTITION BY p_brand
           ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
  FROM base
),
ideal AS (
  SELECT p_brand, rel,
         row_number() OVER (PARTITION BY p_brand
           ORDER BY rel DESC, p_partkey ASC) AS rk
  FROM base
),
ag AS (
  SELECT p_brand,
         CAST(sum(CAST(round(CAST(1000000 AS DOUBLE)
              * (pow(CAST(2 AS DOUBLE), CAST(rel AS DOUBLE))
              - CAST(1 AS DOUBLE))
              * ln(CAST(2 AS DOUBLE)) / ln(CAST(rk + 1 AS DOUBLE)), 0)
              AS BIGINT)) AS BIGINT) AS dcg_micro
  FROM actual WHERE rk <= 10 GROUP BY 1
),
ig AS (
  SELECT p_brand,
         CAST(sum(CAST(round(CAST(1000000 AS DOUBLE)
              * (pow(CAST(2 AS DOUBLE), CAST(rel AS DOUBLE))
              - CAST(1 AS DOUBLE))
              * ln(CAST(2 AS DOUBLE)) / ln(CAST(rk + 1 AS DOUBLE)), 0)
              AS BIGINT)) AS BIGINT) AS idcg_micro
  FROM ideal WHERE rk <= 10 GROUP BY 1
)
SELECT ag.p_brand AS brand, ag.dcg_micro, ig.idcg_micro,
       (ag.dcg_micro * 1000000) // ig.idcg_micro AS ndcg_ppm
FROM ag JOIN ig ON ig.p_brand = ag.p_brand
"""


ORACLES["holt_linear"] = """
WITH RECURSIVE
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events
),
daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - d0 AS BIGINT) + 1 AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events, bounds GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM events),
span AS (SELECT CAST(d1 - d0 AS BIGINT) + 1 AS n_days FROM bounds),
days AS (SELECT unnest(range(1, n_days + 1)) AS day FROM span),
dense AS (
  SELECT t.event_type, d.day, coalesce(dl.y, 0) AS y
  FROM types t
  CROSS JOIN days d
  LEFT JOIN daily dl ON dl.event_type = t.event_type AND dl.day = d.day
),
rec AS (
  SELECT event_type, CAST(1 AS BIGINT) AS day,
         CAST(y * 1000000 AS BIGINT) AS l, CAST(0 AS BIGINT) AS b
  FROM dense WHERE day = 1
  UNION ALL
  SELECT r.event_type, r.day + 1,
         (x.y * 1000000 + 4 * (r.l + r.b)) // 5,
         (((x.y * 1000000 + 4 * (r.l + r.b)) // 5) - r.l + 9 * r.b) // 10
  FROM rec r
  JOIN dense x ON x.event_type = r.event_type AND x.day = r.day + 1
)
SELECT event_type, day, l AS level_micro, b AS trend_micro,
       l + b AS forecast_micro
FROM rec
"""


ORACLES["sax_symbols"] = """
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events
),
daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - d0 AS BIGINT) + 1 AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events, bounds GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM events),
span AS (SELECT CAST(d1 - d0 AS BIGINT) + 1 AS n_days FROM bounds),
days AS (SELECT unnest(range(1, n_days + 1)) AS day FROM span),
dense AS (
  SELECT t.event_type, d.day, coalesce(dl.cents, 0) AS cents
  FROM types t CROSS JOIN days d
  LEFT JOIN daily dl ON dl.event_type = t.event_type AND dl.day = d.day
),
paa AS (
  SELECT event_type, (day - 1) // 4 AS win,
         CAST(sum(cents) AS BIGINT) AS paa_cents,
         count(*) AS nd
  FROM dense GROUP BY 1, 2 HAVING count(*) = 4
),
sym AS (
  SELECT event_type, win,
         substring('abcd',
             CAST(((row_number() OVER (PARTITION BY event_type
                        ORDER BY paa_cents ASC, win ASC) - 1) * 4)
                  // (count(*) OVER (PARTITION BY event_type)) + 1
                  AS INT), 1) AS s
  FROM paa
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_windows,
       string_agg(s, '' ORDER BY win) AS sax_word
FROM sym GROUP BY 1
"""


def _build_holt_winters_sql() -> str:
    # Lockstep replay of q_holt_winters' recurrence: seven seasonal
    # columns stand in for the Spark fold's s[7] array; slot(t) =
    # ((t-1) % 7) + 1. Both engines truncate integer division toward
    # zero (verified on negatives), so every state step is exact.
    s_prev = (
        "CASE (r.day) % 7 + 1 "
        + " ".join(f"WHEN {i} THEN r.s{i}" for i in range(1, 8))
        + " END"
    )
    l_new = f"(x.y * 1000000 - ({s_prev}) + 4 * (r.l + r.b)) // 5"
    b_new = f"(({l_new}) - r.l + 9 * r.b) // 10"
    s_new = f"(x.y * 1000000 - ({l_new}) + 4 * ({s_prev})) // 5"
    s_cols = ", ".join(
        f"CAST(CASE WHEN (r.day) % 7 + 1 = {i} THEN {s_new}"
        f" ELSE r.s{i} END AS BIGINT)"
        for i in range(1, 8)
    )
    sinit_cols = ", ".join(
        f"CAST(max(CASE WHEN d.day = {i} THEN d.y END) * 1000000 - i.l"
        f" AS BIGINT) AS s{i}"
        for i in range(1, 8)
    )
    cur_slot = (
        "CASE (day - 1) % 7 + 1 "
        + " ".join(f"WHEN {i} THEN s{i}" for i in range(1, 8))
        + " END"
    )
    nxt_slot = (
        "CASE (day) % 7 + 1 "
        + " ".join(f"WHEN {i} THEN s{i}" for i in range(1, 8))
        + " END"
    )
    return f"""
WITH RECURSIVE
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events
),
daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - d0 AS BIGINT) + 1 AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events, bounds GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM events),
span AS (SELECT CAST(d1 - d0 AS BIGINT) + 1 AS n_days FROM bounds),
days AS (SELECT unnest(range(1, n_days + 1)) AS day FROM span),
dense AS (
  SELECT t.event_type, d.day, coalesce(dl.y, 0) AS y
  FROM types t
  CROSS JOIN days d
  LEFT JOIN daily dl ON dl.event_type = t.event_type AND dl.day = d.day
),
init AS (
  SELECT event_type, CAST((sum(y) * 1000000) // 7 AS BIGINT) AS l
  FROM dense WHERE day <= 7 GROUP BY 1
),
sinit AS (
  SELECT d.event_type, i.l, {sinit_cols}
  FROM dense d JOIN init i ON i.event_type = d.event_type
  WHERE d.day <= 7 GROUP BY d.event_type, i.l
),
rec AS (
  SELECT event_type, CAST(7 AS BIGINT) AS day, l, CAST(0 AS BIGINT) AS b,
         s1, s2, s3, s4, s5, s6, s7
  FROM sinit
  UNION ALL
  SELECT r.event_type, r.day + 1,
         CAST({l_new} AS BIGINT), CAST({b_new} AS BIGINT), {s_cols}
  FROM rec r
  JOIN dense x ON x.event_type = r.event_type AND x.day = r.day + 1
)
SELECT event_type, day, l AS level_micro, b AS trend_micro,
       CAST({cur_slot} AS BIGINT) AS seasonal_micro,
       CAST(l + b + ({nxt_slot}) AS BIGINT) AS forecast_micro
FROM rec WHERE day >= 8
"""


ORACLES["holt_winters"] = _build_holt_winters_sql()

ORACLES["ks_drift"] = """
WITH src AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN year(o_orderdate) < 1998 THEN 1 ELSE 0 END AS fl
  FROM orders
),
grid AS (
  SELECT v, CAST(sum(fl) AS BIGINT) AS na,
         CAST(sum(1 - fl) AS BIGINT) AS nb
  FROM src GROUP BY 1
),
tot AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
               CAST(sum(nb) AS BIGINT) AS n2 FROM grid),
run AS (
  SELECT n1, n2,
         sum(n2 * na - n1 * nb) OVER (ORDER BY v) AS cum
  FROM grid CROSS JOIN tot
)
SELECT max(n1) AS n1, max(n2) AS n2,
       CAST(max(abs(cum)) AS BIGINT) AS d_num,
       CASE WHEN max(n1) * max(n2) <= 9223372036854
            THEN (1000000 * CAST(max(abs(cum)) AS BIGINT))
                 // (max(n1) * max(n2))
            ELSE (1000000 * (CAST(max(abs(cum)) AS BIGINT)
                 // least(max(n1), max(n2)))) // greatest(max(n1), max(n2))
            END AS ks_micro
FROM run
"""


ORACLES["mannwhitney_test"] = """
WITH src AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS fl
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
grid AS (
  SELECT v, CAST(sum(fl) AS BIGINT) AS na,
         CAST(count(*) AS BIGINT) AS cnt
  FROM src GROUP BY 1
),
tot AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
               CAST(sum(cnt) - sum(na) AS BIGINT) AS n2 FROM grid),
run AS (
  SELECT na, cnt, sum(cnt) OVER (ORDER BY v) AS cum
  FROM grid
),
ag AS (
  SELECT max(t.n1) AS n1, max(t.n2) AS n2,
         CAST(sum(na * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS r1_x2,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t3_minus_t
  FROM run CROSS JOIN tot t
)
SELECT n1, n2, r1_x2,
       r1_x2 - n1 * (n1 + 1) AS u1_x2,
       tie_t3_minus_t,
       (1000000 * (r1_x2 - n1 * (n1 + 1))) // (2 * n1 * n2)
         AS u_eff_micro
FROM ag
"""


ORACLES["spearman_nation"] = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
base AS (
  SELECT n.n_name,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS x,
         coalesce(s.cents, 0) AS y
  FROM customer c
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  LEFT JOIN spend s ON s.o_custkey = c.c_custkey
),
rk AS (
  SELECT n_name,
         CAST(2 * rank() OVER (PARTITION BY n_name ORDER BY x)
           + count(*) OVER (PARTITION BY n_name, x) - 1 AS BIGINT) AS rx2,
         CAST(2 * rank() OVER (PARTITION BY n_name ORDER BY y)
           + count(*) OVER (PARTITION BY n_name, y) - 1 AS BIGINT) AS ry2
  FROM base
),
suff AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx2) AS BIGINT) AS sx,
         CAST(sum(ry2) AS BIGINT) AS sy,
         CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
         CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
         CAST(sum(ry2 * ry2) AS BIGINT) AS syy
  FROM rk GROUP BY 1
)
SELECT n_name, n,
       n * sxy - sx * sy AS num,
       n * sxx - sx * sx AS dxx,
       n * syy - sy * sy AS dyy,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         CAST(floor(CAST(1000000 * (n * sxy - sx * sy) AS DOUBLE)
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
       END AS rho_micro
FROM suff
"""


def _hilbert_sql() -> str:
    from graph_database_spark.operators import layout as LAY

    ctes, last = LAY.hilbert_ctes_duckdb("src", 10)
    return f"""
WITH src AS (
  SELECT CAST(o_custkey % 1024 AS BIGINT) AS x,
         CAST(least(CAST(1023 AS BIGINT),
              CAST(round(o_totalprice * 100) AS BIGINT) // 65536)
              AS BIGINT) AS y,
         CAST(o_custkey % 1024 AS BIGINT) AS ox,
         CAST(least(CAST(1023 AS BIGINT),
              CAST(round(o_totalprice * 100) AS BIGINT) // 65536)
              AS BIGINT) AS oy,
         CAST(0 AS BIGINT) AS d
  FROM orders
),
{ctes}
SELECT d // 1024 AS h_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(ox) AS x_min, max(ox) AS x_max,
       min(oy) AS y_min, max(oy) AS y_max,
       max(ox) - min(ox) AS x_span, max(oy) - min(oy) AS y_span,
       CAST(sum(d) AS BIGINT) AS h_sum
FROM {last} GROUP BY 1
"""


ORACLES["hilbert_index"] = _hilbert_sql()


ORACLES["events_changepoint"] = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0,
         date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (
  SELECT t.event_type, unnest(generate_series(b.h0, b.h1,
         INTERVAL 1 HOUR)) AS h
  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
dense AS (
  SELECT g.event_type, g.h, coalesce(hh.y, 0) AS y
  FROM grid g
  LEFT JOIN hourly hh ON hh.event_type = g.event_type AND hh.h = g.h
),
pre AS (
  SELECT event_type, h,
         CAST(row_number() OVER w AS BIGINT) AS k,
         CAST(sum(y) OVER w AS BIGINT) AS sk
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY h)
),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sn
  FROM dense GROUP BY 1
),
scored AS (
  SELECT p.event_type, p.h, p.k, t.n, p.sk, t.sn,
         ((p.sk * t.n - p.k * t.sn) * (p.sk * t.n - p.k * t.sn))
           // (p.k * (t.n - p.k)) AS gain
  FROM pre p JOIN tot t ON t.event_type = p.event_type
  WHERE p.k < t.n
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY gain DESC, k ASC) AS rn
  FROM scored
)
SELECT event_type, h AS split_hour, k, n, gain,
       (1000 * sk) // k AS left_mean_milli,
       (1000 * (sn - sk)) // (n - k) AS right_mean_milli
FROM best WHERE rn = 1
"""


def _als_sql() -> str:
    from graph_database_spark.operators.als import duckdb_solve_sql

    f1 = duckdb_solve_sql("f1")
    f2 = duckdb_solve_sql("f2")

    def suff(src: str, fac: str, join_on: str, grp: str) -> str:
        return f"""
  SELECT r.{grp} AS fid, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(f.f1 * f.f1) AS BIGINT) AS a11s,
         CAST(sum(f.f1 * f.f2) AS BIGINT) AS a12s,
         CAST(sum(f.f2 * f.f2) AS BIGINT) AS a22s,
         CAST(sum(r.r * f.f1) AS BIGINT) AS b1s,
         CAST(sum(r.r * f.f2) AS BIGINT) AS b2s
  FROM {src} r JOIN {fac} f ON f.fid = r.{join_on}
  GROUP BY 1"""

    return f"""
WITH ratings AS (
  SELECT o.o_custkey AS u, l.l_partkey AS p,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS r
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
v0 AS (
  SELECT p AS fid,
         CAST(('0x' || substr(md5('alsa|' || CAST(p AS VARCHAR)), 1, 15))
              AS BIGINT) % 201 - 100 AS f1,
         CAST(('0x' || substr(md5('alsb|' || CAST(p AS VARCHAR)), 1, 15))
              AS BIGINT) % 201 - 100 AS f2
  FROM (SELECT DISTINCT p FROM ratings)
),
s1 AS ({suff('ratings', 'v0', 'p', 'u')}),
u1 AS (SELECT fid, {f1} AS f1, {f2} AS f2 FROM s1),
s2 AS ({suff('ratings', 'u1', 'u', 'p')}),
v1 AS (SELECT fid, {f1} AS f1, {f2} AS f2 FROM s2),
s3 AS ({suff('ratings', 'v1', 'p', 'u')}),
u2 AS (SELECT fid, {f1} AS f1, {f2} AS f2 FROM s3)
SELECT fid AS cust, f1 AS f1_centi, f2 AS f2_centi FROM u2
"""


ORACLES["als_factors"] = _als_sql()


ORACLES["dsir_selection"] = f"""
WITH toks AS (
  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS is_t,
         {_DUCK_TOKENS} AS t
  FROM documents
),
bg AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substring(md5(t[i] || ' ' || t[i + 1]), 1, 15))
              AS BIGINT) % 256 AS b
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
),
cnt AS (
  SELECT b, CAST(sum(is_t) AS BIGINT) AS ct,
         CAST(count(*) AS BIGINT) AS cr
  FROM bg GROUP BY 1
),
tot AS (
  SELECT CAST(sum(is_t) AS BIGINT) AS nt,
         CAST(count(*) AS BIGINT) AS nr
  FROM bg
),
model AS (
  SELECT b,
         CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 256 AS DOUBLE)
                       * CAST(nr + 256 AS DOUBLE) / CAST(cr + 1 AS DOUBLE))
                    * 1000000.0, 0) AS BIGINT) AS lam_micro
  FROM cnt CROSS JOIN tot
)
SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(m.lam_micro) AS BIGINT) AS w_micro
FROM bg JOIN model m ON m.b = bg.b
GROUP BY 1
ORDER BY w_micro DESC, doc_id ASC
LIMIT 50
"""


ORACLES["lsh_pair_prf"] = f"""
    WITH pred0 AS ({_build_minhash_pairs_sql(bands=4, threshold=0.5)}),
    truth0 AS ({ORACLES["ngram_jaccard_exact"]}),
    pred AS (SELECT id_a, id_b FROM pred0),
    truth AS (SELECT id_a, id_b FROM truth0),
    st AS (
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_pred,
            (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
            (SELECT CAST(count(*) AS BIGINT) FROM pred p
             JOIN truth t ON t.id_a = p.id_a AND t.id_b = p.id_b) AS n_hit
    )
    SELECT n_pred, n_truth, n_hit,
           CAST(CASE WHEN n_pred > 0
                THEN (n_hit * 1000000) // n_pred ELSE 0 END AS BIGINT)
               AS precision_ppm,
           CAST(CASE WHEN n_truth > 0
                THEN (n_hit * 1000000) // n_truth ELSE 0 END AS BIGINT)
               AS recall_ppm,
           CAST(CASE WHEN n_pred + n_truth > 0
                THEN (2 * n_hit * 1000000) // (n_pred + n_truth)
                ELSE 0 END AS BIGINT) AS f1_ppm
    FROM st
"""


ORACLES["minhash_calibration"] = f"""
    WITH pred0 AS ({_build_minhash_pairs_sql(bands=4, threshold=0.5)}),
    pred AS (
        SELECT id_a, id_b,
               CAST(round(est_jaccard * 16) AS BIGINT) AS est_16
        FROM pred0
    ),
    tk AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')),
                   ' '), t -> t != '') AS t
        FROM documents
    ),
    sets AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(
                       generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
        FROM tk
    ),
    j AS (
        SELECT p.est_16,
               len(list_intersect(sa.s, sb.s)) AS ni,
               len(sa.s) AS na, len(sb.s) AS nb
        FROM pred p
        JOIN sets sa ON sa.doc_id = p.id_a
        JOIN sets sb ON sb.doc_id = p.id_b
    ),
    e AS (
        SELECT est_16,
               (CAST(ni AS BIGINT) * 1000000) // (na + nb - ni) AS exact_ppm
        FROM j
    )
    SELECT est_16,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CAST(sum(exact_ppm) AS BIGINT) // count(*) AS BIGINT)
               AS mean_exact_ppm,
           CAST(min(exact_ppm) AS BIGINT) AS min_exact_ppm,
           CAST(max(exact_ppm) AS BIGINT) AS max_exact_ppm
    FROM e GROUP BY 1
"""


# Late composition: hyper_anf's oracle is defined after the
# effective_diameter template above; splice it in once both exist.
ORACLES["effective_diameter"] = ORACLES["effective_diameter"].replace(
    "{ANF}", ORACLES["hyper_anf"]
)


# The registry is read off the module: each `q_<name>` function is the
# query `<name>` (definition order), and a query without an ORACLES entry
# is rows-only (the driver's weaker rows-only check).
QUERIES: dict[str, QueryFn] = {
    n[2:]: f for n, f in list(globals().items()) if n.startswith("q_")
}
ROWS_ONLY = frozenset(QUERIES) - ORACLES.keys()


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
