"""Derived co-purchase graph over the driver's synthetic tables.

The reference's graph is the SNAP ego-Facebook edge list loaded into Neo4j
(src/main.js:244-263). For the hash-checkable DuckDB oracle we need a graph
derivable *identically* in Spark and ANSI SQL from the synthetic TPC-H-ish
tables (SURVEY.md §2.12, FIXTURES.md §C):

    vertices = customers; proof-1 attribute pair = (c_nationkey, c_mktsegment)
               (the analog of the reference's (hometown;id, education;school;id)
               property pair, src/main.js:30,36)
    edges    = distinct customer pairs (a < b) that ordered the same part in
               the same calendar month

The same-month constraint keeps the graph sparse and realistic (avg degree
~15 at every sf, measured) — without it the co-purchase graph is >50% dense
and neighborhood operators degenerate to O(V^3).

Scale posture: the heavy step is one aggregation of the (customer, part,
month) rows on (part, month) into each context's sorted customer set;
the in-context pairs a < b are then exploded from that array row by row,
with no join. Group sizes are bounded by customers-per-part-per-month
(~5), so the pair explosion is linear in |lineitem| with a small
constant, and the single shuffle key (part, month) has no skew. Edges
are canonicalized src < dst at build time — the undirected-simple-graph
invariant of the reference loader (src/main.js:224-239) — which halves
all downstream shuffle volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.sources.parquet import load_table

# ANSI-SQL equivalents (DuckDB-runnable) used to build oracle queries.
COPURCHASE_CP_SQL = """
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p,
                    date_trunc('month', o.o_orderdate) AS w
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""

COPURCHASE_EDGES_SQL = f"""
    SELECT DISTINCT a.c AS src, b.c AS dst
    FROM ({COPURCHASE_CP_SQL}) a JOIN ({COPURCHASE_CP_SQL}) b
      ON a.p = b.p AND a.w = b.w AND a.c < b.c
"""

# Vertices = customers that appear in >= 1 edge, mirroring the reference's
# "only vertices present in the edge file are created" semantics
# (src/main.js:249-262; SURVEY.md §1.2).
COPURCHASE_VERTICES_SQL = f"""
    SELECT c.c_custkey AS id, c.c_nationkey AS attr_a, c.c_mktsegment AS attr_b
    FROM customer c
    WHERE c.c_custkey IN (
        SELECT src FROM ({COPURCHASE_EDGES_SQL}) UNION
        SELECT dst FROM ({COPURCHASE_EDGES_SQL})
    )
"""


def _copurchase_pairs(spark, sf_dir: str) -> DataFrame:
    """``(src, dst)`` once per shared (part, month) context: every
    customer pair src < dst that ordered the same part in the same
    calendar month.

    One aggregation on (part, month) collects each context's distinct
    customers as a sorted array; exploding that array twice and keeping
    src < dst yields each in-context pair exactly once. NULL part or
    month rows are dropped explicitly: the equi-join formulation (and
    the oracle's) never matches them, but a groupBy would keep them as a
    context of their own. NULL customers drop inside ``collect_set``,
    as they fail the oracle's ``a.c < b.c``."""
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    contexts = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_partkey").alias("p"),
            F.date_trunc("month", F.col("o_orderdate")).alias("w"),
        )
        .where(F.col("p").isNotNull() & F.col("w").isNotNull())
        .groupBy("p", "w")
        .agg(F.array_sort(F.collect_set("c")).alias("cs"))
    )
    return (
        contexts.select("cs", F.explode("cs").alias("src"))
        .select("src", F.explode("cs").alias("dst"))
        .where(F.col("src") < F.col("dst"))
    )


def copurchase_edges(spark, sf_dir: str) -> DataFrame:
    """Canonical undirected edge set: ``(src BIGINT, dst BIGINT)``, src < dst.

    Two shuffles past the lineitem/orders join: one on (part, month) to
    collect each context's customers, one for the final distinct over
    the pairs a customer pair shares in several contexts. Deduplication
    of repeated (customer, part, month) rows happens inside that first
    aggregation (``collect_set``), so no separate distinct and no pair
    self-join is paid — the bulk-relational rewrite of the reference's
    per-edge existence probe (src/main.js:224-239, J4 in SURVEY.md
    §2.3).
    """
    return _copurchase_pairs(spark, sf_dir).distinct()


def copurchase_edges_weighted(spark, sf_dir: str) -> DataFrame:
    """Weighted canonical edges: ``(src, dst, weight)`` — weight = the
    number of distinct (part, month) contexts the pair co-purchased in
    (the natural tie-strength the unweighted builder throws away with
    its final distinct). Same two shuffles; the distinct becomes the
    counting groupBy."""
    return _copurchase_pairs(spark, sf_dir).groupBy("src", "dst").agg(
        F.count("*").alias("weight")
    )


def copurchase_vertices(spark, sf_dir: str, edges: DataFrame | None = None) -> DataFrame:
    """Vertex set with the proof-1 attribute pair: ``(id, attr_a, attr_b)``."""
    if edges is None:
        edges = copurchase_edges(spark, sf_dir)
    members = edges.select(
        F.explode(F.array(F.col("src"), F.col("dst"))).alias("id")
    ).distinct()
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("attr_a"),
        F.col("c_mktsegment").alias("attr_b"),
    )
    return customer.join(members, "id", "left_semi")


def symmetrize(edges: DataFrame) -> DataFrame:
    """Both-direction view ``(v, n)`` of a canonical edge set.

    The reference stores directed edges but queries them undirected
    (src/main.js:36,77: ``-[:FRIENDS]-``); we store canonical and expand
    on demand. Expansion is a narrow per-row explode — a union of two
    selects would re-derive the (possibly expensive) edge lineage once
    per branch, doubling every upstream scan in plans that don't reuse
    exchanges."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("v"), F.col("dst").alias("n")),
                F.struct(F.col("dst").alias("v"), F.col("src").alias("n")),
            )
        ).alias("e")
    ).select("e.v", "e.n")
