"""SNAP ego-network text source (SURVEY.md §1.2 / S1, M5).

Reads the reference's five whitespace-text formats per ego network
(reference parsing: src/main.js:143-173 featnames/feat/egofeat,
src/main.js:244-247 edges, src/main.js:284-296 circles) and reproduces
the loader's decode semantics exactly:

  - last-bit-wins property decode (src/main.js:185-197): bits scanned in
    ascending feature-index order overwrite the property map, so the
    HIGHEST-indexed set bit per property name survives -> max_by(value, idx);
  - only vertices appearing in the edge file exist, plus the ego
    (src/main.js:249-262) — isolated alters in .feat are dropped;
  - every alter gets a spoke edge to the ego at creation
    (src/main.js:254,261), alter-alter edges are deduped across both
    directions (src/main.js:224-239) -> canonical (src < dst) distinct set;
  - circle flags only land on members already in the friends map
    (src/main.js:292-293); the ego and unknown members are skipped.

Unlike the reference (one wipe-and-reload Neo4j DB per ego,
src/main.js:18,200-207), all ten networks live in single DataFrames
partitioned by an ``ego`` column — a partition filter replaces the wipe,
and one Spark job processes every network at once. At scale the text
parse is a narrow map over line-splits; the only shuffles are the edge
distinct and the per-(node, property) decode aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

EGO_CENTERS = ("0", "107", "348", "414", "686", "698", "1684", "1912", "3437", "3980")

# The reference dataset (read-only): the ten SNAP ego networks under
# ``data/`` and the reference pipeline's golden files under ``output/``.
REFERENCE_DIR = "/root/reference"
REFERENCE_DATA = f"{REFERENCE_DIR}/data"
REFERENCE_OUTPUT = f"{REFERENCE_DIR}/output"


def _read_lines(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path).where(F.length(F.trim("value")) > 0)


def load_featnames(spark: SparkSession, data_dir: str, ego: str) -> DataFrame:
    """``(feat_idx INT, prop STRING, value STRING)``.

    Line = ``<idx> <path;joined;name>;<value token>``; split at the FIRST
    space and the LAST semicolon (src/main.js:146-150,190-192)."""
    lines = _read_lines(spark, f"{data_dir}/{ego}.featnames")
    parts = F.split(F.col("value"), " ", 2)
    rest = parts[1]
    return lines.select(
        parts[0].cast("int").alias("feat_idx"),
        F.regexp_replace(rest, ";[^;]*$", "").alias("prop"),
        F.substring_index(rest, ";", -1).alias("value"),
    )


def _decode_bits(bits_df: DataFrame, featnames: DataFrame) -> DataFrame:
    """(node_id, idx) set-bit rows -> ``(node_id, props MAP<STRING,STRING>)``
    with last-bit-wins per property name (M5, src/main.js:185-197)."""
    named = bits_df.join(F.broadcast(featnames), bits_df.idx == featnames.feat_idx)
    winners = named.groupBy("node_id", "prop").agg(
        F.max_by("value", "feat_idx").alias("value")
    )
    return winners.groupBy("node_id").agg(
        F.map_from_entries(F.collect_list(F.struct("prop", "value"))).alias("props")
    )


def load_feat(spark: SparkSession, data_dir: str, ego: str, featnames: DataFrame) -> DataFrame:
    """Alter feature rows decoded to ``(node_id STRING, props MAP)``."""
    lines = _read_lines(spark, f"{data_dir}/{ego}.feat")
    arr = F.split(F.trim("value"), " ")
    rows = lines.select(
        arr[0].alias("node_id"), F.slice(arr, 2, F.size(arr) - 1).alias("bits")
    )
    bits = rows.select(
        "node_id", F.posexplode("bits").alias("idx", "bit")
    ).where(F.col("bit") == "1")
    return _decode_bits(bits, featnames)


def load_egofeat(spark: SparkSession, data_dir: str, ego: str, featnames: DataFrame) -> DataFrame:
    """Ego feature row (no leading id) decoded to ``(node_id, props)``
    with node_id = the ego center name (src/main.js:169-180)."""
    lines = _read_lines(spark, f"{data_dir}/{ego}.egofeat")
    arr = F.split(F.trim("value"), " ")
    bits = lines.select(
        F.lit(ego).alias("node_id"), F.posexplode(arr).alias("idx", "bit")
    ).where(F.col("bit") == "1")
    return _decode_bits(bits, featnames)


def load_edges_raw(spark: SparkSession, data_dir: str, ego: str) -> DataFrame:
    """Raw directed edge lines: ``(src STRING, dst STRING)``."""
    lines = _read_lines(spark, f"{data_dir}/{ego}.edges")
    arr = F.split(F.trim("value"), " ")
    return lines.select(arr[0].alias("src"), arr[1].alias("dst"))


def load_circles(spark: SparkSession, data_dir: str, ego: str) -> DataFrame:
    """Long-form circle membership: ``(circle STRING, member STRING)``.

    Relational replacement for the reference's write-only per-node
    ``circle<k>="yes"`` flags (src/main.js:284-296)."""
    lines = _read_lines(spark, f"{data_dir}/{ego}.circles")
    arr = F.split(F.col("value"), "\t")
    return lines.select(
        arr[0].alias("circle"),
        F.explode(F.slice(arr, 2, F.size(arr) - 1)).alias("member"),
    ).where(F.length("member") > 0)


def load_ego_network(spark: SparkSession, data_dir: str, ego: str):
    """One ego network as ``(vertices, edges, circles)`` DataFrames.

    vertices: (id BIGINT, props MAP<STRING,STRING>, attr_a, attr_b) where
        attr_a/attr_b are the proof-1 pair (hometown;id /
        education;school;id) promoted to top-level columns for pushdown;
        rows exist only for edge-file members + the ego.
    edges: canonical (src BIGINT, dst BIGINT) src < dst undirected distinct
        pairs INCLUDING the ego spokes — golden edge count semantics.
    circles: (circle STRING, member BIGINT) filtered to existing friends.

    Ids are BIGINT (the reference stores them as strings) so the canonical
    src < dst invariant is a single total order shared with every
    operators/graph.py join — a lexicographic/numeric mix would silently
    drop wedges in the triangle join.
    """
    featnames = load_featnames(spark, data_dir, ego)
    raw = load_edges_raw(spark, data_dir, ego).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )

    members = (
        raw.select(F.col("src").alias("id"))
        .union(raw.select(F.col("dst").alias("id")))
        .distinct()
    )

    # Canonical alter-alter edges (either-direction dedup, J4) + ego
    # spokes (src/main.js:254,261), all under the same src < dst order.
    ego_id = F.lit(int(ego)).cast("long")
    alter_edges = raw.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    spokes = members.select(
        F.least(ego_id, F.col("id")).alias("src"),
        F.greatest(ego_id, F.col("id")).alias("dst"),
    )
    edges = alter_edges.union(spokes).distinct()

    friend_props = load_feat(spark, data_dir, ego, featnames).withColumn(
        "node_id", F.col("node_id").cast("long")
    )
    ego_props = load_egofeat(spark, data_dir, ego, featnames).withColumn(
        "node_id", F.lit(int(ego)).cast("long")
    )
    # Vertex base = edge-file members + the ego; a LEFT join keeps nodes
    # whose feature row has no set bits (the reference creates them with
    # an empty property bag).
    ids = members.union(spark.range(1).select(ego_id.alias("id"))).distinct()
    props = friend_props.where(F.col("node_id") != ego_id).union(ego_props)
    vertices = ids.join(props, ids.id == props.node_id, "left").select(
        "id",
        "props",
        F.col("props").getItem("hometown;id").alias("attr_a"),
        F.col("props").getItem("education;school;id").alias("attr_b"),
    )

    circles = load_circles(spark, data_dir, ego).withColumn(
        "member", F.col("member").cast("long")
    ).join(
        members.withColumnRenamed("id", "member"), "member", "left_semi"
    ).select("circle", "member")
    return vertices, edges, circles


def load_all(spark: SparkSession, data_dir: str, egos=EGO_CENTERS):
    """All ego networks in single DataFrames with an ``ego`` partition
    column — the wipe-per-network loop (src/main.js:17-24) becomes a
    partition filter."""
    all_v = all_e = all_c = None
    for ego in egos:
        v, e, c = load_ego_network(spark, data_dir, ego)
        v = v.withColumn("ego", F.lit(ego))
        e = e.withColumn("ego", F.lit(ego))
        c = c.withColumn("ego", F.lit(ego))
        all_v = v if all_v is None else all_v.union(v)
        all_e = e if all_e is None else all_e.union(e)
        all_c = c if all_c is None else all_c.union(c)
    return all_v, all_e, all_c
