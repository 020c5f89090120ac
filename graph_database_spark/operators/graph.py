"""Graph analytics operators (the reference's query surface).

Every operator takes plain DataFrames — ``edges(src, dst)`` canonical
src < dst, optionally ``vertices(id, attr_a, attr_b)`` — so the same code
runs on the derived co-purchase graph (plans/copurchase.py) and on the
SNAP ego networks (sources/snap.py).

Reference anchors (SURVEY.md §2):
  node_count                src/main.js:65-73   (S2/A2)
  edge_count                src/main.js:76-84   (S4/A2 + J4 dedup)
  cooccurrence_pairs        src/main.js:29-34   (J1/J2/P2/P3/A1, proof-1 denominator)
  connected_pairs           src/main.js:35-40   (+ J3 semi-join, proof-1 numerator)
  hypothesis_verdict        src/main.js:41-46   (F5 ratio + threshold)
  degree / triangle_edges / clustering_coefficient
                            src/main.js:87-105  (A5 composite)

Scale posture: everything below is shuffle-minimal and whole-stage-codegen
expressible — no UDFs, no collect loops. The wedge join for triangles is
the only super-linear step; its cost is sum_v C(deg(v), 2), which is why
edges must arrive canonicalized (halves the join fan-out) and why the
derived graph bounds max degree (plans/copurchase.py docstring).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Observation, functions as F

from graph_database_spark.plans.copurchase import symmetrize

# Max degree beyond which the wedge self-join key is grid-salted.
# Below it, AQE's skew-join splitting absorbs hot vertices (measured
# through a 1.8k-degree hub in SCALE.md r5); above it a single join key
# owns C(deg, 2) wedge rows — a 100k-degree hub is 5e9 rows in ONE
# task — and splitting the probe side alone cannot spread a self-join.
_WEDGE_SALT_THRESHOLD = 8192


def _grid_blocks_for(max_degree: int | None) -> int:
    """Grid width for the salted wedge join: 1 (plain self-join) until
    the probe sees a hub past _WEDGE_SALT_THRESHOLD, then enough blocks
    that a cell pair holds ~threshold neighbors per side, capped at 16
    (replication factor is B+1 per row; 16 spreads a 131k-degree hub)."""
    if max_degree is None or max_degree <= _WEDGE_SALT_THRESHOLD:
        return 1
    return min(16, max(2, math.ceil(max_degree / _WEDGE_SALT_THRESHOLD)))


def _wedge_pairs(nbr: DataFrame, grid_blocks: int = 1) -> DataFrame:
    """Wedge enumeration ``(v, n1 < n2, *extras)`` from a symmetrized
    neighbor list ``(v, n, *extras)``, where ``extras`` are CENTER-v
    attributes (identical on every row of a center, so they may ride
    either side of the pair).

    ``grid_blocks=1``: the plain self-join on v — one shuffle, hub cost
    C(deg, 2) in the hub's single join key.

    ``grid_blocks=B>1``: the cosine_pairs_above block-pair grid applied
    per center — each neighbor row lands in block b = pmod(xxhash64(n),
    B) and is replicated to cells (b, j>=b) on the left and (i<=b, b)
    on the right; the join key becomes (v, gi, gj), so a hub's C(deg,2)
    wedges spread over B(B+1)/2 independent cells instead of one. Every
    unordered neighbor pair meets in EXACTLY one cell (cross-block
    pairs in one orientation — canonicalized by least/greatest — and
    same-block pairs deduped by n1 < n2), so the output is row-for-row
    identical to the plain path (pinned by tests/test_graph_skew.py).
    Shuffle volume is (B+1) x the neighbor list — paid only when the
    probe saw a hub AQE cannot spread."""
    extras = [c for c in nbr.columns if c not in ("v", "n")]
    if grid_blocks <= 1:
        w1, w2 = nbr.alias("w1"), nbr.alias("w2")
        return w1.join(
            w2, (F.col("w1.v") == F.col("w2.v")) & (F.col("w1.n") < F.col("w2.n"))
        ).select(
            F.col("w1.v").alias("v"),
            F.col("w1.n").alias("n1"),
            F.col("w2.n").alias("n2"),
            *[F.col(f"w1.{c}").alias(c) for c in extras],
        )
    B = grid_blocks
    base = nbr.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("n")), F.lit(B)).cast("int")
    )
    left = base.select(
        "v", F.col("n").alias("na"),
        *[F.col(c).alias(c) for c in extras],
        F.explode(
            F.transform(
                F.sequence(F.col("blk"), F.lit(B - 1)),
                lambda j: F.struct(F.col("blk").alias("gi"), j.alias("gj")),
            )
        ).alias("cell"),
    ).select("v", "na", *extras, "cell.gi", "cell.gj")
    right = base.select(
        "v", F.col("n").alias("nb"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("blk")),
                lambda i: F.struct(i.alias("gi"), F.col("blk").alias("gj")),
            )
        ).alias("cell"),
    ).select("v", "nb", "cell.gi", "cell.gj")
    pairs = left.join(right, ["v", "gi", "gj"]).where(
        (F.col("gi") != F.col("gj")) | (F.col("na") < F.col("nb"))
    )
    return pairs.select(
        "v",
        F.least("na", "nb").alias("n1"),
        F.greatest("na", "nb").alias("n2"),
        *extras,
    )


def node_count(edges: DataFrame) -> DataFrame:
    """Count of distinct vertices appearing in the edge set.

    Mirrors the reference where only vertices present in the edge file
    exist in the DB (src/main.js:249-262; golden 334 for ego 0)."""
    members = edges.select(
        F.explode(F.array(F.col("src"), F.col("dst"))).alias("id")
    )
    return members.agg(F.count_distinct("id").alias("node_count"))


def edge_count(edges: DataFrame) -> DataFrame:
    """Count of canonical (undirected, deduped) edges.

    The reference counts stored directed relationships after its
    either-direction dedup (src/main.js:76-84,224-239); our canonical set
    IS that deduped set."""
    return edges.agg(F.count("*").alias("edge_count"))


def degree(edges: DataFrame) -> DataFrame:
    """Per-vertex degree: ``(id, degree)``.

    One map-side-combinable aggregation over the symmetrized edges —
    replaces the reference's one-Cypher-query-per-vertex loop
    (src/main.js:90-91, anti-pattern §4.2)."""
    return (
        symmetrize(edges)
        .groupBy(F.col("v").alias("id"))
        .agg(F.count("*").alias("degree"))
    )


def _hub_probe(edges: DataFrame) -> tuple[DataFrame, int]:
    """``(deg, grid_blocks)``: the checkpointed degree frame and the
    wedge grid width its max degree selects (``_grid_blocks_for``). The
    max rides the checkpoint job as an ``observe`` metric, so the probe
    fires no job beyond the checkpoint every caller reuses ``deg`` from."""
    hub = Observation()
    deg = degree(edges).observe(hub, F.max("degree").alias("m")).localCheckpoint()
    return deg, _grid_blocks_for(hub.get["m"])


def cooccurrence_pairs(vertices: DataFrame) -> DataFrame:
    """Proof-1 denominator: ordered vertex pairs (including self-pairs)
    whose (attr_a, attr_b) pair is equal and fully non-null.

    The reference runs a cartesian ``match (m),(n)`` with equality
    predicates (src/main.js:30); golden output pins the semantics to
    *ordered pairs including m = n* (SURVEY.md §2.3 J1). The scalable
    rewrite is sum over attribute-groups of n^2 — one aggregation, no
    pair materialization, identical count.
    """
    return (
        vertices.where(F.col("attr_a").isNotNull() & F.col("attr_b").isNotNull())
        .groupBy("attr_a", "attr_b")
        .agg(F.count("*").alias("n"))
        .agg(F.coalesce(F.sum(F.col("n") * F.col("n")), F.lit(0)).alias("pairs"))
    )


def connected_pairs(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Proof-1 numerator: ordered pairs with equal attribute pair that are
    also connected by an edge (src/main.js:36, P5 pattern-existence).

    Starts from the sparse edge set and joins vertex attributes onto both
    endpoints (broadcast-able when vertices is a dimension), instead of
    filtering the quadratic pair space — the J3 semi-join inverted for
    scale. Each undirected edge contributes 2 ordered pairs.
    """
    va = vertices.where(F.col("attr_a").isNotNull() & F.col("attr_b").isNotNull())
    src_attrs = va.select(
        F.col("id").alias("src"), F.col("attr_a").alias("sa"), F.col("attr_b").alias("sb")
    )
    dst_attrs = va.select(
        F.col("id").alias("dst"), F.col("attr_a").alias("da"), F.col("attr_b").alias("db")
    )
    matched = (
        edges.join(src_attrs, "src")
        .join(dst_attrs, "dst")
        .where((F.col("sa") == F.col("da")) & (F.col("sb") == F.col("db")))
    )
    return matched.agg((F.coalesce(F.count("*"), F.lit(0)) * 2).alias("pairs"))


def hypothesis_verdict(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Full proof-1 pipeline: numerator, denominator, percentage, verdict.

    The reference computes pct client-side and branches at 50%
    (src/main.js:41-46); 0/0 yields NaN whose ``> 50`` is false, so the
    NULL percentage maps to 'disproved' (golden ego 3980, SURVEY.md §5.2).
    """
    num = connected_pairs(vertices, edges).select(F.col("pairs").alias("connected"))
    den = cooccurrence_pairs(vertices).select(F.col("pairs").alias("cooccurring"))
    joined = num.crossJoin(den)  # two single-row aggregates
    pct = F.when(
        F.col("cooccurring") > 0,
        F.col("connected") * 100.0 / F.col("cooccurring"),
    ).otherwise(F.lit(None).cast("double"))
    return joined.select(
        "connected",
        "cooccurring",
        pct.alias("pct"),
        F.when(pct > 50, F.lit("proved")).otherwise(F.lit("disproved")).alias("verdict"),
    )


def triangle_edges(edges: DataFrame, grid_blocks: int | None = None) -> DataFrame:
    """Per-vertex count of edges among its neighbors: ``(id, triangles)``.

    The clustering-coefficient numerator (src/main.js:88-89). Plan:
    wedges (v, n1 < n2) from a self-join of symmetrized edges, then an
    equi-join against the canonical edge set to keep closed wedges —
    each triangle counted exactly once per corner vertex. Vertices with
    no closed wedge get 0 via the left join with degree.

    Hub posture: the degree frame (checkpointed — it feeds the probe
    and the final left join) is probed for max degree (``_hub_probe``,
    an observe metric on that checkpoint); past
    _WEDGE_SALT_THRESHOLD the wedge self-join switches to the salted
    block-pair grid (_wedge_pairs), which AQE alone cannot provide for
    a self-join key. ``grid_blocks`` overrides the probe (tests).
    """
    deg, probed = _hub_probe(edges)
    if grid_blocks is None:
        grid_blocks = probed
    wedges = _wedge_pairs(symmetrize(edges), grid_blocks)
    closed = wedges.join(
        edges, (F.col("n1") == F.col("src")) & (F.col("n2") == F.col("dst")), "left_semi"
    )
    tri = closed.groupBy(F.col("v").alias("id")).agg(F.count("*").alias("triangles"))
    return deg.select("id").join(tri, "id", "left").select(
        "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex:
    ``(id, degree, triangles, cc)`` with cc = triangles / C(degree, 2).

    Reference semantics (src/main.js:87-105, verified bit-exact against
    1,367 golden values, SURVEY.md §0): the neighborhood is taken over the
    *full* edge set — for SNAP graphs that includes the ego spokes, which
    is what makes the published values 'ego-inclusive'. Degree < 2 yields
    cc = 0 (cannot occur on SNAP data; can on derived graphs).

    The ratio is a single IEEE division of two exact integers, so Spark
    and any ANSI engine produce bit-identical doubles.
    """
    deg = degree(edges)
    tri = triangle_edges(edges)
    wedge_cnt = F.col("degree") * (F.col("degree") - 1) / 2.0
    return deg.join(tri, "id").select(
        "id",
        "degree",
        "triangles",
        F.when(F.col("degree") >= 2, F.col("triangles") / wedge_cnt)
        .otherwise(F.lit(0.0))
        .alias("cc"),
    )


def link_prediction(edges: DataFrame, min_common: int = 2, top_k: int = 100) -> DataFrame:
    """Common-neighbor link prediction: the ``top_k`` NON-adjacent vertex
    pairs ranked by neighborhood Jaccard — ``(id_a, id_b, common,
    jaccard)`` with jaccard = common / (deg_a + deg_b - common).

    The classic "people you may know" scorer the reference's hypothesis
    queries gesture at (src/main.js:30-46 test whether same-attribute
    users are friends; this asks which non-friends the topology itself
    nominates). Plan shape is triangle_edges' wedge join reused with the
    closure test inverted: candidate pairs are wedge endpoints (so the
    candidate set is O(sum deg^2), never all pairs), the existing-edge
    check is a left ANTI join on the canonical (src < dst) edge set, and
    ``min_common`` prunes the long tail before the degree joins. At
    100 TB the wedge join is the same hub-bounded shuffle triangle
    counting pays; AQE skew-splits the hot vertices.
    """
    # edges feeds four consumers (both wedge sides via sym, the anti-join
    # probe, and degree twice) — checkpoint both so the upstream build
    # (e.g. the co-purchase self-join pipeline) is planned once
    # (CLAUDE.md reuse rule; un-checkpointed this plan hit 42 Exchanges).
    edges = edges.select("src", "dst").localCheckpoint()
    sym = symmetrize(edges).localCheckpoint()
    # deg feeds the hub probe and both scoring joins; the probe selects
    # the salted wedge grid past _WEDGE_SALT_THRESHOLD (AQE cannot
    # spread a self-join key).
    deg, blocks = _hub_probe(edges)
    pairs = (
        _wedge_pairs(sym, blocks)
        .select(F.col("n1").alias("id_a"), F.col("n2").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
        .where(F.col("common") >= min_common)
    )
    open_pairs = pairs.join(
        edges,
        (F.col("id_a") == F.col("src")) & (F.col("id_b") == F.col("dst")),
        "left_anti",
    )
    scored = (
        open_pairs.join(deg.select(F.col("id").alias("id_a"), F.col("degree").alias("deg_a")), "id_a")
        .join(deg.select(F.col("id").alias("id_b"), F.col("degree").alias("deg_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            F.round(
                F.col("common") / (F.col("deg_a") + F.col("deg_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("jaccard").desc(), "id_a", "id_b").limit(top_k)


def edge_embeddedness(edges: DataFrame) -> DataFrame:
    """Per-EDGE structural embeddedness: ``(src, dst, common,
    jaccard_ppm)`` — the number of common neighbors of the edge's
    endpoints and the neighborhood-overlap Jaccard (endpoints excluded:
    union = deg_a + deg_b - 2 - common, since each endpoint is in the
    other's neighborhood), in exact integer ppm. The tie-strength
    signal of Granovetter-style analyses: common = 0 marks a LOCAL
    BRIDGE (the edge sits in no triangle — removing it lengthens every
    path between its endpoints), high jaccard marks redundant intra-
    community ties. Per-vertex triangle counts can't disambiguate which
    EDGE carries the bridging role; this is the edge-resolution twin of
    ``triangle_edges`` on the same hub-salted wedge plan.

    Isolated-pair guard: a two-vertex component has union = 0; its
    jaccard is pinned 0.
    """
    edges = edges.select("src", "dst").localCheckpoint()
    sym = symmetrize(edges).localCheckpoint()
    deg, blocks = _hub_probe(edges)
    pairs = (
        _wedge_pairs(sym, blocks)
        .groupBy("n1", "n2")
        .agg(F.count("*").alias("cw"))
    )
    emb = edges.join(
        pairs,
        (F.col("src") == F.col("n1")) & (F.col("dst") == F.col("n2")),
        "left",
    ).select(
        "src", "dst", F.coalesce(F.col("cw"), F.lit(0)).alias("common")
    )
    return (
        emb.join(
            deg.select(F.col("id").alias("src"), F.col("degree").alias("da")),
            "src",
        )
        .join(
            deg.select(F.col("id").alias("dst"), F.col("degree").alias("db")),
            "dst",
        )
        .select(
            "src",
            "dst",
            F.col("common").cast("long").alias("common"),
            F.when(
                F.col("da") + F.col("db") - 2 - F.col("common") > 0,
                F.expr(
                    "(common * 1000000) div (da + db - 2 - common)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count: ``(n_triangles)`` — one row.

    Sum of the per-corner counts (triangle_edges counts each triangle
    once at each of its 3 corners) divided exactly by 3. Integer `div`
    keeps the result integral on any engine. Same wedge-join plan as the
    per-vertex form; the extra global agg is a single-row reduce."""
    return triangle_edges(edges).agg(
        F.expr("sum(triangles) div 3").cast("bigint").alias("n_triangles")
    )


def rectangle_count(edges: DataFrame) -> DataFrame:
    """Global 4-cycle (rectangle) count: one row ``(n_rectangles)`` —
    the quadrilateral sibling of triangle_count (bipartite-ish cores,
    spam/bot ring signal).

    Every 4-cycle has exactly TWO diagonal pairs, so C4 =
    (sum over unordered {u, w} of C(codeg(u, w), 2)) div 2, with
    codegrees from the SAME hub-salted wedge enumeration the triangle
    family uses (_wedge_pairs switches to the block-pair grid past
    _WEDGE_SALT_THRESHOLD). All-integer; both divisions are exact
    (per-pair C(c,2) is integral, and the diagonal double-count makes
    the sum even).
    """
    edges = edges.select("src", "dst").localCheckpoint()
    sym = symmetrize(edges).localCheckpoint()
    _, blocks = _hub_probe(edges)
    codeg = (
        _wedge_pairs(sym, blocks)
        .groupBy("n1", "n2")
        .agg(F.count("*").alias("c"))
    )
    return codeg.agg(
        F.expr("sum(c * (c - 1) div 2) div 2")
        .cast("bigint")
        .alias("n_rectangles")
    )


def link_scores(edges: DataFrame, min_common: int = 2, top_k: int = 100) -> DataFrame:
    """Link-prediction score family over non-adjacent wedge pairs:
    ``(id_a, id_b, common, aa_micro, ra_micro, jaccard)`` — common
    neighbors, Adamic-Adar (sum 1/ln deg(w)), resource allocation
    (sum 1/deg(w)), neighborhood Jaccard — top ``top_k`` by Adamic-Adar.

    The per-common-neighbor weights are snapped to integer micro-units
    BEFORE the wedge join (CLAUDE.md: libm-derived per-item scores sum
    as integers, partition-order-exact — the one ln() per vertex is a
    single IEEE expression mirrored in the oracle), so the grouped sums
    hash-match DuckDB exactly. Same hub-bounded wedge-join plan as
    link_prediction; the weight columns ride the symmetrized edge rows,
    adding no shuffle."""
    edges = edges.select("src", "dst").localCheckpoint()
    # deg feeds the unit attachment, the hub probe, and both scoring
    # joins — checkpoint once (CLAUDE.md reuse rule).
    deg, blocks = _hub_probe(edges)
    # Units attach to the wedge CENTER once, per vertex — never inside
    # the pair join (re-evaluation per wedge row) and never via a
    # post-join lookup (a third join). degree > 1 guard: a wedge center
    # has >= 2 neighbors, but nbr also carries degree-1 vertices whose
    # ln() would be 0 in the projected column.
    nbr = (
        symmetrize(edges)
        .join(deg.select(F.col("id").alias("v"), "degree"), "v")
        .select(
            "v",
            "n",
            F.when(
                F.col("degree") > 1,
                F.round(
                    F.lit(1000000.0) / F.log(F.col("degree").cast("double")), 0
                ),
            )
            .cast("long")
            .alias("aa_unit"),
            F.round(F.lit(1000000.0) / F.col("degree").cast("double"), 0)
            .cast("long")
            .alias("ra_unit"),
        )
        .localCheckpoint()  # feeds both sides of the self-join
    )
    # aa_unit/ra_unit are CENTER attributes (both rows of a pair share
    # the center), so they ride _wedge_pairs' extras under either path.
    pairs = (
        _wedge_pairs(nbr, blocks)
        .groupBy(F.col("n1").alias("id_a"), F.col("n2").alias("id_b"))
        .agg(
            F.count("*").alias("common"),
            F.sum("aa_unit").alias("aa_micro"),
            F.sum("ra_unit").alias("ra_micro"),
        )
        .where(F.col("common") >= min_common)
    )
    open_pairs = pairs.join(
        edges,
        (F.col("id_a") == F.col("src")) & (F.col("id_b") == F.col("dst")),
        "left_anti",
    )
    scored = (
        open_pairs.join(
            deg.select(F.col("id").alias("id_a"), F.col("degree").alias("deg_a")),
            "id_a",
        )
        .join(
            deg.select(F.col("id").alias("id_b"), F.col("degree").alias("deg_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "common",
            "aa_micro",
            "ra_micro",
            F.round(
                F.col("common") / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("aa_micro").desc(), "id_a", "id_b").limit(top_k)


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Pearson correlation of endpoint degrees over
    directed edge pairs): ``(n_pairs, assortativity)`` — one row.

    Newman's r computed over the symmetrized pair list, so both marginals
    are identical and the two denominator legs coincide:

        r = (n*Sxy - Sx*Sx) / (n*Sxx - Sx*Sx)

    Every sum is an INTEGER (degrees and their products), so the whole
    statistic is exact up to one IEEE division — hash-verifiable with no
    rounding. One degree aggregation + one edge join + one global agg;
    nothing here grows faster than the edge list.
    """
    from graph_database_spark.plans.copurchase import symmetrize

    sym = symmetrize(edges).localCheckpoint()
    deg = sym.groupBy(F.col("v").alias("id")).agg(F.count("*").alias("d"))
    pairs = (
        sym.join(deg.select(F.col("id").alias("v"), F.col("d").alias("dx")), "v")
        .join(deg.select(F.col("id").alias("n"), F.col("d").alias("dy")), "n")
    )
    agg = pairs.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return agg.select(
        F.col("n").alias("n_pairs"), (num / den).alias("assortativity")
    )


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman modularity of a community assignment:
    ``(n_communities, modularity)`` — one row.

    Computed over the common denominator 4m² so the numerator
    ``sum_c (4*m*e_c - d_c²)`` is one INTEGER sum (exact under any
    partition order); the single closing division is IEEE-exact. Three
    aggregations (intra-edge count, per-community degree mass, totals) —
    all map-side combinable.
    """
    from graph_database_spark.plans.copurchase import symmetrize

    # edges feeds three consumers (intra join, m count, degrees) — 
    # checkpoint so the co-purchase self-join pipeline runs once
    # (CLAUDE.md reuse rule; un-checkpointed this plan hit 33 Exchanges).
    edges = edges.select("src", "dst").localCheckpoint()
    comm = communities.select("id", "community").localCheckpoint()
    e2 = edges.join(
        comm.select(F.col("id").alias("src"), F.col("community").alias("ca")),
        "src",
    ).join(
        comm.select(F.col("id").alias("dst"), F.col("community").alias("cb")),
        "dst",
    )
    intra = e2.filter(F.col("ca") == F.col("cb")).agg(
        F.count("*").alias("e_in")
    )
    m_df = edges.agg(F.count("*").alias("m"))
    deg = (
        symmetrize(edges)
        .groupBy(F.col("v").alias("id"))
        .agg(F.count("*").alias("d"))
    )
    dc = deg.join(comm, "id").groupBy("community").agg(F.sum("d").alias("dcs"))
    s2 = dc.agg(
        F.sum(F.col("dcs") * F.col("dcs")).alias("sdc2"),
        F.count("*").alias("n_comm"),
    )
    num = (
        F.lit(4) * F.col("m") * F.col("e_in") - F.col("sdc2")
    ).cast("double")
    den = (F.lit(4) * F.col("m") * F.col("m")).cast("double")
    return (
        m_df.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(s2))
        .select(
            F.col("n_comm").alias("n_communities"),
            (num / den).alias("modularity"),
        )
    )


def conductance(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Per-community conductance ``(community, n_nodes, vol, cut,
    conductance)`` — the cut-quality companion to :func:`modularity`
    (phi(S) = cut(S) / min(vol(S), 2m - vol(S)), Kannan-Vempala-Vetta).

    cut/vol/2m are INTEGER counts (exact under any partition order); the
    single closing division is rounded to 6 on both engines. Three
    map-side-combinable aggregations + one 1-row broadcast for 2m.
    Communities whose volume equals the whole graph (denominator 0)
    return NULL, mirrored in the oracle's CASE arm.
    """
    from graph_database_spark.plans.copurchase import symmetrize

    # edges feeds three consumers (m count, degrees, cut join) —
    # checkpoint per the CLAUDE.md reuse rule; comm feeds both join
    # sides of the cut plus the volume rollup.
    edges = edges.select("src", "dst").localCheckpoint()
    comm = communities.select("id", "community").localCheckpoint()
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("v").alias("id")).agg(F.count("*").alias("d"))
    vol = (
        deg.join(comm, "id")
        .groupBy("community")
        .agg(F.count("*").alias("n_nodes"), F.sum("d").alias("vol"))
    )
    cut = (
        sym.join(
            comm.select(F.col("id").alias("v"), F.col("community").alias("ca")),
            "v",
        )
        .join(
            comm.select(F.col("id").alias("n"), F.col("community").alias("cb")),
            "n",
        )
        .where(F.col("ca") != F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("cut"))
    )
    m2 = edges.agg((F.lit(2) * F.count("*")).alias("m2"))
    den = F.least(F.col("vol"), F.col("m2") - F.col("vol"))
    return (
        vol.join(cut, "community", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            "community",
            "n_nodes",
            "vol",
            F.coalesce(F.col("cut"), F.lit(0)).alias("cut"),
            F.when(
                den > 0,
                F.round(
                    F.coalesce(F.col("cut"), F.lit(0)).cast("double")
                    / den.cast("double"),
                    6,
                ),
            ).alias("conductance"),
        )
        .orderBy("community")
    )


def global_stats(edges: DataFrame) -> DataFrame:
    """One-row whole-graph summary: ``(n_nodes, n_edges, density,
    avg_degree, wedges, n_triangles, transitivity)`` — the dataset-card
    numbers (global transitivity = 3T / wedges is Newman's clustering
    coefficient; density = 2E / V(V-1)). The reference reports node and
    edge counts per ego network (src/main.js:66-86); this is that
    metrics block completed with the second-order statistics.

    All inputs are exact integers (degree sums, corner counts); every
    emitted ratio is a single IEEE division, so the row hashes
    identically cross-engine with no rounding. The caller should pass a
    checkpointed edge frame — degree and the wedge join both consume
    it (CLAUDE.md reuse rule)."""
    deg = degree(edges)
    deg_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum("degree").alias("deg_sum"),
        # wedges = sum C(d, 2); d*(d-1) is even so `div` is exact
        F.expr("sum(degree * (degree - 1)) div 2").alias("wedges"),
    )
    tri = triangle_count(edges)
    return (
        deg_stats.crossJoin(tri)  # two single-row frames
        .select(
            "n_nodes",
            F.expr("deg_sum div 2").cast("bigint").alias("n_edges"),
            (
                F.col("deg_sum").cast("double")
                / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))).cast("double")
            ).alias("density"),
            (F.col("deg_sum").cast("double") / F.col("n_nodes").cast("double")
             ).alias("avg_degree"),
            "wedges",
            "n_triangles",
            F.when(
                F.col("wedges") > 0,
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("wedges").cast("double"),
            ).alias("transitivity"),
        )
    )
