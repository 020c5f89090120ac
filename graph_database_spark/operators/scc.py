"""Strongly connected components + topological layers (directed family).

The reference's graph is undirected at query time (src/main.js:36,77:
``-[:FRIENDS]-``); this adds the two directed analytics a "GraphX for
analytics" north star implies first (r7 VERDICT missing-#3): SCC over a
deterministic md5-parity orientation of the co-purchase graph, and
longest-path layering of the SCC condensation DAG.

Algorithm: FW-BW peeling with min-label coloring (Orzan / Hong et al.'s
coloring step, the standard distributed SCC formulation):

  per phase, over the still-unresolved subgraph:
    1. forward hash-min fixpoint  f(v) = min id among ancestors + {v};
    2. backward hash-min fixpoint b(v) = min id among descendants + {v},
       restricted to edges INSIDE a color class (f(u) = f(v));
    3. v is resolved with scc_id = f(v) exactly when f(v) = b(v):
       f(v)=r means r reaches v, b(v)=r means v reaches r within color r
       (a v->r path cannot leave color r: any w on it has ancestors(w) =
       ancestors-of-the-cycle, so f(w) = r), hence v and r are mutually
       reachable. Conversely every member of SCC(r) gets f=b=r.
    4. peel the resolved vertices and repeat on the remainder.

Each fixpoint round is one keyed shuffle over the active edge list with
state union-folded into the aggregation (CLAUDE.md fixpoint rule); state
is coalesced + checkpointed via the shared operators/fixpoint skeleton.
Phases needed = 2 at sf0.01 / 3 at sf0.1 (measured; giant-SCC graphs
resolve almost entirely in phase 1), fixpoint rounds <= 8 — budgets are
pinned 2x above at (4, 16) TOGETHER with the DuckDB oracle's unroll
(catalog._scc_sql_ctes), kcore-style.

At 100 TB: state is O(|V|) rows, shuffles key on vertex id (uniform for
this graph; the salted-wedge probe in operators/skew.py is the fallback
if a directed hub dominates), and the active set SHRINKS geometrically
across phases — phase 1 typically resolves the giant SCC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_database_spark.operators.fixpoint import fixpoint, materialize

__all__ = ["orient_md5", "scc_components", "condensation_layers", "scc_reach_sketch"]


def orient_md5(edges: DataFrame) -> DataFrame:
    """Deterministic orientation ``(u, v)`` of a canonical undirected
    edge set ``(src, dst)``: direction by md5 parity of the edge key, so
    roughly half the edges flip — a reproducible directed graph with a
    non-trivial SCC structure, replayable in SQL as
    ``CAST(('0x' || substring(md5(...), 1, 1)) AS BIGINT) % 2``."""
    parity = (
        F.conv(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit("d"),
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                )
            ).substr(1, 1),
            16,
            10,
        ).cast("long")
        % 2
    )
    return edges.select(
        F.when(parity == 0, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(parity == 0, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )


def _hash_min(
    verts: DataFrame, edges: DataFrame, out_col: str, max_rounds: int, name: str,
) -> DataFrame:
    """Hash-min label fixpoint over DIRECTED edges ``(u, v)``: label(x) =
    min id among {x} + {sources of directed paths into x}. ``verts``
    is one ``id`` per vertex (isolated ids allowed — they keep their own
    label). One keyed shuffle per step; state rides the aggregation as
    union rows (no join-back, CLAUDE.md). Steps are fused 3-per-job
    (fixpoint ``fuse``): the per-round floor is checkpoint+probe
    overhead, not data, so one materialization per 3 label hops cut the
    phase-0 fixpoints 1.65x hash-identically (r13, SCALE.md; the
    tried-and-rejected alternatives — label(label(v)) pointer shortcuts,
    a static capped 2-hop edge union — cut rounds 8->7 and 8->5 but
    LOST wall-clock to their extra self-join/build shuffles)."""
    labels = verts.select("id", F.col("id").alias(out_col))

    def step(state: DataFrame) -> DataFrame:
        incoming = edges.join(
            state.select(F.col("id").alias("u"), out_col), "u"
        ).select(
            F.col("v").alias("id"),
            F.col(out_col),
            F.lit(None).cast("long").alias("prev"),
        )
        keep = state.select("id", out_col, F.col(out_col).alias("prev"))
        return (
            incoming.unionByName(keep)
            .groupBy("id")
            .agg(
                F.min(out_col).alias(out_col),
                F.max("prev").alias("prev"),
            )
        )

    return fixpoint(
        labels, step, max_rounds, name=name, fuse=3,
        probe=F.sum((F.col(out_col) != F.col("prev")).cast("long")),
    ).select("id", out_col)


def scc_components(
    directed_edges: DataFrame, phases: int = 4, max_rounds: int = 16,
) -> DataFrame:
    """``(id, scc_id)`` over directed edges ``(u, v)``; scc_id = the
    minimum vertex id in the component. Vertex universe = edge
    endpoints. Raises RuntimeError if unresolved vertices remain after
    ``phases`` peel phases (pinned with the oracle's unroll)."""
    from pyspark.sql import Observation

    edges = materialize(directed_edges.select("u", "v").distinct())
    # r15 (job-count pass): the vertex count and each phase's unresolved
    # count ride their materialization jobs as observe() metrics — the
    # per-phase verts.isEmpty() probes were separate fixed-cost jobs.
    obs0 = Observation()
    verts = materialize(
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
    )
    n_unresolved = obs0.get["n"] or 0
    resolved: DataFrame | None = None
    for phase in range(phases):
        if not n_unresolved:
            break
        f = _hash_min(verts, edges, "f", max_rounds, f"scc_fwd_p{phase}")
        # backward propagation stays inside a color class: keep only
        # edges whose endpoints share f, then flip direction.
        fu = f.select(F.col("id").alias("u"), F.col("f").alias("fu"))
        fv = f.select(F.col("id").alias("v"), F.col("f").alias("fv"))
        ce = materialize(
            edges.join(fu, "u")
            .join(fv, "v")
            .where(F.col("fu") == F.col("fv"))
            .select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        b = _hash_min(verts, ce, "b", max_rounds, f"scc_bwd_p{phase}")
        # ONE materialization per phase (r15): the joined (f, b) frame is
        # checkpointed with the unresolved count riding it; done/verts
        # are lazy filters over it (the old shape checkpointed resolved
        # AND verts — two more fixed-cost jobs per phase).
        obs = Observation()
        fb = materialize(
            f.join(b, "id").observe(
                obs,
                F.sum((F.col("f") != F.col("b")).cast("long")).alias("u"),
            )
        )
        done = fb.where(F.col("f") == F.col("b")).select(
            "id", F.col("f").alias("scc_id")
        )
        resolved = (
            done if resolved is None else resolved.unionByName(done)
        )
        n_unresolved = obs.get["u"] or 0
        verts = fb.where(F.col("f") != F.col("b")).select("id")
        if not n_unresolved:
            # skip the edge prune for a phase that will never run
            break
        edges = materialize(
            edges.join(verts.select(F.col("id").alias("u")), "u", "left_semi")
            .join(verts.select(F.col("id").alias("v")), "v", "left_semi")
        )
    if n_unresolved:
        raise RuntimeError(
            f"scc_components did not resolve in {phases} peel phases; "
            "raise phases (and regenerate the oracle unroll)"
        )
    assert resolved is not None
    # One checkpoint for the whole label frame: consumers (reach sketch,
    # condensation, readouts) reference it 3-4 times.
    return materialize(resolved)


def scc_reach_sketch(
    directed_edges: DataFrame,
    scc: DataFrame,
    m: int = 32,
    max_rounds: int = 16,
) -> DataFrame:
    """``(scc_id, est_reach, n_members)`` — estimated number of SCCs
    reachable from each SCC (itself included) in the condensation DAG,
    via HLL register propagation: each node starts with the registers
    of {itself}; every round, a node max-merges its successors'
    registers; after depth(DAG) rounds each node holds the registers of
    its full downstream set, and the standard integer-sum estimator
    reads them out. State is O(|condensation| x m) regardless of how
    dense the reachability relation is — the sketch answer to the
    "transitive closure is quadratic" problem, same philosophy as
    hyper_anf on the undirected graph. Cross-engine exact: md5-60-bit
    hashes, integer register sums, one IEEE division (the
    distinct_users_hll estimator contract), so the oracle can replay
    the registers over the EXACT reach sets and must agree."""
    from graph_database_spark.operators.sketches import md5_hash60

    su = scc.select(F.col("id").alias("u"), F.col("scc_id").alias("cu"))
    sv = scc.select(F.col("id").alias("v"), F.col("scc_id").alias("cv"))
    cedges = materialize(
        directed_edges.join(su, "u")
        .join(sv, "v")
        .where(F.col("cu") != F.col("cv"))
        .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        .distinct()
    )
    cverts = scc.select(F.col("scc_id").alias("id")).distinct()
    w = F.expr(f"_h div {m}")
    rho = F.when(w == 0, F.lit(55)).otherwise(
        F.bit_count((w.bitwiseAND(-w)) - 1) + 1
    )
    regs0 = (
        cverts.select("id", md5_hash60(F.col("id")).alias("_h"))
        .select("id", (F.col("_h") % m).alias("_b"), rho.alias("_reg"))
    )

    def step(state: DataFrame) -> DataFrame:
        # successor registers flow backward to the predecessor
        incoming = cedges.join(
            state.select(F.col("id").alias("v"), "_b", "_reg"), "v"
        ).select(
            F.col("u").alias("id"), "_b", "_reg",
            F.lit(None).cast("int").alias("prev"),
        )
        keep = state.select(
            "id", "_b", "_reg", F.col("_reg").cast("int").alias("prev")
        )
        return (
            incoming.unionByName(keep)
            .groupBy("id", "_b")
            .agg(F.max("_reg").alias("_reg"), F.max("prev").alias("prev"))
        )

    regs = fixpoint(
        regs0, step, max_rounds, name="scc_reach", fuse=2,
        probe=F.sum((F.col("_reg") != F.col("prev")).cast("long")),
    )
    ssum = (
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - _reg)"))
        + (F.lit(m) - F.count("*")) * F.lit(1 << 55)
    ).alias("_s")
    est = regs.groupBy(F.col("id").alias("scc_id")).agg(ssum).select(
        "scc_id",
        F.round(
            F.lit(0.697 * m * m * 2.0**55) / F.col("_s").cast("double"), 4
        ).alias("est_reach"),
    )
    members = scc.groupBy("scc_id").agg(F.count("*").alias("n_members"))
    return members.join(est, "scc_id").select("scc_id", "est_reach", "n_members")


def condensation_layers(
    directed_edges: DataFrame, scc: DataFrame, max_rounds: int = 16
) -> DataFrame:
    """``(scc_id, layer, n_members)`` — longest-path topological layer
    of each SCC in the condensation DAG (sources = layer 1). The layer
    fixpoint is max-label relaxation: layer(s) = 1 + max layer over
    condensation predecessors; rounds = DAG depth (measured 3 at sf0.01,
    5 at sf0.1; budget pinned with the oracle unroll). Condensation
    edges are scc-keyed — the contraction that makes this shuffle small
    regardless of member counts."""
    su = scc.select(F.col("id").alias("u"), F.col("scc_id").alias("cu"))
    sv = scc.select(F.col("id").alias("v"), F.col("scc_id").alias("cv"))
    cedges = materialize(
        directed_edges.join(su, "u")
        .join(sv, "v")
        .where(F.col("cu") != F.col("cv"))
        .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        .distinct()
    )
    cverts = scc.select(F.col("scc_id").alias("id")).distinct()
    layers = cverts.select("id", F.lit(1).cast("long").alias("layer"))

    def step(state: DataFrame) -> DataFrame:
        incoming = cedges.join(
            state.select(F.col("id").alias("u"), "layer"), "u"
        ).select(
            F.col("v").alias("id"),
            (F.col("layer") + 1).alias("layer"),
            F.lit(None).cast("long").alias("prev"),
        )
        keep = state.select("id", "layer", F.col("layer").alias("prev"))
        return (
            incoming.unionByName(keep)
            .groupBy("id")
            .agg(F.max("layer").alias("layer"), F.max("prev").alias("prev"))
        )

    out = fixpoint(
        layers, step, max_rounds, name="condensation_layers", fuse=2,
        probe=F.sum((F.col("layer") != F.col("prev")).cast("long")),
    )
    members = scc.groupBy("scc_id").agg(F.count("*").alias("n_members"))
    return members.join(
        out.select(F.col("id").alias("scc_id"), "layer"), "scc_id"
    ).select("scc_id", "layer", "n_members")
