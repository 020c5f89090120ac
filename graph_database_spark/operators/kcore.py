"""k-core decomposition: iterative peeling on the fixpoint skeleton.

The k-core is the maximal induced subgraph in which every vertex has
degree >= k — the standard graph-cleaning primitive (drop weakly
connected fringe before expensive analytics). Peeling: repeatedly remove
vertices with induced degree < k until none remain; the survivor set is
exactly the k-core regardless of removal order, so the data-parallel
"remove all violators each round" variant is correct.

Scale posture: state is the surviving vertex set (one id column); each
round recomputes induced degrees with two semi-joins against the edge
frame + one groupBy — shuffles keyed by vertex id. Rounds are bounded by
the peeling depth (worst case O(|V|) on a path, typically a few dozen);
``max_iterations`` guards the budget and the shared fixpoint raises on
exhaustion rather than returning a non-core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from graph_database_spark.operators.fixpoint import (
    fixpoint,
    materialize,
    reset_plan_stats,
)
from graph_database_spark.plans.copurchase import symmetrize

__all__ = ["k_core", "coreness", "onion_layers"]


def k_core(edges: DataFrame, k: int, max_iterations: int = 200) -> DataFrame:
    """``(id, degree)`` — the vertices of the k-core with their induced
    degrees (empty frame when no k-core exists).

    The peeling state is the SURVIVING EDGE SET, not the alive vertex
    set (matching the recursive-CTE oracle's formulation): per round,
    one degree groupBy finds the newly-dead vertices and two anti-joins
    drop their edges. The vertex-set formulation needed two semi-joins
    AND the groupBy every round (3 keyed shuffles); here the dead frame
    after round one is the incremental peel — typically tiny — so AQE
    turns both anti-joins into broadcasts at runtime and the round costs
    ONE keyed shuffle. (First-round mass death is the worst case; it is
    also the round where the dead set is derived before any peeling, so
    an engine-level pre-filter of low-degree vertices would bound it.)
    """
    def degrees(sym_e: DataFrame) -> DataFrame:
        return sym_e.groupBy(F.col("v").alias("id")).agg(
            F.count("*").alias("degree")
        )

    def step(sym_e: DataFrame) -> DataFrame:
        dead = degrees(sym_e).where(F.col("degree") < k).select("id")
        return sym_e.join(
            dead.withColumnRenamed("id", "v"), "v", "left_anti"
        ).join(dead.withColumnRenamed("id", "n"), "n", "left_anti")

    # The edge set shrinks monotonically, so equal counts <=> no vertex
    # was peeled this round <=> fixpoint; the count rides every
    # checkpoint job as an observe() metric, the initial edge frame's
    # checkpoint included (probe_seed), so no round pays a count job.
    core_edges = fixpoint(
        symmetrize(edges), step, None, max_iterations, name="k_core",
        probe=F.count(F.lit(1)),
        probe_done=lambda prev, cur: prev is not None and cur == prev,
        probe_seed=True,
    )
    return degrees(core_edges)


def onion_layers(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """``(id, layer, core)`` — the onion decomposition (Hébert-Dufresne
    et al. 2016): layer = the synchronous peel round at which the vertex
    leaves the graph, core = the peel threshold in force that round.
    Coreness says how deep a vertex sits; the LAYER separates the
    fringe of a shell from its center (tree-like vs dense regions with
    equal coreness look identical to ``coreness``, not to this).

    Round rule (identical in the oracle): k_r = max(k_{r-1}, min
    current degree) — the threshold never skips a vertex, so EVERY
    round peels at least the argmin vertex and the loop terminates in
    <= |V| rounds (typically tens: each round peels a whole shell
    fringe at once). Isolated survivors keep degree 0 via the left
    join, so they peel next round rather than vanish.

    Per round: ONE job total (r14; down from checkpoint + ``isEmpty``
    in r13, and from 3 jobs + a ``min/count`` driver action in r12) —
    the peel count rides the checkpoint job itself as a
    ``DataFrame.observe`` metric (JVM-side ``CollectMetricsExec``
    accumulator, no extra action, no extra shuffle), so the
    termination probe costs nothing. At sf0.1 the loop is ~45 rounds
    of FIXED per-round overhead (scheduler + plan compile,
    data-size-independent — SCALE.md r13), so halving actions/round
    is the one lever left after round fusion was measured 2.7x slower
    (rejected, SCALE.md r13 wave 2). Three structural moves get here:

    - The round threshold k_r is computed DATA-SIDE (VERDICT r12 #2):
      the state carries k as a column, and ``greatest(max(k),
      min(deg))`` rides a 1-row aggregate cross-joined (broadcast
      nested loop over one row) into the peel predicate, so no driver
      action reads the threshold. At 1000 executors every synchronous
      action is a full cluster barrier; the round count is
      graph-shape-bound, so barriers/round is the scaling term.
    - The edge set is NEVER updated: a survivor's degree decrement this
      round equals its count of THIS round's peeled neighbors in the
      ORIGINAL symmetrized edges — peel members were survivors until
      now, so their incident edges were never removed (induction on
      rounds). deg' = deg - count(sym0 ⋈ peel) replaces the old
      "anti-join sym twice, re-aggregate degrees" per-round edge-set
      rewrite, which WROTE a full new edge copy every round; reading
      the static sym0 per round is strictly cheaper at any scale. The
      next state derives lazily from the checkpointed tagged frame, and
      its two references inside the next round's job share the removed-
      count exchange (identical subtree -> ReuseExchange dedupes it —
      the same criterion whose absence made fused peel rounds 2.7x
      SLOWER; see SCALE.md r13 wave 2 rejection).

    An empty peel implies an empty survivor set (any survivor makes its
    argmin peel-eligible), so the observed peel count doubles as the
    termination check; peel frames are filters over the checkpointed
    tagged frames and union once at the end. Raises past ``max_rounds`` only when
    vertices actually REMAIN (a peel that completes in exactly
    ``max_rounds`` rounds is success — ADVICE r12); an empty edge input
    returns an empty frame. The oracle unrolls a fixed cap;
    budget-pinning beats silently truncating.
    """
    from pyspark.sql import Observation

    sym0 = materialize(symmetrize(edges))
    state = sym0.groupBy(F.col("v").alias("id")).agg(
        F.count("*").alias("deg")
    ).select("id", "deg", F.lit(0).cast("long").alias("k"))
    spark = edges.sparkSession
    peeled: list[DataFrame] = []
    for r in range(1, max_rounds + 1):
        # greatest() skips the NULLs an empty survivor set produces, so
        # the 1-row kr frame is total either way.
        kr = state.agg(F.greatest(F.max("k"), F.min("deg")).alias("k2"))
        # kr derives from state, so the cross join MULTIPLIES the
        # carried size estimate by itself each round — the
        # localCheckpoint sizeInBytes squaring trap
        # (fixpoint.reset_plan_stats docstring; measured here: rounds
        # degraded 0.5 s -> seconds before the reset was added).
        #
        # The observation's metric is collected BY the eager
        # localCheckpoint job inside materialize (CollectMetricsExec
        # executes with the plan; Observation.get blocks on that first
        # action), so reading the peel count costs zero extra jobs —
        # the r13 shape paid a second per-round action for isEmpty.
        obs = Observation(f"onion_r{r}")
        tagged = reset_plan_stats(
            materialize(
                state.crossJoin(kr)
                .select(
                    "id",
                    "deg",
                    F.col("k2"),
                    (F.col("deg") <= F.col("k2")).alias("_peel"),
                )
                .observe(
                    obs,
                    F.sum(F.col("_peel").cast("long")).alias("n_peel"),
                )
            )
        )
        peel = tagged.where(F.col("_peel"))
        if not (obs.get["n_peel"] or 0):
            break
        peeled.append(
            peel.select(
                "id",
                F.lit(r).cast("long").alias("layer"),
                F.col("k2").cast("long").alias("core"),
            )
        )
        removed = (
            sym0.join(peel.select(F.col("id").alias("n")), "n")
            .groupBy(F.col("v").alias("id"))
            .agg(F.count("*").alias("_rm"))
        )
        # Survivors are exactly deg > k2 (peel took deg <= k2), so no
        # anti-join against the peel frame is needed.
        state = (
            tagged.where(~F.col("_peel"))
            .select("id", "deg", F.col("k2").alias("k"))
            .join(removed, "id", "left")
            .select(
                "id",
                (F.col("deg") - F.coalesce(F.col("_rm"), F.lit(0))).alias(
                    "deg"
                ),
                "k",
            )
        )
    else:
        # Budget exhausted with the LAST round still peeling: success
        # iff nothing remains (ADVICE r12 — the old for-else raised on
        # an exactly-max_rounds peel, discarding a correct result).
        if not state.isEmpty():
            raise RuntimeError(
                f"onion_layers did not finish in {max_rounds} rounds; "
                "raise the budget (the oracle recursion cap must match)"
            )
    if not peeled:
        return spark.createDataFrame(
            [], "id long, layer long, core long"
        )
    out = peeled[0]
    for p in peeled[1:]:
        out = out.unionByName(p)
    return out


def coreness(edges: DataFrame, rounds: int = 16) -> DataFrame:
    """``(id, core)`` — full k-shell decomposition: every vertex's core
    number, via the h-index fixpoint (Lu-Chen-Zhang-Zhou 2016): start
    from degree and repeatedly set c(v) to the h-index of its neighbors'
    values; the stable point is exactly coreness.

    Why this formulation and not nested peeling: peeling computes one k
    per pass (k_core above); the h-index iteration computes ALL shells
    simultaneously with pure local updates — two keyed shuffles per
    round (message join + the per-vertex window/agg, which share the
    vertex-id partitioning), integer state, and typically just a few
    rounds on real graphs. All arithmetic is integer (row_number,
    least, max), so the whole iteration hash-verifies against an
    unrolled oracle.

    Contract: runs to fixpoint within ``rounds`` or raises — the oracle
    unrolls exactly ``rounds`` rounds, and raising on non-convergence
    (the graph_mis budget-pinning pattern) beats silently returning a
    non-coreness iterate. Values only decrease, so an early fixpoint
    stays fixed and the oracle's extra rounds are no-ops.
    """
    sym = materialize(symmetrize(edges))
    state = materialize(
        sym.groupBy(F.col("v").alias("id")).agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("id").orderBy(F.col("cn").desc(), F.col("n"))
    for i in range(rounds):
        msgs = (
            sym.join(state.select(F.col("id").alias("n"), F.col("c").alias("cn")), "n")
            .select(F.col("v").alias("id"), "n", "cn")
            .withColumn("rn", F.row_number().over(w))
        )
        new = materialize(
            msgs.groupBy("id").agg(
                F.max(F.least(F.col("rn"), F.col("cn"))).alias("c")
            )
        )
        # Monotone-decreasing integer state: total sum is a cheap,
        # order-free convergence probe (equal sums <=> identical state).
        if (
            new.agg(F.sum("c")).first()[0]
            == state.agg(F.sum("c")).first()[0]
        ):
            return new.select("id", F.col("c").alias("core"))
        state = new
    raise RuntimeError(
        f"coreness did not converge in {rounds} rounds; raise the budget "
        "(the oracle unroll depth must match)"
    )
