"""Shared fixpoint machinery for iterative graph operators.

Every iterative DataFrame operator in this repo has the same skeleton
(hash-min components, betweenness BFS levels, PageRank rounds, k-core
peeling): small per-round state coalesced onto a few partitions so
per-round job overhead doesn't dominate, ``localCheckpoint`` per round
to keep lineage flat (an un-truncated iterative plan grows linearly in
rounds and blows up task-binary size), and a cheap convergence probe on
the just-materialized frame. This module is that skeleton, written
once; ``aggregate_messages`` is the GraphX-style one-round primitive
the north star names (BASELINE.json: "GraphX for analytics").

At 100 TB the same shape holds — state frames are O(|V|) rows, far
smaller than the edge data, and the coalesce factor simply tracks the
cluster's parallelism.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "state_partitions",
    "materialize",
    "reset_plan_stats",
    "fixpoint",
    "aggregate_messages",
]


def state_partitions(spark) -> int:
    """Partition count for iterative state: enough for parallelism,
    few enough that per-round scheduling doesn't dominate (CLAUDE.md
    rule; measured in round 1 on betweenness)."""
    return max(4, spark.sparkContext.defaultParallelism // 4)


def materialize(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Coalesce onto the state partition count and localCheckpoint —
    the per-round state hygiene every iterative operator needs."""
    if parts is None:
        parts = state_partitions(df.sparkSession)
    return df.coalesce(parts).localCheckpoint()


def fixpoint(
    initial: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iterations: int,
    name: str = "fixpoint",
    on_exhaust: str = "raise",
    fuse: int = 1,
    probe: Column | None = None,
    probe_done: Callable[[object, object], bool] | None = None,
    probe_seed: bool = False,
) -> DataFrame:
    """Iterate ``state = step(state)`` until the ``probe`` rule holds,
    or for exactly ``max_iterations`` rounds when ``probe`` is None (a
    fixed round budget; pair it with ``on_exhaust='return'``).

    Both the incoming and produced state are materialized (coalesce +
    localCheckpoint) so ``step`` always sees flat lineage.

    ``on_exhaust``: 'raise' (default) refuses to return a possibly
    unconverged state — silent partial results are wrong results for
    label-propagation-style algorithms (ADVICE r2 on components);
    'return' hands back the last iterate, the right contract for
    anytime algorithms (PageRank's fixed round budget). A ``step`` that
    SELF-JOINS the evolving state (pointer-doubling, Borůvka jumps)
    does not fit this loop: run it by hand with ``reset_plan_stats`` per
    round, as kcore.onion_layers and msf do.

    ``fuse``: run this many ``step`` applications per materialization.
    Per-round cost at moderate scale is DOMINATED by the fixed
    checkpoint-job + convergence-probe overhead (~0.5 s regardless of
    data size — measured r13, SCALE.md scc_reach row), so fusing 3
    steps into one job cut the phase-0 hash-min fixpoints 1.65x with a
    hash-identical result; the intermediate state inside a fused job is
    deduplicated by Spark's ReuseExchange. ONLY safe for steps that are
    idempotent at convergence (monotone label relaxations: hash-min,
    max-layer) — a fixed-budget anytime loop (PageRank) or a per-round
    readout (onion peels) must keep fuse=1 because overshooting rounds
    there changes the answer. Convergence still sound: ``probe``
    sees the LAST fused step's prev-columns, and "last step changed
    nothing" means the state is a fixpoint of one step.

    ``probe`` (r14 optimization round): an aggregate Column that rides
    the checkpoint job as a ``DataFrame.observe`` metric (JVM-side
    CollectMetricsExec accumulator — the onion_layers r14 move,
    generalized), so convergence costs no job of its own. The round is
    converged when ``probe_done(prev_value, value)`` is True (default:
    value is 0 or NULL — the "no row changed" rule every != prev probe
    reduces to). ``probe_seed`` also observes ``probe`` on the initial
    state's checkpoint and seeds prev_value with it (count-stability
    probes need the starting count; reading it there costs no job);
    prev_value otherwise starts as None. Against a separate probe job
    per round this saves one scheduled job — at 1000 executors one full
    cluster barrier — and at sf0.1 the ~0.1 s fixed probe-job cost
    (SCALE.md r13 floor measurement).
    """
    from pyspark.sql import Observation

    parts = state_partitions(initial.sparkSession)
    prev_val = None
    if probe_seed:
        seed = Observation()
        state = materialize(initial.observe(seed, probe.alias("p")), parts)
        prev_val = seed.get["p"]
    else:
        state = materialize(initial, parts)
    for i in range(max_iterations):
        s = state
        for _ in range(fuse):
            s = step(s)
        if probe is None:
            new = materialize(s, parts)
            done = False
        else:
            # Anonymous Observation: names must be unique among live
            # observations, and concurrent fixpoints (percolation runs
            # three CCs in a thread pool) would collide on a
            # name-per-round scheme.
            obs = Observation()
            new = materialize(s.observe(obs, probe.alias("p")), parts)
            val = obs.get["p"]
            if probe_done is not None:
                done = probe_done(prev_val, val)
            else:
                done = not val  # 0 or NULL == no row changed
            prev_val = val
        if done:
            return new
        state = new
    if on_exhaust == "return":
        return state
    raise RuntimeError(
        f"{name} did not converge in {max_iterations} iterations; "
        "raise max_iterations"
    )


def aggregate_messages(
    sym: DataFrame,
    vertices: DataFrame,
    agg: list[Column],
    include_self: bool = False,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """One round of GraphX-style message passing over an undirected
    graph: every vertex's state row is sent along each incident edge and
    the incoming messages aggregate per destination.

    ``sym``: symmetrized edges ``(v, n)`` (plans/copurchase.symmetrize);
    ``vertices``: state ``(id, ...cols)``; ``agg``: aggregate expressions
    over the incoming state columns, grouped by destination id.
    ``include_self`` unions the vertex's own state into its inbox (the
    hash-min components formulation needs min over self + neighbors).
    ``extra_keys`` adds state columns to the inbox grouping — the
    multi-source formulations (closeness, betweenness-style per-source
    BFS) carry a source column through the rounds and aggregate per
    (vertex, source).

    One shuffle per call (the groupBy), keyed by vertex id (+ extras) —
    uniform unless the graph has super-hub vertices, which AQE skew
    handling covers."""
    incoming = (
        sym.join(vertices.withColumnRenamed("id", "v"), "v")
        .drop("v")
        .withColumnRenamed("n", "id")
    )
    if include_self:
        incoming = incoming.unionByName(vertices)
    return incoming.groupBy("id", *extra_keys).agg(*agg)


def reset_plan_stats(df: DataFrame) -> DataFrame:
    """Rebuild an already-materialized frame as a fresh ``LogicalRDD``,
    discarding carried-over plan statistics.

    Spark 4's ``localCheckpoint`` copies the checkpointed plan's
    COMPUTED statistics into the replacement ``LogicalRDD`` (normally a
    useful optimization). Join estimation multiplies child
    ``sizeInBytes``, so an iterative operator that SELF-JOINS its state
    frame squares the carried estimate every round: the BigInteger
    doubles in bit-length per iteration, and optimizer passes start
    spending whole seconds in ``BigInteger.multiplyToomCook3`` on
    million-bit numbers. Measured on the Borůvka pointer-doubling loop
    at sf0.1: jumps of a 37-row, 1-partition, flat-plan frame went
    0.2 s → 0.7 → 1.3 → 2.7 → 6.9 → 145 s while rows, partitions, and
    plan text stayed constant; jstack showed >100 s of driver CPU in
    BigInteger multiplication; the stats field doubled 6 → 11 → 20 →
    40 → … → 622 digits. Operators whose rounds join evolving state
    with a STATIC frame only grow the estimate linearly in digits
    (harmless); only self-joins of evolving state need this reset.

    The fresh LogicalRDD reports ``defaultSizeInBytes``; AQE's runtime
    statistics still drive join-strategy choices, so plans stay sound.
    Call ONLY on a materialized (checkpointed) frame — ``toRdd`` on a
    live plan would re-execute it. Falls back to the input frame if the
    internal constructor is unavailable in a future Spark.
    """
    try:
        jdf = df._jdf
        spark = df.sparkSession
        out = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(out, spark)
    except Exception:
        return df
