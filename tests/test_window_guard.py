"""Catalog-wide unpartitioned-window plan guard (r13, VERDICT r12 #5).

An unpartitioned window moves its whole input through ONE partition
("No Partition Defined for Window" warning). That is fine — and
sometimes the right plan — when the frame is provably bounded: a
calendar/histogram grid produced by a groupBy, or a <= k pool produced
by a limit. It is a 100 TB bug when the frame is document/event/row
scale (the `rank.global_rank` machinery exists because one of these
once wasn't bounded).

This test builds every catalog query's physical plan at sf0.001 and
walks the JVM plan tree for Window/WindowGroupLimit nodes with an EMPTY
partition spec. Every query that legitimately carries one must be
listed in ALLOWED below WITH the reason class:

  grid  — window input is a groupBy output over a bounded key domain
          (calendar days/months, histogram buckets, deciles, digits,
          score/duration grids, distinct dimension values)
  pool  — window input is downstream of a limit / top-k (<= k rows)
  onerow — window over a 1-row-per-group scaffold (global aggregates)

Adding a new global window means adding its query here with the class
that applies — if neither applies, repartition the window or use
rank.global_rank instead. The test is deliberately load-bearing slow
(~3-5 min: it constructs all 400+ plans, executing the iterative
loops at sf0.001); it is the only check standing between a reviewer
and a corpus-scale single-partition sort.
"""

from __future__ import annotations

import warnings

import pytest

from graph_database_spark import catalog

SF_DIR = "/root/testdata/sf0.001"

# query name -> reason class (see module docstring). Audited r13 against
# each query's plan comment; the sweep that produced this list is
# scripts-free (the test IS the sweep).
ALLOWED = {
    "parts_skyline": "grid",        # distinct-price groups (skyline lag)
    "km_risk_table": "grid",        # duration-hour grid
    "score_auc": "grid",            # micro-snapped score grid
    "mixture_weights": "onerow",    # k mixture components
    "quantile_hist": "grid",        # fixed bucket count
    "zipf_slope": "pool",           # top-1000 terms limit
    "rolling_beta": "grid",         # trading-day grid
    "mase_backtest": "grid",        # day grid (lag -7)
    "neyman_allocation": "grid",    # one row per source
    "temperature_mixing": "grid",   # one row per language
    "prf_search": "pool",           # top-k feedback pool
    "quantile_digest_read": "grid", # digest levels x bins
    "bm25_search": "pool",          # retrieval top-k pool
    "cumulative_users": "grid",     # day grid
    "hybrid_search": "pool",        # RRF over two top-k pools
    "order_seasonality": "grid",    # 12 months
    "lorenz_curve": "grid",         # 10 deciles
    "incremental_quantiles": "grid",# histogram bins
    "benford_audit": "grid",        # 9 leading digits
    "chi2_independence": "grid",    # contingency cells
    "priority_sample": "pool",      # top-(k+1) TakeOrdered pool
    "bh_fdr": "grid",               # one row per hypothesis family
    "hopkins_statistic": "pool",    # fixed probe sample
    "bm25_indexed": "pool",         # retrieval top-k pool
    "logrank_test": "grid",         # duration-hour grid
}


def _unpartitioned_windows(jplan, out, depth=0):
    if depth > 80:
        return
    name = jplan.getClass().getSimpleName()
    if name in ("WindowExec", "WindowGroupLimitExec", "WindowInPandasExec"):
        try:
            if jplan.partitionSpec().isEmpty():
                out.append(jplan.toString().splitlines()[0][:160])
        except Exception:
            pass
    if name == "AdaptiveSparkPlanExec":
        try:
            _unpartitioned_windows(jplan.initialPlan(), out, depth + 1)
        except Exception:
            pass
    try:
        ch = jplan.children()
        for i in range(ch.length()):
            _unpartitioned_windows(ch.apply(i), out, depth + 1)
    except Exception:
        pass


def test_every_global_window_is_allowlisted(spark, unbuildable_queries):
    # Each query is built in isolation: one that raises is reported by
    # name at the end and the sweep goes on, so no failure can hide the
    # queries after it.
    hits: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for qname, fn in catalog.QUERIES.items():
        if qname in unbuildable_queries:
            continue
        try:
            df = fn(spark, SF_DIR)
            found: list[str] = []
            _unpartitioned_windows(df._jdf.queryExecution().executedPlan(), found)
        except Exception as exc:
            errors[qname] = f"{type(exc).__name__}: {str(exc)[:300]}"
            continue
        if found:
            hits[qname] = found
    for qname, reason in unbuildable_queries.items():
        warnings.warn(f"window sweep skipped {qname}: {reason}")
    offenders = {q: h for q, h in hits.items() if q not in ALLOWED}
    assert not (offenders or errors), (
        "queries with an UNPARTITIONED window not in the audited "
        "allowlist — either bound the frame (groupBy grid / limit pool) "
        "and add it here with its class, or repartition / use "
        f"rank.global_rank: {offenders}; queries that failed to build: {errors}"
    )
    # Stale allowlist rows are holes: they would mask a FUTURE global
    # window added to that query. Prune when a plan stops carrying one.
    stale = sorted(set(ALLOWED) - set(hits))
    assert not stale, f"ALLOWED entries whose plans no longer carry a global window: {stale}"
