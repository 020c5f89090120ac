"""Catalog-wide plan-shape sweep: one build of every query's plan, two gates.

Every catalog query's executed plan is built once at sf0.001 (the
iterative loops run eagerly during construction) and checked twice:

1. **Unpartitioned windows.** A Window/WindowGroupLimit node with an
   EMPTY partition spec moves its whole input through ONE partition
   ("No Partition Defined for Window" warning). That is fine, and
   sometimes the right plan, when the frame is provably bounded: a
   calendar/histogram grid produced by a groupBy, or a <= k pool
   produced by a limit. It is a 100 TB bug when the frame is
   document/event/row scale (the `rank.global_rank` machinery exists
   because one of these once wasn't bounded). Every query that
   legitimately carries one must be listed in ALLOWED below WITH the
   reason class:

     grid  — window input is a groupBy output over a bounded key domain
             (calendar days/months, histogram buckets, deciles, digits,
             score/duration grids, distinct dimension values)
     pool  — window input is downstream of a limit / top-k (<= k rows)
     onerow — window over a 1-row-per-group scaffold (global aggregates)

   Adding a new global window means adding its query here with the
   class that applies; if neither applies, repartition the window or use
   rank.global_rank instead.

2. **Pre-AQE Exchange count** (``engine.plan_audit(df)["exchanges"]``)
   against the committed baseline ``tests/plan_shapes.json``
   (``{query: exchanges}``). The reuse rule (CLAUDE.md: localCheckpoint
   any frame referenced more than once downstream) has been violated
   twice with correct answers and catastrophic plans: a 41-Exchange
   clustering coefficient and a 42-Exchange link_prediction. A removed
   checkpoint re-derives an upstream pipeline per consumer, so the
   count jumps by the pipeline's width (tens), far beyond TOLERANCE.

Each query is built in isolation: one that raises is reported by name
at the end and the sweep goes on, so no failure can hide the queries
after it. The sweep took 283 s and 413 s in two Tier-1 runs on a
4-vCPU, 15 GB host; the two sweeps it replaced took 321 s + 305 s there.

After an INTENTIONAL plan change, regenerate the baseline with the same
sweep:

    python tests/test_plan_shapes.py
"""

from __future__ import annotations

import json
import sys
import warnings
from pathlib import Path

import pytest

# Run as a script (baseline regeneration) the repo root is not on the path.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from graph_database_spark import catalog
from graph_database_spark.engine import plan_audit
from graph_database_spark.sources.snap import REFERENCE_DATA

SF_DIR = "/root/testdata/sf0.001"
BASELINE = Path(__file__).resolve().parent / "plan_shapes.json"

# A genuine plan improvement that removes shuffles should be committed
# by regenerating the baseline; small jitter (AQE conf, Spark minor
# version) gets this much slack before it counts as a regression.
TOLERANCE = 2

# query name -> reason class (see module docstring). Audited r13 against
# each query's plan comment; the sweep below is what checks it.
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


def unbuildable_queries() -> dict[str, str]:
    """Catalog queries the sweep cannot build on this checkout, by name
    with the reason: ``snap_metrics`` reads the reference's SNAP ego
    networks, present only beside the reference dataset (the directory
    the golden tests read)."""
    if Path(REFERENCE_DATA).is_dir():
        return {}
    return {"snap_metrics": f"reference SNAP data absent ({REFERENCE_DATA})"}


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


def sweep(spark) -> tuple[dict[str, dict], dict[str, str]]:
    """Build every buildable catalog query once. Returns ``({query:
    {"exchanges": n, "windows": [unpartitioned window nodes]}}, {query:
    build error})``."""
    skip = unbuildable_queries()
    shapes: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for qname, fn in catalog.QUERIES.items():
        if qname in skip:
            continue
        try:
            df = fn(spark, SF_DIR)
            windows: list[str] = []
            _unpartitioned_windows(df._jdf.queryExecution().executedPlan(), windows)
            shapes[qname] = {"exchanges": plan_audit(df)["exchanges"], "windows": windows}
        except Exception as exc:
            errors[qname] = f"{type(exc).__name__}: {str(exc)[:300]}"
    for qname, reason in skip.items():
        warnings.warn(f"plan sweep skipped {qname}: {reason}")
    return shapes, errors


@pytest.fixture(scope="module")
def swept(spark):
    return sweep(spark)


def test_baseline_covers_catalog():
    # The coverage contract: every query the sweep can build has a
    # baseline, and the baseline names no query the catalog lost.
    baseline = json.loads(BASELINE.read_text())
    expected = set(catalog.QUERIES) - set(unbuildable_queries())
    assert set(baseline) == expected, (
        f"baseline lacks {sorted(expected - set(baseline))}, has stale "
        f"{sorted(set(baseline) - expected)}; regenerate with "
        "`python tests/test_plan_shapes.py`"
    )


def test_every_global_window_is_allowlisted(swept):
    shapes, errors = swept
    hits = {q: s["windows"] for q, s in shapes.items() if s["windows"]}
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


def test_exchange_counts_vs_baseline(swept):
    shapes, errors = swept
    baseline = json.loads(BASELINE.read_text())
    regressions = {
        q: (baseline.get(q), s["exchanges"])
        for q, s in shapes.items()
        if q not in baseline or s["exchanges"] > baseline[q] + TOLERANCE
    }
    assert not (regressions or errors), (
        "Exchange-count regressions (baseline, now; a None baseline means "
        "regenerate) — a checkpoint was probably dropped (CLAUDE.md reuse "
        f"rule): {regressions}; queries that failed to build: {errors}"
    )


def main() -> None:
    from graph_database_spark.session import get_spark

    spark = get_spark("plan-shapes", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    shapes, errors = sweep(spark)
    if errors:
        raise SystemExit(f"baseline not written; queries failed to build: {errors}")
    counts = {q: s["exchanges"] for q, s in sorted(shapes.items())}
    BASELINE.write_text(json.dumps(counts, indent=0) + "\n")
    print(f"wrote {len(counts)} Exchange counts to {BASELINE}")


if __name__ == "__main__":
    main()
