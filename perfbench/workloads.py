"""Workloads of the benchmark: which catalog ops each one runs, the
seeded order of every pass, and how one op is run and checked.

Every op is oracle-backed: its expected result is the DuckDB oracle's
value hash (``expected.json``, written by ``make_expected.py``), so each
timed run is also a correctness run. The seed only orders the ops within
each pass; the tables under ``data/`` are fixed.
"""

from __future__ import annotations

import hashlib
import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from tracer import NullTracer

CURATE = "curate"
CURATE_CAP = 8

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Reference surface (node/edge counts, the homophily proof, clustering,
    # triangles) plus the fixpoint family (kcore, bfs) over the co-purchase
    # graph. Time goes to plans.copurchase and to eager fixpoint rounds.
    "copurchase_graph": (
        "node_count",
        "edge_count",
        "hypothesis_pct",
        "clustering_coefficient",
        "triangle_count",
        "kcore",
        "bfs_distances",
    ),
    # The curation pipeline (the only writer) beside the MinHash-LSH dedup
    # and similarity operators whose stage work runs in Python workers.
    "corpus_curation": (
        CURATE,
        "dedup_minhash_md5",
        "dedup_norm",
        "similarity_topk",
        "embedding_neardup",
    ),
    # Cheap TPC-H/events ops, each dominated by load_table schema
    # inference, eager build-time jobs and planning. No fixpoint, no sink.
    "tabular_tail": (
        "pricing_summary",
        "shipping_priority",
        "local_supplier_volume",
        "returned_items",
        "rollup_customers",
        "events_asof_order",
        "order_events_7d",
        "cube_orders",
        "supplier_concentration",
        "large_volume_customers",
        "waiting_supplier_rank",
        "customer_distribution",
        "nation_market_share",
        "event_funnel",
        "event_anomalies",
        "events_ewma",
        "bloom_semijoin",
        "excess_suppliers",
        "user_retention",
        "quantile_hist",
        "fk_integrity",
        "trimmed_mean",
        "pareto_abc",
        "spend_gini",
        "km_survival",
    ),
}


def pass_orders(workload: str, seed: int):
    """Yield the op order of each pass, forever. The same workload and
    seed give the same sequence of orders."""
    rng = random.Random(f"{workload}/{seed}")
    ops = list(WORKLOADS[workload])
    while True:
        order = ops[:]
        rng.shuffle(order)
        yield order


def value_hash(rows, colnames) -> str:
    """Order-insensitive value hash: columns sorted by name, each row
    rendered as ``|``-joined canonical values, lines sorted, sha256.
    The same rule as the repository's correctness gate
    (``scripts/check_correctness.py``)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted("|".join(_norm(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    error: str | None = None


class OpRunner:
    """Runs one op at a time: build the frame, run the action that
    fingerprints every column, compare with the expected result.

    ``queries`` maps op name to the catalog callable; ``curate`` is the
    curation entry point. Both are passed in so the self-tests can run
    without Spark."""

    def __init__(self, spark, queries, curate, data_dir: Path, work_dir: Path,
                 expected: dict, tracer=None):
        self.spark = spark
        self.queries = queries
        self.curate = curate
        self.data_dir = str(data_dir)
        self.work_dir = work_dir
        self.expected = expected
        self.tracer = tracer or NullTracer()
        self._n = 0

    def run(self, name: str) -> OpResult:
        """Time one op from construction through the checked action.
        Clean-up after it is outside the timed interval."""
        self._n += 1
        out_dir = self.work_dir / f"curate-{self._n}"
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=name):
                if name == CURATE:
                    ok = self._curate(out_dir)
                else:
                    with tr.span("build"):
                        df = self.queries[name](self.spark, self.data_dir)
                    with tr.span("plan"):
                        tr.force_plan(df)
                    with tr.span("action"):
                        rows = df.collect()
                        ok = value_hash(rows, df.columns) == self.expected[name]["hash"]
            result = OpResult(name, time.perf_counter() - t0, ok)
        except Exception as exc:  # one failing op must not hide the others
            result = OpResult(name, time.perf_counter() - t0, False,
                              f"{type(exc).__name__}: {exc}"[:300])
        self._cleanup(out_dir)
        return result

    def _curate(self, out_dir: Path) -> bool:
        tr = self.tracer
        with tr.span("build"):
            summary = self.curate(self.spark, self.data_dir, str(out_dir), cap=CURATE_CAP)
        with tr.span("action"):
            df = self.spark.read.parquet(str(out_dir / "corpus"))
            rows = df.collect()
            want = self.expected[CURATE]
            return summary == want["summary"] and value_hash(rows, df.columns) == want["hash"]

    def _cleanup(self, out_dir: Path) -> None:
        if self.spark is not None:
            # localCheckpoint RDDs outlive the op; without unpersisting them
            # the tail drifts upward pass after pass.
            jsc = self.spark.sparkContext._jsc
            for rdd in list(jsc.getPersistentRDDs().values()):
                rdd.unpersist(False)
        shutil.rmtree(out_dir, ignore_errors=True)
