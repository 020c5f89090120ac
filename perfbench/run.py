"""Benchmark of graph_database_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload copurchase_graph --seed 1 --seconds 10 --trace 0

One Python process drives Spark in a closed loop, one op in flight at a
time, on ``local[4]``. Set-up (interpreter start, JVM and session start,
one warm-up pass over the workload's ops) is timed as ``setup_s``. Then
whole passes over the ops run, each in its seeded order, until
``--seconds`` have passed (at least ``MIN_PASSES``). Every op's output is
checked against its expected result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run that alternates untraced and traced passes and prints the per-layer
metrics of the traced ones, plus the tracing overhead; spans are written
to ``.perfbench_out/``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from workloads import WORKLOADS, OpRunner, pass_orders  # noqa: E402

CPUS = "4"
DRIVER_MEM = "2g"
# The tables are small (sf0.001), so the default 32 shuffle partitions
# would mostly time empty tasks; 8 matches the repository's test session.
SHUFFLE_PARTITIONS = 8
MIN_PASSES = {0: 2, 1: 4}
# Traced runs alternate untraced (U) and traced (T) passes as U T T U ...
# so warm-up drift does not bias the overhead estimate.
TRACE_PATTERN = (False, True, True, False)
TAIL_PCT = 90
# Per-layer metrics a traced run reports besides tracer.layer_metrics.
TRACE_EXTRA = ("session.start_s", "host.probe_s", "trace.pass_s", "untraced.pass_s",
               "trace.overhead_frac")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}


def unit_of(name: str) -> str:
    """Unit of a metric, from its name."""
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"


def tail(samples: list[float]) -> tuple[float, int, int]:
    """p90 of per-op latency: ``(value, samples beyond it, sample count)``.
    A run affords 10-14 samples, so fewer than ten lie beyond it; the
    run prints how many do."""
    value = statistics.quantiles(samples, n=100 // (100 - TAIL_PCT), method="inclusive")[-1]
    return value, sum(x > value for x in samples), len(samples)


def per_layer_names() -> list[str]:
    """Names of the metrics a traced run prints, in print order."""
    from tracer import layer_metrics

    return [*TRACE_EXTRA, *layer_metrics([], {}, 1)]


def host_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed diagnostic,
    never used to normalise a metric."""
    t = time.perf_counter()
    s = 0
    for i in range(300_000):
        s += i * i % 7
    return time.perf_counter() - t


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the Python driver plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def configure_env(work: Path) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    returns the session conf."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # No JVM writes its perf-data file to /tmp: neither spark-submit's
    # launcher nor the driver.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # Initial heap = maximum: a heap left to grow made peak_rss_mb spread
    # 17 % between runs of the same code.
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{DRIVER_MEM}",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def summarize(results: list[list], passes: list[float]) -> dict[str, float]:
    """End-to-end metrics of the timed (untraced) passes."""
    samples = [r.seconds for rs in results for r in rs]
    n_ok = sum(r.ok for rs in results for r in rs)
    tail_s, _, _ = tail(samples)
    return {
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(samples),
        "op_tail_s": tail_s,
        "ok_frac": n_ok / len(samples),
    }


def emit(metrics: dict[str, float], attempted: int, failed: int, notes: list[str]) -> None:
    for line in notes:
        print(f"# {line}")
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {unit_of(name)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }), flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    expected_path, data_dir = HERE / "expected.json", HERE / "data"
    if not expected_path.is_file() or not data_dir.is_dir():
        print("perfbench: expected.json or data/ missing", file=sys.stderr)
        return 2
    expected = json.loads(expected_path.read_text())

    try:
        from graph_database_spark import catalog
        from graph_database_spark.curate import curate
        from graph_database_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: graph_database_spark is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    conf = configure_env(work)

    if args.trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        session_start_s = time.perf_counter() - t
        try:
            report = _run(args, spark, catalog, curate, data_dir, work, expected)
        finally:
            stop_spark(spark)
        if args.trace:
            # Spark finishes the event log only when the session stops.
            from tracer import layer_metrics, read_event_log

            tracer = report.pop("tracer")
            found = {
                "session.start_s": session_start_s,
                **report["metrics"],
                **layer_metrics(tracer.spans, read_event_log(work / "eventlog"),
                                report.pop("n_traced")),
            }
            report["metrics"] = {k: found[k] for k in per_layer_names()}
            tracer.dump(ROOT / ".perfbench_out" / f"trace-{args.workload}-seed{args.seed}.json")
        emit(**report)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's scratch is still there
            pass


def _run(args, spark, catalog, curate, data_dir, work, expected) -> dict:
    """Primer, then timed passes; returns the arguments of ``emit``
    (plus the tracer and traced-pass count in a traced run)."""
    from tracer import Tracer

    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        n_bound = tracer.wire()
    runner = OpRunner(spark, catalog.QUERIES, curate, data_dir, work, expected, tracer)

    # Warm-up pass: class loading, JIT and Python-worker start-up are
    # paid here, so every timed pass is warm.
    for op in WORKLOADS[args.workload]:
        runner.run(op)
    setup_s = time.perf_counter() - _T0

    orders = pass_orders(args.workload, args.seed)
    results, traced_flags, probes = [], [], []
    t_start = time.perf_counter()
    while True:
        traced = bool(args.trace) and TRACE_PATTERN[len(results) % len(TRACE_PATTERN)]
        if tracer is not None:
            tracer.active = traced
        results.append([runner.run(op) for op in next(orders)])
        if tracer is not None:
            tracer.active = False
        traced_flags.append(traced)
        probes.append(host_probe())
        if time.perf_counter() - t_start >= args.seconds and len(results) >= MIN_PASSES[args.trace]:
            break

    proc = getattr(type(spark.sparkContext)._gateway, "proc", None)
    rss = peak_rss_mb(proc.pid if proc is not None else None)
    flat = [r for rs in results for r in rs]
    for r in flat:
        if r.error:
            print(f"perfbench: {r.name} failed: {r.error}", file=sys.stderr)
        elif not r.ok:
            print(f"perfbench: {r.name} returned a wrong result", file=sys.stderr)
    attempted, failed = len(flat), sum(not r.ok for r in flat)
    pass_times = [sum(r.seconds for r in rs) for rs in results]
    probe_s = statistics.median(probes)
    head = f"workload={args.workload} seed={args.seed} passes={len(results)}"

    if not args.trace:
        metrics = {"setup_s": setup_s, **summarize(results, pass_times), "peak_rss_mb": rss}
        _, beyond, n = tail([r.seconds for r in flat])
        per_op = {}
        for r in flat:
            per_op.setdefault(r.name, []).append(r.seconds)
        notes = [
            f"{head} op samples={n} pass times (s): "
            + " ".join(f"{p:.3f}" for p in pass_times),
            "op medians (s): " + " ".join(
                f"{k}={statistics.median(v):.3f}" for k, v in sorted(per_op.items())),
            f"op_tail_s is p{TAIL_PCT} of {n} op samples ({beyond} beyond it)",
            f"host.probe_s = {probe_s:.4f} s (host diagnostic, not a metric)",
        ]
        return {"metrics": {k: metrics[k] for k in END_TO_END}, "attempted": attempted,
                "failed": failed, "notes": notes}

    tracer.unwire()
    traced = statistics.median(p for p, f in zip(pass_times, traced_flags) if f)
    untraced = statistics.median(p for p, f in zip(pass_times, traced_flags) if not f)
    return {
        "metrics": {
            "host.probe_s": probe_s,
            "trace.pass_s": traced,
            "untraced.pass_s": untraced,
            "trace.overhead_frac": traced / untraced - 1.0,
        },
        "attempted": attempted,
        "failed": failed,
        "notes": [f"{head} traced={sum(traced_flags)} layer bindings={n_bound}"],
        "tracer": tracer,
        "n_traced": sum(traced_flags),
    }


if __name__ == "__main__":
    sys.exit(main())
