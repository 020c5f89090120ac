"""Per-layer tracing for the benchmark, recorded from outside the program.

The tracer wraps the entry points of each ``graph_database_spark`` layer
(``sources``, ``plans.copurchase``, ``operators.fixpoint``, ``sinks``)
and the benchmark's own phases (``build``, ``plan``, ``action``) in
spans: name, start, end, parent, op. Spans stay in memory and are written
out when the run ends.

Layer functions are bound by ``from ... import`` all over the package
(``load_table`` alone in ``catalog``, ``engine``, ``curate`` and
``plans.copurchase``), so wrapping the defining module is not enough:
``wire`` rebinds every ``graph_database_spark.*`` attribute that *is* an
original function object, and ``unwire`` restores them.

Every span runs its jobs under its own Spark job group. Spark's event
log, parsed after the session stops, then gives exact jobs, stages,
tasks, executor time, shuffle bytes and spill per span.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from collections import defaultdict
from pathlib import Path

PKG = "graph_database_spark"

# Span names, outermost first. ``op`` is the whole op; the rest are
# reported as per-layer metrics.
PHASES = ("build", "plan", "action")
PROGRAM_LAYERS = ("sources", "plans.copurchase", "fixpoint", "fixpoint.materialize", "sinks")
LAYERS = PHASES + PROGRAM_LAYERS

# Task-metric sums taken from the event log, with their scale to the
# reported unit.
EXEC_METRICS = {
    "exec.run_s": (("Executor Run Time",), 1e-3),
    "exec.cpu_s": (("Executor CPU Time",), 1e-9),
    "exec.gc_s": (("JVM GC Time",), 1e-3),
    "shuffle.read_mb": (("Shuffle Read Metrics", "Remote Bytes Read"),
                        ("Shuffle Read Metrics", "Local Bytes Read"), 1e-6),
    "shuffle.write_mb": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1e-6),
    "spill_mb": (("Disk Bytes Spilled",), 1e-6),
}


def layer_functions() -> dict[str, list]:
    """The original function objects of each program layer."""
    from graph_database_spark.operators import fixpoint
    from graph_database_spark.plans import copurchase
    from graph_database_spark.sources import parquet

    def own_functions(mod):
        return [v for k, v in vars(mod).items()
                if inspect.isfunction(v) and not k.startswith("_")
                and getattr(v, "__module__", None) == mod.__name__]

    sinks = importlib.import_module(f"{PKG}.sinks")
    sink_fns = []
    for info in pkgutil.iter_modules(sinks.__path__):
        sink_fns += own_functions(importlib.import_module(f"{PKG}.sinks.{info.name}"))
    return {
        "sources": [parquet.load_table],
        "plans.copurchase": own_functions(copurchase),
        "fixpoint": [fixpoint.fixpoint],
        "fixpoint.materialize": [fixpoint.materialize],
        "sinks": sink_fns,
    }


def group_id(span: int | None) -> str:
    """Spark job group of a span's jobs; jobs outside any span go to an
    idle group that no metric counts."""
    return f"pb{span}" if span is not None else "pb-idle"


class Tracer:
    """Records spans while ``active``; otherwise wrapped calls pass
    straight through."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    # -- wiring ---------------------------------------------------------
    def wire(self) -> int:
        """Rebind every package attribute that is a layer function to a
        span-recording wrapper; returns the number of bindings."""
        wrappers = {}
        for layer, fns in layer_functions().items():
            for fn in fns:
                wrappers[id(fn)] = (fn, self._wrap(layer, fn))
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))
        return len(self._patched)

    def unwire(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer):
                return fn(*args, **kwargs)
        return traced

    # -- spans ----------------------------------------------------------
    def span(self, name: str, op: str | None = None):
        return _Span(self, name, op) if self.active else _NULL

    def force_plan(self, df) -> None:
        if self.active:
            df._jdf.queryExecution().executedPlan()

    def _enter(self, name: str, op: str | None) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        self.spans.append({"name": name, "op": op, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        self.sc.setLocalProperty("spark.jobGroup.id", group_id(idx))
        return idx

    def _exit(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()
        self.sc.setLocalProperty(
            "spark.jobGroup.id", group_id(self._stack[-1] if self._stack else None))

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "op", "idx")

    def __init__(self, tracer, name, op):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        self.idx = self.tracer._enter(self.name, self.op)
        return self

    def __exit__(self, *exc):
        self.tracer._exit(self.idx)
        return False


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


class NullTracer:
    """Untraced runs: every span is one shared no-op context manager."""

    def span(self, name: str, op: str | None = None):
        return _NULL

    def force_plan(self, df) -> None:
        pass


# -- event log ----------------------------------------------------------
def _dig(d: dict, path: tuple):
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, (int, float)) else 0


def read_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, and the summed task
    metrics of ``EXEC_METRICS``, from the session's event log."""
    stats: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for f in sorted(log_dir.iterdir()):
        with f.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stats[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                        stats[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    s = stats[g]
                    s["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for metric, spec in EXEC_METRICS.items():
                        *paths, scale = spec
                        s[metric] += sum(_dig(tm, p) for p in paths) * scale
    return stats


def layer_metrics(spans: list[dict], groups: dict[str, dict], n_passes: int) -> dict[str, float]:
    """Per-pass per-layer metrics from the spans of ``n_passes`` traced
    passes and the per-group event-log stats.

    ``<layer>.s`` is the time inside the outermost spans of the layer,
    ``<layer>.self_s`` that time minus the time of child spans,
    ``<layer>.jobs`` the jobs fired inside the layer's spans."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)

    def dur(i):
        return spans[i]["end"] - spans[i]["start"]

    def subtree(i):
        todo, out = [i], []
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(children[j])
        return out

    def inside(i, name):
        p = spans[i]["parent"]
        while p is not None:
            if spans[p]["name"] == name:
                return True
            p = spans[p]["parent"]
        return False

    def group_sum(idxs, key):
        return sum(groups.get(group_id(j), {}).get(key, 0) for j in idxs)

    n = max(n_passes, 1)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [i for i, s in enumerate(spans) if s["name"] == layer]
        outer = [i for i in mine if not inside(i, layer)]
        covered = [j for i in outer for j in subtree(i)]
        out[f"{layer}.calls"] = len(mine) / n
        out[f"{layer}.s"] = sum(dur(i) for i in outer) / n
        out[f"{layer}.self_s"] = sum(dur(i) - sum(dur(c) for c in children[i]) for i in mine) / n
        out[f"{layer}.jobs"] = group_sum(covered, "jobs") / n
        if layer == "action":
            out["action.stages"] = group_sum(covered, "stages") / n
            out["action.tasks"] = group_sum(covered, "tasks") / n
    every = range(len(spans))
    out["jobs.total"] = group_sum(every, "jobs") / n
    for metric in EXEC_METRICS:
        out[metric] = group_sum(every, metric) / n
    return out
