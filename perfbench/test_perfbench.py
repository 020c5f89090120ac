"""Self-tests of the benchmark harness; they need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import sys
from contextlib import redirect_stdout
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from tracer import layer_metrics  # noqa: E402
from workloads import WORKLOADS, OpRunner, pass_orders, value_hash  # noqa: E402


def _first_orders(workload, seed, n=3):
    gen = pass_orders(workload, seed)
    return [next(gen) for _ in range(n)]


def test_same_seed_gives_same_op_order():
    for workload, ops in WORKLOADS.items():
        orders = _first_orders(workload, 7)
        assert orders == _first_orders(workload, 7)
        assert all(sorted(o) == sorted(ops) for o in orders)
    assert any(_first_orders(w, 7) != _first_orders(w, 8) for w in WORKLOADS)


class _Frame:
    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


def test_wrong_op_result_lowers_ok_frac(tmp_path):
    right = [(1, "a"), (2, "b")]
    cols = ["n", "s"]
    queries = {
        "good": lambda spark, sf: _Frame(list(reversed(right)), cols),
        "bad": lambda spark, sf: _Frame([(1, "a"), (2, "c")], cols),
    }
    expected = {name: {"hash": value_hash(right, cols)} for name in queries}
    runner = OpRunner(None, queries, None, tmp_path, tmp_path, expected)
    results = [runner.run("good"), runner.run("bad")]
    assert [r.ok for r in results] == [True, False]
    metrics = run.summarize([results], [sum(r.seconds for r in results)])
    assert metrics["ok_frac"] == 0.5


def _printed(metrics):
    buf = io.StringIO()
    with redirect_stdout(buf):
        run.emit(metrics, attempted=1, failed=0, notes=[])
    lines = buf.getvalue().splitlines()
    return lines[:-1], json.loads(lines[-1])


def test_every_metric_prints_by_name_with_unit():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    for key, names in (("end_to_end", list(run.END_TO_END)), ("per_layer", run.per_layer_names())):
        assert [m["name"] for m in spec[key]] == names
        lines, last = _printed({name: 1.5 for name in names})
        for m in spec[key]:
            assert f"{m['name']} = 1.5 {m['unit']}" in lines
            assert last["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_tail_is_p90_with_count_beyond():
    value, beyond, n = run.tail([float(i) for i in range(100)])
    assert (round(value, 6), beyond, n) == (89.1, 10, 100)
    assert run.tail([1.0, 2.0, 3.0, 10.0])[1:] == (1, 4)


def test_self_time_subtracts_child_spans():
    spans = [
        {"name": "op", "op": "q", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "build", "op": "q", "parent": 0, "start": 0.0, "end": 6.0},
        {"name": "sources", "op": "q", "parent": 1, "start": 1.0, "end": 3.0},
        {"name": "action", "op": "q", "parent": 0, "start": 6.0, "end": 10.0},
    ]
    groups = {"pb1": {"jobs": 2}, "pb2": {"jobs": 1}, "pb3": {"jobs": 4, "stages": 5, "tasks": 9}}
    m = layer_metrics(spans, groups, 1)
    assert (m["build.s"], m["build.self_s"], m["build.jobs"]) == (6.0, 4.0, 3)
    assert (m["sources.s"], m["sources.jobs"]) == (2.0, 1)
    assert (m["action.jobs"], m["action.stages"], m["action.tasks"]) == (4, 5, 9)
    assert m["jobs.total"] == 7 and m["fixpoint.calls"] == 0
