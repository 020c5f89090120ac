"""The co-purchase edge builders against a brute-force Python oracle on
hand-built lineitem/orders tables that hold every case the one-shuffle
formulation must get right: duplicate (customer, part, month) rows, a
NULL part and a NULL order date (never a context), a singleton context
(no pair) and a pair that co-purchased in two contexts (weight 2)."""

from __future__ import annotations

import datetime as dt
from collections import Counter
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from graph_database_spark.plans.copurchase import (
    copurchase_edges,
    copurchase_edges_weighted,
)

D = dt.date
ORDERS = [  # (o_orderkey, o_custkey, o_orderdate)
    (1, 10, D(2024, 1, 5)),
    (2, 11, D(2024, 1, 20)),
    (3, 12, D(2024, 1, 25)),
    (4, 10, D(2024, 1, 7)),  # same customer, part and month as order 1
    (5, 11, D(2024, 3, 2)),
    (6, 10, D(2024, 3, 15)),
    (7, 13, None),
    (8, 14, None),
    (9, 15, D(2024, 5, 1)),
    (10, 16, D(2024, 1, 11)),
]
LINEITEM = [  # (l_orderkey, l_partkey)
    (1, 100), (1, 100), (4, 100), (2, 100), (3, 100),  # duplicates
    (5, 200), (6, 200),  # (10, 11) again, in a second context
    (7, 300), (8, 300),  # NULL order dates share part 300
    (10, None), (2, None),  # NULL parts share January
    (9, 400),  # singleton context
    (3, 500), (10, 500),
]


def _oracle():
    orders = {k: (c, d) for k, c, d in ORDERS}
    contexts: dict[tuple, set] = {}
    for okey, part in LINEITEM:
        cust, day = orders[okey]
        if part is None or day is None or cust is None:
            continue
        contexts.setdefault((part, day.year, day.month), set()).add(cust)
    weights = Counter(
        pair for custs in contexts.values() for pair in combinations(sorted(custs), 2)
    )
    return set(weights), dict(weights)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("copurchase")
    ok, oc, od = zip(*ORDERS)
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(oc, pa.int64()),
            "o_orderdate": pa.array(od, pa.date32()),
        }),
        d / "orders.parquet",
    )
    lk, lp = zip(*LINEITEM)
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(lk, pa.int64()),
            "l_partkey": pa.array(lp, pa.int64()),
        }),
        d / "lineitem.parquet",
    )
    return str(d)


def test_oracle_covers_the_cases():
    edges, weights = _oracle()
    assert edges == {(10, 11), (10, 12), (11, 12), (12, 16)}
    assert weights[(10, 11)] == 2


def test_copurchase_edges_match_oracle(spark, sf_dir):
    rows = [tuple(r) for r in copurchase_edges(spark, sf_dir).collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == _oracle()[0]


def test_copurchase_edges_weighted_match_oracle(spark, sf_dir):
    df = copurchase_edges_weighted(spark, sf_dir)
    assert df.columns == ["src", "dst", "weight"]
    got = {(r["src"], r["dst"]): r["weight"] for r in df.collect()}
    assert got == _oracle()[1]
