"""Driver-contract guards: catalog wiring + oracle SQL validity.

These catch contract mistakes that otherwise only surface in the
minutes-long correctness gate: a query added without an oracle (it would
grow the rows-only set), an oracle for a nonexistent query, a reordered
``queries()`` rotation, or oracle SQL that DuckDB cannot bind or whose
output types the driver mis-renders (one ``con.sql`` bind per oracle
against the real sf0.001 tables, no execution; ~5 s for the catalog on
a 4-vCPU host).
"""

from __future__ import annotations

import functools
import os

import duckdb
import pytest

from graph_database_spark import catalog

SF_DIR = "/root/testdata/sf0.001"


def test_rows_only_set_only_shrinks():
    # A query is rows-only exactly when it has no ORACLES entry, so a new
    # query added without an oracle grows this set and fails here by name.
    assert len(catalog.ROWS_ONLY) <= 6, (
        f"rows-only set grew to {len(catalog.ROWS_ONLY)}: {sorted(catalog.ROWS_ONLY)}"
    )


def test_rows_only_and_oracles_reference_real_queries():
    stray = set(catalog.ORACLES) - set(catalog.QUERIES)
    assert not stray, f"oracles without a queries() entry: {stray}"


def test_queries_rotation_policy():
    """``queries()`` order: the reference surface, then every rows-only
    query, then the rest by last externally verified round (catalog order
    on ties) — the driver's head-50 window rotates itself."""
    import __spark_entry__ as entry

    names = list(entry.queries())
    assert len(names) == len(catalog.QUERIES)
    assert set(names) == set(catalog.QUERIES)

    ref = entry._REFERENCE_SURFACE
    rows_only = [n for n in catalog.QUERIES if n in catalog.ROWS_ONLY and n not in ref]
    head = len(ref) + len(rows_only)
    assert names[: len(ref)] == ref
    assert names[len(ref) : head] == rows_only

    verified = entry._last_verified_rounds()
    order = {n: i for i, n in enumerate(catalog.QUERIES)}
    keys = [(verified.get(n, -1), order[n]) for n in names[head:]]
    assert keys == sorted(keys)


@functools.lru_cache(maxsize=1)
def _bound_oracles():
    """Bind every oracle once with ``con.sql`` (plan only, no execution).

    Returns ``(unbound, types)``: the first message line of each bind
    failure by oracle name, and ``[(column, type), ...]`` for each oracle
    that bound. Both tests below read this one pass.
    """
    con = duckdb.connect()
    from graph_database_spark.sources.parquet import TABLES

    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    unbound, types = {}, {}
    for name, sql in catalog.oracle_sql().items():
        try:
            rel = con.sql(sql)
        except Exception as exc:  # noqa: BLE001 — collect all failures
            unbound[name] = str(exc).splitlines()[0]
            continue
        types[name] = [(c, str(t)) for c, t in zip(rel.columns, rel.types)]
    return unbound, types


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_all_oracle_sql_binds_in_duckdb():
    unbound, _ = _bound_oracles()
    assert not unbound, f"oracle SQL failed to bind: {unbound}"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_no_oracle_emits_driver_hostile_types():
    """No oracle output column may be HUGEINT/UHUGEINT/DECIMAL.

    DuckDB widens sum(BIGINT) -> HUGEINT (including window sums), and the
    driver's pandas/Arrow fetch renders HUGEINT 39 as 39.0/decimal128
    while the local fetchall path renders int 39 — rows match, width
    matches, value-hash diverges at the driver only (the r9-r11
    km_survival saga; root-caused in VERDICT r11). Plan-only: inspects
    the declared output types of each oracle that binds; bind failures
    are reported by test_all_oracle_sql_binds_in_duckdb.
    """
    _, types = _bound_oracles()
    banned = ("HUGEINT", "UHUGEINT", "DECIMAL")
    bad = {}
    for name, cols in types.items():
        hits = [f"{c}:{t}" for c, t in cols if any(b in t for b in banned)]
        if hits:
            bad[name] = hits
    assert not bad, (
        "oracle output columns the driver's pandas fetch mis-renders "
        f"(CAST them to BIGINT/DOUBLE): {bad}"
    )
