"""Derive ``expected.json``: the expected result of every benchmark op.

For each catalog op the expected value hash comes from its DuckDB oracle
(``catalog.oracle_sql()``) over the tables in ``data/``. Each op is also
run once on Spark and must hash the same, so the benchmark never ships
an expectation the engine disagrees with at this commit.

``curate`` has no SQL oracle (its dedup stage is rows-only in the
catalog). Its input count is checked against DuckDB; the rest of its
summary and the hash of the rows it writes are pinned from this run.

Run from the repository root:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402

from graph_database_spark import catalog  # noqa: E402
from graph_database_spark.curate import curate  # noqa: E402
from graph_database_spark.session import get_spark  # noqa: E402
from graph_database_spark.sources.parquet import TABLES  # noqa: E402
import run  # noqa: E402
from workloads import CURATE, CURATE_CAP, WORKLOADS, value_hash  # noqa: E402

DATA = HERE / "data"


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    oracles = catalog.oracle_sql()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = run.DRIVER_MEM
    spark = get_spark("perfbench-expected", shuffle_partitions=run.SHUFFLE_PARTITIONS,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    expected, bad = {}, []
    for op in sorted({op for ops in WORKLOADS.values() for op in ops}):
        if op == CURATE:
            continue
        res = con.execute(oracles[op])
        cols = [d[0] for d in res.description]
        orows = res.fetchall()
        want = value_hash(orows, cols)
        df = catalog.QUERIES[op](spark, str(DATA))
        got = value_hash(df.collect(), df.columns)
        print(f"{'ok  ' if got == want else 'FAIL'} {op}: {len(orows)} rows {want}")
        if got != want:
            bad.append(op)
        expected[op] = {"hash": want, "rows": len(orows)}

    out = Path(tempfile.mkdtemp())
    try:
        summary = curate(spark, str(DATA), str(out / "o"), cap=CURATE_CAP)
        df = spark.read.parquet(str(out / "o" / "corpus"))
        rows = df.collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    if summary["input_docs"] != n_docs or summary["kept_docs"] != len(rows):
        bad.append(CURATE)
    print(f"curate: {summary} {len(rows)} rows written")
    expected[CURATE] = {"summary": summary, "hash": value_hash(rows, df.columns), "rows": len(rows)}
    spark.stop()

    if bad:
        print(f"engine disagrees with oracle on: {bad}; expected.json not written")
        return 1
    (HERE / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
