"""Warm min-of-K timing for one catalog query, mirroring bench.py's
protocol (first run warms the session; the committed number is the min
of the following K samples).

Run: PYTHONPATH=<checkout> python scripts/time_query.py <name> [sf_dir] [K]
"""

from __future__ import annotations

import sys
import time


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    from graph_database_spark import catalog
    from graph_database_spark.session import get_spark

    spark = get_spark("time_query")
    spark.sparkContext.setLogLevel("ERROR")

    fn = catalog.QUERIES[name]
    samples = []
    for i in range(k + 1):
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()
        dt = time.monotonic() - t0
        samples.append(dt)
        print(f"run {i}: {dt:.2f}s rows={n}", flush=True)
    print(f"min-of-{k} (warm): {min(samples[1:]):.2f}s  all={['%.2f' % s for s in samples]}")
    spark.stop()


if __name__ == "__main__":
    main()
