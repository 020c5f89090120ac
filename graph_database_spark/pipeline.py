"""The reference's batch pipeline, end-to-end (src/main.js:16-24).

For every ego network: load the SNAP text files, run the proof-1
hypothesis and the metrics queries, write ``<ego>.proofs`` and
``<ego>.metrics`` to the output directory — byte-compatible with the
reference's golden files (tests/test_pipeline.py diffs them).

The reference wipes and reloads a Neo4j instance per network and issues
one Cypher query per friend for the clustering coefficients
(src/main.js:18,90-91); here each network is a handful of DataFrame
plans and the per-friend loop is one grouped aggregation.

Betweenness is OFF by default to match the golden outputs: the
reference declares the query (src/main.js:108-125) but it never
completed and no golden line exists. ``--betweenness`` computes the
sampled-source stress centrality and writes the ``Centrality value for
X: N`` lines the reference intended (format from src/main.js:115-119).

Usage:
    python -m graph_database_spark.pipeline \
        --out <dir> [--data <SNAP dir>] [--egos 0,107] [--betweenness]

``--data`` defaults to the reference dataset (``snap.REFERENCE_DATA``).
"""

from __future__ import annotations

import argparse

from graph_database_spark.operators import graph as G
from graph_database_spark.operators.betweenness import betweenness
from graph_database_spark.session import get_spark
from graph_database_spark.sinks.text import js_num, write_metrics, write_proofs
from graph_database_spark.sources import snap


def run_ego(spark, data_dir: str, out_dir: str, ego: str, with_betweenness: bool = False) -> dict:
    v, e, _ = snap.load_ego_network(spark, data_dir, ego)
    e = e.localCheckpoint()  # feeds four independent query plans

    proof = G.hypothesis_verdict(v, e).collect()[0]
    write_proofs(f"{out_dir}/{ego}.proofs", proof["cooccurring"], proof["connected"])

    nodes = G.node_count(e).collect()[0][0]
    edges = G.edge_count(e).collect()[0][0]
    cc = [
        (r["id"], r["cc"])
        for r in G.clustering_coefficient(e).collect()
        if r["id"] != int(ego)  # the ego gets no CC line (src/main.js:90)
    ]
    write_metrics(f"{out_dir}/{ego}.metrics", nodes, edges, cc)

    if with_betweenness:
        rows = betweenness(e, num_sources=32).collect()
        with open(f"{out_dir}/{ego}.metrics", "a") as f:
            for r in rows:
                f.write(f"Centrality value for {r['id']}: {js_num(r['betweenness'])}\n")

    return {"ego": ego, "nodes": nodes, "edges": edges,
            "connected": proof["connected"], "cooccurring": proof["cooccurring"]}


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--data", default=snap.REFERENCE_DATA)
    p.add_argument("--out", required=True)
    p.add_argument("--egos", default=",".join(snap.EGO_CENTERS))
    p.add_argument("--betweenness", action="store_true")
    args = p.parse_args(argv)

    spark = get_spark("graph-database-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    for ego in args.egos.split(","):
        m = run_ego(spark, args.data, args.out, ego.strip(), args.betweenness)
        print(
            f"ego {m['ego']}: nodes={m['nodes']} edges={m['edges']} "
            f"proof1={m['connected']}/{m['cooccurring']}"
        )


if __name__ == "__main__":
    main()
