"""End-to-end pipeline: the CLI writes golden-identical output files."""

from __future__ import annotations

from graph_database_spark.pipeline import run_ego
from graph_database_spark.sources import snap


def test_pipeline_reproduces_golden_outputs(spark, tmp_path):
    for ego in ("0", "107"):
        m = run_ego(spark, snap.REFERENCE_DATA, str(tmp_path), ego)
        assert m["nodes"] > 0
        got = (tmp_path / f"{ego}.proofs").read_text()
        assert got == open(f"{snap.REFERENCE_OUTPUT}/{ego}.proofs").read()
        ours = set((tmp_path / f"{ego}.metrics").read_text().splitlines())
        golden = set(open(f"{snap.REFERENCE_OUTPUT}/{ego}.metrics").read().splitlines())
        assert ours == golden
