"""Persisted LSH index (sinks/ann.py): build-once-probe-many parity with
the refit path (similarity.lsh_topk), and index-side shuffle-freedom of
the probe join — the LSH twin of tests/test_ann_index.py."""

from __future__ import annotations

from graph_database_spark.operators.similarity import lsh_topk
from graph_database_spark.sinks.ann import build_lsh_index, probe_lsh_index
from graph_database_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_probe_matches_refit_and_is_reusable(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where((emb.vec_id % 20) == 0)
    try:
        build_lsh_index(
            emb, "ann_lsh_idx", str(tmp_path / "idx"), n_bits=4, n_tables=8
        )
        refit = _rows(lsh_topk(queries, emb, k=5, n_bits=4, n_tables=8))
        probe1 = _rows(
            probe_lsh_index(spark, str(tmp_path / "idx"), queries, k=5)
        )
        # build-once-probe-TWICE: the second probe reads only the
        # persisted table + manifest; no state leaks between probes.
        probe2 = _rows(
            probe_lsh_index(spark, str(tmp_path / "idx"), queries, k=5)
        )
        assert probe1 == refit
        assert probe2 == refit
        assert len(refit) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_lsh_idx")


def test_probe_join_has_no_index_side_shuffle(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where((emb.vec_id % 20) == 0)
    try:
        build_lsh_index(
            emb, "ann_lsh_idx2", str(tmp_path / "idx2"), n_bits=4, n_tables=8
        )
        # Force the sort-merge path so the bucketed-scan property is
        # what avoids the Exchange (broadcast would trivially hide it).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = probe_lsh_index(spark, str(tmp_path / "idx2"), queries, k=5)
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # Three hash Exchanges are inherent: the (small) query side
        # repartitioning onto the index's tb buckets, the scored-scalar
        # pair dedup, and the per-query top-k window (plus the query
        # side's round-robin `spread`, which is not a hash shuffle).
        # The index side — the data — must scan bucket-to-bucket with
        # NO Exchange (Bucketed: true), so any fourth is a regression.
        assert plan.count("Exchange hashpartitioning") <= 3, plan[:3000]
        assert "Bucketed: true" in plan, plan[:3000]
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_lsh_idx2")


def test_wrong_kind_raises(spark, tmp_path):
    """Every probe refuses a manifest of another kind; probe_ivf_index
    and append_ivf_index also refuse an IVF manifest without the
    md5-micro centroid family (one written with float centroids by an
    older build), whose cells these sims would rank differently."""
    import json
    import os

    import pytest

    from graph_database_spark.sinks.ann import (
        append_ivf_index,
        build_ivf_index,
        probe_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    ivf_path, lsh_path = str(tmp_path / "idx3"), str(tmp_path / "idx5")
    try:
        m = build_ivf_index(emb, "ann_kind_idx", ivf_path, n_centroids=4)
        with pytest.raises(ValueError, match="not lsh"):
            probe_lsh_index(spark, ivf_path, emb, k=5)
        build_lsh_index(emb, "ann_kind_lsh_idx", lsh_path, n_bits=4, n_tables=8)
        with pytest.raises(ValueError, match="not ivf"):
            probe_ivf_index(spark, lsh_path, emb, k=5)
        assert m.pop("centroid_family") == "md5-micro"
        with open(os.path.join(ivf_path, "_ann_index.json"), "w") as f:
            json.dump(m, f)
        with pytest.raises(ValueError, match="centroid_family"):
            probe_ivf_index(spark, ivf_path, emb, k=5)
        with pytest.raises(ValueError, match="centroid_family"):
            append_ivf_index(emb, ivf_path)
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_kind_idx")
        spark.sql("DROP TABLE IF EXISTS ann_kind_lsh_idx")


def test_other_sign_family_raises(spark, tmp_path):
    """An index whose manifest names another hyperplane family (one
    written with xxhash64-parity signs by an older build) must be
    refused: probing it with md5-parity signs would silently miss."""
    import json
    import os

    import pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx4")
    try:
        m = build_lsh_index(emb, "ann_lsh_idx4", path, n_bits=4, n_tables=8)
        assert m["sign_family"] == "md5-parity"
        with open(os.path.join(path, "_ann_index.json"), "w") as f:
            json.dump(dict(m, sign_family="xxhash64-parity"), f)
        with pytest.raises(ValueError, match="sign_family"):
            probe_lsh_index(spark, path, emb, k=5)
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_lsh_idx4")
