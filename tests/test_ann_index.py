"""Persisted IVF index (sinks/ann.py): build-once-probe-many parity with
the refit path, and index-side shuffle-freedom of the probe join."""

from __future__ import annotations

from graph_database_spark.operators.ivf import ivf_topk
from graph_database_spark.sinks.ann import build_ivf_index, probe_ivf_index
from graph_database_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_probe_matches_refit_and_is_reusable(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where((emb.vec_id % 20) == 0)
    try:
        build_ivf_index(emb, "ann_ivf_idx", str(tmp_path / "idx"), n_centroids=8)
        refit = _rows(ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=3))
        probe1 = _rows(
            probe_ivf_index(spark, str(tmp_path / "idx"), queries, k=5, n_probe=3)
        )
        # build-once-probe-TWICE: the second probe reads only the
        # persisted table + manifest; no state leaks between probes.
        probe2 = _rows(
            probe_ivf_index(spark, str(tmp_path / "idx"), queries, k=5, n_probe=3)
        )
        assert probe1 == refit
        assert probe2 == refit
        assert len(refit) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_ivf_idx")


def test_append_grows_index_without_rebuild(spark, tmp_path):
    from graph_database_spark.operators.ivf import _unit_centroid_micro
    from graph_database_spark.sinks.ann import append_ivf_index

    emb = load_table(spark, SF_DIR, "embeddings")
    half_a = emb.where((emb.vec_id % 2) == 0)
    half_b = emb.where((emb.vec_id % 2) == 1)
    queries = emb.where((emb.vec_id % 20) == 0)
    cents = _unit_centroid_micro(half_a, "vec_id", "embedding", 8)
    try:
        # lifecycle: build on A, append B (assigned against A's frozen
        # centroids, no rebuild)
        build_ivf_index(half_a, "ann_grow_idx", str(tmp_path / "g1"), cents=cents)
        append_ivf_index(half_b, str(tmp_path / "g1"))
        grown = _rows(
            probe_ivf_index(spark, str(tmp_path / "g1"), queries, k=5, n_probe=3)
        )
        # reference: from-scratch build over A u B under the SAME centroids
        build_ivf_index(emb, "ann_full_idx", str(tmp_path / "g2"), cents=cents)
        full = _rows(
            probe_ivf_index(spark, str(tmp_path / "g2"), queries, k=5, n_probe=3)
        )
        assert grown == full
        assert len(full) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_grow_idx")
        spark.sql("DROP TABLE IF EXISTS ann_full_idx")


def test_probe_join_has_no_index_side_shuffle(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where((emb.vec_id % 20) == 0)
    try:
        build_ivf_index(emb, "ann_ivf_idx2", str(tmp_path / "idx2"), n_centroids=8)
        # Force the sort-merge path so the bucketed-scan property is
        # what avoids the Exchange (broadcast would trivially hide it).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = probe_ivf_index(
                spark, str(tmp_path / "idx2"), queries, k=5, n_probe=3
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # Exactly two Exchanges are inherent: the (small) query side
        # repartitioning onto the index's cell buckets, and the final
        # per-query top-k window. The index side — the data — must scan
        # bucket-to-bucket with NO Exchange (Bucketed: true below), so
        # any third one is a regression.
        assert plan.count("Exchange") <= 2, plan[:3000]
        bucket_scan = "Bucketed: true"
        assert bucket_scan in plan, plan[:3000]
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_ivf_idx2")


def test_minhash_index_probe_matches_inline_operator(spark, tmp_path):
    # r13: the persisted banded-signature index (build/probe/append
    # lifecycle for incremental text dedup). Probe against the bucketed
    # table must equal the pure-frame operator, and append-then-probe
    # must equal build-over-union EXACTLY (the md5 family has no
    # trained state to drift).
    from graph_database_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_index_md5,
    )
    from graph_database_spark.sinks.ann import (
        append_minhash_index,
        build_minhash_index,
        probe_minhash_index,
    )
    from graph_database_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus_a = docs.where((docs.doc_id % 10).isin(1, 2, 3, 4))
    corpus_b = docs.where((docs.doc_id % 10).isin(5, 6, 7, 8, 9))
    batch = docs.where((docs.doc_id % 10) == 0)
    try:
        build_minhash_index(corpus_a, "mh_idx", str(tmp_path / "mh"))
        append_minhash_index(corpus_b, str(tmp_path / "mh"))
        probed = _rows(probe_minhash_index(spark, str(tmp_path / "mh"), batch))
        inline = _rows(
            incremental_minhash_dedup(
                minhash_index_md5(docs.where((docs.doc_id % 10) != 0)), batch
            )
        )
        assert probed == inline
        assert len(probed) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_idx")


def test_minhash_probe_has_no_index_side_shuffle(spark, tmp_path):
    from graph_database_spark.sinks.ann import (
        build_minhash_index,
        probe_minhash_index,
    )
    from graph_database_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.where((docs.doc_id % 10) != 0)
    batch = docs.where((docs.doc_id % 10) == 0)
    try:
        build_minhash_index(corpus, "mh_plan_idx", str(tmp_path / "mhp"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = probe_minhash_index(spark, str(tmp_path / "mhp"), batch)
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # Index side reads bucket-to-bucket (Bucketed: true); the only
        # Exchanges belong to the batch side (signature build + its
        # shuffle onto the index buckets, the batch self-join, and the
        # final decision joins over batch-sized frames).
        assert "Bucketed: true" in plan, plan[:3000]
        # The corpus-scale frame is the index scan; its OWN key
        # attribute must never feed an Exchange (the batch side's key —
        # a different attribute id — shuffles onto the index buckets,
        # which is the point). Extract the scan's key attr id from the
        # FileScan line and assert no hashpartitioning on it.
        import re

        m2 = re.search(
            r"FileScan parquet [^\[]*mh_plan_idx\[key#(\d+)", plan
        )
        assert m2, plan[:3000]
        assert f"Exchange hashpartitioning(key#{m2.group(1)}" not in plan, (
            plan[:3000]
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_plan_idx")


def test_ivfpq_index_probe_matches_inline_search(spark, tmp_path):
    # r14: the persisted residual IVF-PQ layout. Probing the bucketed
    # byte-code table with the manifest model must equal the inline
    # ivfpq_topk_md5 search EXACTLY (same ivfpq_fit training, same
    # integer ADC) — twice, to pin build-once-probe-many statelessness.
    from graph_database_spark.operators.pq import ivfpq_topk_md5
    from graph_database_spark.sinks.ann import (
        build_ivfpq_index,
        probe_ivfpq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where((emb.vec_id % 50) == 0)
    try:
        build_ivfpq_index(emb, "pq_idx", str(tmp_path / "pq"))
        inline = _rows(ivfpq_topk_md5(emb))
        p1 = _rows(probe_ivfpq_index(spark, str(tmp_path / "pq"), queries))
        p2 = _rows(probe_ivfpq_index(spark, str(tmp_path / "pq"), queries))
        assert p1 == inline
        assert p2 == inline
        assert len(inline) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS pq_idx")


def test_ivfpq_index_append_encodes_under_frozen_model(spark, tmp_path):
    # The FAISS `add` lifecycle: append a byte-identical twin of an
    # indexed vector under a NEW id. Its frozen-model encoding (cell +
    # residual codes) is identical to the original's, so any query that
    # retrieved the original must retrieve the twin at the same ADC
    # distance.
    from graph_database_spark.sinks.ann import (
        append_ivfpq_index,
        build_ivfpq_index,
        probe_ivfpq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where((emb.vec_id % 50) == 0)
    try:
        build_ivfpq_index(emb, "pq_grow_idx", str(tmp_path / "pqg"))
        base = _rows(
            probe_ivfpq_index(spark, str(tmp_path / "pqg"), queries, k=5)
        )
        # twin of the first retrieved candidate, id-shifted (disjoint)
        twin_src = base[0][1]
        twin = emb.where(emb.vec_id == twin_src).selectExpr(
            "vec_id + 900000000 AS vec_id", "embedding"
        )
        append_ivfpq_index(twin, str(tmp_path / "pqg"))
        grown = probe_ivfpq_index(
            spark, str(tmp_path / "pqg"), queries, k=10
        ).collect()
        by_id = {
            (r["query_id"], r["cand_id"]): r["adc_d2"] for r in grown
        }
        qid = base[0][0]
        assert (qid, twin_src + 900000000) in by_id
        assert by_id[(qid, twin_src + 900000000)] == by_id[(qid, twin_src)]
    finally:
        spark.sql("DROP TABLE IF EXISTS pq_grow_idx")


def test_ivfpq_probe_has_no_index_side_shuffle(spark, tmp_path):
    from graph_database_spark.sinks.ann import (
        build_ivfpq_index,
        probe_ivfpq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where((emb.vec_id % 50) == 0)
    try:
        build_ivfpq_index(emb, "pq_plan_idx", str(tmp_path / "pqp"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = probe_ivfpq_index(spark, str(tmp_path / "pqp"), queries)
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Bucketed: true" in plan, plan[:3000]
        # The corpus-scale frame is the code-table scan; its OWN cell
        # attribute must never feed an Exchange (the query side's cell
        # — a different attr id — shuffles onto the index buckets).
        import re

        m2 = re.search(
            r"FileScan parquet [^\[]*pq_plan_idx\[cell#(\d+)", plan
        )
        assert m2, plan[:3000]
        assert f"Exchange hashpartitioning(cell#{m2.group(1)}" not in plan, (
            plan[:3000]
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS pq_plan_idx")
