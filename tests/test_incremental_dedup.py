"""Append-batch MinHash dedup (operators/dedup.incremental_minhash_dedup).

The driver-facing contract (append == rerun-over-union) is pinned by the
dedup_incremental DuckDB oracle; these fixtures pin the operator-level
semantics the oracle can't see: the probe touches only the index frame
(no corpus texts), the greedy predecessor rule, and batch-internal
ordering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_database_spark.operators.dedup import (
    incremental_minhash_dedup,
    minhash_index_md5,
    minhash_lsh_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again"


def test_decisions_match_full_rerun(spark):
    # corpus: two distinct docs; batch: a near-copy of corpus doc 1, a
    # fresh doc, and a near-copy of the batch near-copy (id order
    # matters: 12 collides with 10 -> batch_dups).
    corpus = _docs(
        spark,
        [(1, BASE), (3, "completely different words about spark shuffles")],
    )
    batch = _docs(
        spark,
        [
            (10, BASE + " extra"),
            (11, "novel content that matches nothing else here"),
            (12, BASE + " extra"),
        ],
    )
    idx = minhash_index_md5(corpus)
    got = {
        r["doc_id"]: (r["corpus_dups"], r["batch_dups"], r["kept"])
        for r in incremental_minhash_dedup(idx, batch).collect()
    }
    assert got[10] == (1, 0, False)
    assert got[11] == (0, 0, True)
    # 12 hits corpus doc 1 AND smaller batch doc 10 (exact dup of it).
    assert got[12] == (1, 1, False)

    # append == rerun: the union pair set implies exactly these
    # decisions under the corpus-first-then-id order.
    union_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(corpus.unionByName(batch), bands=4).collect()
    }
    for d, (cd, bd, kept) in got.items():
        cds = {a for (a, b) in union_pairs if b == d and a in (1, 3)}
        bds = {a for (a, b) in union_pairs if b == d and a >= 10}
        assert (len(cds), len(bds), not (cds or bds)) == (cd, bd, kept)


def test_probe_reads_index_not_corpus_text(spark):
    # The probe leg must work from a bare (id, sig, band, key) frame —
    # e.g. one read back from parquet — proving no corpus text or
    # signature is recomputed at probe time.
    corpus = _docs(spark, [(1, BASE)])
    idx_only = minhash_index_md5(corpus).select("id", "sig", "band", "key")
    batch = _docs(spark, [(10, BASE)])
    row = incremental_minhash_dedup(idx_only, batch).collect()[0]
    assert (row["corpus_dups"], row["kept"]) == (1, False)


def test_empty_batch_and_disjoint_batch(spark):
    corpus = _docs(spark, [(1, BASE)])
    idx = minhash_index_md5(corpus)
    assert incremental_minhash_dedup(idx, _docs(spark, [])).collect() == []
    out = incremental_minhash_dedup(
        idx, _docs(spark, [(20, "unrelated text entirely")])
    ).collect()
    assert [(r["corpus_dups"], r["batch_dups"], r["kept"]) for r in out] == [
        (0, 0, True)
    ]
