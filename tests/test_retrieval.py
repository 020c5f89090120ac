"""Retrieval operators: TF-IDF ranking, BM25 ordering, unigram LM scores,
and the md5-twin LSH pair set — hand-checkable toy corpora."""

from __future__ import annotations

import math

import pytest

from graph_database_spark.operators import dedup as D
from graph_database_spark.operators import retrieval as R

DOCS = [
    (1, "spark spark spark shuffle join"),
    (2, "join join window filter scan"),
    (3, "window window window spark scan"),
    (4, "filter scan filter scan filter"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_tfidf_rank_and_values(docs):
    rows = R.tfidf_top_terms(docs, top=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 'spark' tf=3 df=2 -> 3*ln(5/3); 'shuffle' tf=1 df=1 -> ln(5/2)
    top1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert [r["term"] for r in top1] == ["spark", "shuffle"]
    assert top1[0]["tfidf"] == pytest.approx(3 * math.log(5 / 3), abs=1e-5)
    assert top1[1]["tfidf"] == pytest.approx(math.log(5 / 2), abs=1e-5)
    # every doc emits <= 2 rows, ranks are 1..n with term tiebreak
    assert all(len(v) <= 2 for v in by_doc.values())


def test_tfidf_zero_idf_for_universal_term(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c")], "doc_id long, text string"
    )
    rows = {
        (r["doc_id"], r["term"]): r["tfidf"]
        for r in R.tfidf_top_terms(docs, top=3).collect()
    }
    assert rows[(1, "a")] == 0.0  # df == n_docs -> ln(3/3) == 0


def test_bm25_orders_by_query_density(docs):
    out = R.bm25_search(docs, ["spark", "join"], top=10).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    by_id = {r["doc_id"]: r for r in out}
    assert 4 not in by_id  # no query term
    # doc 1 (spark x3 + join x1, both terms) outranks doc 3 (spark x1)
    assert by_id[1]["rank"] < by_id[3]["rank"]
    assert by_id[1]["matched"] == 2
    assert by_id[3]["matched"] == 1
    assert all(r["score"] > 0 for r in out)


def test_unigram_logprob_flags_rare_tokens(docs):
    out = {r["doc_id"]: r for r in R.unigram_logprob(docs).collect()}
    assert all(r["n_tokens"] == 5 for r in out.values())
    # corpus: 20 tokens; doc 1 holds the unique 'shuffle' (c=1) -> more
    # surprise than doc 4's all-c=4 filter/scan tokens
    assert out[1]["avg_neglogprob"] > out[4]["avg_neglogprob"]
    # doc 4: filter c=4, scan c=4 -> every token costs ln(20/4) = ln 5
    assert out[4]["avg_neglogprob"] == pytest.approx(math.log(5), abs=1e-5)


def test_md5_lsh_pairs_match_production_shape(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "near the warm fire and the birds sing in the tall green trees"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy")),
            (3, "completely different text about catalyst optimizer plans "
                "and adaptive query execution in distributed engines"),
        ],
        "doc_id long, text string",
    )
    # bands=8 (2 rows/band): at this toy's jaccard (~0.76, 9/16 signature
    # positions agree) a 4x4 banding deterministically misses — 0.76^4
    # per band is a coin toss; 2-row bands make recall near-certain.
    pairs = D.minhash_lsh_pairs(docs, bands=8).collect()
    found = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert (1, 2) in found
    assert found[(1, 2)] >= 0.5
    assert all(3 not in k for k in found)
    # estimator is k/16 exactly
    assert all(abs(v * 16 - round(v * 16)) < 1e-12 for v in found.values())


def test_bigram_logprob_interpolation(spark):
    import math
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a a a")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in R.bigram_logprob(docs).collect()}
    assert out[1]["n_scored"] == 3 and out[2]["n_scored"] == 3
    # corpus: tokens a=6,b=2,T=8; bigrams: (a,b)=2,(b,a)=1,(a,a)=3; ctx a=5,b=1
    # doc2 positions all (a,a): p = .75*(3/5) + .25*(6/8)
    want = -math.log(0.75 * (3 / 5) + 0.25 * (6 / 8))
    assert abs(out[2]["avg_neglogprob"] - want) < 1e-5
    # doc1's (a,b)/(b,a) transitions are rarer -> more surprise
    assert out[1]["avg_neglogprob"] > out[2]["avg_neglogprob"]


def test_token_pmi_symmetric_and_bounded(spark):
    import math

    from graph_database_spark.catalog import q_token_pmi
    from graph_database_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    rows = q_token_pmi(spark, sf).collect()
    assert rows
    n_docs = load_table(spark, sf, "documents").count()
    for r in rows:
        assert r.term_a < r.term_b
        # PMI can never exceed ln(N / c_ab) (when the pair is perfectly
        # correlated, df_a = df_b = c_ab).
        assert r.pmi_micro <= round(math.log(n_docs / r.c_ab) * 1e6) + 1


def test_heaps_fit_beta_in_range(spark):
    from graph_database_spark.catalog import q_heaps_fit

    r = q_heaps_fit(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_points >= 10
    # Vocabulary growth is monotone, so the ln-ln slope is non-negative
    # and cannot exceed 1 (vocab can't grow faster than tokens). The
    # driver's synthetic corpus saturates its tiny vocabulary before the
    # first checkpoint, so beta == 0.0 exactly there.
    assert 0.0 <= r.beta <= 1.0
