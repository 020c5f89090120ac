"""Dedup operator fixtures: planted near-duplicates on a toy corpus."""

from __future__ import annotations

import hashlib
import re

import pytest

from graph_database_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees today"
)
DOCS = [
    (1, BASE),
    (2, BASE),                                   # exact dup of 1
    (3, BASE.replace("lazy", "sleepy")),          # near-dup of 1
    (4, "completely different text about spark dataframes and shuffles "
        "partitions catalyst optimizer whole stage codegen adaptive execution"),
    (5, "The quick brown fox jumps over the lazy dog, while the cat sleeps "
        "near the warm fire and the birds sing in the tall green trees today!"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    rows = {r["doc_id"]: r["group_size"] for r in D.exact_dedup(docs).collect()}
    assert rows[1] == 2          # 1 and 2 share raw text
    assert rows[3] == rows[4] == rows[5] == 1


def test_normalized_dedup_collapses_punctuation(docs):
    rows = {r["doc_id"]: r["group_size"] for r in D.normalized_dedup(docs).collect()}
    assert rows[1] == 3          # 5 differs only in case/punctuation
    assert rows[3] == rows[4] == 1


def _signatures(docs, **kw):
    sig = {}
    for r in D.minhash_signatures_md5(docs, **kw).collect():
        sig.setdefault(r["doc_id"], {})[r["seed"]] = r["minhash"]
    return {d: [by_seed[j] for j in sorted(by_seed)] for d, by_seed in sig.items()}


def test_minhash_signature_positions_differ(docs):
    """Regression for the HOF (element, index) lambda-binding bug: all
    signature positions used to collapse to one value."""
    sig = _signatures(docs)[1]
    assert len(sig) == 16
    assert len(set(sig)) > 8


def _py_minhash(text, n_hashes=16, k=3):
    """Python reference of dedup._md5_sig: normalize, tokenize, k-word
    shingles (whole-text fallback below k tokens), per seed j the min of
    int(md5("<j>|<shingle>")[:15], 16)."""
    toks = [t for t in re.sub(r"[^a-z0-9 ]", "", text.lower()).split(" ") if t]
    shingles = (
        [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        if len(toks) >= k else [" ".join(toks)]
    )
    return [
        min(int(hashlib.md5(f"{j}|{s}".encode()).hexdigest()[:15], 16) for s in shingles)
        for j in range(n_hashes)
    ]


def test_minhash_signatures_match_python_md5(docs, spark):
    """The row-local signature fold equals a hashlib reference on every
    fixture doc, plus a short doc (< 3 tokens) and an empty one that take
    the whole-text fallback shingle."""
    extra = spark.createDataFrame(
        [(6, "Hello, world"), (7, "!!!")], "doc_id long, text string"
    )
    got = _signatures(docs.unionByName(extra))
    want = {d: _py_minhash(t) for d, t in DOCS + [(6, "Hello, world"), (7, "!!!")]}
    assert got == want


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in D.minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0   # normalization-identical
    assert (1, 3) in pairs                            # one-token edit
    assert not any(4 in p for p in pairs)


def test_simhash_pairs_find_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.simhash_pairs(docs).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 5)] == 0
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_exact_value(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    # doc 3 = one substituted token among 24 -> 21 of 22 distinct
    # 3-shingles shared... exact value pinned by set arithmetic below.
    toks = BASE.split()
    sh1 = {" ".join(toks[i:i+3]) for i in range(len(toks) - 2)}
    toks3 = BASE.replace("lazy", "sleepy").split()
    sh3 = {" ".join(toks3[i:i+3]) for i in range(len(toks3) - 2)}
    expected = len(sh1 & sh3) / len(sh1 | sh3)
    assert pairs[(1, 3)] == pytest.approx(expected)


def test_staged_dedup_pipeline(docs, spark):
    """docs 1,2,5 collapse at the normalized tier (lowest id 1 survives);
    1 vs 3 is a near-dup pair -> one component keeper; 4 unique."""
    rows = {r["doc_id"]: r["stage"] for r in D.staged_dedup(docs, threshold=0.3).collect()}
    assert rows == {1: "near_dup_keeper", 4: "unique"}


def test_hash_embedding_properties(docs, spark):
    """Hash-trick embeddings: integer ±1 count histograms, deterministic,
    and cosine reflects textual similarity (near-dups ~1, unrelated much
    lower)."""
    from pyspark.sql import functions as F

    from graph_database_spark.functions.textnorm import tokens
    from graph_database_spark.operators.text import hash_embedding
    from graph_database_spark.operators.similarity import cosine_pairs_above

    emb = hash_embedding(docs, dim=64)
    rows = {r["doc_id"]: r["embedding"] for r in emb.collect()}
    n_tok = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
    }
    assert all(len(v) == 64 for v in rows.values())
    for d, v in rows.items():
        # Each token adds ±1 to one bucket: integer coordinates whose
        # absolute sum is at most the token count, with the same parity.
        assert all(x == int(x) for x in v)
        mass = int(sum(abs(x) for x in v))
        assert mass <= n_tok[d] and (n_tok[d] - mass) % 2 == 0, (d, mass)
    assert rows[1] == rows[2]  # identical text -> identical embedding

    sims = {(r["id_a"], r["id_b"]): r["sim"]
            for r in cosine_pairs_above(emb, threshold=-1.0, id_col="doc_id",
                                        vec_col="embedding", grid_blocks=2).collect()}
    assert sims[(1, 2)] == 1.0
    assert sims[(1, 3)] > 0.9        # one-token edit
    assert sims[(1, 4)] < 0.5        # unrelated text


def test_winnow_fingerprints_guarantee_and_tiebreak(docs, spark):
    """Winnowing invariants: (a) identical docs share the identical
    fingerprint set; (b) docs sharing a long run (window+k-1 tokens)
    share at least one fp VALUE; (c) positions are within the shingle
    range; (d) short docs (< k tokens) still produce one fingerprint."""
    out = D.winnow_fingerprints(docs, k=5, window=4)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    assert by_doc[1] == by_doc[2]  # exact dup -> identical (pos, fp) set
    fps = {d: {fp for _, fp in s} for d, s in by_doc.items()}
    assert fps[1] & fps[3]   # near-dup shares a guaranteed window
    assert fps[1] & fps[5]   # punctuation/case variant normalizes equal
    assert not (fps[1] & fps[4])  # unrelated text shares nothing
    short = spark.createDataFrame([(9, "just three tokens")], "doc_id long, text string")
    srows = D.winnow_fingerprints(short, k=5, window=4).collect()
    assert len(srows) == 1 and srows[0]["pos"] == 1


def test_doc_chunks_windows(spark):
    from graph_database_spark.operators.text import doc_chunks

    toks = " ".join(f"t{i}" for i in range(10))   # 10 tokens
    df = spark.createDataFrame(
        [(1, toks), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    out = doc_chunks(df, chunk_tokens=4, stride=3)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["start_tok"], r["n_tok_chunk"], r["chunk_text"])
        for r in out.collect()
    )
    # doc 1: starts at 0,3,6,9 -> lengths 4,4,4,1
    assert [(c, s, n) for d, c, s, n, _ in rows if d == 1] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1)
    ]
    assert rows[0][4] == "t0 t1 t2 t3"
    assert rows[3][4] == "t9"
    # doc 2 (3 tokens < chunk): one chunk, full text
    assert [(c, s, n, t) for d, c, s, n, t in rows if d == 2] == [(0, 0, 3, "a b c")]
    # empty doc: no chunks
    assert not [r for r in rows if r[0] == 3]
