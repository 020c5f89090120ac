"""Curation CLI: end-to-end run produces the documented artifacts, its
observed summary counts equal the independent counts they replace, the
row-local annotation equals the join-based one, and one call stays
within its job budget."""

from __future__ import annotations

import json
import random
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from graph_database_spark.corpus_api import Corpus
from graph_database_spark.curate import curate
from graph_database_spark.operators.pii import redact
from graph_database_spark.operators.text import quality_score
from graph_database_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"
CAP = 5
COLS = ["doc_id", "text", "lang", "source", "n_chars", "quality", "lang_pred"]


def test_curate_end_to_end(spark, tmp_path):
    out = str(tmp_path / "curated")
    summary = curate(spark, SF_DIR, out, cap=50)
    assert summary["kept_docs"] <= summary["dedup_survivors"] <= summary["input_docs"]
    assert summary["kept_docs"] > 0

    corpus = spark.read.parquet(f"{out}/corpus")
    assert {"doc_id", "text", "quality", "lang_pred"} <= set(corpus.columns)
    # Stratified cap enforced per (lang, source).
    per = corpus.groupBy("lang", "source").count().collect()
    assert all(r["count"] <= 50 for r in per)
    # Partition pruning available on the lang directory layout.
    assert json.load(open(f"{out}/summary.json"))["kept_docs"] == corpus.count()


def _soup(rng: random.Random, n: int = 30) -> str:
    return " ".join(f"w{rng.randrange(400)}" for _ in range(n))


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    """A documents table exercising every curate stage: two PII docs
    (an email, an IP), a byte-identical duplicate, a case/punctuation
    variant, a MinHash near-duplicate pair (one trailing word differs)
    and one (lang, source) stratum larger than CAP."""
    rng = random.Random(7)
    strata = [("en", "s0")] * 12 + [("en", "s1"), ("fr", "s0"), ("fr", "s1")] * 4
    texts = [_soup(rng) for _ in strata]
    texts[1] = texts[0]  # byte-identical duplicate
    texts[2] = texts[0].upper().replace(" ", ", ", 3) + "!"  # normalized variant
    texts[4] = texts[3].rsplit(" ", 1)[0] + " zzz"  # near-duplicate
    texts[13] += " mail alice.smith@example.com today"
    texts[14] += " from host 10.1.2.3 now"
    d = tmp_path_factory.mktemp("curate_corpus")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "lang": [lang for lang, _ in strata],
                "source": [src for _, src in strata],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    return str(d)


def _join_based_curate(spark, sf_dir: str, cap: int, sample: float):
    """The independent computations the observed summary replaced: four
    separate counts, quality and language joined back on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = Corpus(docs)
    n_in = docs.count()
    if sample < 1.0:
        corpus = Corpus(corpus.sample(sample))
    survivors = corpus.staged_dedup().select("doc_id")
    scrubbed = redact(corpus.docs.join(survivors, "doc_id", "left_semi"))
    kept = Corpus(scrubbed.drop("has_pii"))
    annotated = kept.docs.join(kept.quality().select("doc_id", "quality"), "doc_id").join(
        kept.lang_id().select("doc_id", F.col("lang").alias("lang_pred")), "doc_id"
    )
    rows = Corpus(annotated).stratified(["lang", "source"], cap).select(*COLS).collect()
    counts = {
        "input_docs": n_in,
        "dedup_survivors": survivors.count(),
        "pii_redacted_docs": scrubbed.where(F.col("has_pii") == 1).count(),
        "cap_per_stratum": cap,
    }
    return counts, sorted(map(tuple, rows))


@pytest.mark.parametrize("sample", [1.0, 0.6])
def test_summary_matches_independent_counts(spark, corpus_dir, tmp_path, sample):
    out = str(tmp_path / "curated")
    summary = curate(spark, corpus_dir, out, cap=CAP, sample=sample)
    counts, want_rows = _join_based_curate(spark, corpus_dir, CAP, sample)

    written = spark.read.parquet(f"{out}/corpus")
    got_rows = sorted(map(tuple, written.select(*COLS).collect()))
    assert got_rows == want_rows
    assert summary == {**counts, "kept_docs": written.count()}
    assert json.load(open(f"{out}/summary.json")) == summary
    assert summary["input_docs"] == 24
    if sample == 1.0:
        # Not vacuous: both PII docs counted, the duplicate, the variant
        # and the near-duplicate dropped, the big stratum capped.
        assert summary["pii_redacted_docs"] == 2
        assert summary["dedup_survivors"] == 21
        assert summary["kept_docs"] == 21 - (9 - CAP)
    else:
        assert summary["dedup_survivors"] < 21


def test_curate_quality_is_quality_score(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "curated")
    curate(spark, corpus_dir, out, cap=CAP)
    written = spark.read.parquet(f"{out}/corpus").select("doc_id", "quality")
    # quality_score over the redacted text of the same docs.
    docs = redact(load_table(spark, corpus_dir, "documents"))
    want = quality_score(docs).select("doc_id", "quality")
    got = dict(map(tuple, written.collect()))
    assert got
    assert got == {k: v for k, v in map(tuple, want.collect()) if k in got}


def test_curate_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    out = str(tmp_path / "curated")
    load_table(spark, SF_DIR, "documents")  # schema cached
    group = f"curate-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        curate(spark, SF_DIR, out, cap=50)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 40
