"""Text retrieval / LM-scoring operators (SURVEY.md §2.11 X5 extension):
TF-IDF term extraction, BM25 ranked search, corpus-unigram LM scoring.

These extend the reference's text surface (it has none — src/main.js is
graph-only; the documents table is the driver's LLM-pipeline testbed)
with the retrieval primitives a training-data pipeline needs: keyword
extraction for clustering/labeling, BM25 for quality-targeted sampling
and benchmark retrieval, and a corpus-trained unigram LM as a CCNet-style
quality signal (low mean -log p ⇒ in-distribution text).

Cross-engine exactness strategy (every operator here is oracle-checked):

* ``ln`` differs between libm implementations in the last ulp (see
  SCALE.md's HLL note), so no ranking or aggregation may depend on raw
  ``ln`` doubles. Each per-term score is snapped to integer micro-units
  (``CAST(round(score * 1e6) AS BIGINT)``) BEFORE any sum or sort:
  integer sums are order-independent (unlike FP sums across Spark's
  nondeterministic partition order) and integer ranking is total. An
  ulp flip only matters if ``score*1e6`` lands exactly on a rounding
  boundary — probability ~1e-10 per distinct term.
* All divisions keep identical operand trees in the Spark and DuckDB
  expressions; IEEE 754 division/multiplication are exactly specified,
  so identical operands ⇒ identical bits on both engines.
* DuckDB parses ``1.2`` as DECIMAL — fractional literals are written as
  ``CAST(.. AS DOUBLE)`` in oracle SQL to match Spark's double literals.

At 100 TB: the exploded token frame is the only large intermediate;
``tf`` is one map-side-combinable shuffle, the term-level model tables
(df / unigram probs) are vocabulary-sized and broadcast back onto the
token or doc frame, and per-doc aggregation is a combinable integer sum.
No all-pairs stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from graph_database_spark.functions.textnorm import tokens
from graph_database_spark.operators.spread import spread

__all__ = [
    "tfidf_top_terms",
    "bm25_search",
    "unigram_logprob",
    "bigram_logprob",
    "doc_kl_divergence",
    "phrase_search",
    "hybrid_rrf_search",
]

_MICRO = 1_000_000.0


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term) — one row per token occurrence, compute spread."""
    return spread(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )


def _micro(col) -> F.Column:
    """Snap a double score to integer micro-units (see module docstring)."""
    return F.round(col * F.lit(_MICRO), 0).cast("long")


def tfidf_top_terms(docs: DataFrame, top: int = 5) -> DataFrame:
    """Top-``top`` TF-IDF terms per document:
    ``(doc_id, term, tfidf, rank)``.

    tfidf = tf * ln((N+1)/(df+1)) (smoothed idf), ranked on the
    micro-unit integer with term as the total-order tiebreak. Two
    shuffles (tf, df) + one per-doc window; df is vocabulary-sized and
    broadcast onto tf by AQE.
    """
    terms = _doc_terms(docs)
    # tf feeds both the df aggregation and the scored join — checkpoint
    # so the explode+groupBy pipeline runs once (CLAUDE.md reuse rule).
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_micro",
            _micro(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1)).cast("double")
                )
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select(
            "doc_id",
            "term",
            (F.col("tfidf_micro") / F.lit(_MICRO)).alias("tfidf"),
            "rank",
        )
    )


def _term_scores(terms, dl, query_terms, k1: float = 1.2, b: float = 0.75):
    """Per (doc_id, term) BM25 micro scores for the given term set —
    the scoring core shared by bm25_search and prf_search (identical
    expression tree, so both oracles mirror one formula)."""
    tf = (
        terms.filter(F.col("term").isin(query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    k1c, bc = F.lit(float(k1)), F.lit(float(b))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tnorm = (F.col("tf") * (k1c + F.lit(1.0))) / (
        F.col("tf")
        + k1c
        * (
            F.lit(1.0)
            - bc
            + bc * (F.col("dl").cast("double") / avgdl)
        )
    )
    return (
        tf.join(df_, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("s_micro", _micro(idf * tnorm))
    )


def prf_search(
    docs: DataFrame,
    query_terms: list[str],
    fb_docs: int = 5,
    fb_terms: int = 3,
    top: int = 20,
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (Rocchio/RM3-style two-pass):
    ``(rank, doc_id, matched, score_micro)``.

    Round 1 ranks with BM25; the ``fb_docs`` top documents vote
    expansion terms (highest term frequency inside the feedback set,
    excluding the original query; ties on the term string); round 2
    re-scores with original terms at weight 1.0 and expansion terms at
    0.5 — weights applied as exact ppm integers over the micro scores,
    so the final ranking is BIGINT-deterministic. The expansion set is
    a bounded model fetch (``fb_terms`` strings, the kmeans-centroid
    discipline); the oracle derives the same set in SQL.
    """
    terms = _doc_terms(docs).localCheckpoint()
    dl = (
        terms.groupBy("doc_id").agg(F.count("*").alias("dl")).localCheckpoint()
    )
    s1 = _term_scores(terms, dl, query_terms)
    agg1 = s1.groupBy("doc_id").agg(F.sum("s_micro").alias("sum_micro"))
    fb = agg1.orderBy(F.desc("sum_micro"), F.asc("doc_id")).limit(fb_docs)
    exp = (
        terms.join(F.broadcast(fb.select("doc_id")), "doc_id")
        .where(~F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(F.count("*").alias("ftf"))
        .orderBy(F.desc("ftf"), F.asc("term"))
        .limit(fb_terms)
    )
    exp_terms = [r["term"] for r in exp.collect()]
    s2 = _term_scores(terms, dl, list(query_terms) + exp_terms)
    weighted = s2.withColumn(
        "w",
        F.when(F.col("term").isin(query_terms), F.lit(1000000))
        .otherwise(F.lit(500000))
        .cast("long"),
    ).withColumn("ws", F.expr("(w * s_micro) div 1000000"))
    agg2 = weighted.groupBy("doc_id").agg(
        F.count("*").alias("matched"), F.sum("ws").alias("score_micro")
    )
    topk = agg2.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(top)
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "matched", "score_micro"
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval for a bag-of-terms query:
    ``(rank, doc_id, matched, score)`` — top-``top`` docs.

    Standard Robertson/Sparck-Jones BM25: per matched term
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` with
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``; the per-term scores are
    summed per doc in micro-units. Ranking ties break on doc_id, so the
    top-k cut is total-ordered. The doc-length/avgdl stats ride a
    single-row broadcast; only the query's own terms (a handful) leave
    the tf aggregation.
    """
    terms = _doc_terms(docs).localCheckpoint()
    dl = (
        terms.groupBy("doc_id")
        .agg(F.count("*").alias("dl"))
        .localCheckpoint()
    )
    scored = _term_scores(terms, dl, query_terms, k1, b)
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("matched"), F.sum("s_micro").alias("sum_micro")
    )
    # Distributed top-k first (TakeOrderedAndProject — per-partition heaps,
    # no global single-partition window over every matched doc), then the
    # rank window runs on only `top` rows.
    topk = agg.orderBy(F.desc("sum_micro"), F.asc("doc_id")).limit(top)
    w = Window.orderBy(F.desc("sum_micro"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "doc_id",
            "matched",
            (F.col("sum_micro") / F.lit(_MICRO)).alias("score"),
        )
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-unigram LM score per document:
    ``(doc_id, n_tokens, avg_neglogprob)``.

    Trains the unigram model on the corpus itself (MLE, no smoothing —
    every scored token is in-vocabulary by construction) and scores each
    doc by mean -ln p(token) — the CCNet-style in-distribution quality
    signal; high values flag out-of-distribution/junk docs. Per-token
    costs are integer micro-units so the per-doc sum is exact under any
    partition order. The model (vocabulary-sized) broadcasts onto the
    token frame; the per-doc sum is one combinable shuffle.
    """
    terms = _doc_terms(docs).localCheckpoint()
    counts = terms.groupBy("term").agg(F.count("*").alias("c"))
    total = terms.agg(F.count("*").alias("t"))
    model = counts.crossJoin(F.broadcast(total)).select(
        "term",
        _micro(
            F.log(F.col("t").cast("double") / F.col("c").cast("double"))
        ).alias("nlp_micro"),
    )
    return (
        terms.join(F.broadcast(model), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("nlp_micro").alias("sum_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                (F.col("sum_micro").cast("double") / F.col("n_tokens").cast("double"))
                / F.lit(_MICRO)
            ).alias("avg_neglogprob"),
        )
    )


def doc_kl_divergence(docs: DataFrame) -> DataFrame:
    """Per-document KL divergence from the corpus unigram distribution:
    ``(doc_id, n_tokens, kl)`` with ``KL(doc || corpus) = sum_t p_d(t)
    ln(p_d(t) / p_c(t))`` — the distribution-shift quality signal that
    separates "unusual word CHOICE" from "unusual word FREQUENCIES"
    (unigram_logprob's mean surprisal only sees the latter's corpus
    side). Always >= 0; high = off-distribution doc.

    Exactness: each term's log-ratio ``ln(c_dt * N / (n_d * C_t))`` is
    snapped to micro-units and weighted by the INTEGER count c_dt, so
    the per-doc sum is partition-order-exact; the single division by
    n_d happens once at the end (the events_resample lesson: derive
    over integers, divide last). Model tables are vocabulary-sized
    broadcasts; one combinable shuffle per aggregation."""
    terms = _doc_terms(docs).localCheckpoint()
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    nd = tf.groupBy("doc_id").agg(F.sum("c").alias("n_tokens"))
    ct = terms.groupBy("term").agg(F.count("*").alias("ct"))
    total = terms.agg(F.count("*").alias("n"))
    scored = (
        tf.join(nd, "doc_id")
        .join(F.broadcast(ct), "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("c")
                * _micro(
                    F.log(
                        (F.col("c") * F.col("n")).cast("double")
                        / (F.col("n_tokens") * F.col("ct")).cast("double")
                    )
                )
            ).alias("w_micro"),
        )
    )
    return scored.groupBy("doc_id", "n_tokens").agg(
        F.round(
            F.sum("w_micro").cast("double")
            / F.col("n_tokens").cast("double")
            / F.lit(_MICRO),
            6,
        ).alias("kl")
    ).select("doc_id", "n_tokens", "kl")


def bigram_logprob(docs: DataFrame, lam: float = 0.75) -> DataFrame:
    """Interpolated bigram LM score per document:
    ``(doc_id, n_scored, avg_neglogprob)`` — the closer SQL-expressible
    analog of CCNet's KenLM quality filter than the unigram model.

    Each position i >= 2 costs ``-ln(lam * p(w_i | w_{i-1}) +
    (1 - lam) * p(w_i))`` with MLE corpus counts; ``lam`` defaults to a
    DYADIC 0.75 so both interpolation products are exactly representable
    weights. Per-position costs snap to integer micro-units before the
    per-doc sum (module docstring); docs with < 2 tokens don't appear.

    Plan: one window (lag over token position, keyed by doc) builds the
    bigram stream; the bigram and unigram models are vocabulary-sized
    aggregations broadcast back onto it; the per-doc sum is one
    combinable integer shuffle.
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = (
        spread(docs)
        .select(
            "doc_id",
            F.posexplode(tokens(F.col("text"))).alias("pos", "term"),
        )
        .localCheckpoint()
    )
    bi = (
        toks.withColumn("prev", F.lag("term").over(w))
        .filter(F.col("prev").isNotNull())
        .localCheckpoint()
    )
    bic = bi.groupBy("prev", "term").agg(F.count("*").alias("cb"))
    ctx = bic.groupBy("prev").agg(F.sum("cb").alias("cp"))
    uni = toks.groupBy("term").agg(F.count("*").alias("cu"))
    tot = toks.agg(F.count("*").alias("t"))
    lamc = F.lit(float(lam))
    p = lamc * (
        F.col("cb").cast("double") / F.col("cp").cast("double")
    ) + (F.lit(1.0) - lamc) * (
        F.col("cu").cast("double") / F.col("t").cast("double")
    )
    scored = (
        bi.join(bic, ["prev", "term"])
        .join(ctx, "prev")
        .join(F.broadcast(uni), "term")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", _micro(-F.log(p)).alias("nlp_micro"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_scored"),
        (
            (
                F.sum("nlp_micro").cast("double")
                / F.count("*").cast("double")
            )
            / F.lit(_MICRO)
        ).alias("avg_neglogprob"),
    )


def phrase_search(docs: DataFrame, n_phrases: int = 3) -> DataFrame:
    """Positional phrase retrieval: ``(phrase, doc_id, matches,
    first_pos)`` for the corpus's ``n_phrases`` most frequent bigram
    phrases — the positional-inverted-index capability (consecutive-term
    match, not bag-of-words) that bm25_search/tfidf cannot express.

    Bigram instances are built ROW-LOCALLY (transform over the token
    array — no positional-index self-join, which would shuffle the whole
    (doc, pos, term) index on doc_id), so the only shuffles are the
    map-side-combinable phrase count and the match rollup on rows that
    survive the broadcast semi-join against the top-k phrase model.
    ``first_pos`` is the 1-based position of the phrase's first word.

    Scale posture: the phrase model is a bounded driver-free broadcast
    (n_phrases rows after a global top-k); the instance explode is
    linear in token count and never materializes per-doc arrays through
    a shuffle.
    """
    bi = (
        spread(docs)
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= 2)
        .select(
            "doc_id",
            # sequence(1, size-1) is safe under the >= 2 guard (Spark's
            # sequence DESCENDS when stop < start); t[i-1]/t[i] are the
            # 0-based bracket reads of the 1-based word pair (i, i+1).
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat_ws(' ', t[i-1], t[i]))"
                )
            ).alias("idx", "phrase"),
        )
        .select(
            "doc_id",
            "phrase",
            (F.col("idx") + 1).cast("long").alias("first_pos"),
        )
        # feeds BOTH the phrase ranking and the match rollup
        .localCheckpoint()
    )
    top = (
        bi.groupBy("phrase")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("phrase"))
        .limit(n_phrases)
        .select("phrase")
    )
    return (
        bi.join(F.broadcast(top), "phrase")
        .groupBy("phrase", "doc_id")
        .agg(
            F.count("*").alias("matches"),
            F.min("first_pos").alias("first_pos"),
        )
        .orderBy("phrase", "doc_id")
    )


def hybrid_rrf_search(
    docs: DataFrame,
    query_terms: list[str],
    top: int = 20,
    leg_k: int = 50,
    rrf_k: int = 60,
    dim: int = 64,
) -> DataFrame:
    """Hybrid lexical+dense retrieval fused with Reciprocal Rank Fusion
    (Cormack/Clarke/Buettcher 2009): ``(rank, doc_id, in_lex, in_dense,
    rrf_micro)``. The standard modern-RAG ranking stack — BM25 leg and
    embedding-cosine leg each produce a top-``leg_k`` list, and fusion
    scores sum ``1/(rrf_k + rank)`` across the lists.

    Legs: the lexical side is bm25_search unchanged; the dense side
    embeds the corpus AND the query with the md5 hashing trick
    (text.hash_embedding — integer vectors, cross-engine exact) and
    ranks by exact cosine, so the ENTIRE hybrid pipeline stays
    oracle-checkable. Per-leg RRF contributions are snapped to integer
    micro-units before summing, making fusion order-exact: ranks are
    capped at leg_k, so the divisor rrf_k + r <= 110 — none of which
    puts 1e6/(rrf_k+r) on a .5 boundary (for larger divisors some DO,
    e.g. r = 580 gives exactly 1562.5, but an exact dyadic half rounds
    identically in both engines anyway — ADVICE r6 correction).

    Scale: both legs end in distributed top-k (bounded lists); fusion
    joins two <= leg_k-row frames — driver-free, broadcast-trivial."""
    from graph_database_spark.functions.vectors import l2_norm
    from graph_database_spark.operators.similarity import brute_force_topk
    from graph_database_spark.operators.text import hash_embedding

    lex = bm25_search(docs, query_terms, top=leg_k).select(
        "doc_id", F.col("rank").alias("r_lex")
    )
    # Zero-norm vectors (every token's sign cancelled) would make cosine
    # NaN and Spark sorts NaN first — excluded on both sides.
    # The producer checkpoints BEFORE the norm filter (r15: moved inside
    # hash_embedding): the filter and the two downstream norm/dot
    # evaluations otherwise each re-derive the full per-token md5 fold
    # (CollapseProject substitutes the embedding expression into every
    # reference — 6 copies in the r14 executed plan; in-session A/B:
    # 11.3 -> 3.4 s at sf0.1, rows identical).
    dvec = hash_embedding(docs, dim=dim).where(
        l2_norm(F.col("embedding")) > 0
    )
    qdf = docs.sparkSession.createDataFrame(
        [(-1, " ".join(query_terms))], "doc_id long, text string"
    )
    qvec = hash_embedding(qdf, dim=dim, materialize=False)
    dense = brute_force_topk(
        qvec, dvec, k=leg_k, id_col="doc_id", max_broadcast_rows=None
    ).select(F.col("cand_id").alias("doc_id"), F.col("rank").alias("r_dense"))

    def contrib(r):
        return F.when(
            r.isNotNull(),
            F.round(F.lit(1000000.0) / (r + F.lit(rrf_k)), 0).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("r_lex").isNotNull().cast("int").alias("in_lex"),
            F.col("r_dense").isNotNull().cast("int").alias("in_dense"),
            (contrib(F.col("r_lex")) + contrib(F.col("r_dense"))).alias(
                "rrf_micro"
            ),
        )
        .orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
        .limit(top)
    )
    w = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return fused.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "in_lex", "in_dense", "rrf_micro"
    )


def dsir_select(
    docs: DataFrame,
    target_col,
    n_buckets: int = 256,
    top: int = 50,
) -> DataFrame:
    """DSIR-style data selection (the published Data Selection via
    Importance Resampling recipe): estimate hashed-bigram bag-of-words
    models for a TARGET slice and the RAW corpus, weight every doc by
    its importance log-ratio, and keep the top ``top`` — the principled
    "make the crawl look like the curated set" selector that replaces
    ad-hoc quality thresholds.

    ``target_col`` is a boolean Column marking the target slice. Each
    bigram hashes to one of ``n_buckets`` md5 buckets; bucket weight
    lambda_b = ln(((ct+1)/(Nt+B)) * ((Nr+B)/(cr+1))) (add-one
    smoothing over the bucket universe) is snapped to integer
    micro-units BEFORE the per-doc sum (module exactness rule), so doc
    scores are partition-order-exact and the final ranking is a total
    order. Returns ``(doc_id, n_bigrams, w_micro)``, top ``top`` by
    (w_micro desc, doc_id).

    At scale: the model is ``n_buckets`` rows (broadcast); the bigram
    frame is the only large intermediate — one combinable shuffle to
    count buckets, one to sum per-doc scores, and a distributed
    TakeOrdered for the cut. No all-pairs stage, no Python.
    """
    base = spread(docs).select(
        "doc_id",
        target_col.cast("int").alias("is_t"),
        tokens(F.col("text")).alias("arr"),
    )
    bg = base.select(
        "doc_id",
        "is_t",
        F.explode(
            F.expr(
                "CASE WHEN size(arr) < 2 THEN CAST(array() AS array<string>)"
                " ELSE transform(sequence(1, size(arr) - 1),"
                " i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))"
                " END"
            )
        ).alias("g"),
    ).withColumn(
        "b",
        F.expr(
            f"conv(substr(md5(g), 1, 15), 16, 10) % {n_buckets}"
        ).cast("long"),
    ).localCheckpoint()
    cnt = bg.groupBy("b").agg(
        F.sum("is_t").alias("ct"),
        F.count("*").alias("cr"),
    )
    tot = bg.agg(
        F.sum("is_t").alias("nt"), F.count("*").alias("nr")
    )
    # Buckets with zero raw occurrences can never match a bigram, so
    # the model only needs the observed buckets (<= n_buckets rows).
    model = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        _micro(
            F.log(
                (F.col("ct") + F.lit(1)).cast("double")
                / (F.col("nt") + F.lit(n_buckets)).cast("double")
                * (F.col("nr") + F.lit(n_buckets)).cast("double")
                / (F.col("cr") + F.lit(1)).cast("double")
            )
        ).alias("lam_micro"),
    )
    return (
        bg.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lam_micro").alias("w_micro"),
        )
        .orderBy(F.desc("w_micro"), F.asc("doc_id"))
        .limit(top)
    )
