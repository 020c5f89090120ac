"""Text analysis operators (SURVEY.md §2.11 X5): token stats, language
identification, quality scoring, fingerprinting.

All pure column expressions over the ``documents`` table — portable
regexes (Java regex & RE2 agree) so each operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from graph_database_spark.functions.textnorm import (
    BPE_PATTERN,
    TOKEN_PATTERN,
    normalize_text,
    text_fingerprint,
    tokens,
)

# Tiny per-language stopword marker lists for the n-gram/stopword language
# heuristic. Priority order breaks score ties deterministically.
LANG_MARKERS = [
    ("en", ["the", "and", "of", "is", "to"]),
    ("fr", ["le", "la", "et", "les", "des"]),
    ("de", ["der", "die", "und", "das", "ist"]),
    ("es", ["el", "los", "y", "que", "una"]),
    ("zh", ["de", "shi", "zai", "le", "wo"]),
]

__all__ = [
    "LANG_MARKERS",
    "token_stats",
    "language_id",
    "quality_columns",
    "quality_score",
    "readability",
    "fingerprints",
    "hash_embedding",
    "doc_chunks",
    "repetition_stats",
    "common_ngrams",
    "quality_rules",
    "mixture_weights",
    "compression_ratio",
]


def _count_pattern(col, pattern: str) -> Column:
    return F.regexp_count(col, F.lit(pattern))


def _marker_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics:
    ``(doc_id, n_tokens, n_bpe_tokens, n_chars_obs, avg_token_len)``.

    n_tokens: alphanumeric runs; n_bpe_tokens: BPE-ish segmentation
    (letter runs / digit runs / single punctuation). Pure narrow map —
    scales linearly, no shuffle."""
    lowered = F.lower(F.col("text"))
    n_tokens = _count_pattern(lowered, TOKEN_PATTERN)
    n_bpe = _count_pattern(lowered, BPE_PATTERN)
    alnum_chars = F.length(F.regexp_replace(lowered, "[^a-z0-9]", ""))
    return docs.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_obs"),
        F.when(n_tokens > 0, alnum_chars.cast("double") / n_tokens)
        .otherwise(F.lit(0.0))
        .alias("avg_token_len"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language identification:
    ``(doc_id, lang, pred_lang, score)``.

    Scores each language by marker hits per token; argmax with the fixed
    LANG_MARKERS priority for ties. (The synthetic corpus is word soup,
    so accuracy is meaningless — the operator demonstrates deterministic,
    scalable language scoring.)"""
    lowered = F.lower(F.col("text"))
    n_tokens = F.greatest(_count_pattern(lowered, TOKEN_PATTERN), F.lit(1))
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            (_count_pattern(lowered, _marker_pattern(words)).cast("double") / n_tokens).alias(f"s_{code}")
            for code, words in LANG_MARKERS
        ],
    )
    pred = None
    best = None
    for code, _ in LANG_MARKERS:
        s = F.col(f"s_{code}")
        if pred is None:
            pred, best = F.lit(code), s
        else:
            pred = F.when(s > best, F.lit(code)).otherwise(pred)
            best = F.when(s > best, s).otherwise(best)
    return scored.select(
        "doc_id", "lang", pred.alias("pred_lang"), F.round(best, 6).alias("score")
    )


def readability(docs: DataFrame) -> DataFrame:
    """Flesch-style readability per document: ``(doc_id, n_words,
    n_syllables, n_sentences, flesch_micro)`` — 206.835 - 1.015 *
    (words/sentences) - 84.6 * (syllables/words), snapped to integer
    micro-units. Syllables use the standard vowel-group proxy
    (``[aeiouy]+`` runs); sentence count floors at 1 (the synthetic
    corpus has no terminal punctuation — every doc is one "sentence",
    which still ranks docs by word/syllable density). Counting is
    extraction-based on both engines (the _count_pattern rule)."""
    lowered = F.lower(F.col("text"))
    n_words = F.greatest(_count_pattern(lowered, TOKEN_PATTERN), F.lit(1))
    n_syll = _count_pattern(lowered, "[aeiouy]+")
    n_sent = F.greatest(_count_pattern(F.col("text"), "[.!?]"), F.lit(1))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
        n_sent.cast("long").alias("n_sentences"),
        F.round(flesch * 1e6, 0).cast("long").alias("flesch_micro"),
    )


def quality_columns(text: Column) -> dict[str, Column]:
    """The quality-score features of one ``text`` column, by output name:
    ``n_tokens, punct_ratio, stopword_ratio, length_score, quality``.

    Row-local column expressions, so a pipeline annotates rows in place
    (``df.withColumn("quality", quality_columns(F.col("text"))["quality"])``)
    instead of joining ``quality_score`` back on ``doc_id``; the
    definition lives only here."""
    lowered = F.lower(text)
    n_chars = F.greatest(F.length(text), F.lit(1))
    n_tokens = _count_pattern(lowered, TOKEN_PATTERN)
    n_tokens_safe = F.greatest(n_tokens, F.lit(1))
    punct = F.length(F.regexp_replace(lowered, "[a-z0-9\\s]", ""))
    stop = _count_pattern(lowered, _marker_pattern([w for _, ws in LANG_MARKERS for w in ws]))
    punct_ratio = punct.cast("double") / n_chars
    stop_ratio = stop.cast("double") / n_tokens_safe
    length_score = F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
    quality = (
        F.lit(0.4) * length_score
        + F.lit(0.4) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.2) * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
    )
    return {
        "n_tokens": n_tokens.cast("bigint"),
        "punct_ratio": F.round(punct_ratio, 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "length_score": F.round(length_score, 6),
        "quality": F.round(quality, 6),
    }


def quality_score(docs: DataFrame) -> DataFrame:
    """Composite document quality score in [0, 1]:
    ``(doc_id, n_tokens, punct_ratio, stopword_ratio, length_score, quality)``.

    Deterministic arithmetic over counted features — the standard
    pretraining-filter shape (length, punctuation density, stopword
    density); the formula is ``quality_columns``."""
    cols = quality_columns(F.col("text"))
    return docs.select("doc_id", *[c.alias(name) for name, c in cols.items()])


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprints: ``(doc_id, fingerprint)`` — md5 over
    normalized text (portable rolling-hash stand-in; see
    dedup.normalized_dedup for the grouping use). spread() keeps the
    regex+md5 chain off a single partition on small scans."""
    from graph_database_spark.operators.spread import spread

    return spread(docs).select("doc_id", text_fingerprint(F.col("text")).alias("fingerprint"))


def hash_embedding(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Feature-hashing text embedding: ``(doc_id, embedding ARRAY<DOUBLE>)``.

    The hashing trick (Weinberger et al. 2009): every token adds ±1 to
    bucket md5(token) % dim, sign from a second md5 — deterministic,
    vocabulary-free, one HOF pass per row, no shuffle: the cheap
    featurizer that makes the similarity operators (brute_force_topk /
    lsh_topk / cosine_pairs_above) applicable to raw text at any scale.
    The vector is the RAW ±1 count histogram — INTEGER-valued, no
    normalization. Cosine is scale-invariant, so downstream similarity
    equals the normalized form's, while every coordinate is an
    order-independent integer sum: dot products are exact, norms are
    IEEE sqrt of exact integers — the whole featurize-then-match
    composition is cross-engine checkable (md5 is oracle-reproducible
    in SQL). A document whose signs all cancel gets the zero vector;
    callers computing cosine filter it out (0/0 is NaN).

    ``materialize`` (r15, VERDICT r14 #5): the per-token md5 fold is
    checkpointed INSIDE the producer — CollapseProject otherwise
    substitutes it into every downstream reference (norm filters,
    dots, norms: 6 copies in hybrid_search's r14 executed plan).
    Pass False only for frames so small the fold is cheaper than the
    checkpoint job (e.g. a one-row query vector)."""
    from graph_database_spark.functions.textnorm import tokens
    from graph_database_spark.operators.spread import spread

    # Hashes computed ONCE per token into (bucket, sign) structs — the
    # HOF capture rule (referencing them in the per-slot lambda would
    # re-evaluate the md5 chain dim times per token).
    pairs = F.transform(
        tokens(F.col(text_col)),
        lambda t: F.struct(
            F.pmod(
                F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
                F.lit(dim),
            ).alias("b"),
            (
                (
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit("s|"), t)), 1, 1), 16, 10
                    ).cast("long")
                    % 2
                )
                * 2
                - 1
            ).alias("s"),
        ),
    )
    raw = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0).cast("long"), dim),
        lambda acc, p: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda a, i: F.when(i == p["b"], a + p["s"]).otherwise(a),
        ),
    )
    out = spread(docs).select(
        F.col(id_col),
        F.transform(raw, lambda x: x.cast("double")).alias("embedding"),
    )
    return out.localCheckpoint() if materialize else out


def doc_chunks(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking: ``(doc_id, chunk_id,
    start_tok, n_tok_chunk, chunk_text)`` — the context-window prep
    every RAG / training-example pipeline runs before embedding or
    packing. Chunk i covers tokens [i*stride, i*stride + chunk_tokens);
    a chunk exists for every stride offset < n_tokens. Token-less docs
    produce no chunks.

    Row-local HOFs only (tokenize once, slice per chunk) — no shuffle,
    no Python; scales as a narrow map whatever the corpus size."""
    if chunk_tokens < 1 or stride < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    from graph_database_spark.functions.textnorm import tokens
    from graph_database_spark.operators.spread import spread

    toks_df = spread(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    )
    n = F.size("toks")
    # number of chunks = 1 + floor((n - 1) / stride) limited to windows
    # that start before n; identical closed form on both engines.
    n_chunks = F.when(n > 0, ((n - 1) / stride).cast("long") + 1).otherwise(
        F.lit(0).cast("long")
    )
    return (
        toks_df.withColumn("n_chunks", n_chunks)
        .where(F.col("n_chunks") > 0)
        .select(
            id_col,
            "toks",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
            ).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_tok"),
            F.least(
                F.lit(chunk_tokens).cast("long"),
                F.size("toks") - F.col("chunk_id") * stride,
            ).alias("n_tok_chunk"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("toks"),
                    (F.col("chunk_id") * stride + 1).cast("int"),
                    chunk_tokens,
                ),
            ).alias("chunk_text"),
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document token repetition: ``(doc_id, n_tokens, n_distinct,
    repetition)`` with repetition = 1 - distinct/total — the Gopher-style
    within-document duplication signal a curation pipeline thresholds on.

    The corpus is pre-tokenized (single-space separated), so a plain
    split suffices; the token array is materialized once and both counts
    read it as a column (no re-split per expression). Narrow map, no
    shuffle, whole-stage codegen."""
    from graph_database_spark.operators.spread import spread

    with_toks = spread(docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    n_tok = F.size("t")
    n_distinct = F.size(F.array_distinct("t"))
    return with_toks.where(n_tok > 0).select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct"),
        # Single IEEE divide of exact ints, then one subtract: engine-
        # portable bit-for-bit (catalog convention, no rounding needed).
        (F.lit(1.0) - n_distinct.cast("double") / n_tok).alias("repetition"),
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-bigram Shannon entropy in micro-nats —
    the classic gibberish/boilerplate detector (natural text sits in a
    narrow entropy band; keyboard mash scores high, repeated templating
    low). Computed over the single-space-normalized text.

    Exactness: H = ln(N) - (1/N) * sum_c c*ln(c) over bigram counts c.
    Each libm term is micro-snapped BEFORE the weighted sum (the
    CLAUDE.md integer micro-unit rule): h_micro = round(ln(N)*1e6) -
    (sum_c c * round(ln(c)*1e6)) div N — one integer truncating
    division, partition-order-independent. Narrow map + one (doc,
    bigram) count + one per-doc fold.

    Returns ``(doc_id, n_bigrams, h_micro)`` for docs with >= 1 bigram.
    """
    from graph_database_spark.operators.spread import spread

    d = (
        spread(docs)
        .select(
            "doc_id",
            F.array_join(tokens(F.col("text")), " ").alias("norm"),
        )
        .where(F.length("norm") >= 2)
    )
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(norm) - 1),"
                " i -> substring(norm, i, 2))"
            )
        ).alias("b"),
    )
    c = bg.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        (
            F.expr(
                "CAST(round(ln(CAST(sum(c) AS DOUBLE)) * 1000000.0, 0)"
                " AS BIGINT)"
            )
            - F.expr(
                "sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0)"
                " AS BIGINT)) div sum(c)"
            )
        ).cast("long").alias("h_micro"),
    )


def gopher_repetition(docs: DataFrame) -> DataFrame:
    """The full Gopher repetition-filter suite (Rae et al. 2021, Table
    A1), per document in exact integer ppm: fraction of characters in
    the most frequent {2,3,4}-gram (``top{n}_ppm``) and fraction of
    characters in duplicated {5,6,7,8}-grams (``dup{n}_ppm``) —
    the within-document templating signals ``repetition_stats``' plain
    distinct-ratio cannot see (a doc cycling "a b c a b c ..." has high
    2-gram repetition at modest token repetition).

    Character accounting: gram chars = occurrences x length(gram) over
    the single-space-normalized text (overlapping occurrences each
    count, as in the published filter, so ppm can exceed 1e6 on
    degenerate docs — deterministic either way). Top-gram ties break by
    larger char length (max over argmax-count grams) identically in
    both engines. All integer until one trailing div by total_chars.

    Plan: ONE explode of the 7 tagged shingle arrays, one (doc, n,
    gram) count, per-(doc, n) window max + fold, pivot by n — two
    shuffles total (count, per-doc pivot), rows linear in tokens x 7.
    """
    from graph_database_spark.operators.spread import spread

    d = (
        spread(docs)
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .where(F.size("t") > 0)
        .withColumn("tc", F.length(F.array_join("t", " ")))
    )
    shingle_structs = ", ".join(
        f"transform("
        f" CASE WHEN size(t) >= {n}"
        f"  THEN transform(sequence(1, size(t) - {n - 1}),"
        f"       i -> concat_ws(' ', slice(t, i, {n})))"
        f"  ELSE CAST(array() AS array<string>) END,"
        f" g -> struct(CAST({n} AS INT) AS n, g AS g))"
        for n in range(2, 9)
    )
    longs = d.select(
        "doc_id",
        "tc",
        F.explode(F.expr(f"flatten(array({shingle_structs}))")).alias("x"),
    ).select("doc_id", "tc", F.col("x.n").alias("n"), F.col("x.g").alias("g"))
    c = longs.groupBy("doc_id", "n", "g").agg(
        F.count("*").alias("cnt"), F.max("tc").alias("tc")
    )
    w = Window.partitionBy("doc_id", "n")
    m = c.withColumn("charlen", F.length("g").cast("long")).withColumn(
        "mx", F.max("cnt").over(w)
    )
    s = m.groupBy("doc_id", "n").agg(
        F.max("tc").alias("tc"),
        F.max(
            F.when(F.col("cnt") == F.col("mx"), F.col("cnt") * F.col("charlen"))
        ).alias("top_chars"),
        F.coalesce(
            F.sum(
                F.when(F.col("cnt") >= 2, F.col("cnt") * F.col("charlen"))
            ),
            F.lit(0),
        ).alias("dup_chars"),
    )
    def ppm(src: str, n: int) -> F.Column:
        return F.coalesce(
            F.max(
                F.when(
                    F.col("n") == n,
                    F.expr(f"({src} * 1000000) div tc"),
                )
            ),
            F.lit(0),
        ).cast("long")

    return s.groupBy("doc_id").agg(
        *[ppm("top_chars", n).alias(f"top{n}_ppm") for n in (2, 3, 4)],
        *[ppm("dup_chars", n).alias(f"dup{n}_ppm") for n in (5, 6, 7, 8)],
    )


def common_ngrams(docs: DataFrame, n: int = 5, top: int = 20) -> DataFrame:
    """Corpus-level repeated n-gram detector: the ``top`` word n-grams by
    cross-document frequency — ``(gram, n_occurrences, n_docs)``. The
    inter-document boilerplate signal (shared headers/footers/templates)
    that line-level dedup pipelines (CCNet-style) remove.

    Plan: materialize the token array, enumerate window starts with
    sequence+transform (JVM HOFs; slice over a materialized array column
    is O(n) per element, no re-split), explode, then ONE shuffle on gram.
    count_distinct(doc_id) makes the final agg two-phase (expand +
    partial); at 100 TB the exact distinct would be swapped for a KMV/HLL
    sketch per gram (operators/sketches.py) — exact is kept here because
    the oracle checks it."""
    from graph_database_spark.operators.spread import spread

    with_toks = (
        spread(docs)
        .select("doc_id", F.split(F.col("text"), " ").alias("t"))
        # sequence(1, k) with k < 1 would generate a DESCENDING range
        # (Spark semantics), so short documents are filtered out, not
        # clamped.
        .where(F.size("t") >= n)
    )
    grams = with_toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (n - 1)),
                lambda i: F.array_join(F.slice(F.col("t"), i, n), " "),
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "gram")
        .limit(top)
    )


def quality_rules(
    docs: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 100000,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 10.0,
    max_repetition: float = 0.8,
    min_alpha_ratio: float = 0.6,
) -> DataFrame:
    """Gopher-style hard rule filter: one boolean column per rule plus
    the conjunction — ``(doc_id, ok_len, ok_token_len, ok_repetition,
    ok_alpha, keep)``. Per-rule booleans (not just the verdict) are the
    practical output: a curation run reports WHICH rule killed each
    document (rule-attribution histograms drive threshold tuning).

    All rules are single-pass column arithmetic over one materialized
    token array — no shuffle, codegen throughout. Thresholds follow the
    published Gopher ranges adapted to this corpus's pre-tokenized text.
    """
    from graph_database_spark.operators.spread import spread

    with_toks = spread(docs).select(
        "doc_id", F.col("text"), F.split(F.col("text"), " ").alias("t")
    )
    n_tok = F.size("t")
    n_tok_safe = F.greatest(n_tok, F.lit(1))
    # Mean token length over the pre-tokenized stream: character count
    # excluding separators / token count.
    mean_len = (
        (F.length("text") - (n_tok - 1)).cast("double") / n_tok_safe
    )
    repetition = F.lit(1.0) - F.size(F.array_distinct("t")).cast("double") / n_tok_safe
    alpha_ratio = (
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    ok_len = (n_tok >= min_tokens) & (n_tok <= max_tokens)
    ok_token_len = (mean_len >= min_mean_token_len) & (mean_len <= max_mean_token_len)
    ok_repetition = repetition <= max_repetition
    ok_alpha = alpha_ratio >= min_alpha_ratio
    return with_toks.select(
        "doc_id",
        ok_len.alias("ok_len"),
        ok_token_len.alias("ok_token_len"),
        ok_repetition.alias("ok_repetition"),
        ok_alpha.alias("ok_alpha"),
        (ok_len & ok_token_len & ok_repetition & ok_alpha).alias("keep"),
    )


def mixture_weights(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-scaled corpus mixture weights per (lang, source):
    ``(lang, source, n_docs, weight)`` with weight ∝ n_docs^alpha,
    normalized to sum 1 — the standard multinomial-sampling reweighting
    (alpha < 1 upsamples rare strata) a pretraining mix is built from.

    Two tiny aggregates (stratum counts, then the normalizing sum via a
    window over the ~|strata| rows); weight is rounded on both engines
    because pow/sum-of-pows accumulate differently."""
    counts = docs.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))
    total = F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(alpha))).over(
        Window.partitionBy()
    )
    return counts.select(
        "lang",
        "source",
        "n_docs",
        F.round(
            F.pow(F.col("n_docs").cast("double"), F.lit(alpha)) / total, 6
        ).alias("weight"),
    )


def compression_ratio(docs: DataFrame, level: int = 6) -> DataFrame:
    """Per-document zlib compressibility: ``(doc_id, n_bytes,
    n_compressed, ratio)`` with ratio = n_compressed / n_bytes. The
    classic cheap-to-compute quality/redundancy signal (low ratio =
    repetitive boilerplate or generated spam; near-1 = high-entropy
    noise) that RefinedWeb/Gopher-style curation thresholds alongside
    the repetition rules.

    zlib has no SQL analog, so this is the repo's one text-family
    Arrow path: mapInPandas with the DEFLATE call per row (that call
    IS the operator) and everything else batch-level; bytes cross the
    JVM boundary once per Arrow batch, and the output is 4 scalar
    columns — no payload survives downstream. Deterministic for a
    fixed zlib level, so tests/test_r6_operators.py pins exact values
    (rows-only at the driver gate: no oracle can express DEFLATE)."""
    from collections.abc import Iterator

    import pandas as pd

    from graph_database_spark.operators.spread import spread

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            comp = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": pd.Series([len(b) for b in raw], dtype="int64"),
                "n_compressed": pd.Series(comp, dtype="int64"),
            })

    out = spread(docs).select("doc_id", "text").mapInPandas(
        batches, "doc_id long, n_bytes long, n_compressed long"
    )
    return out.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0,
            F.col("n_compressed").cast("double") / F.col("n_bytes").cast("double"),
        ).alias("ratio"),
    )
