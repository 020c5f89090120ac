"""Deduplication operators for document-scale pipelines (SURVEY.md §2.11 X1/X2).

Five tiers, in increasing fuzziness:
  exact_dedup         hash-groupBy on the raw text          (oracle: yes)
  normalized_dedup    md5 of normalized text                (oracle: yes)
  minhash_lsh_pairs   md5 MinHash + banded LSH pairs        (oracle: yes)
  simhash_pairs       md5 60-bit SimHash + banded hamming pairs (oracle: yes)
  ngram_jaccard_pairs exact Jaccard on LSH candidates       (oracle: yes)

Scale posture: every tier is one or two shuffles.
  - exact/normalized: a single groupBy on the key (map-side combinable).
  - MinHash: one hash family, md5-derived, so DuckDB replays every
    signature and pair. Signatures are computed per-row with JVM
    higher-order functions (no explode of shingles, no Python), then ONE
    shuffle on the band-prefixed bucket key, then pair generation inside
    buckets. Bucket sizes are bounded by collision probability, so the
    pair join never degenerates; at 100 TB the band shuffle is the only
    wide stage and it is uniformly keyed by hash.
  - SimHash: signature per-row (60 aggregate expressions over the md5
    token hash array, all codegen'd), banded into 4x15-bit chunks for
    the candidate join, exact hamming <= 3 filter via xor + bit_count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from graph_database_spark.functions.textnorm import normalize_text, text_fingerprint, tokens
from graph_database_spark.operators.sketches import md5_hash60
from graph_database_spark.operators.spread import spread

__all__ = [
    "exact_dedup",
    "normalized_dedup",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_pairs",
    "winnow_fingerprints",
    "minhash_index_md5",
    "incremental_minhash_dedup",
    "ngram_jaccard_pairs",
    "weighted_jaccard_pairs",
    "staged_dedup",
    "duplicate_span_coverage",
    "ngram_containment_pairs",
]


def exact_dedup(docs: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per exact key: ``(doc_id, group_size)``.

    The X1 operator: one map-side-combinable aggregation; at scale the
    shuffle key is the full text hash (Spark hashes group keys), so no
    skew unless the corpus has mega-duplicates — AQE skew handling covers
    that."""
    return docs.groupBy(key).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("group_size")
    ).select(id_col, "group_size")


def normalized_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup dedup on the deterministic normalized-text fingerprint:
    ``(fingerprint, doc_id, group_size)`` keeping the lowest id.

    The regex+md5 chain is the compute; spread() keeps it off a single
    partition when the scan arrives as one (measured 2.3x at sf0.1 —
    VERDICT r2 §wrong 3)."""
    return (
        spread(docs).select(F.col(id_col), text_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("group_size"))
        .select("fingerprint", id_col, "group_size")
    )


def _shingles_from(toks: Column, k: int = 3) -> Column:
    """Array of k-word shingles from a TOKENS COLUMN REFERENCE.

    ``toks`` must be a materialized column (not an expression tree):
    Catalyst inlines outer expressions captured by HOF lambdas into the
    lambda body and re-evaluates them PER ELEMENT — capturing the full
    normalize/split/filter pipeline here turns an O(n) shingle pass into
    O(n^2) regex evaluations per document (measured ~10x the cost of the
    64-permutation hashing it feeds)."""
    n = F.size(toks)
    return F.when(n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def _tokens_df(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, toks) with tokenization materialized (spread + checkpoint) —
    the shared front of every shingle-based operator."""
    return spread(docs).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).localCheckpoint()


_LONG_MAX = (1 << 63) - 1


def _md5_sig(toks: DataFrame, n_hashes: int, shingle_k: int) -> DataFrame:
    """MinHash signatures ``(id, sig)``, ``sig`` an ARRAY<BIGINT>[n_hashes],
    from a materialized ``(id, toks)`` frame: the one MinHash hash family,
    shared by every signature, index and pair builder below.

    Permutation j hashes a shingle s to the first 15 hex digits of
    md5("<j>|<s>") read as a 60-bit integer. Any engine reproduces that,
    so DuckDB replays the signatures (the ``minhash_signatures`` oracle)
    and every pair set built on them. The signature is ONE row-local
    fold over the shingle array: an n_hashes-slot accumulator updated
    with elementwise least(). No explode, no shuffle, nothing leaves the
    JVM; duplicate shingles need no dedup (min is idempotent).

    NB the per-permutation hash MUST capture j as a plain Python int via a
    closure built outside any HOF lambda: a `lambda s, j=j:` two-parameter
    lambda is interpreted by PySpark's HOF binder as (element, index),
    silently binding j to the array-index column and collapsing all
    signature positions to the same value.
    """

    def _hashes(s: Column) -> Column:
        # One independent seeded hash per permutation. (A cheaper
        # Kirsch–Mitzenmacher h1 + j*h2 family was tried and rejected:
        # the argmin over shingles is then nearly the same shingle for
        # every j, correlating signature positions and inflating the
        # Jaccard estimate ~30x in false-positive pairs.)
        return F.array(*[
            md5_hash60(F.concat(F.lit(f"{j}|"), s)) for j in range(n_hashes)
        ])

    return toks.select(
        "id",
        F.aggregate(
            _shingles_from(F.col("toks"), shingle_k),
            F.array_repeat(F.lit(_LONG_MAX).cast("long"), n_hashes),
            lambda acc, s: F.zip_with(acc, _hashes(s), lambda a, b: F.least(a, b)),
        ).alias("sig"),
    )


def minhash_signatures_md5(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures in long form: ``(doc_id, seed, minhash)`` rows.

    The catalog's `minhash_signatures` query hashes these against DuckDB:
    the oracle that pins the MinHash MATH itself, beside
    ``ngram_jaccard_exact`` (the true PAIR SET) and ``dedup_minhash``
    (banding + estimator).

    Plan: tokens checkpointed once (spread off the single-file scan), the
    row-local signature fold, then posexplode to long form. No shuffle.
    """
    sig = _md5_sig(_tokens_df(docs, text_col, id_col), n_hashes, shingle_k)
    return sig.select(
        F.col("id").alias(id_col), F.posexplode("sig").alias("seed", "minhash")
    )


def _band_index(
    toks: DataFrame, n_hashes: int, bands: int, shingle_k: int
) -> DataFrame:
    """``minhash_index_md5`` rows from a materialized ``(id, toks)`` frame."""
    rows = n_hashes // bands
    sig = _md5_sig(toks, n_hashes, shingle_k).localCheckpoint()
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat(
                        b.cast("string"),
                        F.lit("|"),
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        ),
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.key")


def minhash_index_md5(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Banded MinHash signature index ``(id, sig, band, key)`` — the
    persistable corpus-side artifact of the LSH dedup pipeline (one row
    per document per band; ``sig`` is the n_hashes-long md5 signature
    the estimator reads, ``key`` the band's bucket key).

    This is the frame a 100 TB pipeline WRITES once per corpus (bucketed
    by ``key``) and appends to: ``minhash_lsh_pairs`` derives its
    candidate join from the same banding, and
    ``incremental_minhash_dedup`` probes a NEW batch against it without
    touching corpus texts — probe cost scales with the batch, not the
    corpus. ``key`` is band-PREFIXED
    ("<band>|<row values>") so every bucket join is a SINGLE-column
    equality: since Spark 3.3 EnsureRequirements demands co-partitioning
    on ALL join keys, a (band, key) two-column join against a
    key-bucketed table re-shuffles the index side ("Bucketed: false,
    disabled by query planner" — measured r13); the packed key is the
    same tb-packing discipline sinks/ann.build_lsh_index uses.
    Checkpointed: every consumer joins it at least twice (self-join or
    probe + readout)."""
    return _band_index(_tokens_df(docs, text_col, id_col), n_hashes, bands, shingle_k)


def _sig_agreement(n_hashes: int):
    """est_jaccard between the aliased ``a.sig``/``b.sig`` of a bucket
    join — computed INSIDE the join so downstream dedups shuffle scored
    scalars, never the signatures (the SCALE.md payload rule)."""
    return (
        F.aggregate(
            F.zip_with(
                F.col("a.sig"),
                F.col("b.sig"),
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda acc, m: acc + m,
        ).cast("double")
        / F.lit(n_hashes)
    )


def incremental_minhash_dedup(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Append-batch near-dup dedup (r13, VERDICT r12 #7): probe a NEW
    document batch against a PERSISTED corpus signature index without
    recomputing any corpus signature — the missing shape for a real
    100 TB pipeline, which is append-heavy.

    ``index``: corpus-side ``minhash_index_md5`` rows (read back from
    its parquet sink in production; only its (id, key, sig) columns
    are touched — band is packed into the key and never read). ``batch``: new documents. Returns one row per batch
    document: ``(doc_id, corpus_dups, batch_dups, kept)`` where
    corpus_dups counts distinct corpus documents with estimated Jaccard
    >= threshold, batch_dups counts distinct SMALLER-id batch documents
    likewise (greedy predecessor rule — a batch doc is dropped by any
    earlier near-dup whether or not that one was itself dropped,
    matching staged_dedup's keep semantics), and kept = both are zero.

    Equivalence contract (the oracle): running the same banding over
    corpus UNION batch from scratch, with the order "corpus before
    batch, then id", yields exactly these decisions — so appending
    batches is semantically the same as re-running the full dedup,
    while costing one batch-side signature pass + one (band, key)
    bucket join against the index. Scale: the probe shuffle carries the
    batch's signatures only; the corpus side arrives pre-bucketed (at
    rest: bucketed parquet on the band key), so probe cost scales with
    |batch|, not |corpus| (SCALE.md r13 row)."""
    bidx = minhash_index_md5(
        batch, text_col, id_col, n_hashes, bands, shingle_k
    ).localCheckpoint()
    est = _sig_agreement(n_hashes)
    probe = (
        bidx.alias("a")
        .join(
            # single-column key equality (band is packed into the key) —
            # the bucketed-index probe stays shuffle-free on the index
            # side under Spark 3.3+'s all-cluster-keys co-partitioning.
            index.select("id", "sig", "key").alias("b"),
            F.col("a.key") == F.col("b.key"),
        )
        .select(
            F.col("a.id").alias("id"),
            F.col("b.id").alias("other"),
            est.alias("est"),
        )
        .where(F.col("est") >= threshold)
        .groupBy("id")
        .agg(F.countDistinct("other").alias("corpus_dups"))
    )
    within = (
        bidx.alias("a")
        .join(
            bidx.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id"),
            F.col("b.id").alias("other"),
            est.alias("est"),
        )
        .where(F.col("est") >= threshold)
        .groupBy("id")
        .agg(F.countDistinct("other").alias("batch_dups"))
    )
    ids = bidx.select("id").distinct()
    return (
        ids.join(probe, "id", "left")
        .join(within, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("corpus_dups", F.lit(0)).cast("long").alias("corpus_dups"),
            F.coalesce("batch_dups", F.lit(0)).cast("long").alias("batch_dups"),
            (
                F.coalesce("corpus_dups", F.lit(0))
                + F.coalesce("batch_dups", F.lit(0))
                == 0
            ).alias("kept"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH:
    ``(id_a, id_b, est_jaccard)`` with id_a < id_b, est >= threshold.

    est_jaccard = fraction of agreeing signature positions (the unbiased
    MinHash estimator); k/n_hashes is a dyadic rational for n_hashes=16,
    so the double compares exactly. Every hash is md5-derived, so DuckDB
    replays the whole pipeline: ``minhash_signatures`` pins the hash/min
    MATH, ``ngram_jaccard_exact`` the true PAIR SET, and
    ``dedup_minhash`` (16 x 8) / ``dedup_minhash_md5`` (16 x 4) this
    BANDING + estimator. 16 hashes in 8 bands of 2 rows finds the same
    pairs at sf0.01 and sf0.1 as the 64 x 16 configuration it replaced
    (SCALE.md "One MinHash family").

    Plan (the SCALE.md payload rule applied): tokens and signatures
    checkpointed once; ONE bucket-key shuffle carrying the 16-long
    signature (128 bytes — the scalar-sized payload, not the text); the
    estimator is computed INSIDE the bucket join so the dedup shuffles
    only scored scalar rows.
    """
    toks = _tokens_df(docs, text_col, id_col)
    return _minhash_pairs(toks, n_hashes, bands, shingle_k, threshold)


def _minhash_pairs(
    toks: DataFrame, n_hashes: int, bands: int, shingle_k: int, threshold: float
) -> DataFrame:
    banded = _band_index(toks, n_hashes, bands, shingle_k)
    a, b = banded.alias("a"), banded.alias("b")
    est = _sig_agreement(n_hashes)
    return (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): ``(doc_id, pos, fp)`` — per sliding window of
    ``window`` consecutive k-token-shingle hashes, keep the minimal hash
    (ties -> RIGHTMOST position), then distinct per document. Guarantees
    any shared run of ``window + k - 1`` tokens between two documents
    yields a shared fingerprint — the robust substring-overlap primitive
    exact-hash dedup misses and MinHash only approximates.

    Hashes are the md5 60-bit family (cross-engine exact); selection and
    dedup are row-local HOFs + one explode/distinct — no joins, no
    Python. Docs with fewer than ``k + window - 1`` tokens contribute
    their (possibly single-shingle) minimum so short docs still
    fingerprint."""
    toks_df = _tokens_df(docs, text_col, id_col)
    sh = _shingles_from(F.col("toks"), k)
    # Hash each shingle ONCE into a materialized column (HOF capture
    # rule); 60-bit md5 prefix — the minhash oracle family.
    hashes = F.transform(sh, md5_hash60)
    hdf = toks_df.select(F.col("id").alias(id_col), hashes.alias("h"))
    n = F.size("h")
    w = F.least(F.lit(window), n)  # short docs: one window over all
    # Window starting at p (1-based) spans h[p .. p+w-1]; the struct min
    # over (hash, -pos) picks the smallest hash, rightmost on ties.
    mins = F.transform(
        F.sequence(F.lit(1), n - w + 1),
        lambda p: F.array_min(
            F.transform(
                F.sequence(p, p + w - 1),
                lambda q: F.struct(
                    F.element_at(F.col("h"), q).alias("fp"),
                    (-q).alias("neg_pos"),
                ),
            )
        ),
    )
    return (
        hdf.select(id_col, F.explode(mins).alias("m"))
        .select(
            id_col,
            (-F.col("m.neg_pos")).cast("int").alias("pos"),
            F.col("m.fp").alias("fp"),
        )
        .distinct()
    )


_SIMHASH_BITS = 60


def simhash(text_col) -> Column:
    """60-bit SimHash of the token multiset, as BIGINT.

    bit i of the result = 1 iff sum over tokens of (2*bit_i(md5_hash60(tok))-1)
    is positive. Single pass over the token array (``_simhash_fold``) —
    row-local, shuffle-free, all codegen'd. 60 bits because the md5 token
    hash has 60: every bit votes, none is constant, and DuckDB replays
    the hash (the ``simhash_signatures`` and ``dedup_simhash`` oracles).
    """
    return _simhash_fold(F.transform(tokens(text_col), md5_hash60))


def _simhash_fold(hashes: Column) -> Column:
    """SimHash bit vote over an array of 60-bit token hashes: bit i of
    the result = 1 iff sum over the hashes of (2*bit_i(h)-1) is positive.

    One 60-slot counter array updated with zip_with, then one mask-sum
    assembly. Bit tests use plain-int literal masks captured by closure:
    F.shiftright inside a HOF lambda requires a Python-int shift amount,
    and multi-parameter lambdas are reserved for the HOF binder's
    (element, index) convention.
    """

    def _bit_vec(h: Column) -> Column:
        return F.array(*[
            F.when(h.bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            for i in range(_SIMHASH_BITS)
        ])

    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), _SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, _bit_vec(h), lambda a, b: a + b),
    )
    masks = F.array(
        *[F.shiftleft(F.lit(1).cast("long"), i) for i in range(_SIMHASH_BITS)]
    )
    signed = F.zip_with(sums, masks, lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long")))
    return F.aggregate(signed, F.lit(0).cast("long"), lambda acc, x: acc + x)


def cross_contamination(
    docs: DataFrame,
    eval_ids: DataFrame | None = None,
    ngram: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: ``(doc_id, n_eval_matches)`` — training
    documents sharing at least one ``ngram``-token gram with any
    held-out eval document (the hygiene pass every LLM training corpus
    runs against its benchmark suites; 8-grams are the conventional
    width). ``eval_ids``: one-column DataFrame of eval doc ids; default
    = the deterministic md5-prefix ~5% sample (the same retry-stable
    scheme as sampling.hash_sample).

    Plan: one inverted-index equi-join keyed by the gram string — the
    eval side is pre-shrunk to distinct (eval_doc, gram) pairs, so join
    width tracks the EVAL corpus (small by construction), not the
    training corpus. Boilerplate grams shared by many docs are the skew
    risk; AQE skew-join covers it, and common_ngrams is the audit that
    finds them. Docs shorter than ``ngram`` tokens fall back to one
    whole-doc gram (_shingles_from) — run against DuckDB only where all
    docs meet the length floor (true for the driver corpus, min 10).
    """
    t = _tokens_df(docs, text_col, id_col)
    grams = t.select(
        "id", F.explode(_shingles_from(F.col("toks"), ngram)).alias("g")
    )
    if eval_ids is None:
        eval_ids = docs.select(F.col(id_col).alias("id")).where(
            F.md5(F.col(id_col).cast("string")).substr(1, 2) < "0d"
        )
    else:
        eval_ids = eval_ids.toDF("id")
    eg = (
        grams.join(eval_ids, "id", "left_semi")
        .select(F.col("id").alias("eval_doc"), "g")
        .distinct()
    )
    hits = (
        grams.join(eg, "g")
        .where(F.col("id") != F.col("eval_doc"))
        .select(F.col("id"), "eval_doc")
        .distinct()
    )
    return hits.groupBy(F.col("id").alias(id_col)).agg(
        F.count("*").alias("n_eval_matches")
    )


def contamination_bloom(
    docs: DataFrame,
    ngram: int = 8,
    n_hash: int = 3,
    m_bits: int = 131072,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The 100 TB shape of benchmark decontamination (VERDICT r11 #7):
    a Bloom filter of the EVAL set's distinct ``ngram``-grams, broadcast
    as one driver-side literal and probed map-side by every training
    gram — the corpus side never shuffles for the membership test
    (``cross_contamination``'s inverted-index join moves training grams
    through an exchange; here only the per-doc census aggregation
    does). The exact-membership join rides along ONLY to hash-gate the
    filter's full bit pattern via the false-positive census, exactly as
    ``bloom.bloom_probe_stats`` does — a production pass stops at the
    projection.

    Sizing is an occupancy decision (the LSH ``auto_bits`` rule):
    ``m_bits`` = 131072 with ``n_hash`` = 3 gives ~10 bits/key at the
    shipped sf0.1 eval-gram count (~12.8k distinct grams; measured fp
    ~1.6% there, ~0 at sf0.01). At a real eval-suite scale the knob is
    raising ``m_bits`` with the same formula; the words literal stays
    m_bits/32 longs (4096 here — built as ONE expr string per the
    array-literal rule).

    Returns ``(doc_id, n_grams, n_pass, n_hits, n_false_pos)`` for
    every NON-eval doc with at least one Bloom-positive gram.
    """
    from graph_database_spark.operators.bloom import _pos_sql, bloom_build

    t = _tokens_df(docs, text_col, id_col)
    grams = (
        t.select(
            "id", F.explode(_shingles_from(F.col("toks"), ngram)).alias("g")
        )
        .distinct()
        .localCheckpoint()  # eval build + train probe both read it
    )
    eval_ids = docs.select(F.col(id_col).alias("id")).where(
        F.md5(F.col(id_col).cast("string")).substr(1, 2) < "0d"
    )
    eg = (
        grams.join(eval_ids, "id", "left_semi").select("g").distinct()
    ).localCheckpoint()  # filter build + exact-membership verify
    n_words = m_bits // 32
    words = {
        r["word"]: r["bits"] for r in bloom_build(eg, "g", n_hash, m_bits).collect()
    }
    arr = ", ".join(f"{words.get(w, 0)}L" for w in range(n_words))
    train = grams.join(eval_ids, "id", "left_anti")
    pos_cols = {
        f"p{j}": F.expr(_pos_sql("g", j, m_bits)) for j in range(n_hash)
    }
    # One literal node referenced by all n_hash tests (constant-folded;
    # never carried through the census shuffle — pruned by the select).
    pass_expr = " AND ".join(
        f"(element_at(bf, cast(p{j} div 32 as int) + 1)"
        f" & shiftleft(1L, cast(p{j} % 32 as int))) != 0L"
        for j in range(n_hash)
    )
    probed = (
        train.withColumns(pos_cols)
        .withColumn("bf", F.expr(f"array({arr})"))
        .withColumn("pass", F.expr(pass_expr))
        .select("id", "g", "pass")
        .join(
            F.broadcast(eg.withColumn("member", F.lit(True))), "g", "left"
        )
    )
    return (
        probed.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("pass"), 1)).alias("n_pass"),
            F.count(F.when(F.col("member"), 1)).alias("n_hits"),
            F.count(
                F.when(F.col("pass") & F.col("member").isNull(), 1)
            ).alias("n_false_pos"),
        )
        .where(F.col("n_pass") > 0)
    )


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(doc_id, simhash)``: the ``simhash`` of every document, one
    row-local map. The catalog query pins the bit-vote math (sign of the
    per-bit +/-1 sum over the token MULTISET) against DuckDB."""
    return spread(docs).select(
        F.col(id_col), simhash(F.col(text_col)).alias("simhash")
    )


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs by SimHash: ``(id_a, id_b, hamming)``, hamming <= 3.

    Candidate generation bands the 60-bit hash into 4 chunks of 15 bits —
    any pair with hamming <= 3 agrees on >= 1 chunk (pigeonhole), so the
    banded join loses nothing while avoiding the quadratic scan. The bound
    is fixed at 3 because 4 chunks guarantee no more: a hamming-4 pair
    may differ in every chunk."""
    # Materialized once — both sides of the chunk self-join reuse it.
    sh = spread(docs).select(
        F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh")
    ).localCheckpoint()
    chunks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk"),
                         F.shiftright("sh", 15 * c).bitwiseAND(F.lit(0x7FFF)).alias("val"))
                for c in range(4)
            ])
        ).alias("cc"),
    ).select("id", "sh", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= 3
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 8,
    candidate_margin: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidate pairs:
    ``(id_a, id_b, jaccard)`` with jaccard >= threshold.

    LSH prunes the pair space; the exact verify computes |A∩B| / |A∪B|
    with array_intersect/array_union on the (distinct) shingle arrays —
    still row-local per candidate pair.

    The candidate stage keeps pairs with MinHash-estimated Jaccard >=
    threshold - candidate_margin. The estimator's std at 16 hashes is
    sqrt(J(1-J)/16), at most 0.125, so the default margin sits at least
    1.6 sigma below the target. On a duplicate-heavy corpus the cut caps
    bucket fan-out instead of dragging every band collision into the
    exact-verify join."""
    toks = _tokens_df(docs, text_col, id_col)
    cand = _minhash_pairs(
        toks, n_hashes, bands, shingle_k, max(0.0, threshold - candidate_margin)
    ).select("id_a", "id_b")
    sh = toks.select(
        "id", F.array_distinct(_shingles_from(F.col("toks"), shingle_k)).alias("sh")
    )
    joined = (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "id_a", "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _shared_shingle_counts(
    docs: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """``(id_a, id_b, na, nb, inter)`` for every pair id_a < id_b sharing
    at least one distinct k-shingle: ``inter`` = shared shingles, na/nb =
    each side's distinct-shingle count. Docs shorter than ``shingle_k``
    tokens have no k-shingle and take no part. One self-join of the
    inverted index on the shingle key, grouped by pair."""
    toks = _tokens_df(docs, text_col, id_col)
    inv = (
        toks.where(F.size("toks") >= shingle_k)
        .select(
            "id",
            F.array_distinct(_shingles_from(F.col("toks"), shingle_k)).alias("sh"),
        )
        .select("id", F.size("sh").alias("n"), F.explode("sh").alias("g"))
    )
    return (
        inv.toDF("id_a", "na", "g")
        .join(inv.toDF("id_b", "nb", "g"), "g")
        .where(F.col("id_a") < F.col("id_b"))
        # na/nb are functionally dependent on the ids; grouping on them
        # keeps them available without a join-back.
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )


def ngram_jaccard_exact_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard WITHOUT the LSH prefilter:
    ``(id_a, id_b, jaccard)`` — candidates from a shingle inverted index
    (every pair sharing >= 1 shingle), so every pair above any threshold
    > 0 is considered (the LSH variant's recall is < 1 by construction).
    SQL-expressible end-to-end, hence the hash-verified oracle twin of
    ngram_jaccard_pairs — same exact/approximate split as
    embedding_neardup (exact grid) vs lsh_pairs_above.

    Scale: candidate cost is sum_g C(df_g, 2) over shingle document
    frequencies — fine while no shingle is corpus-common; on a
    boilerplate-heavy corpus drop high-df shingles first (they carry ~0
    Jaccard specificity) or use the LSH variant. Documents shorter than
    ``shingle_k`` tokens are excluded (a k-shingle Jaccard is undefined
    there; the LSH variant hashes a whole-doc fallback instead).

    Plan: the intersection size IS the number of shared inverted-index
    entries, so the whole query is one self-join on the shingle key
    grouped by pair — no distinct-pairs pass, no join-back to the
    shingle arrays, no per-pair array_intersect. Each doc's (distinct)
    shingle count rides along as one extra int per index row; the only
    frames shuffled are (id, n, gram) index rows and (pair, count)
    aggregates. (The original shape deduped candidates first and then
    re-joined both full shingle ARRAYS per pair — at ~50 shingles/doc
    that shuffled ~100 strings per candidate and re-intersected them,
    2.1x slower at sf0.1 with identical output.)"""
    pairs = _shared_shingle_counts(docs, text_col, id_col, shingle_k)
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        pairs.select(
            "id_a", "id_b", (F.col("inter").cast("double") / union).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


def weighted_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micro: int = 500_000,
    hot_threshold: int = 4096,
) -> DataFrame:
    """Exact WEIGHTED (multiset) Jaccard near-dup pairs over
    term-frequency vectors: ``(doc_a, doc_b, inter, union, jw_micro)``
    with ``J_w = sum_t min(a_t, b_t) / sum_t max(a_t, b_t)`` — the
    similarity that distinguishes "same words, very different emphasis"
    from true near-duplicates, which SET Jaccard (ngram_jaccard_exact)
    cannot on low-diversity corpora (the shipped synthetic documents
    have a 31-word vocabulary: almost every pair shares almost every
    TERM, but the count profiles differ).

    Exactness: sum max = tot_a + tot_b - sum min, so the whole score
    reduces to per-pair ``inter = sum min`` + per-doc token totals;
    ``jw_micro = (2*inter*10^6 + union) // (2*union)`` is the half-up
    integer rounding — no IEEE anywhere, trivially cross-engine.

    Plan: ``inter`` comes from bipartite.project_counts with
    ``combine="least"`` — ONE self-join on the term key carrying one
    bigint weight per row (scalar-rides-the-shuffle), hot TERMS (the
    stopword problem: a corpus-common term contributes df^2 candidate
    rows on a single join key) grid-decomposed by the same guard item_cf
    uses for hot baskets. Totals join the CUT pair set. Candidate cost
    is sum_t df_t^2; on a corpus-common-vocabulary input run it on a
    blocked/sampled partition (the catalog query uses a deterministic
    1/10 doc sample) or prefilter high-df terms into an LSH pass."""
    from graph_database_spark.operators.bipartite import project_counts

    tf = (
        spread(docs)
        .select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()  # feeds the projection AND the totals
    )
    tot = tf.groupBy("id").agg(F.sum("c").alias("t"))
    inter = project_counts(
        tf,
        "term",
        "id",
        hot_threshold=hot_threshold,
        out_cols=("doc_a", "doc_b", "inter"),
        weight_col="c",
        combine="least",
    )
    pairs = inter.join(
        tot.select(F.col("id").alias("doc_a"), F.col("t").alias("ta")), "doc_a"
    ).join(tot.select(F.col("id").alias("doc_b"), F.col("t").alias("tb")), "doc_b")
    u = F.col("ta") + F.col("tb") - F.col("inter")
    return (
        pairs.select("doc_a", "doc_b", "inter", u.alias("n_union"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "n_union",
            # integer half-up rounding: `div` is Spark's INTEGER
            # division (a double `/` + cast would round-trip through
            # IEEE); DuckDB mirrors it with `//`
            F.expr(
                "(2 * inter * 1000000 + n_union) div (2 * n_union)"
            ).alias("jw_micro"),
        )
        .where(F.col("jw_micro") >= threshold_micro)
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs >= threshold via PPJoin-style PREFIX
    filtering (Xiao et al., WWW'08) — the third member of the
    exact-Jaccard family, same result contract as
    ``ngram_jaccard_exact_pairs`` (the catalog runs both against ONE
    oracle): ``(id_a, id_b, jaccard)``, id_a < id_b.

    The prefix-filtering principle: order every doc's distinct shingles
    by a GLOBAL rarest-first key (document frequency, then gram); with
    J(A,B) >= t implying |A∩B| >= ceil(t·|A|), the globally-smallest
    shared shingle must sit inside BOTH docs' first
    ``n - ceil(t·n) + 1`` shingles (pigeonhole on the suffix), so
    indexing ONLY prefixes is lossless. Where the full inverted index
    pays sum_g C(df_g, 2) over ALL shingle frequencies — quadratic in
    the document frequency of boilerplate shingles — the prefix index
    drops exactly those high-df shingles out of most prefixes
    (rarest-first puts them last), which is the scale path the
    ngram_jaccard_exact docstring defers to ("drop high-df shingles
    first"), made exact.

    Plan: one df-count aggregation, one per-doc window for the prefix
    cut, one prefix-index self-join to DISTINCT candidate pairs (scalar
    rows), then the PPJoin verify — two id-keyed joins carrying each
    doc's shingle array once per candidate pair and one row-local
    array_intersect. The arrays ride candidate-bounded JOINS, never a
    dedup shuffle (CLAUDE.md); candidate count is what the prefix
    filter shrinks (reduction pinned by tests/test_ppjoin.py)."""
    toks = _tokens_df(docs, text_col, id_col)
    sets_df = (
        toks.where(F.size("toks") >= shingle_k)
        .select(
            "id",
            F.array_distinct(_shingles_from(F.col("toks"), shingle_k)).alias("sh"),
        )
        .withColumn("n", F.size("sh"))
        .localCheckpoint()  # feeds the prefix index AND the verify join
    )
    inv = sets_df.select("id", "n", F.explode("sh").alias("g"))
    dfreq = inv.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    prefix = (
        inv.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .where(
            F.col("rn")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1
        )
        .select("id", "g")
    )
    cand = (
        prefix.toDF("id_a", "g")
        .join(prefix.toDF("id_b", "g"), "g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = sets_df.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sha"), F.col("n").alias("na")
    )
    b = sets_df.select(
        F.col("id").alias("id_b"), F.col("sh").alias("shb"), F.col("n").alias("nb")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        # materialize the intersect size before referencing it twice
        .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def staged_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """The production dedup pipeline, staged: ``(doc_id, stage)`` — one
    row per SURVIVING document, with the stage that last vetted it.

    Order matters at scale (SCALE.md): each stage shrinks the next
    stage's input superlinearly on duplicate-heavy corpora, and near-dup
    pair output is quadratic in the duplication factor, so the hash
    tiers must run first.

      1. exact: keep the lowest id per raw text (byte duplicates gone);
      2. normalized: keep the lowest id per normalized fingerprint
         (case/punctuation/whitespace variants gone);
      3. near-dup: MinHash-LSH pairs over the survivors, grouped into
         transitive components (operators/components.py) — keep each
         component's minimum id.
    """
    from graph_database_spark.operators.components import dedup_groups

    # Stages 1+2 fold into one aggregation: the normalized fingerprint
    # of byte-identical texts is identical, so keeping the lowest id per
    # fingerprint subsumes the exact tier.
    norm_keep = (
        docs.select(F.col(id_col), text_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    survivors = docs.join(norm_keep, id_col, "left_semi").localCheckpoint()

    pairs = minhash_lsh_pairs(
        survivors, text_col=text_col, id_col=id_col, threshold=threshold
    )
    groups = dedup_groups(pairs)
    keepers = groups.where(F.col("is_keeper")).select(F.col("id").alias(id_col))
    dropped = groups.where(~F.col("is_keeper")).select(F.col("id").alias(id_col))
    return (
        survivors.select(id_col)
        .join(dropped, id_col, "left_anti")
        .join(keepers.withColumn("_k", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_k").isNotNull(), F.lit("near_dup_keeper"))
            .otherwise(F.lit("unique"))
            .alias("stage"),
        )
    )


def duplicate_span_coverage(
    docs: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ExactSubstr-style duplicate-span audit: for every document, how
    much of it is covered by token n-grams that occur more than once in
    the corpus — ``(doc_id, n_tokens, dup_spans, covered_tokens,
    coverage)``. The distributed analog of the suffix-array substring
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): instead of a global suffix array, every
    n-token window becomes a hashed span, duplicated spans are found
    with one count-over-hash pass, and per-document coverage is the
    size of the union of the duplicated windows' position intervals.

    The reference has no text operators at all (src/main.js is a
    graph loader); this extends the X2 near-dup family downward to the
    span level, where boilerplate lives.

    Scale shape: span enumeration is a narrow map (JVM HOFs over the
    materialized token array — no Python, no re-split per window);
    the md5-derived 60-bit span key is a SCALAR, so the one wide stage
    (count per span key) never shuffles token payloads (CLAUDE.md
    rule). Position-interval union is an n-way explode of *duplicated*
    starts only — worst case n x the duplicated-span count, nothing at
    all on a clean corpus — followed by one distinct-count per doc.
    The md5 key keeps the operator deterministic and oracle-checkable
    (DuckDB computes the identical key), like the MinHash family."""
    toks = spread(docs).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("t")
    )
    spans = (
        toks.where(F.size("t") >= n)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("i"),
                        md5_hash60(
                            F.array_join(F.slice(F.col("t"), i, n), " ")
                        ).alias("h"),
                    ),
                )
            ).alias("s"),
        )
        .select(id_col, "s.i", "s.h")
    )
    dup = (
        spans.withColumn(
            "cnt", F.count("*").over(Window.partitionBy("h"))
        ).where(F.col("cnt") > 1)
    )
    cov = (
        dup.select(
            id_col, "i",
            F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("pos"),
        )
        .groupBy(id_col)
        .agg(
            F.count_distinct("i").alias("dup_spans"),
            F.count_distinct("pos").alias("covered_tokens"),
        )
    )
    lens = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens"),
    )
    return lens.join(cov, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        # Single IEEE division of exact integers: engine-portable
        # bit-for-bit (catalog convention).
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce("covered_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)).alias("coverage"),
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: ``(id_a, id_b, inter, n_a, n_b,
    cont_a, cont_b)`` with cont_a = |A∩B| / |A| — the asymmetric twin of
    ngram_jaccard_exact_pairs that resemblance misses: a short document
    quoted wholesale inside a long one has near-1 containment but tiny
    Jaccard. This is the quote/subsumption detector (Broder's original
    containment from the 1997 resemblance paper), the shape test-set
    decontamination actually wants. Pairs kept when EITHER direction
    reaches ``threshold``.

    Same scalar-only plan as the Jaccard twin (``_shared_shingle_counts``):
    the intersection size is the count of shared inverted-index entries;
    each side's distinct-shingle count rides the index rows, so no
    shingle arrays are ever shuffled or re-intersected."""
    pairs = _shared_shingle_counts(docs, text_col, id_col, shingle_k)
    cont_a = F.col("inter").cast("double") / F.col("na").cast("double")
    cont_b = F.col("inter").cast("double") / F.col("nb").cast("double")
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            cont_a.alias("cont_a"),
            cont_b.alias("cont_b"),
        )
        .where(
            (F.col("cont_a") >= F.lit(threshold))
            | (F.col("cont_b") >= F.lit(threshold))
        )
    )
