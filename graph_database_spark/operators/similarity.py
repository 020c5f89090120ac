"""Similarity search over embedding columns (SURVEY.md §2.11 X3).

Three paths:
  brute_force_topk    exact cosine top-k — the correctness baseline, and
                      the right plan when the QUERY side is small:
                      broadcast the queries, one scan of the candidates,
                      per-query window top-k.
  cosine_pairs_above  exact all-pairs above a threshold. Exact all-pairs
                      is inherently O(N^2) compute; the scale problem is
                      the PLAN, not the math — a broadcast crossJoin
                      ships the whole table to every executor (or the
                      driver). The grid plan below replicates each row
                      into B cells of a B x B block-pair grid and
                      equi-joins on the cell key: one bounded shuffle
                      (B+1 copies), B*(B+1)/2 independent tasks, no
                      broadcast, no CartesianProduct node.
  lsh_topk /          random-hyperplane LSH bucketing — the sub-quadratic
  lsh_pairs_above     approximate path when both sides are large:
                      1 shuffle on (table, bucket), exact re-rank /
                      verify inside buckets, recall tuned by n_tables.

One hyperplane family serves every LSH caller (the catalog queries,
mutual_knn_graph, operators/lof.py and the persisted index in
sinks/ann.py): md5-parity ±1 signs against integer micro-unit sums, so
DuckDB oracles replay the bucket assignment exactly.

Where the math runs: the exact paths (brute_force_topk,
cosine_pairs_above) are JVM higher-order functions (functions/vectors.py)
with no explode of embeddings. The LSH paths hand vectors to numpy: the
hyperplane sums are one int64 matmul per Arrow batch (``mapInArrow``,
_np_bucket_explode), and the in-bucket re-rank scores each (table,
bucket) cell in one ``applyInPandas`` call (_np_bucket_dots), with the
dot product folded in element order so it is bit-identical to the JVM
left fold. Norms are computed ONCE per row before any join (3x fewer
array traversals per pair than inlining cosine_similarity, which
re-derives both norms pairwise).

Self top-k: ``lsh_topk(df, df)`` detects the self case by object
identity (``queries is candidates``) and then buckets and exchanges the
frame once instead of twice. Two distinct frames with the same rows
give the same result, at twice the bucketing cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from graph_database_spark.functions.vectors import dot, l2_norm
from graph_database_spark.operators.spread import spread

__all__ = [
    "brute_force_topk",
    "cosine_pairs_above",
    "lsh_topk",
    "lsh_pairs_above",
    "mutual_knn_graph",
    "label_centroid_sim",
]


def _with_norm(df: DataFrame, id_col: str, vec_col: str, suffix: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"id{suffix}"),
        F.col(vec_col).alias(f"v{suffix}"),
        l2_norm(F.col(vec_col)).alias(f"n{suffix}"),
    )


def _pair_sim(round_digits: int | None):
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return F.round(sim, round_digits) if round_digits is not None else sim


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    max_broadcast_rows: int | None = 100_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector:
    ``(query_id, cand_id, sim, rank)``, self-matches excluded.

    Plan: broadcast the (small) query side, crossJoin against candidates
    — a map-only stage — then one shuffle for the per-query window
    top-k. Ties broken by cand_id after rounding so ranking is
    engine-deterministic.

    The plan is only sane when the query side is broadcast-sized, so it
    is GUARDED: more than ``max_broadcast_rows`` queries raises instead
    of silently shipping the frame to every executor (pass None to skip
    the count when the caller already knows the side is small). For
    large-vs-large use lsh_topk."""
    if max_broadcast_rows is not None:
        n_q = queries.count()
        if n_q > max_broadcast_rows:
            raise ValueError(
                f"brute_force_topk: query side has {n_q} rows "
                f"(> {max_broadcast_rows}); broadcasting it would flood "
                "executors — use lsh_topk for large-vs-large top-k"
            )
    q = _with_norm(queries, id_col, vec_col, "a").withColumnRenamed("ida", "query_id")
    c = _with_norm(spread(candidates), id_col, vec_col, "b").withColumnRenamed("idb", "cand_id")
    scored = (
        broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", _pair_sim(round_digits).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


def cosine_pairs_above(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    grid_blocks: int = 8,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — exact embedding
    near-dup detection.

    Grid plan: row with block b = pmod(xxhash64(id), B) is replicated to
    cells (b, j>=b) on the left and (i<=b, b) on the right; an equi-join
    on the cell key produces every unordered pair exactly once (same-block
    pairs deduped by id order). Shuffle volume is (B+1) x input; compute
    is evenly spread over B(B+1)/2 cells regardless of data skew, and no
    table is broadcast anywhere. For the sub-quadratic approximate path
    see lsh_pairs_above."""
    B = grid_blocks
    base = _with_norm(spread(vectors), id_col, vec_col, "").withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    )
    left = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"),
        F.explode(
            F.transform(
                F.sequence(F.col("blk"), F.lit(B - 1)),
                lambda j: F.struct(F.col("blk").alias("gi"), j.alias("gj")),
            )
        ).alias("cell"),
    ).select("id_a", "va", "na", "cell.gi", "cell.gj")
    right = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("blk")),
                lambda i: F.struct(i.alias("gi"), F.col("blk").alias("gj")),
            )
        ).alias("cell"),
    ).select("id_b", "vb", "nb", "cell.gi", "cell.gj")
    pairs = left.join(right, ["gi", "gj"]).where(
        (F.col("gi") != F.col("gj")) | (F.col("id_a") < F.col("id_b"))
    )
    # Same-cell joins cover each unordered pair once, but cross-block pairs
    # arrive in hash order — canonicalize ids (vectors travel with them).
    out = pairs.select(
        F.least("id_a", "id_b").alias("lo"),
        F.greatest("id_a", "id_b").alias("hi"),
        _pair_sim(round_digits).alias("sim"),
    )
    return out.where(F.col("sim") >= threshold).select(
        F.col("lo").alias("id_a"), F.col("hi").alias("id_b"), "sim"
    )


def _auto_bits(df: DataFrame, n_bits: int | None, target_bucket: int = 128) -> int:
    """Derive the LSH bucket width from corpus size when the caller
    didn't pin it: n_bits = max(4, ceil(log2(N / target_bucket))), so
    bucket occupancy ~ N / 2^n_bits stays near target_bucket as the
    corpus grows (SCALE.md lesson 2: the 4-bit default floods buckets at
    40k near-dup vectors; this yields 9 bits there). One cheap count()
    against the input; pass n_bits explicitly to skip it."""
    import math

    if n_bits is not None:
        return n_bits
    n = df.count()
    return max(4, math.ceil(math.log2(max(n / target_bucket, 1.0))))


def _np_bucket_explode(
    base: DataFrame, suffix: str, n_bits: int, n_tables: int, signs,
) -> DataFrame:
    """``(id, v, n, table, bucket)`` — one row per (vector, table), with
    buckets from ONE numpy hyperplane-sum kernel per Arrow batch
    (``mapInArrow``, r15; guide §4.2). The r14 shape ran the sums as an
    aggregate/zip_with HOF — dim x total_bits INTERPRETED ops per row.

    Exactness: the micro-int ``xs`` sum against the ±1 int64 sign
    matrix as one int64 matmul — order-free exact integers, the same
    values the oracle's SQL ``sum`` produces. Bucket codes are
    big-endian integer bit-folds.

    ``base`` must be ``(id{suffix}, v{suffix}, n{suffix}, xs)`` with
    ``xs`` the micro-int array.
    """
    import numpy as np

    dim = signs.shape[0]
    id_f, v_f, n_f = f"id{suffix}", f"v{suffix}", f"n{suffix}"
    id_t = base.schema[id_f].dataType.simpleString()
    v_t = base.schema[v_f].dataType.simpleString()
    out_schema = (
        f"{id_f} {id_t}, {v_f} {v_t}, {n_f} double, table int, bucket int"
    )

    def fn(batches):
        import pyarrow as pa

        for b in batches:
            m = b.num_rows
            if m == 0:
                continue
            flat = (
                b.column(3).flatten().to_numpy(zero_copy_only=False)
            )
            if flat.size != m * dim:
                raise ValueError(
                    f"lsh buckets: ragged vectors ({flat.size} values"
                    f" for {m} x {dim})"
                )
            H = flat.reshape(m, dim).astype(np.int64) @ signs
            bi = (H > 0).astype(np.int64)
            codes = np.zeros((m, n_tables), dtype=np.int64)
            for t in range(n_tables):
                acc = np.zeros(m, dtype=np.int64)
                for j in range(n_bits):
                    acc = acc * 2 + bi[:, t * n_bits + j]
                codes[:, t] = acc
            idx = pa.array(np.repeat(np.arange(m, dtype=np.int64), n_tables))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).take(idx),
                    b.column(1).take(idx),
                    b.column(2).take(idx),
                    pa.array(
                        np.tile(np.arange(n_tables, dtype=np.int32), m),
                        type=pa.int32(),
                    ),
                    pa.array(
                        codes.reshape(-1).astype(np.int32), type=pa.int32()
                    ),
                ],
                [id_f, v_f, n_f, "table", "bucket"],
            )

    return base.mapInArrow(fn, out_schema)


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Probe the (fixed) vector dimension with one tiny job. Callers
    bucketing two frames of the same corpus probe once and share it."""
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return first["d"] if first is not None else 1


def _np_bucket_dots(
    qb: DataFrame | None, cb: DataFrame, same: bool, ordered: bool,
    parallelism_mult: int = 2,
) -> DataFrame:
    """``(query_id, cand_id, dt, na, nb)`` — one row per (pair, shared
    (table, bucket)) candidate copy, with ``dt`` the dot product
    accumulated IN ELEMENT ORDER (bit-identical to
    functions.vectors.dot's left fold: each step is one IEEE double
    multiply then one add, which numpy reproduces exactly — no FMA in
    elementwise ops). Norms ``na``/``nb`` pass through untouched from
    the JVM l2_norm, so the downstream ``round(dt/(na*nb), 6)`` in the
    JVM yields the exact bits the old per-row HOF plan produced.

    r15 optimization round (guide §4.2): the in-bucket re-rank was a
    dim-step interpreted zip_with/aggregate per CANDIDATE COPY (~4.2M
    copies x 64 steps at sf0.1); here each (table, bucket) cell hands
    its vectors to numpy ONCE and scores all its pairs as dim
    vectorized outer-product accumulations. For self-joins (``same``)
    the bucketed frame is built and exchanged ONCE instead of twice.

    ``ordered``: emit only id_q < id_c (lsh_pairs_above); otherwise
    both directions minus self-pairs (lsh_topk).

    The repartition is USER-PINNED on the group key: AQE coalesces
    shuffle partitions by BYTES, and these cells are tiny bytes but
    heavy compute (the linkage.py trap) — a pinned count is exempt from
    coalescing and still satisfies applyInPandas' clustering, so no
    extra Exchange appears."""
    import numpy as np
    import pandas as pd

    if same:
        rows = cb.select(
            F.col("idb").alias("id"), F.col("vb").alias("v"),
            F.col("nb").alias("n"), "table", "bucket",
            F.lit(1).alias("side"),
        )
    else:
        rows = qb.select(
            F.col("ida").alias("id"), F.col("va").alias("v"),
            F.col("na").alias("n"), "table", "bucket",
            F.lit(0).alias("side"),
        ).unionByName(
            cb.select(
                F.col("idb").alias("id"), F.col("vb").alias("v"),
                F.col("nb").alias("n"), "table", "bucket",
                F.lit(1).alias("side"),
            )
        )
    id_t = cb.schema["idb"].dataType.simpleString()
    out_schema = (
        f"query_id {id_t}, cand_id {id_t}, dt double, na double, nb double"
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]],
            dtype=np.float64,
        )
        ids = pdf["id"].to_numpy()
        ns = pdf["n"].to_numpy(dtype=np.float64)
        if same:
            qi = ci = np.arange(len(ids))
        else:
            side = pdf["side"].to_numpy()
            qi = np.flatnonzero(side == 0)
            ci = np.flatnonzero(side == 1)
            if qi.size == 0 or ci.size == 0:
                # Typed by the input's own ids, so the Arrow conversion
                # to out_schema holds for any id type, not just bigint.
                return pd.DataFrame(
                    {
                        "query_id": ids[:0], "cand_id": ids[:0],
                        "dt": ns[:0], "na": ns[:0], "nb": ns[:0],
                    }
                )
        Q, C = V[qi], V[ci]
        # Left-fold dot: one multiply + one add per dimension, in order.
        acc = np.zeros((len(qi), len(ci)), dtype=np.float64)
        for i in range(V.shape[1]):
            acc += np.multiply.outer(Q[:, i], C[:, i])
        iq, ic = np.meshgrid(qi, ci, indexing="ij")
        mask = (
            ids[iq] < ids[ic] if ordered else ids[iq] != ids[ic]
        )
        iqm, icm = iq[mask], ic[mask]
        return pd.DataFrame(
            {
                "query_id": ids[iqm],
                "cand_id": ids[icm],
                "dt": acc[mask],
                "na": ns[iqm],
                "nb": ns[icm],
            }
        )

    sc = rows.sparkSession.sparkContext
    npart = max(sc.defaultParallelism * parallelism_mult, 8)
    return (
        rows.repartition(npart, "table", "bucket")
        .groupBy("table", "bucket")
        .applyInPandas(score, out_schema)
    )


def _np_sim(round_digits: int = 6):
    return F.round(
        F.col("dt") / (F.col("na") * F.col("nb")), round_digits
    )


def _dedup_rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """``(query_id, cand_id, sim, rank)`` top-k over scored candidate
    copies — dedup RIDES the ranking window (r15, guide §2.4): copies of
    a pair carry identical (sim, cand_id), so under ORDER BY (sim DESC,
    cand_id ASC) they are adjacent and ``lag(cand_id)`` marks all but
    the first; row_number over the survivors is the old
    dropDuplicates + row_number result exactly. One Exchange on
    query_id replaces the (query_id, cand_id) dedup exchange + the
    query_id window exchange; the second window reuses the first's
    partitioning and sort."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn(
            "_dup", F.lag("cand_id").over(w) == F.col("cand_id")
        )
        .where(~F.coalesce(F.col("_dup"), F.lit(False)))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


# Sign matrices are tiny (dim x total_bits) and deterministic: numpy
# int64, computed once per (dim, bits) shape by one dim-row Spark job
# (so the ±1 family is Spark's own md5, not a Python reimplementation)
# and cached for the bucketing kernel. Keyed on values, not sessions:
# the hashes are session-independent.
_MD5_SIGN_CACHE: dict[tuple[int, int], object] = {}


def _md5_sign_matrix(df: DataFrame, dim: int, total_bits: int):
    """``s[i][j] = (parity of first md5 hex digit of "i|j") * 2 - 1`` as
    a ``(dim, total_bits)`` numpy int64 matrix — the oracle-expressible
    hyperplane family: DuckDB derives the SAME signs from md5 in SQL, so
    the bucket assignment is cross-engine verifiable."""
    import numpy as np

    key = (dim, total_bits)
    if key not in _MD5_SIGN_CACHE:
        spark = df.sparkSession
        idx = spark.range(dim).select(F.col("id").cast("int").alias("i"))
        cols = [
            (
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws("|", F.col("i"), F.lit(j))), 1, 1
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2
                )
                * 2
                - 1
            ).alias(f"s{j}")
            for j in range(total_bits)
        ]
        rows = sorted(idx.select("i", *cols).collect(), key=lambda r: r["i"])
        _MD5_SIGN_CACHE[key] = np.asarray(
            [[int(r[f"s{j}"]) for j in range(total_bits)] for r in rows],
            dtype=np.int64,
        )
    return _MD5_SIGN_CACHE[key]


def _md5_buckets(
    df: DataFrame, id_col: str, vec_col: str, suffix: str,
    n_bits: int, n_tables: int, dim: int,
) -> DataFrame:
    """``(id, v, n, table, bucket)`` — one row per (vector, table);
    bucket t packs bits [t*n_bits, (t+1)*n_bits). Integer micro-unit
    hyperplane sums (order-independent) against the md5-parity sign
    matrix, then big-endian bit-fold bucket codes. The sums run as one
    exact int64 matmul per Arrow batch (_np_bucket_explode); the micro
    rounding (round half-up) stays in the JVM. Shared by lsh_topk,
    lsh_pairs_above and the persisted index (sinks/ann.py)."""
    signs = _md5_sign_matrix(df, dim, n_bits * n_tables)
    base = _with_norm(spread(df), id_col, vec_col, suffix).withColumn(
        "xs",
        F.transform(
            F.col(f"v{suffix}"),
            lambda x: F.round(x.cast("double") * 1_000_000.0, 0).cast("long"),
        ),
    )
    return _np_bucket_explode(base, suffix, n_bits, n_tables, signs)


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    n_tables: int = 16,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH:
    ``(query_id, cand_id, sim, rank)``.

    n_tables independent bucketings (bit-slices of one shared sign-sum
    array, computed in a single vector pass); query and candidate meet if
    they share a bucket in ANY table. One shuffle on (table, bucket);
    exact cosine re-rank on survivors. Every ingredient is
    cross-engine-exact, so DuckDB replays the result bit for bit (the
    ``dedup_minhash_md5`` philosophy applied to ANN):

    - hyperplane signs from md5 parity (oracle derives them in SQL),
    - hyperplane sums over INTEGER micro-units
      (``round(x * 1e6) AS BIGINT``), so the per-bit accumulation is an
      order-independent integer sum — no IEEE drift in the bucketing,
    - bucket codes are integer bit-folds,
    - the re-rank cosine is the rounded-6 form ``similarity_topk``
      already hash-verifies.

    ``n_bits`` defaults to the corpus-size-derived width (_auto_bits,
    mirrored in oracles by catalog._AUTO_BITS_SQL): 4 bits -> 16 buckets
    at the shipped SFs (recall@10 ~ 0.9 on the synthetic embeddings,
    whose neighbors are barely above the random-cosine noise floor — the
    hardest case for LSH), growing as log2(N/128) so bucket occupancy
    stays bounded at scale. Raise n_tables to buy recall back at larger
    widths — candidate cost is linear in n_tables; real clustered
    embeddings need far fewer tables than this synthetic worst case.

    Pass the SAME frame object as ``queries`` and ``candidates`` for a
    self top-k: ``queries is candidates`` builds and exchanges the
    bucketed frame once instead of twice."""
    n_bits = _auto_bits(candidates, n_bits)
    dim = _vec_dim(candidates, vec_col)
    # Score INSIDE the bucket meet, before dedup: sim is identical for
    # every (table, bucket) copy of a pair, so deduping on the scored
    # 24-byte rows is equivalent — and the dedup shuffle stops carrying
    # two dim-double vectors per candidate. The meet + re-rank run per
    # bucket in numpy (_np_bucket_dots).
    same = queries is candidates
    cb = _md5_buckets(candidates, id_col, vec_col, "b", n_bits, n_tables, dim)
    qb = (
        None if same
        else _md5_buckets(queries, id_col, vec_col, "a", n_bits, n_tables, dim)
    )
    scored = _np_bucket_dots(qb, cb, same, ordered=False).select(
        "query_id", "cand_id", _np_sim(6).alias("sim")
    )
    return _dedup_rank_topk(scored, k)


def lsh_pairs_above(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    n_tables: int = 16,
) -> DataFrame:
    """Approximate all-pairs cosine >= threshold: LSH-bucketed candidate
    generation + exact verify inside buckets — the sub-quadratic scale
    path for embedding near-dup over a large corpus, on the same
    cross-engine-exact bucketing as lsh_topk. Recall < 1 by construction
    (tune n_tables); for the exact answer use cosine_pairs_above.
    ``n_bits`` defaults to the corpus-size-derived width (_auto_bits) so
    bucket occupancy stays bounded as N grows."""
    n_bits = _auto_bits(vectors, n_bits)
    dim = _vec_dim(vectors, vec_col)
    # Score and threshold inside the bucket meet, then dedup the scored
    # 24-byte pairs — same result set (sim is per-pair deterministic),
    # but the dedup shuffle no longer carries the vectors, and the
    # threshold filter shrinks it before it happens. ONE bucketed frame
    # + per-bucket numpy meet of ordered pairs (_np_bucket_dots).
    b = _md5_buckets(vectors, id_col, vec_col, "b", n_bits, n_tables, dim)
    return (
        _np_bucket_dots(None, b, same=True, ordered=True)
        .select(
            F.col("query_id").alias("id_a"),
            F.col("cand_id").alias("id_b"),
            _np_sim(6).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def mutual_knn_graph(
    vectors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    method: str = "lsh",
    n_bits: int | None = None,
    n_tables: int = 8,
) -> DataFrame:
    """Mutual-kNN graph over an embedding column: undirected edges
    ``(id_a, id_b, sim, rank_ab, rank_ba)`` where each endpoint is in
    the OTHER's cosine top-k (id_a < id_b). The mutuality filter is the
    classic density-adaptive sparsifier (hubs stop absorbing every
    neighbor list), and the resulting graph is what SemDeDup-style
    cluster pruning / spectral partitioning of an embedding space runs
    on.

    The reference's graph is loaded from explicit edge files
    (src/main.js:244-247); this DERIVES a graph from geometry instead —
    the missing bridge between the similarity family (X3) and the graph
    analytics family.

    ``method`` picks the top-k engine (VERDICT r6 #1 — the r6 form ran
    brute force unconditionally, and its broadcast guard made the query
    REFUSE to run past 100k vectors):

    - ``"lsh"`` (default): lsh_topk — LSH-bucketed candidates + exact
      in-bucket re-rank, sub-quadratic and oracle-replayable (the
      catalog hash-verifies it); ``n_bits=None`` derives the bucket
      width from the corpus size (_auto_bits).
    - ``"exact"``: brute_force_topk, still guarded by its
      max_broadcast_rows — the small-N oracle twin and recall baseline.

    Plan: one top-k pass, then the directed list is checkpointed
    (referenced twice, CLAUDE.md rule) and mutuality is an equi-join of
    the a<b half against the a>b half on the SCALAR pair key — no
    vectors ride the join. The mutual join is linear in the
    directed-edge count (<= k·|V|) under every method."""
    if method == "exact":
        topk = brute_force_topk(
            vectors, vectors, k=k, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits,
        )
    elif method == "lsh":
        topk = lsh_topk(
            vectors, vectors, k=k, id_col=id_col, vec_col=vec_col,
            n_bits=n_bits, n_tables=n_tables,
        )
    else:
        raise ValueError(f"mutual_knn_graph: unknown method {method!r}")
    topk = topk.localCheckpoint()
    fwd = topk.where(F.col("query_id") < F.col("cand_id")).select(
        F.col("query_id").alias("id_a"),
        F.col("cand_id").alias("id_b"),
        "sim",
        F.col("rank").alias("rank_ab"),
    )
    rev = topk.where(F.col("query_id") > F.col("cand_id")).select(
        F.col("cand_id").alias("id_a"),
        F.col("query_id").alias("id_b"),
        F.col("rank").alias("rank_ba"),
    )
    return fwd.join(rev, ["id_a", "id_b"]).select(
        "id_a", "id_b", "sim", "rank_ab", "rank_ba"
    )


def label_centroid_sim(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-class centroid geometry: pairwise cosine similarity between
    class centroids — ``(label_a, label_b, n_a, n_b, sim)``, label_a <
    label_b. The class-confusability probe every embedding-space audit
    runs (nearly-parallel centroids predict classifier confusion and
    mark label families for SemDeDup-style merge).

    Exactness: elements snap to integer micro-units before the centroid
    sums (the hash-verified embedding_standardize idiom — per-dim sums
    of BIGINTs are partition-order-exact), the per-dim mean is one IEEE
    division, and the 64-term centroid dot/norm sums follow the
    _SIM_CTES pattern with a final round(6).

    Scale: one (label, dim) shuffle with map-side partial aggregation —
    |labels| x dim cells of state regardless of row count — then the
    pairwise join runs on the tiny centroid frame (|labels| x dim)."""
    ex = (
        spread(vectors)
        .select(label_col, F.posexplode(vec_col).alias("pos", "xf"))
        .select(
            label_col,
            (F.col("pos") + F.lit(1)).cast("int").alias("i"),
            F.round(F.col("xf").cast("double") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("xm"),
        )
    )
    cent = (
        ex.groupBy(label_col, "i")
        .agg(F.sum("xm").alias("s"), F.count("*").alias("n"))
        .select(
            label_col,
            "i",
            "n",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("m"),
        )
        .localCheckpoint()  # feeds norms AND the pairwise dot join
    )
    norms = cent.groupBy(label_col).agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nrm"),
        F.max("n").alias("n_vecs"),
    )
    a = cent.select(
        F.col(label_col).alias("label_a"), "i", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col(label_col).alias("label_b"), "i", F.col("m").alias("mb")
    )
    dots = (
        a.join(b, "i")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dp"))
    )
    na = norms.select(
        F.col(label_col).alias("label_a"),
        F.col("nrm").alias("na"),
        F.col("n_vecs").alias("n_a"),
    )
    nb = norms.select(
        F.col(label_col).alias("label_b"),
        F.col("nrm").alias("nb"),
        F.col("n_vecs").alias("n_b"),
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.round(F.col("dp") / (F.col("na") * F.col("nb")), 6).alias("sim"),
        )
    )
