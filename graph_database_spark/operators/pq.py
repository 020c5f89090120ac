"""Product quantization: per-subspace k-means codebooks for ANN serving.

The missing third leg of the serving-compression stack (scalar
quantization in operators/quantize.py, IVF cells in operators/ivf.py):
split each vector into ``n_sub`` contiguous subvectors and learn an
independent k-means codebook per subspace, so a d-dim float vector
compresses to ``n_sub`` byte-sized codes and asymmetric distances are
table lookups. This is the IVF-PQ layout every large-scale vector index
(FAISS-style) ships.

Verification follows kmeans_cells: micro-int subvectors, BIGINT squared
distances, (d2, c) argmin, floor-exact centroid means, md5-ordered
seeds — the whole training loop replays in DuckDB
(catalog._build_pq_sql) and hash-matches. Seeds are ranked with the
distributed global_rank, not a single-partition window.

Scale: the explode is |V| x d rows once; each round is one broadcast
join (codebooks are n_sub x k x sub_dims cells — constant) plus two
keyed aggregations. State never exceeds the codebook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from graph_database_spark.operators.ivf import (
    _best_cell,
    _micro_sims,
    _probe_cells,
    _unit_centroid_micro,
)
from graph_database_spark.operators.rank import global_rank
from graph_database_spark.operators.spread import spread


def _explode_micro(
    vectors: DataFrame, sub_dims: int, id_col: str, vec_col: str
) -> DataFrame:
    """``(vec_id, i, s, xm)`` — 1-based dim index, subspace id, and the
    micro-int value per dimension (the shared input shape of PQ
    training and the ADC query tables)."""
    return (
        spread(vectors)
        .select(
            F.col(id_col).alias("vec_id"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("int").alias("i"),
            F.expr(f"CAST(pos div {sub_dims} AS INT)").alias("s"),
            F.round(F.col("x").cast("double") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("xm"),
        )
    )


def _pack_vecs(ex: DataFrame) -> DataFrame:
    """``(vec_id, xs)`` — the exploded micro rows re-packed to ONE
    i-sorted array per vector (the numpy assign's input shape; one
    n-row shuffle, paid once per training, not per round)."""
    return ex.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "xm"))),
            lambda p: p["xm"],
        ).alias("xs")
    )


def _np_assign(
    packed: DataFrame, cent: DataFrame, sub_dims: int, with_dist: bool = True
) -> DataFrame:
    """``(vec_id, s, code[, dist2])`` — the Lloyd assign step computed
    batch-wise in numpy via ``mapInArrow`` (r14 optimization round).

    The JVM shape (explode x broadcast-codebook join + two groupBys)
    pushes |V| x d x k rows through codegen per round — 82M rows at
    sf0.1 with pq_k=256 — and was measured as the binding cost of the
    whole IVF-PQ family (SCALE.md r14: packed-array JVM variants were
    tried and rejected; HOFs evaluate interpreted). Here the codebook
    is a bounded model parameter (k x d ints) collected once and closed
    over; each Arrow batch computes every (vector, subspace, centroid)
    squared distance with one matmul per subspace and argmins locally —
    the Python boundary carries only (vec_id, xs) in and n_sub rows per
    vector out.

    Exactness (the micro-unit rule still holds): d2 decomposes as
    x.x - 2 x.c + c.c; float64 dot products over integer-valued floats
    are EXACT while every partial sum stays below 2^53, which a runtime
    bound checks per batch (max|value|^2 x subspace width < 2^51);
    otherwise the batch falls back to int64 matmul (never lossy, just
    slower). Tie-break: np.argmin returns the FIRST minimum = smallest
    centroid id — exactly the JVM's min(struct(d2, c))."""
    import numpy as np

    # Arrow-path driver transfer (guide §6): the codebook is a bounded
    # model parameter (k x d ints) but py4j row collection of 16k rows
    # costs real fractions of a second; toPandas rides Arrow.
    pdf = cent.select("c", "i", "cm").toPandas()
    cs = pdf["c"].to_numpy(dtype=np.int64)
    is_ = pdf["i"].to_numpy(dtype=np.int64)
    cms = pdf["cm"].to_numpy(dtype=np.int64)
    kmax = int(cs.max())
    d = int(is_.max())
    C = np.zeros((kmax, d), dtype=np.int64)
    C[cs - 1, is_ - 1] = cms
    return _np_assign_arr(packed, C, sub_dims, with_dist)


def _np_assign_arr(
    packed: DataFrame, C, sub_dims: int, with_dist: bool = True
) -> DataFrame:
    """``_np_assign`` with the codebook already in hand as a numpy
    ``(k, d)`` int64 array (the training loop keeps it driver-side
    between rounds — zero per-round collect jobs)."""
    import numpy as np

    d = C.shape[1]
    # dim i (1-based) belongs to subspace (i-1) div sub_dims — the
    # _explode_micro construction, the only producer of s.
    subs = sorted({(i - 1) // sub_dims for i in range(1, d + 1)})
    cols = {
        s: np.arange(s * sub_dims, min((s + 1) * sub_dims, d), dtype=np.int64)
        for s in subs
    }
    cmax = int(np.abs(C).max())
    id_type = packed.schema["vec_id"].dataType.simpleString()
    out_fields = f"vec_id {id_type}, s int, code int"
    if with_dist:
        out_fields += ", dist2 long"
    n_s = len(subs)
    subs_arr = np.asarray(subs, dtype=np.int32)

    def fn(batches):
        import pyarrow as pa

        for b in batches:
            m = b.num_rows
            if m == 0:
                continue
            vid = b.column(0)
            flat = (
                b.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            if flat.size != m * d:
                raise ValueError(
                    f"pq assign: ragged vectors ({flat.size} values for "
                    f"{m} x {d})"
                )
            X = flat.reshape(m, d)
            xmax = int(np.abs(X).max())
            out_code = np.empty((m, n_s), dtype=np.int32)
            out_d2 = np.empty((m, n_s), dtype=np.int64)
            ar = np.arange(m)
            for si, s in enumerate(subs):
                ix = cols[s]
                Xs = X[:, ix]
                Cs = C[:, ix]
                if max(xmax, cmax, 1) ** 2 * len(ix) < 2**51:
                    Xf = Xs.astype(np.float64)
                    Cf = Cs.astype(np.float64)
                    D = (
                        (Xf * Xf).sum(1)[:, None]
                        - 2.0 * (Xf @ Cf.T)
                        + (Cf * Cf).sum(1)[None, :]
                    )
                    j = D.argmin(1)
                    d2 = D[ar, j].astype(np.int64)
                else:
                    D = (
                        (Xs * Xs).sum(1)[:, None]
                        - 2 * (Xs @ Cs.T)
                        + (Cs * Cs).sum(1)[None, :]
                    )
                    j = D.argmin(1)
                    d2 = D[ar, j]
                out_code[:, si] = j + 1
                out_d2[:, si] = d2
            idx = pa.array(np.repeat(ar, n_s))
            arrays = [
                vid.take(idx),
                pa.array(np.tile(subs_arr, m)),
                pa.array(out_code.reshape(-1)),
            ]
            names = ["vec_id", "s", "code"]
            if with_dist:
                arrays.append(pa.array(out_d2.reshape(-1)))
                names.append("dist2")
            yield pa.RecordBatch.from_arrays(arrays, names)

    return packed.mapInArrow(fn, out_fields)


def _pq_train_micro(
    ex: DataFrame, ids: DataFrame, k: int, rounds: int, sub_dims: int
) -> tuple[DataFrame, DataFrame]:
    """Core PQ Lloyd loop over pre-exploded micro rows ``ex``
    ``(vec_id, i, s, xm)`` (MUST be materialized — it feeds every
    round's assign AND update) with seeds drawn md5-ordered from
    ``ids`` ``(vec_id)``. Factored out of ``pq_train`` (r14) so the
    residual-encoded IVF-PQ path can train on residual rows with the
    identical, oracle-replayable loop.

    r14 optimization round: the assign step runs in numpy
    (``_np_assign_arr``) and the codebook — a bounded model parameter
    (k x d ints) — lives DRIVER-SIDE as a numpy array between rounds:
    the seed centroids and each round's floor-exact means arrive as ONE
    Arrow ``toPandas`` job each (the floor division itself still runs
    in the JVM aggregate, bit-identical to the old plan), and the
    returned codebook frame is rebuilt from the final array with
    ``createDataFrame`` (16k local rows, no recompute — the model-frame
    pattern sinks/ann's manifest already uses). This removes the
    per-round codebook checkpoint job and the extra full pass the old
    checkpoint-then-collect shape paid."""
    import numpy as np

    spark = ex.sparkSession
    seeds = (
        global_rank(
            ids.select(
                F.col("vec_id"),
                F.md5(F.col("vec_id").cast("string")).alias("mk"),
            ),
            ["mk", "vec_id"],
            out_col="c",
        )
        .where(F.col("c") <= k)
        .select("vec_id", F.col("c").cast("int").alias("c"))
    )
    cent_pdf = (
        ex.join(seeds, "vec_id")
        .select("c", "i", F.col("xm").alias("cm"))
        .toPandas()
    )
    kmax = int(cent_pdf["c"].max())
    d = int(cent_pdf["i"].max())
    C = np.zeros((kmax, d), dtype=np.int64)
    C[
        cent_pdf["c"].to_numpy(dtype=np.int64) - 1,
        cent_pdf["i"].to_numpy(dtype=np.int64) - 1,
    ] = cent_pdf["cm"].to_numpy(dtype=np.int64)
    packed = _pack_vecs(ex).localCheckpoint()
    assign = None
    for r in range(1, rounds + 1):
        # Lazy (r15): each round's assign has exactly ONE consumer (the
        # means aggregate below, or the caller's codes join for the
        # final round), so its checkpoint was a pure fixed-cost job —
        # the mapInArrow over the CHECKPOINTED packed frame runs inside
        # the consumer's job instead.
        assign = _np_assign_arr(packed, C, sub_dims)
        if r == rounds:
            break
        means_pdf = (
            ex.join(
                assign.select("vec_id", "s", F.col("code").alias("c")),
                ["vec_id", "s"],
            )
            .groupBy("c", "i")
            .agg(
                F.floor(
                    F.sum("xm").cast("double") / F.count("*").cast("double")
                )
                .cast("long")
                .alias("cm_new")
            )
            .toPandas()
        )
        # coalesce semantics: cells with no assigned vector keep their
        # previous centroid (exactly the old left-join + coalesce).
        C = C.copy()
        C[
            means_pdf["c"].to_numpy(dtype=np.int64) - 1,
            means_pdf["i"].to_numpy(dtype=np.int64) - 1,
        ] = means_pdf["cm_new"].to_numpy(dtype=np.int64)
    ci, ii = np.nonzero(np.ones_like(C, dtype=bool))
    cent = spark.createDataFrame(
        [
            (int(c) + 1, int(i) + 1, int(C[c, i]))
            for c, i in zip(ci.tolist(), ii.tolist())
        ],
        "c int, i int, cm long",
    )
    return (
        assign.select(
            "vec_id",
            F.col("s").alias("subspace"),
            "code",
            "dist2",
        ),
        cent,
    )


def pq_train(
    vectors: DataFrame,
    k: int = 16,
    rounds: int = 2,
    sub_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """``(assign, codebook)`` — the PQ codes per subspace after
    ``rounds`` Lloyd iterations from md5-ordered seed vectors, PLUS the
    codebook ``(c, i, cm)`` those final codes were assigned against
    (micro-int centroid value per dimension). The codebook is what an
    ADC search (ivfpq_topk_md5) builds its per-query lookup tables
    from; returning it here keeps codes and codebook consistent by
    construction (recomputing the training loop twice could not
    drift, but would double the cost)."""
    ex = _explode_micro(vectors, sub_dims, id_col, vec_col).localCheckpoint()
    ids = vectors.select(F.col(id_col).alias("vec_id"))
    return _pq_train_micro(ex, ids, k, rounds, sub_dims)


def pq_assign(
    vectors: DataFrame,
    k: int = 16,
    rounds: int = 2,
    sub_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, subspace, code, dist2)`` — the PQ code per subspace
    after ``rounds`` Lloyd iterations from md5-ordered seed vectors."""
    return pq_train(vectors, k, rounds, sub_dims, id_col, vec_col)[0]


def ivfpq_topk_md5(
    vectors: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    pq_k: int = 256,
    rounds: int = 2,
    sub_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 50,
) -> DataFrame:
    """IVF-PQ asymmetric-distance search (r13; residual-encoded r14):
    the FAISS-style serving layout this module's docstring names, now
    as an actual search — coarse IVF cells prune the candidate set,
    then candidates are ranked by ADC: dist(q, cand) ~ sum_s
    qtab[q][cell][s][code_s(cand)], where qtab holds the query
    RESIDUAL's exact squared distance to every codebook centroid per
    subspace. The candidate side is touched ONLY through its n_sub
    byte-sized codes — at rest that is the compressed index (d floats
    -> n_sub codes per vector), which is the reason this layout scales
    to 100 TB vector corpora.

    Residual encoding (r14, VERDICT r13 #6 — standard FAISS IVF-ADC):
    PQ trains on each vector's residual to its cell's MEAN vector
    (micro-int xm - cm[cell][i], cm = sum(xm) div count per (cell, i))
    instead of the raw vector. The mean — not the md5-drawn unit
    coarse centroid — is the right base: it is what k-means-trained
    coarse centroids converge to, and residuals to it center on 0 so
    the byte budget spends its codebook resolution on within-cell
    geometry (residual-to-the-UNIT-centroid was measured to HURT:
    0.31 -> 0.21, because a unit direction is not where the cell
    lives). ADC stays exact over residuals because
    ||q - cand||^2 = ||(q - mean_cell) - (cand - mean_cell)||^2 with
    both sides living in the SAME probed cell's frame — hence the
    query table is keyed per (query, probed cell) and the ADC join
    matches the candidate's cell. Second r14 lever: pq_k 64 -> 256 —
    the codes were always stored as bytes, so 8-bit codebooks are the
    same at-rest budget. Measured recall@10 at sf0.01 (16 cells /
    4 probes, 0.50 probe-set ceiling): raw 64x8 0.31 (r13 ship) ->
    residual 64x8 0.35 -> residual 256x8 0.45 (numpy replica sweep;
    tests/test_ivf.py pins the 0.3 floor; ivfpq_recall_audit reports
    it per query).

    Returns ``(query_id, cand_id, adc_d2, rank)`` for the deterministic
    query sample ``vec_id % query_mod == 0`` — every quantity an exact
    integer (micro-unit squared distances), so the whole pipeline
    (IVF draw + residual + PQ training + ADC ranking) hash-verifies
    against the composed DuckDB oracle (catalog._build_ann_ivfpq_sql),
    extending the chain that already pins ivf cells (ann_ivf) and PQ
    training (pq_codes) to their composition.

    Plan: PQ codebook and IVF centroids are bounded model parameters
    (broadcast / literal); per-query ADC tables are
    |Q| x n_probe x n_sub x pq_k rows (broadcastable); the only
    corpus-scale shuffles are the residual join (keyed by vec_id), the
    cell meet (probe cells x candidate cells) and the per-query top-k
    window, all keyed. n_probe/n_centroids keep per-query candidate
    counts at ~n_probe/n_centroids of the corpus — the same occupancy
    knob discipline as LSH auto_bits."""
    model = ivfpq_fit(
        vectors, n_centroids, pq_k, rounds, sub_dims, id_col, vec_col
    )
    probe = _probe_cells(
        model["simmed"].where(F.col("vid") % query_mod == 0), n_probe
    )
    q_pex = model["pex"]
    pairs = (
        probe.join(model["cand_cell"], "cell")
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", "cell")
        .distinct()
        .join(model["codes"], "cand_id")
    )
    qtab = _adc_qtab(probe, q_pex, model["cmn"], model["codebook"])
    return _adc_rank(pairs, qtab, k)


def ivfpq_fit(
    vectors: DataFrame,
    n_centroids: int = 16,
    pq_k: int = 256,
    rounds: int = 2,
    sub_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train the full IVF-PQ model over ``vectors`` and return every
    piece the serving paths need (r14; factored out of ivfpq_topk_md5
    so sinks/ann.build_ivfpq_index persists the SAME model the inline
    search uses — probe==inline parity is by construction):

    - ``cents``: driver-side unit coarse centroid micro list
    - ``simmed``: (vid, sims) corpus cell sims (for inline queries)
    - ``cand_cell``: (cand_id, cell) argmax assignment, 1-based
    - ``pex``: (vec_id, i, s, xm) corpus micro explode
    - ``cmn``: (cell, i, cm) integer cell-mean base vectors
    - ``codes``: (cand_id, s, code) residual PQ codes
    - ``codebook``: (c, i, cm) residual codebook
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # ---- IVF coarse cells (operators/ivf's one cell kernel) ------------
    cents = _unit_centroid_micro(vectors, id_col, vec_col, n_centroids)
    # The two eager materializations below (simmed's mapInArrow
    # checkpoint, pex's explode checkpoint) are INDEPENDENT single-job
    # chains over the same input — overlapped from a 2-thread pool so
    # one job's tail back-fills the other's idle executors (guide §2.6,
    # the percolation pattern; r15).
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_sim = pool.submit(
            inheritable_thread_target(
                lambda: _micro_sims(vectors, cents, id_col, vec_col)
            )
        )
        f_pex = pool.submit(
            inheritable_thread_target(
                lambda: _explode_micro(
                    vectors, sub_dims, id_col, vec_col
                ).localCheckpoint()
            )
        )
        simmed = f_sim.result()
        pex = f_pex.result()
    # candidate cell: ivf._best_cell's argmax (s DESC, c ASC).
    # 1-BASED (r14): cells now join against the cell-mean table (and
    # the oracle's row_number cells); the r13 0-based labels were only
    # ever compared with each other, which hid the off-by-one until
    # residual encoding brought the centroid values back into the plan.
    # Lazy (r14): narrow argmax projection over the checkpointed simmed
    # frame — every consumer re-derives it in-plan for pennies.
    cand_cell = simmed.select(
        F.col("vid").alias("cand_id"), _best_cell().alias("cell")
    )

    # ---- residual PQ training ------------------------------------------
    # Cell-mean base vectors (cell, i, cm): n_centroids x d rows of
    # exact integer micro means (div truncates toward zero in BOTH
    # engines — the signed-micro rule). Checkpointed because cmn feeds
    # both the training residuals and the query residuals; broadcast
    # at each use (bounded model parameters).
    # Lazy (r15): pcell is a broadcast-class join of two CHECKPOINTED
    # parents — its two consumers (cmn, rex) re-derive it in-plan for
    # pennies; its own checkpoint was one more fixed-cost job.
    pcell = pex.join(
        cand_cell.select(F.col("cand_id").alias("vec_id"), "cell"),
        "vec_id",
    )
    cmn = (
        pcell.groupBy("cell", "i")
        .agg(F.expr("sum(xm) div count(*)").alias("cm"))
        .localCheckpoint()
    )
    rex = (
        pcell.join(F.broadcast(cmn), ["cell", "i"])
        .select(
            "vec_id", "i", "s", (F.col("xm") - F.col("cm")).alias("xm")
        )
        .localCheckpoint()
    )
    assign, cent = _pq_train_micro(
        rex, vectors.select(F.col(id_col).alias("vec_id")), pq_k, rounds, sub_dims
    )
    # Lazy (r14): rename-only projection over the checkpointed assign.
    codes = assign.select(
        F.col("vec_id").alias("cand_id"), F.col("subspace").alias("s"), "code"
    )
    return {
        "cents": cents,
        "simmed": simmed,
        "cand_cell": cand_cell,
        "pex": pex,
        "cmn": cmn,
        "codes": codes,
        "codebook": cent,
    }


def pq_encode(
    ex: DataFrame, codebook: DataFrame, sub_dims: int
) -> DataFrame:
    """``(vec_id, s, code)`` — assign pre-exploded (residual) micro
    rows to a FROZEN codebook: the Lloyd assign step without training,
    same (d2, c) tie-break (the numpy ``_np_assign``). This is how an
    append encodes arrivals against a persisted model
    (sinks/ann.append_ivfpq_index)."""
    return _np_assign(_pack_vecs(ex), codebook, sub_dims, with_dist=False)


def _adc_qtab(
    probe: DataFrame, q_pex: DataFrame, cmn: DataFrame, codebook: DataFrame
) -> DataFrame:
    """``(query_id, cell, s, code, qd2)`` — exact squared distance from
    the query's residual IN EACH PROBED CELL to every codebook centroid
    per subspace (the ADC lookup tables; |Q| x n_probe x n_sub x pq_k
    rows, broadcastable)."""
    qres = (
        q_pex.join(
            probe.select(F.col("query_id").alias("vec_id"), "cell"),
            "vec_id",
        )
        .join(F.broadcast(cmn), ["cell", "i"])
        .select(
            F.col("vec_id").alias("query_id"),
            "cell",
            "i",
            "s",
            (F.col("xm") - F.col("cm")).alias("rm"),
        )
    )
    # Lazy (r15): the single consumer wraps this in F.broadcast — the
    # BroadcastExchange materializes it exactly once, so the checkpoint
    # was one more fixed-cost job.
    return (
        qres.join(F.broadcast(codebook.withColumnRenamed("cm", "pcm")), "i")
        .groupBy("query_id", "cell", "s", F.col("c").alias("code"))
        .agg(
            F.sum(
                (F.col("rm") - F.col("pcm")) * (F.col("rm") - F.col("pcm"))
            ).alias("qd2")
        )
    )


def _adc_rank(pairs: DataFrame, qtab: DataFrame, k: int) -> DataFrame:
    """``(query_id, cand_id, adc_d2, rank)`` — sum the candidate's code
    lookups per query and keep the top-``k`` by (adc_d2, cand_id).
    ``pairs``: (query_id, cand_id, cell, s, code) candidate codes in
    probed cells."""
    # Broadcast the lookup tables (|Q| x n_probe x n_sub x pq_k bounded
    # rows — the docstring's "broadcastable" made explicit, r14): the
    # candidate-code side then never shuffles for the lookup, and the
    # groupBy partial-aggregates map-side.
    adc = (
        pairs.join(F.broadcast(qtab), ["query_id", "cell", "s", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("qd2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            F.col("adc_d2").cast("long").alias("adc_d2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
