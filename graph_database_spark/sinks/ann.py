"""Persisted ANN index — build once, probe many (r7 VERDICT missing-#2).

Every ANN query in operators/similarity.py and operators/ivf.py refits
its buckets/centroids per run; fine for one-shot analytics, wrong for
the 100 TB serving shape, where a corpus is indexed once and probed by
many query batches. This sink persists the IVF index as:

- a **bucketed parquet table** of cell assignments ``(cell, vec_id,
  embedding, nrm)``, bucketed + sorted by ``cell`` (sinks/bucketed
  machinery), so the probe-time ``cell`` equi-join needs NO Exchange on
  the index side — the 99.99% of the data — regardless of corpus size;
- a **centroid manifest** (JSON, a few KB): the trained model
  parameters, loaded at probe time without touching the corpus.

The centroids are operators/ivf's md5-ordered draw, quantized to integer
micro-units; the manifest records them with ``centroid_family:
"md5-micro"``, and probe and append refuse an index of any other family.
Build, append and probe assign and rank cells with the one IVF kernel
ivf_topk uses: build and append store ivf._assign_cells rows; probe =
ivf._query_cells (query->cell ranking against the manifest's centroids,
one row per probed cell), one equi-join against the pre-bucketed
assignments (query side alone shuffles — the small side), exact in-cell
cosine re-rank and per-query top-k (ivf._rerank_topk). So probing an
index built over a corpus returns the refit ivf_topk rows exactly
(pytest-pinned).

Citation: the reference has no index persistence at all — it reloads
text edge files per run (src/main.js:244-262); this is the Spark-native
upgrade of that lifecycle.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from graph_database_spark.operators.ivf import (
    _assign_cells,
    _best_cell,
    _micro_sims,
    _probe_cells,
    _query_cells,
    _rerank_topk,
    _unit_centroid_micro,
)
from graph_database_spark.sources.bucketed import write_bucketed

__all__ = [
    "build_ivf_index",
    "append_ivf_index",
    "probe_ivf_index",
    "build_lsh_index",
    "probe_lsh_index",
    "build_minhash_index",
    "append_minhash_index",
    "probe_minhash_index",
    "build_ivfpq_index",
    "append_ivfpq_index",
    "probe_ivfpq_index",
]

_MANIFEST = "_ann_index.json"
# The hyperplane family of operators/similarity._md5_sign_matrix; the
# LSH manifest records it and probe_lsh_index refuses any other.
_LSH_SIGN_FAMILY = "md5-parity"
# The centroid family of operators/ivf._unit_centroid_micro (md5-ordered
# draw, integer micro-unit centroids); probe and append refuse others.
_IVF_CENTROID_FAMILY = "md5-micro"


def _load_manifest(path: str) -> dict:
    with open(os.path.join(path, _MANIFEST)) as f:
        return json.load(f)


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, _MANIFEST + ".tmp")
    os.makedirs(path, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, _MANIFEST))


def _load_ivf_manifest(path: str) -> dict:
    """The manifest of an IVF index, refusing any other kind and any
    centroid family but md5-micro: an index with float centroids (an
    older build) ranks cells differently, so probing or growing it with
    these sims would silently misplace vectors and miss candidates."""
    m = _load_manifest(path)
    if m.get("kind") != "ivf":
        raise ValueError(f"index at {path} is kind={m.get('kind')!r}, not ivf")
    if m.get("centroid_family") != _IVF_CENTROID_FAMILY:
        raise ValueError(
            f"index at {path} has centroid_family="
            f"{m.get('centroid_family')!r}, not {_IVF_CENTROID_FAMILY!r}; "
            "rebuild it with build_ivf_index"
        )
    return m


def build_ivf_index(
    candidates: DataFrame,
    table: str,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_buckets: int = 16,
    cents: list | None = None,
) -> dict:
    """Fit centroids (the md5-ordered micro draw ivf_topk uses) — or
    accept pre-drawn integer micro ``cents`` — assign every candidate to
    its nearest cell with ivf_topk's kernel and argmax, and persist the
    assignment as a cell-bucketed parquet table + a centroid manifest
    (``centroid_family: "md5-micro"``). Probing it returns the refit
    ivf_topk rows exactly (pytest-pinned). Returns the manifest dict."""
    if cents is None:
        cents = _unit_centroid_micro(candidates, id_col, vec_col, n_centroids)
    write_bucketed(
        _assign_cells(candidates, cents, id_col, vec_col),
        table, path, "cell", n_buckets,
    )
    manifest = {
        "kind": "ivf",
        "table": table,
        "n_centroids": len(cents),
        "dim": len(cents[0]) if cents else 0,
        "n_buckets": n_buckets,
        "centroid_family": _IVF_CENTROID_FAMILY,
        "centroids": cents,
    }
    _write_manifest(path, manifest)
    return manifest


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a persisted IVF index WITHOUT rebuilding (r9): assign the
    new vectors against the manifest's frozen centroids (driver-side
    KBs — the corpus is never rescanned) and APPEND to the
    cell-bucketed assignment table; Spark preserves the bucket spec on
    append, so probes stay shuffle-free on the index side. This is the
    standard serving lifecycle — train once, keep indexing arrivals —
    with the known trade-off that centroids drift stale as the
    distribution moves (rebuild cadence is the operator's knob).
    Probe parity with a from-scratch build under the SAME centroids is
    pytest-pinned (tests/test_ann_index.py)."""
    m = _load_ivf_manifest(path)
    # One bucketed write path for build and append (the ADVICE r13
    # desync rule, applied here as well as to the minhash index).
    write_bucketed(
        _assign_cells(new_vectors, m["centroids"], id_col, vec_col),
        m["table"], path, "cell", m["n_buckets"], mode="append",
    )


def build_lsh_index(
    candidates: DataFrame,
    table: str,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    n_tables: int = 16,
    n_buckets: int = 16,
) -> dict:
    """Persist the random-hyperplane LSH bucketing (r8 VERDICT
    missing-#2: `sinks/ann.py persists IVF only`) so probes stop
    refitting the sign matrix and re-bucketing the corpus per run.

    The index is the banded signature table ``(tb, vec_id, embedding,
    nrm)`` — one row per (vector, hash table), ``tb = table * 2^n_bits
    + bucket`` packing the (table, bucket) composite into ONE bigint
    join key (bit width n_bits + log2(n_tables) << 31, CLAUDE.md's
    shift bound) — written bucketed+sorted by ``tb``, so the probe-time
    equi-join reads the corpus side bucket-to-bucket with NO Exchange.
    The manifest records the hyperplane family parameters (n_bits,
    n_tables, dim, sign_family; the signs are the deterministic
    md5-parity family of operators/similarity._md5_sign_matrix,
    re-derived at probe time — KBs, never persisted with the data)."""
    from graph_database_spark.operators.similarity import (
        _auto_bits,
        _md5_buckets,
        _vec_dim,
    )

    n_bits = _auto_bits(candidates, n_bits)
    dim = _vec_dim(candidates, vec_col)
    cb = _md5_buckets(candidates, id_col, vec_col, "b", n_bits, n_tables, dim)
    assigned = cb.select(
        (F.col("table").cast("long") * (1 << n_bits) + F.col("bucket")).alias("tb"),
        F.col("idb").alias("vec_id"),
        F.col("vb").alias("embedding"),
        F.col("nb").alias("nrm"),
    )
    write_bucketed(assigned, table, path, "tb", n_buckets)
    manifest = {
        "kind": "lsh",
        "table": table,
        "n_bits": n_bits,
        "n_tables": n_tables,
        "dim": dim,
        "n_buckets": n_buckets,
        "sign_family": _LSH_SIGN_FAMILY,
    }
    _write_manifest(path, manifest)
    return manifest


def probe_lsh_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(query_id, cand_id, sim, rank)`` against a persisted LSH index
    — no refit, no corpus re-bucketing. Only the query side hashes
    (against the manifest-derived sign literals) and shuffles onto the
    index's ``tb`` buckets; pair dedup and the per-query top-k window
    run on scored 24-byte scalars, never vector payloads. Result parity
    with the refit path (similarity.lsh_topk) is pytest-pinned.

    Raises ValueError on an index whose manifest names another sign
    family (one written by an older build): its buckets were cut by
    other hyperplanes, and probing them with these signs would silently
    miss candidates."""
    from graph_database_spark.operators.similarity import _md5_buckets, _pair_sim

    m = _load_manifest(path)
    if m.get("kind") != "lsh":
        raise ValueError(f"index at {path} is kind={m.get('kind')!r}, not lsh")
    if m.get("sign_family") != _LSH_SIGN_FAMILY:
        raise ValueError(
            f"index at {path} has sign_family={m.get('sign_family')!r}, "
            f"not {_LSH_SIGN_FAMILY!r}; rebuild it with build_lsh_index"
        )
    n_bits, n_tables, dim = m["n_bits"], m["n_tables"], m["dim"]
    cand = spark.table(m["table"]).select(
        "tb",
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    qb = _md5_buckets(queries, id_col, vec_col, "a", n_bits, n_tables, dim).select(
        (F.col("table").cast("long") * (1 << n_bits) + F.col("bucket")).alias("tb"),
        "ida",
        "va",
        "na",
    )
    pairs = (
        qb.join(cand, "tb")
        .where(F.col("ida") != F.col("idb"))
        .select(
            F.col("ida").alias("query_id"),
            F.col("idb").alias("cand_id"),
            _pair_sim(6).alias("sim"),
        )
        # A pair colliding in several hash tables arrives once per
        # table; dedup AFTER scoring so the shuffle carries scalars
        # (the lsh_topk discipline), not two dim-double vectors.
        .dropDuplicates(["query_id", "cand_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(query_id, cand_id, sim, rank)`` against a persisted index —
    no refit, no corpus scan outside the probed cells. The centroid
    model comes from the manifest (driver-side KBs); the candidate side
    arrives pre-bucketed on ``cell``. Queries rank cells and re-rank
    pairs exactly as ivf_topk does. Raises ValueError on a manifest of
    another kind or centroid family (see ``_load_ivf_manifest``)."""
    m = _load_ivf_manifest(path)
    return _rerank_topk(
        _query_cells(queries, m["centroids"], n_probe, id_col, vec_col),
        spark.table(m["table"]),
        k,
    )


def build_minhash_index(
    docs: DataFrame,
    table: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    n_buckets: int = 16,
) -> dict:
    """Persist the banded md5-MinHash signature index (r13, VERDICT r12
    #7 — the at-rest artifact incremental_minhash_dedup probes): rows
    ``(key, band, id, sig)`` bucketed+sorted by the band bucket ``key``,
    so the probe-time (band, key) equi-join reads the corpus side
    bucket-to-bucket with NO Exchange (HashPartitioning(key) satisfies
    the (band, key) clustering — key alone co-locates every candidate
    pair). The manifest records the signature family parameters; no
    model weights exist (md5 is the family), so append never drifts."""
    from graph_database_spark.operators.dedup import minhash_index_md5

    idx = minhash_index_md5(
        docs, text_col, id_col, n_hashes, bands, shingle_k
    ).select("key", "band", "id", "sig")
    write_bucketed(idx, table, path, "key", n_buckets)
    manifest = {
        "kind": "minhash",
        "table": table,
        "n_hashes": n_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
        "n_buckets": n_buckets,
        "hash_family": "md5-seed-prefixed-60bit",
    }
    _write_manifest(path, manifest)
    return manifest


def append_minhash_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Grow a persisted MinHash index WITHOUT rebuilding: sign only the
    new documents under the manifest's family parameters and APPEND to
    the bucketed table (Spark preserves the bucket spec on append, so
    probes stay shuffle-free on the index side). Unlike IVF there is
    no trained model to go stale — the md5 family is data-independent —
    so append-then-probe equals build-over-union EXACTLY
    (pytest-pinned), not just approximately.

    Precondition (ADVICE r13): appended doc ids must be DISJOINT from
    ids already in the index — re-appending a batch leaves duplicate
    (key, id, sig) rows. Probe DECISIONS stay correct (countDistinct
    on the other side), but index size and the exact append==rebuild
    equality degrade; dedupe ids upstream if a source can re-deliver."""
    from graph_database_spark.operators.dedup import minhash_index_md5

    m = _load_manifest(path)
    if m.get("kind") != "minhash":
        raise ValueError(
            f"index at {path} is kind={m.get('kind')!r}, not minhash"
        )
    idx = minhash_index_md5(
        new_docs, text_col, id_col, m["n_hashes"], m["bands"], m["shingle_k"]
    ).select("key", "band", "id", "sig")
    write_bucketed(
        idx, m["table"], path, "key", m["n_buckets"], mode="append"
    )


def probe_minhash_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Append-batch dedup decisions against a persisted index —
    ``(doc_id, corpus_dups, batch_dups, kept)``, the
    incremental_minhash_dedup contract with the corpus side read from
    the bucketed table (only the batch is signed; only the batch side
    shuffles onto the index's key buckets)."""
    from graph_database_spark.operators.dedup import incremental_minhash_dedup

    m = _load_manifest(path)
    if m.get("kind") != "minhash":
        raise ValueError(
            f"index at {path} is kind={m.get('kind')!r}, not minhash"
        )
    return incremental_minhash_dedup(
        spark.table(m["table"]),
        batch,
        text_col,
        id_col,
        m["n_hashes"],
        m["bands"],
        m["shingle_k"],
        threshold,
    )


def build_ivfpq_index(
    vectors: DataFrame,
    table: str,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    pq_k: int = 256,
    rounds: int = 2,
    sub_dims: int = 8,
    n_buckets: int = 16,
) -> dict:
    """Persist the residual IVF-PQ serving layout (r14): the at-rest
    artifact is ``(cell, cand_id, s, code)`` — n_sub byte-sized codes
    per vector, bucketed+sorted by ``cell`` so the probe-time cell
    equi-join reads the corpus side bucket-to-bucket with NO Exchange
    (single-column join key == bucket spec, the Spark 3.3 all-keys
    rule) — plus a manifest holding every model parameter (coarse unit
    centroids, integer cell means, residual codebook; bounded
    n_centroids x d + pq_k x d ints, the FAISS index-header analog).
    The model comes from operators/pq.ivfpq_fit — the SAME training
    the inline ivfpq_topk_md5 runs — so probe==inline parity is by
    construction (pytest-pinned, tests/test_ann_index.py)."""
    from graph_database_spark.operators.pq import ivfpq_fit

    model = ivfpq_fit(
        vectors, n_centroids, pq_k, rounds, sub_dims, id_col, vec_col
    )
    stored = model["cand_cell"].join(model["codes"], "cand_id").select(
        "cell", "cand_id", "s", "code"
    )
    write_bucketed(stored, table, path, "cell", n_buckets)
    manifest = {
        "kind": "ivfpq",
        "table": table,
        "n_centroids": n_centroids,
        "pq_k": pq_k,
        "rounds": rounds,
        "sub_dims": sub_dims,
        "n_buckets": n_buckets,
        "cents": model["cents"],
        "cell_means": [
            [r["cell"], r["i"], r["cm"]] for r in model["cmn"].collect()
        ],
        "codebook": [
            [r["c"], r["i"], r["cm"]] for r in model["codebook"].collect()
        ],
    }
    _write_manifest(path, manifest)
    return manifest


def _ivfpq_model_frames(spark: SparkSession, m: dict):
    """(cmn, codebook) DataFrames rebuilt from a manifest — bounded
    driver-side model rows, broadcast at the join sites."""
    cmn = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in m["cell_means"]],
        "cell int, i int, cm long",
    )
    codebook = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in m["codebook"]],
        "c int, i int, cm long",
    )
    return cmn, codebook


def append_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a persisted IVF-PQ index WITHOUT retraining (the FAISS
    ``add`` lifecycle): assign each arrival to its coarse cell against
    the manifest's frozen centroids, encode its residual to the frozen
    cell mean against the frozen codebook (operators/pq.pq_encode —
    the Lloyd assign step alone), and APPEND the ``(cell, cand_id, s,
    code)`` rows through the one bucketed write path. Same trade-off
    as append_ivf_index: the model drifts stale as the distribution
    moves (rebuild cadence is the operator's knob), and appended ids
    must be disjoint from those indexed (the minhash append rule)."""
    from graph_database_spark.operators.pq import _explode_micro, pq_encode

    m = _load_manifest(path)
    if m.get("kind") != "ivfpq":
        raise ValueError(
            f"index at {path} is kind={m.get('kind')!r}, not ivfpq"
        )
    spark = new_vectors.sparkSession
    cmn, codebook = _ivfpq_model_frames(spark, m)
    simmed = _micro_sims(new_vectors, m["cents"], id_col, vec_col)
    cell_of = simmed.select(
        F.col("vid").alias("vec_id"), _best_cell().alias("cell")
    ).localCheckpoint()
    nex = _explode_micro(
        new_vectors, m["sub_dims"], id_col, vec_col
    ).localCheckpoint()
    rex = (
        nex.join(cell_of, "vec_id")
        .join(F.broadcast(cmn), ["cell", "i"])
        .select(
            "vec_id", "i", "s", (F.col("xm") - F.col("cm")).alias("xm")
        )
    )
    stored = (
        pq_encode(rex, codebook, m["sub_dims"])
        .join(cell_of, "vec_id")
        .select("cell", F.col("vec_id").alias("cand_id"), "s", "code")
    )
    write_bucketed(
        stored, m["table"], path, "cell", m["n_buckets"], mode="append"
    )


def probe_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search against a persisted IVF-PQ index — ``(query_id,
    cand_id, adc_d2, rank)``, the ivfpq_topk_md5 contract with the
    corpus side read from the bucketed code table: queries rank cells
    against the manifest's centroid literals, build their per-probed-
    cell residual lookup tables from the manifest's cell means +
    codebook (query-side-only work), and meet the index in ONE cell
    equi-join — the corpus is touched only through its byte codes,
    pre-bucketed, no index-side Exchange."""
    from graph_database_spark.operators.pq import (
        _adc_qtab,
        _adc_rank,
        _explode_micro,
    )

    m = _load_manifest(path)
    if m.get("kind") != "ivfpq":
        raise ValueError(
            f"index at {path} is kind={m.get('kind')!r}, not ivfpq"
        )
    cmn, codebook = _ivfpq_model_frames(spark, m)
    probe = _probe_cells(
        _micro_sims(queries, m["cents"], id_col, vec_col), n_probe
    )
    q_pex = _explode_micro(
        queries, m["sub_dims"], id_col, vec_col
    ).localCheckpoint()
    pairs = (
        probe.join(spark.table(m["table"]), "cell")
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", "cell", "s", "code")
    )
    qtab = _adc_qtab(probe, q_pex, cmn, codebook)
    return _adc_rank(pairs, qtab, k)
