"""IVF-style approximate nearest neighbor (SURVEY.md §2.11 X3 scale path).

Inverted-file search: partition the vector space into cells around a
small set of centroid vectors; index each candidate under its nearest
centroid; at query time probe only the ``n_probe`` nearest cells and
re-rank exactly inside them. Complements the random-hyperplane LSH path
(operators/similarity.py): IVF adapts to the data distribution (cells
follow the corpus), LSH is data-independent.

Centroid selection is a deterministic md5-ordered draw of corpus vectors
(the ``n_centroids`` rows with smallest ``md5(id)``) — the honest
stand-in for a k-means training pass that keeps every run and engine
reproducible. Centroids are a MODEL PARAMETER: a few KB collected to the
driver once, L2-normalized and quantized to integer micro-units.

One cell kernel serves every IVF caller (``ivf_topk``, the persisted
index in sinks/ann.py, IVF-PQ in operators/pq.py): ``_micro_sims``
computes exact integer micro dot products against the centroids in one
numpy matmul per Arrow batch, ``_best_cell`` assigns a candidate to its
argmax cell (first-index tiebreak) and ``_probe_cells`` ranks a query's
cells (sim DESC, cell DESC). Integer sims make assignment and probe
ranking order-exact cross-engine, so ``ann_ivf`` hash-verifies against
the DuckDB oracle (catalog._build_ann_ivf_md5_sql).

Scale posture: assignment O(n_centroids · dim) per row, row-local;
the only shuffles are the candidate/query meet on the cell key and the
per-query top-k window. Cell occupancy ~ N / n_centroids — raise
n_centroids with corpus size (same knob discipline as LSH n_bits).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from graph_database_spark.functions.vectors import l2_norm
from graph_database_spark.operators.similarity import _pair_sim
from graph_database_spark.operators.spread import spread

__all__ = ["ivf_topk"]


def _half_away(y: float) -> int:
    """round-half-away-from-zero — the rounding Spark's round() and
    DuckDB's round() share (Python's built-in round is banker's)."""
    return math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)


def _unit_centroid_micro(
    candidates: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[list[int]]:
    """md5-ordered centroid draw, L2-normalized then quantized to BIGINT
    micro-units driver-side. Every step is oracle-reproducible: the md5
    ordering in SQL, IEEE sqrt/divide (exactly specified, so Python and
    DuckDB agree bit-for-bit), and half-away rounding."""
    rows = (
        candidates.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    out = []
    for r in rows:
        v = [float(x) for x in r[vec_col]]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([_half_away((x / nrm) * 1_000_000.0) for x in v])
    return out


def _micro_sims(
    vectors: DataFrame, cents: list, id_col: str, vec_col: str, *keep: Column
) -> DataFrame:
    """``(vid, sims, *keep)`` — exact integer micro dot products of every
    vector against the (driver-side) unit centroid micro list, as ONE
    array column; ``keep`` columns (aliased expressions over
    ``vectors``) ride along unchanged, so a caller needing the vector
    payload beside its cells does not join it back by id.

    r14 optimization round: the dot products run as one numpy matmul
    per Arrow batch (``mapInArrow``) instead of n_centroids
    aggregate/zip_with HOFs per row — HOFs evaluate INTERPRETED outside
    whole-stage codegen (the SCALE.md r14 packed-assign rejection), and
    the old shape re-ran all of them once per downstream consumer.
    Exactness: integer-valued float64 dot products are exact below 2^53
    partial sums (|xm|,|cm| <= ~2.1e6 micro units and d <= 1024 keeps
    max |partial| < 2^52); an int64 fallback guards the bound anyway.
    The output is lazy: a caller that reads it more than once
    checkpoints it (pq.ivfpq_fit's ``simmed``)."""
    import numpy as np

    C = np.asarray(cents, dtype=np.int64)  # (n_centroids, d)
    cmax = int(np.abs(C).max()) if C.size else 0
    n_cent, d = C.shape

    def fn(batches):
        import pyarrow as pa

        for b in batches:
            m = b.num_rows
            if m == 0:
                continue
            flat = (
                b.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            if flat.size != m * d:
                raise ValueError(
                    f"ivf sims: ragged vectors ({flat.size} values for "
                    f"{m} x {d})"
                )
            X = flat.reshape(m, d)
            xmax = int(np.abs(X).max())
            if max(xmax, cmax, 1) ** 2 * d < 2**52:
                S = (X.astype(np.float64) @ C.T.astype(np.float64)).astype(
                    np.int64
                )
            else:
                S = X @ C.T
            offs = pa.array(
                np.arange(0, (m + 1) * n_cent, n_cent, dtype=np.int32)
            )
            sims = pa.ListArray.from_arrays(
                offs, pa.array(S.reshape(-1), type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(0), sims, *b.columns[2:]],
                ["vid", "sims", *b.schema.names[2:]],
            )

    packed = spread(vectors).select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 1_000_000.0, 0).cast(
                "long"
            ),
        ).alias("xs"),
        *keep,
    )
    fields = packed.schema.fields
    out = StructType(
        [fields[0], StructField("sims", ArrayType(LongType())), *fields[2:]]
    )
    return packed.mapInArrow(fn, out)


def _best_cell() -> Column:
    """The 1-based argmax cell of a ``sims`` column, first-index
    tiebreak (s DESC, c ASC) — the oracle's candidate-cell order."""
    return F.expr("array_position(sims, array_max(sims))").cast("int")


def _probe_cells(simmed: DataFrame, n_probe: int) -> DataFrame:
    """``(query_id, *kept, cell)`` — top-``n_probe`` cells by (sim DESC,
    cell DESC), 1-based, mirroring the oracle's
    reverse(array_sort(struct(s, c))) order; columns of ``simmed`` other
    than ``vid``/``sims`` (the kernel's ``keep``) pass through."""
    kept = [c for c in simmed.columns if c not in ("vid", "sims")]
    return simmed.select(
        F.col("vid").alias("query_id"),
        *kept,
        F.explode(
            F.expr(
                "transform(slice(reverse(array_sort(transform(sims,"
                " (s, c) -> struct(s AS s, c AS c)))),"
                f" 1, {int(n_probe)}), pc -> CAST(pc.c + 1 AS INT))"
            )
        ).alias("cell"),
    )


def _assign_cells(
    vectors: DataFrame, cents: list, id_col: str, vec_col: str
) -> DataFrame:
    """``(cell, vec_id, embedding, nrm)`` — each vector under its argmax
    cell, with its payload and norm: the candidate side of ivf_topk and
    the row shape the persisted index (sinks/ann.py) stores."""
    v = F.col(vec_col)
    return _micro_sims(
        vectors, cents, id_col, vec_col,
        v.alias("embedding"), l2_norm(v).alias("nrm"),
    ).select(
        _best_cell().alias("cell"),
        F.col("vid").alias("vec_id"),
        "embedding",
        "nrm",
    )


def _query_cells(
    queries: DataFrame, cents: list, n_probe: int, id_col: str, vec_col: str
) -> DataFrame:
    """``(query_id, va, na, cell)`` — one row per probed cell of each
    query, with the query's payload and norm."""
    v = F.col(vec_col)
    return _probe_cells(
        _micro_sims(
            queries, cents, id_col, vec_col,
            v.alias("va"), l2_norm(v).alias("na"),
        ),
        n_probe,
    )


def _rerank_topk(qcells: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """``(query_id, cand_id, sim, rank)`` — meet probed query cells
    (``_query_cells``) with assigned candidates (``_assign_cells``) on
    the cell key, score exactly (double cosine rounded to 6,
    similarity._pair_sim) and keep the per-query top-``k``. No pair
    dedup: each candidate sits in one cell and the probed cells are
    distinct, so (query, cand) pairs are already unique."""
    pairs = (
        qcells.join(
            cand.select(
                "cell",
                F.col("vec_id").alias("idb"),
                F.col("embedding").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "cell",
        )
        .where(F.col("query_id") != F.col("idb"))
        .select(
            "query_id",
            F.col("idb").alias("cand_id"),
            _pair_sim(6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k cosine neighbors: ``(query_id, cand_id, sim,
    rank)``. Recall < 1 by construction (a true neighbor indexed under a
    cell the query doesn't probe is missed); raise ``n_probe`` to buy
    recall — cost is linear in probed cells. Recall floor pinned by
    tests/test_ivf.py; rows hash-verified by the ann_ivf oracle."""
    cents = _unit_centroid_micro(candidates, id_col, vec_col, n_centroids)
    return _rerank_topk(
        _query_cells(queries, cents, n_probe, id_col, vec_col),
        _assign_cells(candidates, cents, id_col, vec_col),
        k,
    )
