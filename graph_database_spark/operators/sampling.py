"""Deterministic sampling / corpus-shaping operators (training-data
pipeline surface, SURVEY.md §2.11).

Every large-scale curation job needs reproducible sampling: the same
document must land in the same split on every run, engine, and retry —
``df.sample()``'s RNG-based rows fail all three (and break shuffle retry
determinism). These operators derive the sampling decision from a
portable content hash (md5 of the key rendered as a string — bit-exact
across Spark and any ANSI engine), so each is fully oracle-checkable:

  hash_sample      keep a deterministic ~fraction of rows
  stratified_cap   keep at most N rows per group, chosen in hash order
                   (the mixture-weighting primitive: cap over-represented
                   sources so the corpus matches a target distribution)
  token_chunks     sequential token-budget packing: assign documents to
                   fixed-token-budget chunks by running token offset (the
                   pretraining shard-packing shape)

Scale posture: hash_sample is a narrow filter pushed to the scan (no
shuffle); stratified_cap is one window shuffle keyed by the group;
token_chunks one window shuffle keyed by the packing group. md5 on a
short key string is ~100ns/row JVM-side — noise next to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from graph_database_spark.operators.sketches import md5_hash60

__all__ = [
    "hash_sample",
    "stratified_cap",
    "token_chunks",
    "sample_threshold_hex",
    "weighted_sample_es",
]


def sample_threshold_hex(fraction: float, digits: int = 4) -> str:
    """Hex threshold such that md5-prefix < threshold keeps ~fraction of
    rows (resolution 16^-digits). Shared with the SQL oracle builder."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return format(int(round(fraction * 16**digits)), f"0{digits}x")


def _hash_hex(key) -> "F.Column":
    return F.md5(F.col(key).cast("string"))


def hash_sample(df: DataFrame, fraction: float, key: str = "doc_id") -> DataFrame:
    """Keep rows whose md5(key) prefix falls below the fraction
    threshold — deterministic, engine-portable, retry-stable. A narrow
    filter: no shuffle, survives any scale. fraction=1.0 is the identity
    (the 4-hex-digit threshold '10000' would compare wrongly as a
    string, so it never reaches the filter)."""
    if fraction >= 1.0:
        return df
    thr = sample_threshold_hex(fraction)
    return df.where(F.substring(_hash_hex(key), 1, 4) < F.lit(thr))


def stratified_cap(
    df: DataFrame,
    group_cols: list[str],
    cap: int,
    key: str = "doc_id",
) -> DataFrame:
    """At most ``cap`` rows per group, selected in (md5(key), key) order
    — a deterministic uniform draw per stratum. The mixture-weighting
    primitive: cap the over-represented (lang, source) strata so the
    kept corpus follows the target mix. One window shuffle keyed by the
    group columns; per-group state is the rank counter."""
    w = Window.partitionBy(*group_cols).orderBy(_hash_hex(key), F.col(key))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def proportional_sample(
    df: DataFrame,
    group_cols: list[str],
    num: int = 1,
    den: int = 5,
    key: str = "doc_id",
) -> DataFrame:
    """Exact proportional stratified sampling: keep the first
    ``count_s * num div den`` rows of each stratum in deterministic
    (md5(key), key) order — every stratum is represented at EXACTLY the
    target rate (floor), unlike a per-row hash threshold whose realized
    per-stratum rate is binomial (``hash_sample``) or a fixed cap that
    distorts the mix (``stratified_cap``). The shape a training-mixture
    rebuild wants when the spec says "20% of every source".

    One window shuffle keyed by the group columns; rank and stratum
    size come from the same window pass.
    """
    w = Window.partitionBy(*group_cols).orderBy(_hash_hex(key), F.col(key))
    wc = Window.partitionBy(*group_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wc))
        .where(F.col("_rn") * den <= F.col("_n") * num)
        .drop("_rn", "_n")
    )


def token_chunks(
    docs: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    group_col: str = "lang",
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-token-budget chunks per group:
    ``chunk_id = floor(start_offset / budget)`` where start_offset is
    the running token count before the document, in deterministic
    ``order_col`` order — the shard-packing shape (greedy sequential
    fill; a document starting inside chunk k belongs to chunk k).
    One window shuffle keyed by the packing group."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return docs.select(
        "*",
        F.floor(start / F.lit(budget)).cast("bigint").alias("chunk_id"),
    )


def weighted_sample_es(
    df: DataFrame,
    k: int = 50,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement, Efraimidis-
    Spirakis A-ES: each row draws an exponential key -ln(u)/w and the k
    SMALLEST keys win — inclusion probability proportional to weight,
    exactly the corpus-mixture draw an LLM data pipeline makes when
    upsampling high-quality sources. The uniform u is md5-derived from
    the id (engine-portable, retry-stable — the same reasoning as
    hash_sample; df.sample's RNG is neither), so every executor, retry,
    and the DuckDB oracle draw the SAME sample.

    The libm ln() is snapped to integer micro-units BEFORE ranking
    (CLAUDE.md float rule: cross-engine last-ulp ln() disagreement must
    not flip an ordering; ties then break on id). Narrow map + one
    top-k sort of k rows — no full shuffle at any scale.

    Rows with weight <= 0 are EXCLUDED before the draw (ADVICE r6):
    weight 0 would make the key Infinity/NaN (ANSI long cast throws)
    and a negative weight silently inverts the ranking; A-ES is only
    defined for positive weights. The oracle mirrors the predicate."""
    df = df.where(F.col(weight_col) > 0)
    u = (
        (md5_hash60(F.col(id_col)) + 1)
        .cast("double")
        / F.lit(1152921504606846976.0)  # 2^60
    )
    key_micro = F.round(
        -F.log(u) / F.col(weight_col).cast("double") * F.lit(1000000.0), 0
    ).cast("long")
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col).cast("bigint").alias("weight"),
            key_micro.alias("key_micro"),
        )
        .orderBy("key_micro", id_col)
        .limit(k)
    )
