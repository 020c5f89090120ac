"""Unified corpus-curation facade — SparkGraph's sibling for the text
surface.

One object over a documents DataFrame; every curation analytic the
engine implements hangs off it as a lazy method. The facade fixes the
column contract once (``doc_id`` / ``text``) and delegates to the
operator modules, which carry the oracle verification and 100 TB
design notes. Methods compose into a single Catalyst plan per action.
To annotate the documents themselves, add the row-local columns of
``text.quality_columns`` (as curate.py does) rather than joining
``quality()`` or ``lang_id()`` back on ``doc_id``: each join re-derives
the documents' lineage once more.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from graph_database_spark.operators import dedup as D
from graph_database_spark.operators import sampling as SA
from graph_database_spark.operators import text as T
from graph_database_spark.operators.components import dedup_groups

__all__ = ["Corpus"]


class Corpus:
    """A document corpus with ``(doc_id, text, ...)`` columns."""

    def __init__(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> None:
        self.docs = (
            docs
            if (id_col, text_col) == ("doc_id", "text")
            else docs.withColumnRenamed(id_col, "doc_id").withColumnRenamed(
                text_col, "text"
            )
        )

    # -- analysis ----------------------------------------------------------
    def token_stats(self) -> DataFrame:
        return T.token_stats(self.docs)

    def lang_id(self) -> DataFrame:
        return T.language_id(self.docs)

    def quality(self) -> DataFrame:
        return T.quality_score(self.docs)

    def quality_rules(self) -> DataFrame:
        return T.quality_rules(self.docs)

    def repetition(self) -> DataFrame:
        return T.repetition_stats(self.docs)

    def boilerplate(self, n: int = 5, top: int = 20) -> DataFrame:
        return T.common_ngrams(self.docs, n=n, top=top)

    # -- dedup -------------------------------------------------------------
    def dedup_exact(self) -> DataFrame:
        return D.exact_dedup(self.docs)

    def dedup_normalized(self) -> DataFrame:
        return D.normalized_dedup(self.docs)

    def near_dup_pairs(self, threshold: float = 0.5) -> DataFrame:
        return D.minhash_lsh_pairs(self.docs, threshold=threshold)

    def dedup_clusters(self, threshold: float = 0.5) -> DataFrame:
        """Connected-component cluster id per near-duplicate document."""
        return dedup_groups(self.near_dup_pairs(threshold=threshold))

    def weighted_jaccard_pairs(self, threshold_micro: int = 500_000) -> DataFrame:
        """Exact multiset-Jaccard near-dup pairs over term-frequency
        vectors (r9, operators/dedup.weighted_jaccard_pairs)."""
        return D.weighted_jaccard_pairs(self.docs, threshold_micro=threshold_micro)

    def kl_divergence(self) -> DataFrame:
        """Per-doc KL(doc || corpus) distribution-shift score (r9)."""
        from graph_database_spark.operators.retrieval import doc_kl_divergence

        return doc_kl_divergence(self.docs)

    def staged_dedup(self) -> DataFrame:
        return D.staged_dedup(self.docs)

    def decontaminate(
        self, eval_ids: DataFrame | None = None, ngram: int = 8
    ) -> DataFrame:
        return D.cross_contamination(self.docs, eval_ids=eval_ids, ngram=ngram)

    # -- shaping -----------------------------------------------------------
    def sample(self, fraction: float) -> DataFrame:
        return SA.hash_sample(self.docs, fraction)

    def stratified(self, group_cols: list[str], cap: int) -> DataFrame:
        return SA.stratified_cap(self.docs, group_cols, cap)

    def mixture_weights(self, alpha: float = 0.5) -> DataFrame:
        return T.mixture_weights(self.docs, alpha=alpha)

    # -- reproducibility ---------------------------------------------------
    def snapshot(self, path: str, note: str = "") -> int:
        """Publish the current corpus as the next immutable version at
        ``path`` (sinks/versioned.py); returns the version number a
        training run should record to replay this exact corpus."""
        from graph_database_spark.sinks.versioned import write_version

        return write_version(self.docs, path, note=note)

    @classmethod
    def at_version(cls, spark, path: str, version: int | None = None) -> "Corpus":
        """Reopen a pinned snapshot (default: latest) as a Corpus."""
        from graph_database_spark.sinks.versioned import read_version

        return cls(read_version(spark, path, version))
