"""End-to-end corpus curation CLI — the training-data pipeline as one job.

The batch shape a 100 TB curation run takes: staged dedup keeps the
best representative of every duplicate group, quality/language columns
annotate the survivors, deterministic stratified caps rebalance the
(lang, source) mix, and the kept corpus lands as partitioned parquet
(pruning-friendly layout) next to a one-row summary. Every stage is an
already-oracle-verified operator (catalog.py); this module only
composes them and writes.

One materialization: the deduped, PII-redacted corpus is
localCheckpointed once, and everything downstream (annotation, cap,
write) reads that checkpoint. The annotation is row-local —
``quality`` comes from ``text.quality_columns`` on the redacted text,
no self-join back on ``doc_id`` — so the scrubbed lineage is derived
once, not once per annotation. Every summary count rides a job that
runs anyway:

- ``input_docs``: ``docs.count()`` on the (unsampled) input, its own job;
- ``dedup_survivors`` and ``pii_redacted_docs``: an ``observe`` on the
  checkpoint job (row count, sum of ``has_pii``). The deduped frame is
  the docs rows whose ids survived ``staged_dedup`` (a semi-join on a
  key), so its row count is the survivor count;
- ``kept_docs``: an ``observe`` on the frame handed to the parquet
  writer, i.e. the rows written.

The capped rows are hash-partitioned by (lang, source) over the
session's default parallelism before the cap's window. That is the
window's own distribution, so no exchange is added, but the
user-pinned partition count keeps AQE from coalescing the whole write
into one task: the stratum files are created by every core instead of
one after another (sinks/parquet.py has the per-file cost).

Usage:
    python -m graph_database_spark.curate \
        --sf-dir /root/testdata/sf0.01 --out /tmp/curated \
        [--cap 200] [--sample 1.0]
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import Observation, functions as F

from graph_database_spark.corpus_api import Corpus
from graph_database_spark.operators.pii import redact
from graph_database_spark.operators.text import quality_columns
from graph_database_spark.session import get_spark
from graph_database_spark.sinks.parquet import write_partitioned
from graph_database_spark.sources.parquet import load_table

STRATA = ["lang", "source"]


def curate(spark, sf_dir: str, out_dir: str, cap: int = 200, sample: float = 1.0) -> dict:
    docs = load_table(spark, sf_dir, "documents")
    corpus = Corpus(docs)
    n_in = docs.count()

    if sample < 1.0:
        corpus = Corpus(corpus.sample(sample))

    survivors = corpus.staged_dedup().select("doc_id")
    deduped = corpus.docs.join(survivors, "doc_id", "left_semi")

    # PII redaction BEFORE annotation: quality/language signals (and the
    # published corpus) never see raw emails/IPs/phones.
    dedup_obs = Observation()
    scrubbed = (
        redact(deduped)
        .observe(dedup_obs, F.count(F.lit(1)).alias("n"), F.sum("has_pii").alias("n_pii"))
        .localCheckpoint()
    )
    dedup_stats = dedup_obs.get

    annotated = scrubbed.drop("has_pii").withColumns(
        {
            "quality": quality_columns(F.col("text"))["quality"],
            # The input's lang label, not language_id's pred_lang: the
            # written rows are pinned by perfbench/expected.json, and
            # switching to the prediction is a ROADMAP open item.
            "lang_pred": F.col("lang"),
        }
    )
    spread = annotated.repartition(spark.sparkContext.defaultParallelism, *STRATA)
    balanced = Corpus(spread).stratified(STRATA, cap)

    written_obs = Observation()
    write_partitioned(
        balanced.observe(written_obs, F.count(F.lit(1)).alias("n")),
        f"{out_dir}/corpus",
        STRATA,
    )

    summary = {
        "input_docs": n_in,
        "dedup_survivors": dedup_stats["n"],
        # sum() over no rows is NULL.
        "pii_redacted_docs": dedup_stats["n_pii"] or 0,
        "kept_docs": written_obs.get["n"],
        "cap_per_stratum": cap,
    }
    with open(f"{out_dir}/summary.json", "w") as f:
        json.dump(summary, f)
    return summary


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--cap", type=int, default=200)
    p.add_argument("--sample", type=float, default=1.0)
    args = p.parse_args(argv)
    spark = get_spark("curate")
    print(json.dumps(curate(spark, args.sf_dir, args.out, args.cap, args.sample)))


if __name__ == "__main__":
    main()
