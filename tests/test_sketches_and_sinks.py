"""KMV sketch accuracy + partitioned-sink pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_database_spark.operators.sketches import distinct_count_kmv
from graph_database_spark.sinks.parquet import read_partitioned, write_partitioned
from graph_database_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_kmv_accuracy_vs_exact(spark):
    o = load_table(spark, SF_DIR, "orders")
    exact = o.select(F.count_distinct("o_custkey")).first()[0]
    est = distinct_count_kmv(o, "o_custkey", k=256).first()["est_distinct"]
    assert abs(est - exact) / exact < 0.15, (est, exact)


def test_kmv_exact_below_k(spark):
    df = spark.range(100).select(F.col("id").alias("k"))
    est = distinct_count_kmv(df, "k", k=256).first()["est_distinct"]
    assert est == 100.0  # fewer than k distinct -> the sketch is exact


def test_kmv_md5_twin_accuracy(spark):
    # The md5 sketch (the hash distinct_users_kmv's oracle replays)
    # genuinely exercises the sketch path here (k=64 < 150 distinct
    # users per event type at sf0.01) and stays within 15%.
    e = load_table(spark, SF_DIR, "events")
    rows = distinct_count_kmv(e, "user_id", group_by="event_type", k=64).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["est_distinct"] != 150.0  # sketch path, not exact fallback
        assert abs(r["est_distinct"] - 150.0) / 150.0 < 0.15, r


def test_kmv_grouped(spark):
    e = load_table(spark, SF_DIR, "events")
    rows = {r["event_type"]: r["est_distinct"]
            for r in distinct_count_kmv(e, "user_id", group_by="event_type").collect()}
    assert rows and all(0 < v <= 200 for v in rows.values())  # 150 real users


def test_partitioned_sink_prunes(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])

    back = read_partitioned(spark, path)
    one_lang = back.select("lang").first()["lang"]
    q = back.where(F.col("lang") == one_lang)
    q.count()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    # Round trip preserves the data.
    assert back.count() == docs.count()


def test_hll_md5_twin_accuracy(spark):
    # The deterministic cross-engine HLL (oracle-checked values): raw
    # estimator, m=32 — error bound is ~1.04/sqrt(32) (~18%); observed
    # ~10% on the driver's events table (150 distinct users/type).
    from graph_database_spark.operators.sketches import hll_distinct

    e = load_table(spark, SF_DIR, "events")
    exact = {r["event_type"]: r["n"] for r in
             e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    est = {r["event_type"]: r["est_distinct"] for r in
           hll_distinct(e, "user_id", group_by="event_type").collect()}
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.2, (k, est[k], n)


def test_hll_ungrouped(spark):
    from graph_database_spark.operators.sketches import hll_distinct

    o = load_table(spark, SF_DIR, "orders")
    exact = o.select(F.count_distinct("o_custkey")).first()[0]
    est = hll_distinct(o, "o_custkey").first()["est_distinct"]
    assert abs(est - exact) / exact < 0.2, (est, exact)


def test_hll_within_rsd_of_exact(spark):
    e = load_table(spark, SF_DIR, "events")
    exact = {r["event_type"]: r["n"] for r in
             e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    approx = {r["event_type"]: r["approx_users"] for r in
              e.groupBy("event_type").agg(
                  F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
              ).collect()}
    assert set(approx) == set(exact)
    for k, n in exact.items():
        # 5x the configured rsd is a generous but non-vacuous bound.
        assert abs(approx[k] - n) <= max(1, 0.1 * n), (k, approx[k], n)


def test_cms_overestimates_and_merges(spark):
    from pyspark.sql import functions as F
    from graph_database_spark.operators.sketches import cms_build, cms_estimate

    items = spark.createDataFrame(
        [(w,) for w in ["a"] * 50 + ["b"] * 30 + ["c"] * 5], "item string"
    )
    cms = cms_build(items, "item", width=64)
    q = spark.createDataFrame([("a",), ("b",), ("c",)], "item string")
    est = {r["item"]: r["est"] for r in cms_estimate(q, cms, "item", width=64).collect()}
    # CMS never underestimates
    assert est["a"] >= 50 and est["b"] >= 30 and est["c"] >= 5
    # with 3x64 cells and 3 distinct items, estimates should be exact
    assert est == {"a": 50, "b": 30, "c": 5}
    # mergeability: sketch(A+B) == cellwise sum of sketch(A), sketch(B)
    half1 = spark.createDataFrame([(w,) for w in ["a"] * 20], "item string")
    half2 = spark.createDataFrame([(w,) for w in ["a"] * 30 + ["b"] * 30 + ["c"] * 5], "item string")
    merged = (
        cms_build(half1, "item", width=64)
        .unionByName(cms_build(half2, "item", width=64))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["row"], r["col"]): r["cnt"] for r in cms.collect()}
    assert {(r["row"], r["col"]): r["cnt"] for r in merged.collect()} == whole


def test_quantile_hist_brackets_exact_percentiles(spark):
    # The histogram inversion must bracket the exact order statistic.
    from graph_database_spark.catalog import q_quantile_hist

    sf = "/root/testdata/sf0.001"
    got = {r["q"]: (r["est_lo"], r["est_hi"]) for r in q_quantile_hist(spark, sf).collect()}
    from graph_database_spark.sources.parquet import load_table

    vals = sorted(
        r["l_extendedprice"]
        for r in load_table(spark, sf, "lineitem").select("l_extendedprice").collect()
    )
    n = len(vals)
    for q, (lo, hi) in got.items():
        exact = vals[min(n - 1, (n * q + 99) // 100 - 1)]
        assert lo <= exact < hi, (q, lo, exact, hi)
