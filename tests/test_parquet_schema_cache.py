"""The parquet source infers a file's schema once: a repeat read of an
unchanged file fires no Spark job, and a rewritten file or a changed
inference conf is inferred afresh (sources/parquet.py docstring)."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from graph_database_spark.sources.parquet import load_table


def _jobs_fired(spark, fn):
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_fires_no_job(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}),
        tmp_path / "region.parquet",
    )
    first, first_jobs = _jobs_fired(spark, lambda: load_table(spark, str(tmp_path), "region"))
    again, again_jobs = _jobs_fired(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert first_jobs >= 1  # the inference the cache saves is a real job
    assert again_jobs == 0
    assert again.schema == first.schema
    assert sorted(map(tuple, again.collect())) == [(0, "AFRICA"), (1, "ASIA")]


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_name": ["EUROPE"], "r_comment": ["x"], "r_rank": [2.5]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_name", "r_comment", "r_rank"]
    assert [tuple(r) for r in df.collect()] == [("EUROPE", "x", 2.5)]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    pq.write_table(
        pa.table({"r_name": pa.array([b"AMERICA"], pa.binary())}),
        tmp_path / "region.parquet",
    )
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf, None)
    assert load_table(spark, str(tmp_path), "region").schema["r_name"].dataType.simpleString() == "binary"
    try:
        spark.conf.set(conf, "true")
        df = load_table(spark, str(tmp_path), "region")
        assert df.schema["r_name"].dataType.simpleString() == "string"
        assert df.first()["r_name"] == "AMERICA"
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)
