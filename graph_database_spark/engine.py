"""SQL entry point: the engine's equivalent of the reference's query
dispatcher (src/main.js:31-37 ships Cypher strings to Neo4j; here SQL
strings go to Catalyst).

``register_tables`` exposes every driver table as a temp view (plus the
derived co-purchase ``edges`` view), after which ``sql`` runs arbitrary
Spark SQL over them — the migration path for users whose queries are not
in the curated catalog. Views are lazy: registering them costs nothing,
and Catalyst sees straight through a view to the parquet scan, so
pushdown/pruning behave exactly as with the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from graph_database_spark.plans.copurchase import copurchase_edges
from graph_database_spark.sources.parquet import TABLES, load_table


def register_tables(
    spark: SparkSession, sf_dir: str, include_graph: bool = True
) -> list[str]:
    """Register every driver table as a temp view; returns the view
    names. ``include_graph`` adds the derived co-purchase ``edges`` view
    (src < dst canonical) so graph SQL composes with the rest."""
    names = []
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        names.append(name)
    if include_graph:
        copurchase_edges(spark, sf_dir).createOrReplaceTempView("edges")
        names.append("edges")
    return names


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-call SQL entry: register views, run the query."""
    register_tables(spark, sf_dir)
    return spark.sql(query)


def plan_audit(df: DataFrame) -> dict:
    """Plan health summary for a DataFrame: ``{exchanges, scans,
    pushed_filters, has_cartesian, codegen_stages}``.

    The catalog-wide plan-shape gate (tests/test_plan_shapes.py) counts
    Exchanges with this, so library and gate share one counter. Lets
    pipeline code assert its own scale posture (e.g. `assert
    plan_audit(df)["exchanges"] <= 2` in a test, or a pre-submit check
    that a new filter actually reached the scan). Reads the AQE initial physical plan; at 100 TB
    the same numbers are what the Spark UI's SQL tab would show
    pre-execution."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"Exchange ", plan)),
        "scans": sorted(
            {s[:120] for s in re.findall(r"ReadSchema: (\S+)", plan)}
        ),
        # The plan printer elides long filter lists ("..."), so match up
        # to the following ReadSchema instead of a closing bracket.
        "pushed_filters": sorted(
            {p[:160] for p in re.findall(r"PushedFilters: (.*?), ReadSchema", plan)}
        ),
        "has_cartesian": "CartesianProduct" in plan,
        # AQE initial plans carry no *(n) codegen markers; count both
        # spellings so the number is meaningful on final plans too.
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan)))
        or plan.count("WholeStageCodegen"),
    }
