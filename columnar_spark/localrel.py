"""Driver-local relations — small frames evaluated once, held as a JVM
LocalRelation.

`createDataFrame(df.collect())` builds a Python-pickled ExistingRDD
that re-crosses the JVM->Python boundary, starting Python workers, on
EVERY execution of every plan that embeds it (~0.3s/exec fixed cost,
measured at sf0.1). The Arrow round-trip (DataFrame.toArrow ->
createDataFrame(pa.Table)) yields a LocalRelation evaluated entirely
JVM-side, type-exact for every Spark SQL type Arrow can carry
(bigint/NULLs/decimal/date round-trip pinned in tests). Projections over
a LocalRelation fold back into one at optimization, and collecting one
runs no Spark job at all.

Shared by the Engine's in-session indexes, the INSERT echo, the append
path (which recognizes a driver-local batch by its plan) and every
append-maintenance site that collects a small result to the driver and
writes it back (stats sketch, value/posting indexes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_relation(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Driver-local copy of a small DataFrame as a JVM LocalTableScan.
    Falls back to the row path when Arrow cannot represent the schema."""
    try:
        return spark.createDataFrame(df.toArrow(), schema=df.schema)
    except Exception:
        return spark.createDataFrame(df.collect(), df.schema)


def local_row_count(df: DataFrame) -> "int | None":
    """Row count of a frame whose optimized plan is a LocalRelation (no
    Spark job), else None."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    return int(plan.data().size())


def local_rows(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """LocalRelation over literal driver rows (result echoes and other
    tiny answers) — no Python-RDD, so collecting it starts no Python
    worker. `schema` is a `name: type, ...` DDL string."""
    import pyarrow as pa

    names = [f.split(":")[0].strip() for f in schema.split(",")]
    table = pa.table({n: list(c) for n, c in zip(names, zip(*rows))})
    return spark.createDataFrame(table, schema=schema)
