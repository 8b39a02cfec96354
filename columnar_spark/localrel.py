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
writes it back (stats sketch, value/posting indexes). Point ops read
small POSIX sidecars straight into one (`read_parquet_local`): a value
index for `Engine.count`, the query's posting buckets for BM25 search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The one size rule for driver-local relations: an in-session value
# index collected by Engine.build_value_index, an adopted `.vidx`
# sidecar (footer row count) and a `.ftidx` text sidecar served on the
# driver (meta n_docs). Larger artifacts keep their distributed plans.
MAX_LOCAL_ROWS = 100_000

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


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


def local_rows(spark: SparkSession, rows: list, schema: "str | StructType") -> DataFrame:
    """LocalRelation over literal driver rows (result echoes and other
    tiny answers) — no Python-RDD, so collecting it starts no Python
    worker. `schema` is a StructType or a `name: type, ...` DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrow = to_arrow_schema(schema)
    table = pa.table({f.name: pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)})
    return spark.createDataFrame(table, schema=schema)


def _all_nullable(t):
    if isinstance(t, list):
        return [_all_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    out = {k: (v if k == "metadata" else _all_nullable(v)) for k, v in t.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in out:
            out[k] = True
    return out


def footer_schema(path: str) -> "StructType | None":
    """The Spark schema a Spark writer recorded in a parquet file's
    footer, all fields nullable as Spark's file reader reports them;
    None for a file no Spark writer made. Read on the driver: passing it
    to `spark.read.schema(...)` skips the schema-inference job."""
    import json

    import pyarrow.parquet as pq

    raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    return StructType.fromJson(_all_nullable(json.loads(raw)))


def read_parquet_local(spark: SparkSession, files: "list[str]", schema: StructType) -> DataFrame:
    """Spark-written parquet files read with pyarrow into a LocalRelation
    typed by `schema` (their footer schema) — no Spark job. INT96
    timestamps read as microseconds, and every timestamp is cast to the
    Arrow type Spark's own conversion expects, so the values equal a
    `spark.read.parquet` of the same files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    parts = [
        pq.read_table(f, columns=schema.names, coerce_int96_timestamp_unit="us")
        .select(schema.names)
        .cast(target)
        for f in files
    ]
    table = pa.concat_tables(parts) if parts else target.empty_table()
    return spark.createDataFrame(table, schema=schema)
