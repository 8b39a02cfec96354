"""Continuous aggregate rollup — an incrementally-maintained
materialized view over an event stream (the hypertable-rollup /
Timescale continuous-aggregate pattern, Spark-first).

Design: the rollup table stores PARTIAL aggregate state — one row per
(bucket, keys) per ingest batch with (cnt, sum, min, max) — and each
micro-batch APPENDS its partials (O(batch) work, no read-modify-write
of the whole rollup). Reads merge-on-read: group the partials by
(bucket, keys) and combine with the aggregate algebra (sum of counts
and sums, min of mins, max of maxs — all associative+commutative, so
batch boundaries are invisible). `compact_rollup` collapses the
accumulated fragments back to one row per group (rewrite-then-swap with
a time-travel snapshot, same discipline as writer.compact_table).

This is the same partials-append / merge-on-read contract the stats
sidecar uses (stats.build_stats_sketch + merge_sketches), promoted from
per-column stats to a user-facing aggregation surface.

Scale posture: each batch's append shuffles only the batch's partials
(bounded by buckets x keys of THAT batch); query-time merge is a
groupBy over the rollup — which is smaller than the raw log by the
bucket compression ratio; nothing ever re-scans the raw history. The
reference's analog is host-side time-bucket analytics over its RT
segments; the E9 index-maintenance contract (secondary.cpp:391-434) is
the per-batch sidecar-refresh pattern this extends.

Fixed-point sums: `value` (2-dp money-style doubles) accumulates as a
scaled int64 — FLOOR(x*100+0.5), functions/money.py — so partials stay
exact, merge with plain long addition inside whole-stage codegen, and
finalize to double by one division (the cross-engine parity recipe: the
oracle mirrors the op sequence bit-for-bit). Legacy sidecars whose
sum_v is decimal are still served — `unscale_sum_v` dispatches on the
stored type.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark.functions import money

# sum_v scale: partials store SUM(FLOOR(value*100+0.5)) as int64.
SUM_SCALE = 2
SUM_ENCODING = f"int64_scaled_1e{SUM_SCALE}"


def unscale_sum_v(df: DataFrame, col: str = "sum_v") -> Column:
    """sum_v back to value units as double — type-dispatched so rollup
    sidecars written before the fixed-point change (decimal sum_v) are
    still read correctly."""
    dt = dict(df.dtypes).get(col, "bigint")
    if dt in ("bigint", "long", "int"):
        return money.unscale(F.col(col), SUM_SCALE)
    return F.col(col).cast("double")


def rollup_partials(
    events: DataFrame,
    ts_col: str = "ts",
    bucket: str = "1 day",
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
    distinct_col: str | None = None,
) -> DataFrame:
    """Partial aggregate state for one batch: (bucket_start, *keys,
    cnt, sum_v, min_v, max_v[, ndv_sketch]). Works identically on a
    static frame and inside a foreachBatch body.

    `distinct_col` adds a Datasketches HLL sketch per group — the
    mergeable form of COUNT DISTINCT (the per-bucket "distinct users"
    metric no sum/count algebra can maintain incrementally). Sketches
    union associatively, so batch-split invariance holds for the ndv
    estimate exactly as for the exact aggregates."""
    aggs = [
        F.count(F.lit(1)).alias("cnt"),
        F.sum(money.scaled(F.col(value_col), SUM_SCALE)).alias("sum_v"),
        F.min(F.col(value_col)).alias("min_v"),
        F.max(F.col(value_col)).alias("max_v"),
    ]
    if distinct_col is not None:
        dt = dict(events.dtypes)[distinct_col]
        din = F.col(distinct_col) if dt in ("int", "bigint", "string", "binary") else F.col(distinct_col).cast("string")
        aggs.append(F.hll_sketch_agg(din).alias("ndv_sketch"))
    return (
        events.groupBy(
            F.window(F.col(ts_col), bucket).start.alias("bucket_start"),
            *[F.col(k) for k in keys],
        ).agg(*aggs)
    )


def merge_rollup(partials: DataFrame, keys: Sequence[str] = ("event_type",)) -> DataFrame:
    """Combine partial rows into one row per (bucket, keys): the
    merge-on-read step. Associative algebra only — applying this to
    partials from any batch split yields identical results."""
    aggs = [
        F.sum("cnt").cast("long").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    ]
    if "ndv_sketch" in partials.columns:
        aggs.append(F.hll_union_agg(F.col("ndv_sketch"), True).alias("ndv_sketch"))
    return partials.groupBy("bucket_start", *keys).agg(*aggs)


def finalize_rollup(merged: DataFrame) -> DataFrame:
    """User-facing view: exact decimal sum -> double, plus avg (and the
    HLL distinct estimate when the rollup tracks one)."""
    state_cols = ("bucket_start", "cnt", "sum_v", "min_v", "max_v", "ndv_sketch")
    sum_value = unscale_sum_v(merged)
    cols = [
        F.col("bucket_start"),
        *[F.col(c) for c in merged.columns if c not in state_cols],
        F.col("cnt"),
        sum_value.alias("sum_value"),
        (sum_value / F.col("cnt")).alias("avg_value"),
        F.col("min_v").alias("min_value"),
        F.col("max_v").alias("max_value"),
    ]
    if "ndv_sketch" in merged.columns:
        cols.append(F.hll_sketch_estimate(F.col("ndv_sketch")).alias("approx_distinct"))
    return merged.select(*cols)


def append_rollup_batch(
    batch_df: DataFrame,
    rollup_path: str,
    ts_col: str = "ts",
    bucket: str = "1 day",
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
    distinct_col: str | None = None,
    batch_id: int | None = None,
) -> None:
    """One micro-batch's contribution: compute partials, append.
    With a batch_id (the streaming epoch) the append is replay-safe —
    staged files rename in under batch-derived names a retry sweeps
    first (idempotent_append), so an at-least-once foreachBatch retry
    cannot double-count the partials."""
    from columnar_spark import objstore

    partials = rollup_partials(batch_df, ts_col, bucket, keys, value_col, distinct_col)
    if objstore.is_object_store(rollup_path):
        # rename-free replay-safe append: new segments PUT once, one
        # pointer flip publishes them, applied batch ids ride in the
        # pointer so an at-least-once retry is a no-op
        objstore.write_df(
            batch_df.sparkSession, partials, rollup_path,
            mode="append", batch_id=batch_id,
        )
    else:
        from columnar_spark.streaming.ingest import idempotent_append

        idempotent_append(partials, rollup_path, batch_id)
    _rerecord_sidecar_sig(rollup_path)


def _rerecord_sidecar_sig(rollup_path: str) -> None:
    """When `rollup_path` follows the <table>.rollup[-name][/partials]
    sidecar convention and the base table exists, re-record the table
    signature so the signature freshness gate tracks legitimate
    maintenance appends (the rollup append runs AFTER the table append
    in the ingest flow). Non-sidecar rollup paths are untouched."""
    import os
    import re

    p = rollup_path.rstrip("/")
    if p.endswith("/partials"):
        p = p[: -len("/partials")]
    m = re.match(r"^(.*)\.rollup(-[A-Za-z0-9_\-]+)?$", p)
    if m is None:
        return
    table = m.group(1)
    if "://" not in table and not os.path.isdir(table):
        return
    from columnar_spark.stats import _write_table_sig

    try:
        _write_table_sig(table, p)
    except OSError:
        pass


def stream_rollup(
    spark: SparkSession,
    src_dir: str,
    rollup_path: str,
    checkpoint_dir: str,
    schema,
    ts_col: str = "ts",
    bucket: str = "1 day",
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
    distinct_col: str | None = None,
    available_now: bool = True,
):
    """Maintain the continuous aggregate from a file-source stream.
    Exactly-once per batch via the checkpoint; returns the query."""
    stream = spark.readStream.schema(schema).parquet(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_rollup_batch(
            batch_df, rollup_path, ts_col, bucket, keys, value_col, distinct_col,
            batch_id=batch_id,
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(
    spark: SparkSession,
    rollup_path: str,
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """The continuous aggregate as of now: merge-on-read + finalize."""
    return finalize_rollup(merge_rollup(spark.read.parquet(rollup_path), keys))


# ------------------------------------------------ sidecar convention
# A rollup registered BESIDE its base table (like .vidx/.ftidx/.knn)
# carries a meta.json describing what it aggregates — enough for the
# Engine.sql materialized-view router to verify a query matches.

def rollup_sidecar_path(table_path: str, name: str | None = None) -> str:
    """Default rollup lives at <table>.rollup; NAMED rollups (a table can
    carry several continuous aggregates over different key sets) at
    <table>.rollup-<name>."""
    suffix = ".rollup" if name is None else f".rollup-{name}"
    return table_path.rstrip("/") + suffix


def write_rollup_sidecar(
    df: DataFrame,
    table_path: str,
    ts_col: str = "ts",
    bucket: str = "1 day",
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
    name: str | None = None,
) -> str:
    """One-shot build of the sidecar rollup from the current table state
    (streaming maintenance appends into the same path via
    append_rollup_batch). Returns the sidecar path."""
    import json
    import os

    from columnar_spark import objstore

    root = rollup_sidecar_path(table_path, name)
    partials = rollup_partials(df, ts_col, bucket, keys, value_col)
    pdir = os.path.join(root, "partials")
    if objstore.is_object_store(root):
        # staging + atomic manifest-pointer commit (objstore.py) — the
        # rename-free publication path; meta.json is a single-object PUT
        objstore.write_df(df.sparkSession, partials, pdir, mode="overwrite")
    else:
        partials.write.mode("overwrite").parquet(pdir)
    objstore.put_json(
        root,
        "meta.json",
        {
            "ts_col": ts_col,
            "bucket": bucket,
            "keys": list(keys),
            "value_col": value_col,
            "sum_encoding": SUM_ENCODING,
        },
    )
    # Record the base table's content signature (the _aggp-style gate):
    # the count-based freshness check catches count-changing rewrites
    # but not value-preserving ones; routes additionally compare this
    # signature when present. Appends into the sidecar re-record it
    # (append_rollup_batch), so streaming maintenance stays served.
    from columnar_spark.stats import _write_table_sig

    _write_table_sig(table_path, root)
    return root


def rollup_sidecars(table_path: str) -> "list[tuple[str | None, dict]]":
    """(name, meta) of every rollup registered beside a POSIX table:
    the default `<table>.rollup` (name None) and each named
    `<table>.rollup-<name>`."""
    import os
    import re

    from columnar_spark import objstore

    base = table_path.rstrip("/")
    parent, stem = os.path.split(base)
    out = []
    if not os.path.isdir(parent or "."):  # an object-store table
        return out
    for entry in sorted(os.listdir(parent or ".")):
        m = re.fullmatch(re.escape(stem) + r"\.rollup(?:-([A-Za-z0-9_\-]+))?", entry)
        if m is None:
            continue
        meta = objstore.read_json(os.path.join(parent, entry), "meta.json")
        if meta is not None:
            out.append((m.group(1), meta))
    return out


def ts_as_timestamp(df: DataFrame, ts_col: str) -> DataFrame:
    """bigint-nanos `ts` vintages bucket as timestamps: the rollup
    sidecars are built (writer.build_sf_layout) and folded over this."""
    if dict(df.dtypes).get(ts_col) in ("bigint", "long"):
        return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    return df


def rebuild_rollup_sidecar(table: DataFrame, table_path: str, name, meta: dict) -> None:
    """Rebuild the rollup sidecar `name` (meta.json `meta`) from `table`,
    the current contents of `table_path`."""
    write_rollup_sidecar(
        ts_as_timestamp(table, meta["ts_col"]),
        table_path, meta["ts_col"], meta["bucket"], meta["keys"],
        meta["value_col"], name=name,
    )


def fold_rollup_sidecar(
    batch_df: DataFrame, table_path: str, name, meta: dict, batch_id: int | None = None
) -> None:
    """Fold one appended batch into the rollup sidecar `name` (run AFTER
    the table append, so the re-recorded signature matches). A sidecar
    with a legacy sum encoding is rebuilt from the table instead — its
    partials cannot take int64 rows."""
    import os

    if meta["ts_col"] not in batch_df.columns:
        return
    if meta.get("sum_encoding") != SUM_ENCODING:
        rebuild_rollup_sidecar(
            batch_df.sparkSession.read.parquet(table_path), table_path, name, meta
        )
        return
    append_rollup_batch(
        ts_as_timestamp(batch_df, meta["ts_col"]),
        os.path.join(rollup_sidecar_path(table_path, name), "partials"),
        meta["ts_col"], meta["bucket"], meta["keys"], meta["value_col"],
        batch_id=batch_id,
    )


def load_rollup_sidecar(spark: SparkSession, table_path: str, name: str | None = None):
    """-> (partials_df, meta) or None."""
    import json
    import os

    from columnar_spark import objstore

    root = rollup_sidecar_path(table_path, name)
    pdir = os.path.join(root, "partials")
    if "://" not in pdir and not os.path.isdir(pdir):
        return None
    meta = objstore.read_json(root, "meta.json")
    if meta is None:
        return None
    return objstore.read_df(spark, pdir), meta


def compact_rollup(
    spark: SparkSession,
    rollup_path: str,
    keys: Sequence[str] = ("event_type",),
) -> tuple[int, int]:
    """Collapse accumulated per-batch partials to one row per group
    (rewrite-then-swap; the pre-compact rollup is retired as a
    time-travel snapshot). Returns (rows_before, rows_after); reads are
    unchanged by construction (the merge algebra is associative)."""
    from columnar_spark import objstore
    from columnar_spark.snapshots import swap_with_history

    if objstore.is_object_store(rollup_path):
        # manifest treatment: the merged generation's segments PUT, one
        # pointer flip publishes them. The retired generation's segments
        # stay on the store until vacuum_artifact — the object-store
        # analog of the POSIX path's time-travel snapshot (no rename,
        # no tear; write_df stages first, so the merge plan executes
        # against the OLD segment set).
        cur = objstore.read_df(spark, rollup_path)
        n_before = cur.count()
        merged = merge_rollup(cur, keys)
        objstore.write_df(spark, merged, rollup_path, mode="overwrite")
        return n_before, objstore.read_df(spark, rollup_path).count()
    cur = spark.read.parquet(rollup_path)
    n_before = cur.count()
    merged = merge_rollup(cur, keys)
    tmp = rollup_path.rstrip("/") + ".compact.tmp"
    # no coalesce: group count is data-dependent (buckets x keys can be
    # large at scale); AQE's coalesce handles the small case
    merged.write.mode("overwrite").parquet(tmp)
    swap_with_history(rollup_path, tmp, op="compact-rollup", n_rows_before=n_before)
    return n_before, spark.read.parquet(rollup_path).count()


def backfill_rollup(
    spark: SparkSession,
    rollup_path: str,
    events: DataFrame,
    bucket_lo,
    bucket_hi,
    ts_col: str = "ts",
    bucket: str = "1 day",
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
    distinct_col: str | None = None,
) -> tuple[int, int]:
    """Repair/backfill: recompute the continuous aggregate for buckets in
    [bucket_lo, bucket_hi) from raw events (late-arriving corrections,
    code fixes — the lambda-architecture reprocess step, scoped to a
    bucket range instead of the whole history).

    COW: partial rows inside the range are dropped, fresh partials for
    exactly that range are appended, and the swap retires the old rollup
    as a time-travel snapshot — a bad backfill is one `restore` away
    from undone. Work is O(rollup) + O(events-in-range); buckets outside
    the range are byte-untouched rows. Returns (rows_dropped, rows_added).
    """
    from columnar_spark.snapshots import swap_with_history

    cur = spark.read.parquet(rollup_path)
    in_range = (F.col("bucket_start") >= F.lit(bucket_lo)) & (
        F.col("bucket_start") < F.lit(bucket_hi)
    )
    kept = cur.filter(~in_range)
    dropped = cur.count() - kept.count()

    # Event pre-filter: an event can only contribute to a bucket at or
    # before its timestamp, so ts >= bucket_lo is always safe to push to
    # the scan. The UPPER cut is applied on bucket_start AFTER
    # bucketing — cutting raw events at bucket_hi would truncate the
    # last bucket when bucket_hi is not bucket-aligned. With aligned
    # boundaries (the normal case) the post-filter drops nothing and the
    # scan range is tight.
    fresh = rollup_partials(
        events.filter(F.col(ts_col) >= F.lit(bucket_lo)),
        ts_col,
        bucket,
        keys,
        value_col,
        distinct_col,
    ).filter(in_range)
    added = fresh.count()

    tmp = rollup_path.rstrip("/") + ".backfill.tmp"
    kept.unionByName(fresh, allowMissingColumns=True).write.mode("overwrite").parquet(tmp)
    swap_with_history(rollup_path, tmp, op="backfill-rollup")
    return dropped, added
