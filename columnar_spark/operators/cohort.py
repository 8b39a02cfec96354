"""Cohort-retention matrix sidecar — answer-from-the-index for the one
aggregate the rollup algebra cannot maintain: COUNT(DISTINCT user) per
(first-seen day, activity day).

The retention matrix is NOT a sum of per-batch partials: a late batch
containing an EARLIER day for a known user moves that user's entire
cohort row — every previously-counted (cohort, day) cell of theirs is
wrong. Two rounds of A/Bs (the r7/r8 numbers in the query docstring and
tools/ab_retention.py) pinned every events-READING plan to a ~0.26s
scan+fold floor against DuckDB's ~0.09s, so the only winning plan is
the one that reads no events at all: maintain the finished matrix as a
sidecar with CORRECTION partials (negative counts retract a moved
user's old cells), and serve the query as a scan of O(cohorts × days)
rows.

Artifact layout (`<events>.cohort/`):
- `pairs/`    — deduped (user_id, day) activity pairs, appended per
                batch after an anti-join against the existing set;
- `user_min/` — (user_id, day0) partials, merged on read by MIN — the
                cohort assignment;
- `matrix/`   — (cohort_day, day, cnt) partials where cnt may be
                NEGATIVE (a correction), merged on read by SUM and
                filtered > 0;
- `meta.json` + `_table_sig.json` — the standard freshness gate: any
  out-of-band rewrite of the events table makes the sidecar stale and
  the query falls back to the live plan, which is always correct.

Batch append algebra (exact, proven by test_cohort_sidecar fuzz):
  bp        = distinct (user, day) of the batch
  new_pairs = bp ⟕̸ pairs                      (anti-join: already-seen
                                               pairs contribute nothing)
  per user u in new_pairs with batch-min m, existing day0 d (null if new):
    d is null  ->  cohort m: +1 for each new pair          (new user)
    d <= m     ->  cohort d: +1 for each new pair          (unchanged)
    m < d      ->  cohort moved: -1 for each OLD pair at d,
                   +1 for each old AND new pair at m       (correction)
  user_min gets the batch mins appended (MIN-merge keeps the lower).

Scale posture: a driver-local batch (ingest.append_batch's small-batch
regime) of at most DRIVER_FOLD_ROWS rows folds on the DRIVER: one
filtered read of the batch users' `pairs/` and `user_min/` rows (either
slice past the same bound falls back), the algebra below in Python, and
three direct appends — no staging dirs, no counts, a few Spark jobs per
batch whatever the sidecar's size. Other batches run the executor plan: one
anti-join against pairs (bucketable on user at real scale), one merge
of user_min (O(users) — dim-sized), and correction reads touch only
the MOVED users' pairs. The query itself never joins and never sees
the event log. Reference analog: E6/E7's
answer-from-the-index COUNT regime (secondary/secondary.cpp:531-551)
for the one shape the associative rollup (streaming/rollup.py) cannot
express."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark.localrel import local_row_count

US_PER_DAY = 86_400_000_000

COHORT_SUFFIX = ".cohort"

# Above this many NEW pairs (or staged correction rows) the incremental
# fold rebuilds instead: the batch is no longer small relative to the
# artifact and the full build is both cheaper and simpler to reason
# about (economy cutoff — correctness never depends on it, and since
# the r10 staging rework nothing is collected to the driver either way).
REBUILD_CUTOFF = 2_000_000

# Driver-fold bound (module docstring, Scale posture): the batch's rows
# and each of the batch users' pairs/ and user_min/ slices. The driver
# fold cost about half the executor plan's CPU at every batch size
# measured, 1k to 75k events into a 100k-event sidecar; past 75k it is
# unmeasured.
DRIVER_FOLD_ROWS = 75_000


def cohort_sidecar_path(table_path: str) -> str:
    return table_path.rstrip("/") + COHORT_SUFFIX


def pairs_from_events(events: DataFrame, ts_col: str = "ts", user_col: str = "user_id") -> DataFrame:
    """(user_id, day) pairs from an event frame, handling both testdata
    ts vintages (TIMESTAMP -> unix_micros; bigint nanos -> div 1000) —
    the same normalization convention as __spark_entry__._events."""
    dt = dict(events.dtypes)[ts_col]
    if dt in ("bigint", "long"):
        ts_us = F.expr(f"{ts_col} div 1000")
    else:
        ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return events.select(
        F.col(user_col).alias("user_id"),
        (ts_us / F.lit(US_PER_DAY)).cast("long").alias("day"),
    ).where(F.col("user_id").isNotNull())


def _write_sig(table_path: str) -> None:
    from columnar_spark.stats import _write_table_sig

    _write_table_sig(table_path, cohort_sidecar_path(table_path))


def write_cohort_sidecar(
    spark: SparkSession, table_path: str, ts_col: str = "ts", user_col: str = "user_id"
) -> str:
    """Full build from the current table state (ingest / crash recovery /
    DML refresh). Appends go through append_cohort_batch."""
    from columnar_spark import objstore

    objstore.require_transport(table_path)
    root = cohort_sidecar_path(table_path)
    events = spark.read.parquet(table_path)
    pairs = pairs_from_events(events, ts_col, user_col).distinct()
    if objstore.is_object_store(table_path):
        # manifest-pointer commits per component dir (objstore.py). The
        # three pointer flips are not one atomic commit, but queries
        # read ONLY matrix/ (old or new atomically) and maintenance
        # reads run under the per-table writer lock — the same serial
        # contract every delta fold here already assumes.
        objstore.write_df(spark, pairs, os.path.join(root, "pairs"))
        pairs = objstore.read_df(spark, os.path.join(root, "pairs"))
        user_min = pairs.groupBy("user_id").agg(F.min("day").alias("day0"))
        objstore.write_df(spark, user_min, os.path.join(root, "user_min"))
        user_min = objstore.read_df(spark, os.path.join(root, "user_min"))
        matrix = (
            pairs.join(user_min, "user_id")
            .groupBy(F.col("day0").alias("cohort_day"), F.col("day"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        objstore.write_df(spark, matrix, os.path.join(root, "matrix"))
        objstore.put_json(root, "meta.json", {"ts_col": ts_col, "user_col": user_col})
        _write_sig(table_path)
        return root
    tmp = root + ".__build__"
    shutil.rmtree(tmp, ignore_errors=True)
    pairs.write.parquet(os.path.join(tmp, "pairs"))
    pairs = spark.read.parquet(os.path.join(tmp, "pairs"))
    user_min = pairs.groupBy("user_id").agg(F.min("day").alias("day0"))
    user_min.write.parquet(os.path.join(tmp, "user_min"))
    user_min = spark.read.parquet(os.path.join(tmp, "user_min"))
    matrix = (
        pairs.join(user_min, "user_id")
        .groupBy(F.col("day0").alias("cohort_day"), F.col("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    matrix.write.parquet(os.path.join(tmp, "matrix"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"ts_col": ts_col, "user_col": user_col}, f)
    if os.path.isdir(root):
        old = root + ".__old__"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(root, old)
        os.rename(tmp, root)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, root)
    _write_sig(table_path)
    return root


def cohort_meta(table_path: str) -> dict | None:
    from columnar_spark import objstore

    return objstore.read_json(cohort_sidecar_path(table_path), "meta.json")


def _append_component(
    spark: SparkSession, df: DataFrame, table_path: str, root: str, sub: str
) -> None:
    from columnar_spark import objstore

    target = os.path.join(root, sub)
    if objstore.is_object_store(table_path):
        objstore.write_df(spark, df, target, mode="append")
    else:
        df.write.mode("append").parquet(target)


def _fold_on_driver(
    spark: SparkSession,
    table_path: str,
    root: str,
    bp: DataFrame,
    pairs_cur: DataFrame,
    um_cur: DataFrame,
) -> bool:
    """The batch-scoped fold (module docstring, Scale posture): the
    correction algebra in Python over the batch's (user, day) pairs `bp`
    and the batch users' slices of the sidecar. Returns False, having
    written nothing, when the batch is not driver-local or it or either
    slice exceeds DRIVER_FOLD_ROWS."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import LongType, StructField, StructType

    bound = DRIVER_FOLD_ROWS
    n_local = local_row_count(bp)
    if n_local is None or n_local > bound:
        return False
    # a driver-local batch projects its pairs with no Spark job
    batch_pairs = set(map(tuple, bp.collect()))
    uid = bp.schema["user_id"]
    uid_arrow = to_arrow_type(uid.dataType)
    users = spark.createDataFrame(
        pa.table({"user_id": pa.array(sorted({u for u, _ in batch_pairs}), uid_arrow)}),
        schema=StructType([uid]),
    )
    # the batch users' rows of pairs/ and user_min/: one filtered read,
    # one broadcast of the user set, each slice bounded separately
    none = F.lit(None).cast("long")
    slices = (
        pairs_cur.select("user_id", "day", none.alias("day0"), F.lit(True).alias("is_pair"))
        .unionByName(
            um_cur.select("user_id", none.alias("day"), "day0", F.lit(False).alias("is_pair"))
        )
        .join(F.broadcast(users), "user_id", "left_semi")
        .limit(2 * bound + 1)
        .toArrow()
    )
    rows = list(zip(*(slices[c].to_pylist() for c in ("user_id", "day", "day0", "is_pair"))))
    n_pairs = sum(r[3] for r in rows)
    if max(n_pairs, len(rows) - n_pairs) > bound:
        return False

    seen: dict = {}
    day0: dict = {}  # MIN-merge of the user_min partials (NULLs ignored)
    for u, d, d0, is_pair in rows:
        if is_pair:
            seen.setdefault(u, set()).add(d)
        else:
            cur = day0.get(u)
            day0[u] = d0 if cur is None else cur if d0 is None else min(cur, d0)
    new_days: dict = {}  # anti-join: only pairs not already in `pairs`
    for u, d in sorted(batch_pairs, key=lambda p: (p[0], p[1] is None, p[1] or 0)):
        if d not in seen.get(u, ()):
            new_days.setdefault(u, []).append(d)
    if not new_days:
        _write_sig(table_path)
        return True
    delta: dict = {}

    def add(cohort, day, n):
        delta[(cohort, day)] = delta.get((cohort, day), 0) + n

    bmin: dict = {}
    for u, days in new_days.items():
        known = [d for d in days if d is not None]
        m = bmin[u] = min(known) if known else None
        d0 = day0.get(u)
        if d0 is not None and m is not None and m < d0:
            # moved: retract the old cells, re-emit old + new at m
            for d in seen.get(u, ()):
                add(d0, d, -1)
                add(m, d, 1)
            for d in days:
                add(m, d, 1)
        else:
            for d in days:
                add(m if d0 is None else d0, d, 1)

    def long_field(name):
        return StructField(name, LongType(), True)

    cells = [(c, d, n) for (c, d), n in delta.items() if n]
    components = [
        ("matrix", {
            "cohort_day": pa.array([c for c, _, _ in cells], pa.int64()),
            "day": pa.array([d for _, d, _ in cells], pa.int64()),
            "cnt": pa.array([n for _, _, n in cells], pa.int64()),
        }, [long_field("cohort_day"), long_field("day"), long_field("cnt")]),
        ("pairs", {
            "user_id": pa.array([u for u, ds in new_days.items() for _ in ds], uid_arrow),
            "day": pa.array([d for ds in new_days.values() for d in ds], pa.int64()),
        }, [uid, long_field("day")]),
        ("user_min", {
            "user_id": pa.array(list(bmin), uid_arrow),
            "day0": pa.array(list(bmin.values()), pa.int64()),
        }, [uid, long_field("day0")]),
    ]
    # matrix first: queries read only matrix/, and the slices above are
    # driver-held, so the appends cannot feed back into this fold
    for sub, cols, fields in components:
        if len(next(iter(cols.values()))):
            df = spark.createDataFrame(pa.table(cols), schema=StructType(fields))
            _append_component(spark, df.coalesce(1), table_path, root, sub)
    _write_sig(table_path)
    return True


def append_cohort_batch(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    pre_sig: "dict | None" = None,
) -> None:
    """Fold one appended event batch in — the correction algebra from
    the module docstring. O(batch + moved-users' pairs) new rows; the
    anti-join and the user_min merge read the existing sidecar (the
    merge_value_index maintenance posture, E9). A driver-local batch
    folds on the driver (_fold_on_driver); the rest of this docstring is
    the executor plan for the others.

    Staging discipline (r10): every frame whose plan READS the sidecar
    (new_pairs, the correction delta) is materialized to a TEMP parquet
    dir before anything appends to the paths those plans read — the
    executor-side twin of the old collect-before-overwrite rule, with
    no driver-memory spike (the r9 verdict's 2M-row driver collect is
    gone). Both the new-pair count AND the staged correction volume
    take the full-rebuild exit past REBUILD_CUTOFF — a moved-user
    correction can dwarf the batch (r9 advice), and past that size the
    rebuild is the cheaper plan anyway. `pre_sig` (the events table's
    pre-append signature from the ingest fold) rebuilds instead of
    masking an out-of-band rewrite."""
    import tempfile

    from columnar_spark import objstore

    meta = cohort_meta(table_path)
    if meta is None:
        return
    root = cohort_sidecar_path(table_path)
    if pre_sig is not None:
        rec = objstore.read_json(root, "_table_sig.json")
        if rec is None or any(
            rec.get(k) != pre_sig.get(k) for k in ("files", "bytes", "max_mtime_ms")
        ):
            write_cohort_sidecar(spark, table_path, meta["ts_col"], meta["user_col"])
            return
    pairs_cur = objstore.read_df(spark, os.path.join(root, "pairs"))
    um_cur = objstore.read_df(spark, os.path.join(root, "user_min"))
    bp = pairs_from_events(batch, meta["ts_col"], meta["user_col"])
    if _fold_on_driver(spark, table_path, root, bp, pairs_cur, um_cur):
        return
    bp = bp.distinct()
    um = um_cur.groupBy("user_id").agg(F.min("day0").alias("day0"))
    stage = tempfile.mkdtemp(prefix="cohort-stage-")
    try:
        bp.join(pairs_cur, ["user_id", "day"], "left_anti").write.parquet(
            os.path.join(stage, "new_pairs")
        )
        new_pairs = spark.read.parquet(os.path.join(stage, "new_pairs"))
        n_new = new_pairs.count()
        if n_new > REBUILD_CUTOFF:
            write_cohort_sidecar(spark, table_path, meta["ts_col"], meta["user_col"])
            return
        if n_new == 0:
            _write_sig(table_path)
            return
        nu_min = new_pairs.groupBy("user_id").agg(F.min("day").alias("bmin"))
        cls = nu_min.join(um, "user_id", "left")
        moved = cls.filter(F.col("day0").isNotNull() & (F.col("bmin") < F.col("day0")))
        stable = cls.filter(F.col("day0").isNull() | (F.col("bmin") >= F.col("day0")))
        # cohort assignment for the non-moved users' new pairs
        plus_stable = (
            new_pairs.join(
                stable.select(
                    "user_id", F.coalesce("day0", "bmin").alias("cohort_day")
                ),
                "user_id",
            )
            .groupBy("cohort_day", "day")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # corrections for moved users: retract old cells, re-emit
        # everything (old + new pairs) under the new cohort
        moved_keys = moved.select("user_id", "day0", "bmin")
        old_moved = pairs_cur.join(moved_keys, "user_id")
        minus_old = (
            old_moved.groupBy(F.col("day0").alias("cohort_day"), "day")
            .agg((-F.count(F.lit(1))).alias("cnt"))
        )
        plus_old_new = (
            old_moved.select("bmin", "day", "user_id")
            .unionByName(
                new_pairs.join(moved_keys, "user_id").select("bmin", "day", "user_id")
            )
            .groupBy(F.col("bmin").alias("cohort_day"), "day")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        delta = plus_stable.unionByName(minus_old).unionByName(plus_old_new)
        delta.write.parquet(os.path.join(stage, "delta"))
        sdelta = spark.read.parquet(os.path.join(stage, "delta"))
        if sdelta.count() > REBUILD_CUTOFF:
            write_cohort_sidecar(spark, table_path, meta["ts_col"], meta["user_col"])
            return
        # all reads of the live sidecar are materialized — append freely
        _append_component(spark, sdelta, table_path, root, "matrix")
        _append_component(spark, new_pairs, table_path, root, "pairs")
        _append_component(
            spark,
            nu_min.select("user_id", F.col("bmin").alias("day0")),
            table_path,
            root,
            "user_min",
        )
        _write_sig(table_path)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def load_cohort_matrix(
    spark: SparkSession, table_path: str, check_fresh: bool = True
) -> DataFrame | None:
    """The merged matrix (cohort_day, day, active_users), or None when
    absent/stale. O(cohorts × days) rows — no events read, no join."""
    from columnar_spark import objstore
    from columnar_spark.stats import index_is_fresh

    root = cohort_sidecar_path(table_path)
    if "://" not in root and not os.path.isdir(os.path.join(root, "matrix")):
        return None
    if check_fresh and not index_is_fresh(table_path, root):
        return None
    m = objstore.read_df(spark, os.path.join(root, "matrix"))
    return (
        m.groupBy("cohort_day", "day")
        .agg(F.sum("cnt").cast("long").alias("active_users"))
        .filter(F.col("active_users") > 0)
    )


def check_cohort_sidecar(spark: SparkSession, table_path: str) -> "list[str]":
    """Structural audit: the merged matrix must equal a live recompute
    from the events table, row for row."""
    meta = cohort_meta(table_path)
    if meta is None:
        return [f"cohort sidecar at {table_path}: missing meta.json"]
    got = load_cohort_matrix(spark, table_path, check_fresh=False)
    pairs = pairs_from_events(
        spark.read.parquet(table_path), meta["ts_col"], meta["user_col"]
    ).distinct()
    um = pairs.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    want = (
        pairs.join(um, "user_id")
        .groupBy("cohort_day", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("active_users"))
    )
    bad = (
        got.exceptAll(want).limit(1).count() + want.exceptAll(got).limit(1).count()
    )
    if bad:
        return ["cohort sidecar: matrix disagrees with live recompute"]
    return []
