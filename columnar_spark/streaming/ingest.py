"""Streaming ingest + index maintenance — reference §2.G streaming row.

The reference itself is write-once-read-many; its host daemon handles
streaming by rebuilding MCL files from RT segments, and index updates
invalidate/rebuild secondary artifacts (secondary.cpp:391-434, E9).

Spark-first equivalent: Structured Streaming file source ->
`foreachBatch` that (a) appends the normalized batch to the table and
(b) transactionally refreshes the stats manifest — the same
"storage + sidecar indexes rebuilt together" contract. Watermarked
windowed aggregation covers the reference's host-side time-bucket
analytics over late data.

Replay safety (foreachBatch sinks run AT LEAST once): one per-table
ledger (`<table>.ingest/meta.json`) gates the WHOLE batch —
a batch id already in `applied_batches` is a complete no-op, the table
append itself is idempotent (staged write, files renamed in under
batch-derived names a retry first sweeps), and a retry of a batch whose
previous attempt crashed MID-application (ledger `inflight` marker)
rebuilds the derived sidecars from the table instead of re-merging —
the one recovery that cannot double-count. The text-index and vocab
sidecars keep their own applied-batch staging (stage-then-commit) and
are consistent under either path.

Small-batch regime: a batch the caller already holds on the driver —
an INSERT of VALUES or of a view over an Arrow table, a micro-batch
built from one — has a LocalRelation plan (localrel.local_row_count
answers its row count with no Spark job). It is evaluated once into a
fresh LocalRelation, so the sidecar folds re-read its rows without
re-running its projections; it lands as ceil(rows /
writer.ROWS_PER_SPLIT) files instead of one per core; and a batch of at
most cohort.DRIVER_FOLD_ROWS rows folds into the cohort sidecar on the
driver. A batch with a distributed plan is never pulled to the driver
to get there: on events, copying a parquet-read batch into a
LocalRelation first made its INSERT no cheaper at 1k-10k rows and
dearer at 30k-75k. The merges that collect a small result (stats
sketch, value and posting indexes) go through Arrow, so no maintenance
step starts a Python worker.

Maintained beside the table: every sidecar kind of sidecars.KINDS.

Scale posture: distributed batches stay plain DataFrame jobs (no
driver loops); state for windowed aggs is bounded by the watermark; the
ledger is O(#batches) JSON metadata, no data-plane cost.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark.functions import money
from columnar_spark.localrel import local_relation, local_row_count
from columnar_spark.sidecars import fold_batch
# merge_sketches: the stats fold (sidecars._fold_stats) calls it through
# this module, where the append trace wraps it
from columnar_spark.stats import merge_sketches, table_signature  # noqa: F401
from columnar_spark.writer import ROWS_PER_SPLIT, WriteSpec, normalize


def ingest_ledger_path(dst_path: str) -> str:
    return dst_path.rstrip("/") + ".ingest"


def _load_ledger(dst_path: str) -> dict:
    mp = os.path.join(ingest_ledger_path(dst_path), "meta.json")
    if not os.path.exists(mp):
        return {"applied_batches": {}, "inflight": None}
    with open(mp) as f:
        return json.load(f)


# A writer lock held for longer than this is presumed crashed (the
# holder process died between acquire and release) and is broken by the
# next acquirer. Generous: a single batch application is seconds.
LOCK_STALE_SEC = 3600.0


class TableWriterLockHeld(RuntimeError):
    pass


# URI schemes whose exclusive-create is NOT atomic: object stores have
# no O_EXCL — two PUTs both "succeed". Ledgered appends refuse these
# outright rather than hand out a lock that does not lock.
_NON_POSIX_SCHEMES = (
    "s3", "s3a", "s3n", "gs", "gcs", "abfs", "abfss", "wasb", "wasbs",
    "oss", "cos", "swift",
)


def _acquire_writer_lock(dst_path: str) -> str:
    """Exclusive per-table writer lock for the LEDGERED append path.

    The ledger is load-modify-replace JSON: two concurrent ledgered
    writers (two streams, or a stream plus a CLI append_batch with a
    batch_id) would interleave _load_ledger/_commit_ledger and lose each
    other's applied_batches entries — defeating replay safety. The lock
    makes the single-writer-per-table contract ENFORCED: a second writer
    fails fast with guidance instead of silently corrupting the ledger.

    Protocol (POSIX filesystems ONLY — object-store schemes are refused
    up front, exclusive-create is not atomic there):
    1. O_CREAT|O_EXCL create with a unique owner token, then READ BACK
       and compare — a racing stale-breaker that captured our fresh file
       leaves a missing/foreign token and we retry instead of proceeding
       unlocked.
    2. Stale locks (holder crashed, age > LOCK_STALE_SEC) are broken by
       ATOMIC RENAME to a unique captive name: exactly one of N waiting
       breakers wins the rename (the rest get ENOENT and re-enter the
       loop), so no breaker can delete another writer's freshly created
       lock — the failure mode of remove-based breaking. The winner
       compares the captive file's inode with the pre-rename stat; if it
       captured a DIFFERENT (fresh) lock it restores it via no-overwrite
       os.link and refuses, preserving mutual exclusion.
    """
    import time
    import uuid

    scheme = dst_path.split("://", 1)[0].lower() if "://" in dst_path else ""
    if scheme in _NON_POSIX_SCHEMES:
        raise TableWriterLockHeld(
            f"ledgered appends need a POSIX-atomic lock file and "
            f"{dst_path!r} is on an object store ({scheme}://) where "
            "exclusive-create is not atomic. Run the ledgered writer "
            "against a POSIX staging path, or route all appends for this "
            "table through one process and use the unledgered path."
        )
    root = ingest_ledger_path(dst_path)
    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, "writer.lock")
    token = f"{os.getpid()}:{uuid.uuid4().hex}"
    for _ in range(4):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            # ownership read-back: only the writer whose token survived
            # owns the lock (closes the stolen-fresh-lock window)
            try:
                with open(lock) as f:
                    if f.read() == token:
                        return lock
            except OSError:
                pass
            continue  # our lock was captured by a racing breaker: retry
        except FileExistsError:
            try:
                st = os.stat(lock)
            except OSError:
                continue  # holder released between the open and the stat
            age = time.time() - st.st_mtime
            if age > LOCK_STALE_SEC:
                captive = f"{lock}.stale-{uuid.uuid4().hex}"
                try:
                    os.rename(lock, captive)  # atomic: one breaker wins
                except OSError:
                    continue  # another breaker won; retry the acquire
                try:
                    cap_ino = os.stat(captive).st_ino
                except OSError:
                    cap_ino = None
                if cap_ino is not None and cap_ino != st.st_ino:
                    # captured a DIFFERENT file than the stale one we
                    # statted — a fresh lock raced in. Restore it without
                    # overwriting anything newer and refuse.
                    try:
                        os.link(captive, lock)
                    except OSError:
                        pass  # path re-taken: its owner verified via read-back
                    os.remove(captive)
                    raise TableWriterLockHeld(
                        f"another ledgered writer acquired {lock} while a "
                        "stale lock was being broken; retry the append"
                    )
                try:
                    os.remove(captive)
                except OSError:
                    pass
                continue
            raise TableWriterLockHeld(
                f"another ledgered writer holds {lock} (age {age:.0f}s): "
                "tables accept ONE ledgered writer at a time — stop the "
                "other stream/CLI append, or give each destination its "
                "own table. (A crashed holder's lock self-expires after "
                f"{LOCK_STALE_SEC:.0f}s.)"
            )
    raise TableWriterLockHeld(f"could not acquire {lock}")


def _release_writer_lock(lock: str) -> None:
    try:
        os.remove(lock)
    except OSError:
        pass


def _commit_ledger(dst_path: str, meta: dict) -> None:
    """Atomic rename — the transaction point for the whole batch."""
    root = ingest_ledger_path(dst_path)
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(root, "meta.json"))


def idempotent_append(
    df: DataFrame,
    dst_path: str,
    batch_id: int | None,
    compression: str = "snappy",
    stage_root: str | None = None,
    prefix: str | None = None,
) -> list[str]:
    """Exactly-once parquet append for at-least-once foreachBatch sinks,
    with no ledger: the batch stages beside the target, any files a
    previous attempt of the SAME batch left behind are swept, and the
    staged files rename in under batch-derived names — every retry
    converges on one final file set. Returns the committed file paths.
    With batch_id=None (no retry semantics to defend against) this is a
    plain append.

    Single-stream contract: epoch ids are unique within ONE streaming
    query's checkpoint. Two different queries appending to the same
    destination would collide on batch-derived names — give each its
    own `prefix` (e.g. a query name) if that topology is ever needed."""
    if batch_id is None:
        df.write.mode("append").option("compression", compression).parquet(dst_path)
        return []
    stage_root = stage_root or dst_path.rstrip("/") + ".stage"
    stage = os.path.join(stage_root, str(batch_id))
    df.write.mode("overwrite").option("compression", compression).parquet(stage)
    pre = prefix or f"part-b{batch_id}-"
    os.makedirs(dst_path, exist_ok=True)
    # RENAME FIRST, SWEEP LAST — read consistency under retry: target
    # names are canonicalized to the staged files' sorted index, so a
    # retry's os.replace atomically overwrites the previous attempt's
    # file of the same rank; a concurrent reader of the destination
    # never observes the batch missing. Only leftovers from an attempt
    # that produced MORE files are swept afterwards (the one transient a
    # reader can see is a short-lived duplicate of those tail rows — the
    # benign direction; the old sweep-first order made previously
    # visible rows vanish mid-retry).
    staged = [n for n in sorted(os.listdir(stage)) if not n.startswith(("_", "."))]
    moved = []
    final_names = set()
    for i, name in enumerate(staged):
        ext = os.path.splitext(name)[1] or ".parquet"
        tgt_name = f"{pre}{i:05d}{ext}"
        os.replace(os.path.join(stage, name), os.path.join(dst_path, tgt_name))
        final_names.add(tgt_name)
        moved.append(os.path.join(dst_path, tgt_name))
    for name in os.listdir(dst_path):
        if name.startswith(pre) and name not in final_names:
            os.remove(os.path.join(dst_path, name))
    shutil.rmtree(stage, ignore_errors=True)
    return moved


def append_batch(
    batch_df: DataFrame,
    dst_path: str,
    spec: WriteSpec | None = None,
    batch_id: int | None = None,
) -> bool:
    """Append one batch to a table with full sidecar maintenance: the
    normalized rows land in the table, then every sidecar the table
    carries folds the batch in (sidecars.fold_batch) — the stats sketch
    merges the batch's contribution (O(batch), mergeable HLL +
    associative min/max/counts), vector indexes append codes under the
    existing centroids/codebooks, and so on. One contract shared
    by batch CLI appends, Engine.sql INSERT and the streaming
    foreachBatch sink, mirroring the reference's storage-plus-sidecars
    rebuild unit (secondary.cpp:391-434, E9).

    A driver-local batch (module docstring, small-batch regime) is
    evaluated once into a fresh LocalRelation and written as
    ceil(rows / writer.ROWS_PER_SPLIT) files. This is the one place that
    regime is recognized: the folds only ask whether the batch they get
    is driver-local (the cohort fold also bounds its size). Any other
    batch keeps its distributed plan.

    With `batch_id` (the streaming epoch id) the ENTIRE application is
    replay-safe through the per-table ledger (module docstring); returns
    True if the batch was applied, False if it was skipped as already
    applied. Without one (ad-hoc CLI appends — no retry semantics to
    defend against) the batch applies unconditionally."""
    spec = spec or WriteSpec()
    ss = batch_df.sparkSession

    ledger = None
    crashed = False
    lock = None
    if batch_id is not None:
        # single-writer-per-table, enforced (see _acquire_writer_lock):
        # the lock spans the whole ledgered application so two writers
        # can never interleave load-modify-replace on the ledger
        lock = _acquire_writer_lock(dst_path)
        try:
            ledger = _load_ledger(dst_path)
            if str(batch_id) in ledger.get("applied_batches", {}):
                _release_writer_lock(lock)
                return False
            # an inflight marker means SOME batch's previous attempt died
            # between first effect and commit — sidecar state is unknown
            crashed = ledger.get("inflight") is not None
            ledger["inflight"] = str(batch_id)
            _commit_ledger(dst_path, ledger)
        except BaseException:
            _release_writer_lock(lock)
            raise
    try:

        out = normalize(batch_df, spec)
        # Align column order with the existing table: JSON/CSV readers order
        # columns alphabetically/by header, and while Spark merges parquet
        # schemas by name, stricter readers expect one field order per table.
        if os.path.isdir(dst_path):
            existing = ss.read.parquet(dst_path).columns
            if set(existing) <= set(out.columns):
                out = out.select(*existing, *[c for c in out.columns if c not in existing])

        # The destination's signature as of JUST BEFORE this append —
        # the projection/cohort delta folds compare it against each
        # artifact's recorded signature so an out-of-band rewrite
        # between ingest events triggers a rebuild instead of being
        # masked by the fold's post-append re-stamp.
        try:
            pre_sig = table_signature(dst_path) if os.path.exists(dst_path) else None
        except Exception:
            pre_sig = None

        # small-batch regime (module docstring): a driver-local batch is
        # evaluated once — its projections (INSERT casts, JSON fields)
        # collapse into a fresh LocalRelation instead of being re-run by
        # every fold's plan — and lands as ceil(rows / ROWS_PER_SPLIT)
        # files, not one per core
        n_local = local_row_count(out)
        written = out
        if n_local is not None:
            out = local_relation(ss, out)
            written = out.coalesce(max(1, -(-n_local // ROWS_PER_SPLIT)))
        if batch_id is None:
            written.write.mode("append").option(
                "compression", spec.compression
            ).parquet(dst_path)
            appended = out
        else:
            # Idempotent table append (idempotent_append): stage the batch,
            # sweep any files a crashed attempt left, rename in under
            # batch-derived names — the rows land exactly once no matter how
            # many times the sink is re-invoked.
            moved = idempotent_append(
                written,
                dst_path,
                batch_id,
                compression=spec.compression,
                stage_root=os.path.join(ingest_ledger_path(dst_path), "stage"),
                prefix=f"part-ingest-b{batch_id}-",
            )
            # sidecars merge from the COMMITTED rows, not a re-evaluation of
            # the batch plan (same principle as the text index counting its
            # written delta) — for a local batch, the very rows written
            if not moved:
                appended = None
            elif n_local is not None:
                appended = out
            else:
                appended = ss.read.parquet(*moved)

        # every sidecar kind folds the batch in, or — after a crashed
        # attempt — rebuilds from the table (sidecars.fold_batch)
        fold_batch(
            ss, dst_path, appended, batch_id=batch_id, pre_sig=pre_sig, crashed=crashed
        )

        if batch_id is not None:
            ledger["applied_batches"][str(batch_id)] = "applied"
            ledger["inflight"] = None
            _commit_ledger(dst_path, ledger)
    finally:
        if lock is not None:
            _release_writer_lock(lock)
    return True


def stream_ingest(
    spark: SparkSession,
    src_dir: str,
    dst_path: str,
    checkpoint_dir: str,
    schema,
    spec: WriteSpec | None = None,
    available_now: bool = True,
):
    """File-source streaming ingest with per-batch stats maintenance.

    Returns the started StreamingQuery; with available_now=True it drains
    the source and stops (batch-incremental mode — call repeatedly as new
    files land)."""
    spec = spec or WriteSpec()
    stream = spark.readStream.schema(schema).parquet(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df, dst_path, spec, batch_id=batch_id)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 day",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window aggregation — works identically on a
    static DataFrame (tests/oracles) and a streaming one (production).
    `ts_col` must be a TimestampType column."""
    wm = events.withWatermark(ts_col, watermark)
    return wm.groupBy(
        F.window(F.col(ts_col), window).alias("win"), *[F.col(c) for c in group_cols]
    ).agg(
        F.count(F.lit(1)).alias("n"),
        money.unscale(F.sum(money.scaled(F.col("value"))), 2).alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *group_cols,
        "n",
        "total_value",
    )
