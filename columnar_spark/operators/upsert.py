"""Latest-state compaction (upsert materialization).

The reference's index maintenance (E9) rebuilds per-batch artifacts; the
analytics-side counterpart every CDC/event pipeline needs is "latest row
per key" — compacting an append-only log into current state. Expressed
as one window over (key) with a DETERMINISTIC total order (ties on the
timestamp must be broken by a unique column, or two engines/runs pick
different survivors).

Scale posture: one shuffle on the key; row_number + filter(=1) is
whole-stage-codegen'd and needs no per-key state beyond the sort run.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """One row per key: the last row under `order_by` (descending,
    left-to-right priority). `order_by` must be a total order within each
    key group — include a unique tie-breaker column."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_into(
    spark,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    fmt: str = "parquet",
    deletes: DataFrame | None = None,
) -> tuple[int, int, int]:
    """Copy-on-write MERGE: upsert `updates` into the table at `path`
    (matched keys replaced by their update row, unmatched inserted,
    other target rows untouched), and — when `deletes` is given — drop
    every target row whose key appears in it (CDC tombstones; WHEN
    MATCHED THEN DELETE). Plain Parquet has no ACID layer, so this is
    the object-store copy-on-write pattern: rewrite the table beside
    itself, swap directories — a reader sees the old or the new complete
    table, never a mix (same swap discipline as writer.compact_table).
    The pre-merge table is retired as a time-travel snapshot
    (snapshots.swap_with_history — a rename, not a copy; `vacuum` is the
    retention knob).

    Updates may add columns (schema widening): the union aligns by name
    and fills missing target columns with NULL.

    At 100 TB the rewrite cost is the whole table, which is exactly how
    Delta/Iceberg COW mode behaves without deletion vectors; partition
    the table (WriteSpec.partition_by) and merge per partition to bound
    the rewrite. Updates must have at most one row per key (enforce with
    latest_by_key first) — this keeps the plan a deterministic
    anti-join + union instead of a window, one shuffle each. A key in
    both `updates` and `deletes` resolves to the update (the delete is
    interpreted as ordering before the upsert, matching CDC compaction
    where the latest image wins).

    Returns (n_target_before, n_updates, n_after).
    """
    from columnar_spark.snapshots import swap_with_history

    target = getattr(spark.read, fmt)(path)
    n_before = target.count()
    n_updates = updates.count()

    # align schemas by name, widening with nulls on either side
    drop_keys = updates.select(*keys)
    if deletes is not None:
        drop_keys = drop_keys.unionByName(deletes.select(*keys)).distinct()
    kept = target.join(drop_keys, list(keys), "left_anti")
    merged = kept.unionByName(updates, allowMissingColumns=True)

    _rewrite_and_reindex(spark, path, merged, op="merge", fmt=fmt, n_rows_before=n_before)
    return n_before, n_updates, getattr(spark.read, fmt)(path).count()


def _rewrite_and_reindex(
    spark, path: str, new_df: DataFrame, op: str, fmt: str, n_rows_before: int
) -> None:
    """Shared CoW tail for row-mutating DML (MERGE / DELETE / UPDATE):
    write the rewritten table beside itself, swap with time-travel
    history, then bring the sidecars back in line. Row mutation changes
    arbitrary rows, so persisted value/posting indexes cannot be patched
    incrementally like appends — they are rebuilt from the new table
    (the rewrite was already O(table); this adds one aggregate pass per
    indexed column, not a new complexity class). JSON field indexes are
    INVALIDATED, not rebuilt: the mutation may rewrite the parent JSON
    column, and the reference disables per-field indexes on JSON update
    the same way (secondary.cpp:426-433) — re-enable explicitly with
    stats.write_json_field_index."""
    from columnar_spark.snapshots import swap_with_history

    tmp = path.rstrip("/") + f".{op}.tmp"
    new_df.write.mode("overwrite").format(fmt).save(tmp)
    swap_with_history(path, tmp, op=op, fmt=fmt, n_rows_before=n_rows_before)
    reindex_table(spark, path, fmt)


def reindex_table(spark, path: str, fmt: str = "parquet") -> None:
    """Bring EVERY sidecar in line with the table's current contents —
    the shared tail of all row mutations, and the public repair entry
    for any out-of-band rewrite (RESTORE, manual overwrite). Each kind
    in sidecars.KINDS is rebuilt from the new table or dropped: JSON
    field indexes are dropped (disable-on-update, secondary.cpp:426-433),
    and an artifact whose rebuild fails is removed, so nothing serves
    stale data."""
    from columnar_spark.sidecars import reindex

    reindex(spark, path, fmt)


def delete_where(spark, path: str, condition: str, fmt: str = "parquet") -> tuple[int, int]:
    """Copy-on-write `DELETE FROM t WHERE cond`: rows where the predicate
    evaluates TRUE are dropped; FALSE and NULL rows stay (SQL DELETE
    semantics). The pre-delete table is retired as a time-travel
    snapshot; sidecars are rebuilt. Returns (n_deleted, n_after)."""
    from pyspark.sql import functions as F

    target = getattr(spark.read, fmt)(path)
    n_before = target.count()
    kept = target.filter(~F.coalesce(F.expr(condition), F.lit(False)))
    n_after = kept.count()
    if n_after == n_before:
        return 0, n_after  # no-op: keep the current version, no rewrite
    _rewrite_and_reindex(spark, path, kept, op="delete", fmt=fmt, n_rows_before=n_before)
    return n_before - n_after, getattr(spark.read, fmt)(path).count()


def update_set(
    spark,
    path: str,
    assignments: "dict[str, str]",
    condition: str | None = None,
    fmt: str = "parquet",
) -> tuple[int, int]:
    """Copy-on-write `UPDATE t SET col = expr, ... [WHERE cond]`: matched
    rows (predicate TRUE; all rows when no predicate) get each assigned
    column replaced by its expression evaluated on the OLD row (standard
    UPDATE semantics — all assignments see the pre-update values);
    unmatched rows pass through unchanged. Assignment expressions may
    reference any column. Returns (n_matched, n_total)."""
    from pyspark.sql import functions as F

    target = getattr(spark.read, fmt)(path)
    for c in assignments:
        if c not in target.columns:
            raise ValueError(f"UPDATE: unknown column {c!r}")
    n_total = target.count()
    match = (
        F.coalesce(F.expr(condition), F.lit(False)) if condition else F.lit(True)
    )
    n_matched = target.filter(match).count()
    updated = target.select(
        *[
            (
                F.when(match, F.expr(assignments[c]).cast(target.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in target.columns
        ]
    )
    _rewrite_and_reindex(spark, path, updated, op="update", fmt=fmt, n_rows_before=n_total)
    return n_matched, getattr(spark.read, fmt)(path).count()


def truncate_table(spark, path: str, fmt: str = "parquet") -> int:
    """`TRUNCATE TABLE t` — empty the table, keep the schema. CoW like
    every other mutation (the pre-truncate table is retired as a
    time-travel snapshot — the reference daemon's TRUNCATE drops RT
    segments the same unceremonious way, but a snapshot costs one
    rename); sidecars rebuild to their empty forms. Returns the number
    of rows removed."""
    target = getattr(spark.read, fmt)(path)
    n_before = target.count()
    _rewrite_and_reindex(
        spark, path, target.limit(0), op="truncate", fmt=fmt, n_rows_before=n_before
    )
    return n_before


def alter_add_column(
    spark,
    path: str,
    col: str,
    dtype: str,
    default: str | None = None,
    fmt: str = "parquet",
) -> int:
    """`ALTER TABLE t ADD COLUMN c type [DEFAULT expr]` — CoW rewrite
    with the new column appended (NULL-filled unless a default
    expression is given; the expression may reference existing columns).
    Sidecars rebuild against the new schema. Returns the row count."""
    from pyspark.sql import functions as F

    target = getattr(spark.read, fmt)(path)
    if col in target.columns:
        raise ValueError(f"ALTER: column {col!r} already exists")
    n = target.count()
    value = F.expr(default) if default is not None else F.lit(None)
    new_df = target.withColumn(col, value.cast(dtype))
    _rewrite_and_reindex(spark, path, new_df, op="alter_add", fmt=fmt, n_rows_before=n)
    return n


def alter_drop_column(spark, path: str, col: str, fmt: str = "parquet") -> int:
    """`ALTER TABLE t DROP COLUMN c` — CoW rewrite without the column.
    Any sidecar keyed by the column (a value/posting index, a JSON field
    index rooted at it, a vector index over it) fails to rebuild against
    the new schema and is removed — the reference likewise drops
    attribute indexes with their attribute. Returns the row count."""
    target = getattr(spark.read, fmt)(path)
    if col not in target.columns:
        raise ValueError(f"ALTER: unknown column {col!r}")
    n = target.count()
    _rewrite_and_reindex(
        spark, path, target.drop(col), op="alter_drop", fmt=fmt, n_rows_before=n
    )
    return n
