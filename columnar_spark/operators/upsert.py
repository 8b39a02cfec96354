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
    for any out-of-band rewrite (RESTORE, manual overwrite). JSON field
    indexes are invalidated, not rebuilt (disable-on-update,
    secondary.cpp:426-433); plain value/posting indexes rebuild; the
    stats/rollup/text/vector artifacts refresh or disable themselves."""
    from columnar_spark.stats import (
        invalidate_json_field_indexes,
        json_index_meta,
        persisted_posting_index_cols,
        persisted_value_index_cols,
        posting_index_id_col,
        write_posting_index,
        write_value_index,
    )

    invalidate_json_field_indexes(path)
    from columnar_spark.stats import value_index_measures

    for c in persisted_value_index_cols(path):
        if json_index_meta(path, c) is not None:
            continue  # already swept above (defensive)
        ms = value_index_measures(path, c)
        write_value_index(
            spark, path, c, fmt,
            measures=[(mc, int(dp)) for mc, dp in ms] if ms else None,
        )
    for c in persisted_posting_index_cols(path):
        idc = posting_index_id_col(path, c)
        if idc:
            write_posting_index(spark, path, c, idc, fmt)
    _refresh_derived_sidecars(spark, path, fmt)


def _refresh_derived_sidecars(spark, path: str, fmt: str) -> None:
    """Bring the remaining sidecars in line with a rewritten table. Row
    mutation invalidates EVERY derived artifact, not just the value
    indexes: a stale stats manifest would mis-serve the whole-table
    MIN/MAX/COUNT rewrites AND falsely validate the rollup freshness
    gate (stale-vs-stale agree); a stale .ftidx keeps returning deleted
    documents; a stale .knn returns deleted vectors. Each artifact
    carries enough meta to rebuild faithfully; a rebuild that fails
    removes the artifact instead (disable-on-update, the reference's
    JSON-index behavior) so nothing serves stale data. All rebuild
    plans run with rewrites disabled — they must read the base table."""
    import json
    import os
    import shutil

    from columnar_spark.stats import (
        build_stats_manifest,
        rewrites_disabled,
        write_stats_sidecar,
    )

    new = getattr(spark.read, fmt)(path)
    base = path.rstrip("/")
    with rewrites_disabled(spark):
        write_stats_sidecar(spark, build_stats_manifest(new), base)

        from columnar_spark.streaming.rollup import rebuild_rollup_sidecars

        rebuild_rollup_sidecars(new, path)

        croot = base + ".cohort"
        if os.path.isdir(croot):
            try:
                from columnar_spark.operators.cohort import (
                    cohort_meta,
                    write_cohort_sidecar,
                )

                cm = cohort_meta(path)
                write_cohort_sidecar(
                    spark, path, cm["ts_col"], cm["user_col"]
                )
            except Exception:
                shutil.rmtree(croot, ignore_errors=True)

        troot = base + ".ftidx"
        if os.path.isdir(troot):
            try:
                with open(os.path.join(troot, "meta.json")) as fh:
                    tmeta = json.load(fh)
                from columnar_spark.operators.fulltext import write_text_index

                write_text_index(
                    spark,
                    path,
                    text_col=tmeta.get("text_col", "text"),
                    id_col=tmeta.get("id_col", "doc_id"),
                    fmt=fmt,
                    analyzer=tmeta.get("analyzer"),
                )
            except Exception:
                shutil.rmtree(troot, ignore_errors=True)

        from columnar_spark.operators.knn_index import vector_index_dirs

        def _disable_artifact(d: str) -> None:
            # Disable-on-failure must not take out healthy siblings: the
            # ROOT .knn/.knn-graph layout NESTS per-attribute `col=*`
            # artifacts, so rmtree(root) on a root-only rebuild failure
            # would destroy every other column's index too. Delete only
            # the dir's own payload and keep col=* subdirs.
            if not os.path.isdir(d):
                return
            for entry in os.listdir(d):
                if entry.startswith("col="):
                    continue
                p = os.path.join(d, entry)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    try:
                        os.remove(p)
                    except OSError:
                        pass
            if not os.listdir(d):  # no col=* siblings -> drop the dir too
                shutil.rmtree(d, ignore_errors=True)

        for kdir in vector_index_dirs(path):
            try:
                km = spark.read.parquet(os.path.join(kdir, "meta.parquet")).first()
                from columnar_spark.operators.knn_index import build_vector_index

                build_vector_index(
                    spark,
                    new,
                    path,
                    vec_col=km["vec_col"],
                    id_col=km["id_col"],
                    metric=km["metric"],
                    nlist=km["nlist"],
                    m=km["m"],
                    k=km["k"],
                    index_path=kdir,
                )
            except Exception:
                _disable_artifact(kdir)

        from columnar_spark.operators.hnsw_index import graph_index_dirs

        for gdir in graph_index_dirs(path):
            try:
                from columnar_spark.operators.hnsw_index import (
                    build_graph_index,
                    load_graph_index_meta,
                )

                gm = load_graph_index_meta(path, check_fresh=False, index_path=gdir)
                build_graph_index(
                    spark,
                    new,
                    path,
                    vec_col=gm["vec_col"],
                    id_col=gm["id_col"],
                    metric=gm["metric"],
                    M=gm["m"],
                    ef_construction=gm["ef_construction"],
                    num_parts=gm["num_parts"],
                    seed=gm["seed"],
                    quantize=gm["quantize"],
                    index_path=gdir,
                    q8_bounds=(
                        (gm["q8_lo"], gm["q8_hi"])
                        if gm["q8_lo"] is not None
                        else None
                    ),
                )
            except Exception:
                _disable_artifact(gdir)

        # Aggregate projections (this table as source or as an
        # enrichment dim of a sibling's): DML changed row content, so
        # the declared group-by partials are recomputed from scratch;
        # a failed rebuild removes the artifact (disable-on-update) so
        # nothing serves stale aggregates.
        from columnar_spark.aggprojections import (
            agg_projection_path,
            agg_projections_on,
            agg_projections_referencing,
            rebuild_agg_projection,
        )

        for fpath, pname in [
            (path, n) for n in agg_projections_on(path)
        ] + agg_projections_referencing(path):
            try:
                rebuild_agg_projection(spark, fpath, pname)
            except Exception:
                shutil.rmtree(
                    agg_projection_path(fpath, pname), ignore_errors=True
                )


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
    Any persisted value/posting index keyed by the column (or JSON field
    index rooted at it) is removed first — rebuilding it against the new
    schema would fail, and the reference likewise drops attribute
    indexes with their attribute. Returns the row count."""
    import shutil

    from columnar_spark.stats import (
        json_index_meta,
        persisted_posting_index_cols,
        persisted_value_index_cols,
        posting_index_path,
        value_index_path,
    )

    target = getattr(spark.read, fmt)(path)
    if col not in target.columns:
        raise ValueError(f"ALTER: unknown column {col!r}")
    for c in persisted_value_index_cols(path):
        jm = json_index_meta(path, c)
        keyed_by = jm["parent"] if jm else c
        if keyed_by == col:
            shutil.rmtree(value_index_path(path, c), ignore_errors=True)
    for c in persisted_posting_index_cols(path):
        from columnar_spark.stats import posting_index_id_col

        if c == col or posting_index_id_col(path, c) == col:
            shutil.rmtree(posting_index_path(path, c), ignore_errors=True)
    n = target.count()
    _rewrite_and_reindex(
        spark, path, target.drop(col), op="alter_drop", fmt=fmt, n_rows_before=n
    )
    return n
