"""Engine.sql table-level DDL/maintenance verbs — the daemon surface:
TRUNCATE, DROP TABLE, ALTER TABLE ADD/DROP COLUMN, OPTIMIZE,
SHOW CREATE TABLE. All mutations ride the CoW machinery (time-travel
snapshot, sidecars rebuilt or disabled)."""

import os

import pytest
from pyspark.sql import functions as F

from columnar_spark.stats import write_value_index
from columnar_spark.table import Engine


def _mk(spark, tmp_path, name="t", n=30):
    p = f"{tmp_path}/{name}.parquet"
    spark.range(n).select(
        F.col("id").alias("i"),
        (F.col("id") % 3).cast("string").alias("c"),
        F.concat(F.lit("text body "), F.col("id")).alias("text"),
    ).write.parquet(p)
    from columnar_spark.stats import build_stats_manifest

    build_stats_manifest(spark.read.parquet(p)).write.mode("overwrite").parquet(
        p + ".stats"
    )
    return Engine(spark, str(tmp_path)), p


def test_truncate_keeps_schema_drops_rows(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    write_value_index(spark, p, "c")
    row = eng.sql("TRUNCATE TABLE t").first()
    assert (row.op, row.n_affected, row.n_rows) == ("truncate", 30, 0)
    df = spark.read.parquet(p)
    assert df.count() == 0
    assert df.columns == ["i", "c", "text"]
    # sidecars follow: the rebuilt value index is empty, manifest says 0
    vidx = spark.read.parquet(p + ".vidx/c")
    assert vidx.count() == 0
    man = spark.read.parquet(p + ".stats")
    assert man.select("row_count").first()[0] == 0
    # the pre-truncate table survives as a snapshot
    assert os.path.isdir(p + ".versions")


def test_drop_table_removes_data_and_every_sidecar(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    write_value_index(spark, p, "c")
    extra = (".ftidx", ".textstats", ".dedupsig", ".proj", ".aggproj", ".rollup-named")
    for suffix in extra:
        os.makedirs(p + suffix, exist_ok=True)
    row = eng.sql("DROP TABLE t").first()
    assert row.op == "drop_table" and row.n_affected == 1
    for suffix in ("", ".stats", ".vidx") + extra:
        assert not os.path.isdir(p + suffix), suffix
    # IF EXISTS on a missing table is a quiet no-op; bare DROP raises
    assert eng.sql("DROP TABLE IF EXISTS t").first().n_affected == 0
    with pytest.raises(ValueError):
        eng.sql("DROP TABLE t")


def test_alter_add_column_with_default(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    row = eng.sql("ALTER TABLE t ADD COLUMN twice bigint DEFAULT i * 2").first()
    assert row.op == "alter_add" and row.n_affected == 30
    df = spark.read.parquet(p)
    assert df.columns == ["i", "c", "text", "twice"]
    assert df.filter(F.col("twice") != F.col("i") * 2).count() == 0
    # NULL-filled without a default
    eng.sql("ALTER TABLE t ADD COLUMN note string")
    df = spark.read.parquet(p)
    assert df.filter(F.col("note").isNotNull()).count() == 0
    with pytest.raises(ValueError):
        eng.sql("ALTER TABLE t ADD COLUMN i int")  # duplicate


def test_alter_drop_column_removes_its_index(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    write_value_index(spark, p, "c")
    row = eng.sql("ALTER TABLE t DROP COLUMN c").first()
    assert row.op == "alter_drop"
    df = spark.read.parquet(p)
    assert df.columns == ["i", "text"]
    assert not os.path.isdir(p + ".vidx/c")
    with pytest.raises(ValueError):
        eng.sql("ALTER TABLE t DROP COLUMN nope")


def test_optimize_compacts_fragmented_table(spark, tmp_path):
    eng, p = _mk(spark, tmp_path, n=10)
    # fragment: a file per micro-append
    for k in range(6):
        spark.range(10 * k + 100, 10 * k + 110).select(
            F.col("id").alias("i"),
            (F.col("id") % 3).cast("string").alias("c"),
            F.concat(F.lit("text body "), F.col("id")).alias("text"),
        ).coalesce(1).write.mode("append").parquet(p)
    files_before = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert files_before >= 6
    row = eng.sql("OPTIMIZE TABLE t").first()
    assert row.op == "optimize" and row.files_after < row.files_before
    assert spark.read.parquet(p).count() == 70


def test_show_create_table_lists_schema_and_indexes(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    write_value_index(spark, p, "c")
    from columnar_spark.operators.fulltext import write_text_index

    write_text_index(spark, p, text_col="text", id_col="i")
    ddl = eng.sql("SHOW CREATE TABLE t").first().create_table
    assert ddl.startswith("CREATE TABLE t (")
    assert "i bigint" in ddl and "text string" in ddl
    assert "INDEX (c)" in ddl
    assert "TEXT INDEX (text, i)" in ddl


def test_create_table_roundtrips_show_create(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    write_value_index(spark, p, "c")
    from columnar_spark.operators.fulltext import write_text_index

    write_text_index(spark, p, text_col="text", id_col="i")
    ddl = eng.sql("SHOW CREATE TABLE t").first().create_table
    # re-create under a new name from the emitted DDL
    ddl2 = ddl.replace("CREATE TABLE t", "CREATE TABLE t2", 1)
    row = eng.sql(ddl2).first()
    assert (row.op, row.n_affected, row.n_rows) == ("create_table", 1, 0)
    p2 = f"{tmp_path}/t2.parquet"
    df2 = spark.read.parquet(p2)
    assert df2.columns == ["i", "c", "text"] and df2.count() == 0
    assert df2.schema == spark.read.parquet(p).schema
    assert os.path.isdir(p2 + ".vidx/c")
    assert os.path.isdir(p2 + ".ftidx")
    # the empty text index accepts appends from zero
    from columnar_spark.streaming.ingest import append_batch

    append_batch(spark.read.parquet(p).limit(5), p2, batch_id=0)
    from columnar_spark.operators.fulltext import load_text_index

    assert load_text_index(spark, p2)[2]["n_docs"] == 5
    # IF NOT EXISTS is quiet; bare CREATE on an existing table raises
    assert eng.sql(
        ddl2.replace("CREATE TABLE t2", "CREATE TABLE IF NOT EXISTS t2", 1)
    ).first().n_affected == 0
    with pytest.raises(ValueError):
        eng.sql(ddl2)


def test_show_versions_and_restore(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    write_value_index(spark, p, "c")
    eng.sql("DELETE FROM t WHERE i >= 10")
    assert spark.read.parquet(p).count() == 10
    vers = eng.sql("SHOW VERSIONS FROM t").collect()
    assert len(vers) == 1 and vers[0].op == "delete"
    v = vers[0].version
    row = eng.sql(f"RESTORE TABLE t VERSION AS OF {v}").first()
    assert row.op == "restore" and row.restored_version == v
    assert spark.read.parquet(p).count() == 30
    # sidecars reindexed against the restored contents
    vidx = {(r["value"], r["cnt"]) for r in spark.read.parquet(p + ".vidx/c").collect()}
    assert vidx == {("0", 10), ("1", 10), ("2", 10)}
    # the displaced (deleted) table retired as a new version
    assert len(eng.sql("SHOW VERSIONS FROM t").collect()) == 2


def test_call_snippets_highlights_given_text(spark, tmp_path):
    eng, _ = _mk(spark, tmp_path)
    snip = eng.sql(
        "CALL SNIPPETS('the vector scan engine runs fast', 't', 'vector fast')"
    ).first().snippet
    assert "<b>vector</b>" in snip and "<b>fast</b>" in snip
    # no match: leading window, no markup
    snip2 = eng.sql("CALL SNIPPETS('nothing here', 't', 'zzz')").first().snippet
    assert snip2 == "nothing here"


def test_explain_verb_shows_physical_plan(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    write_value_index(spark, p, "c")
    eng.register_views(["t"])
    plan = eng.sql("EXPLAIN SELECT COUNT(*) AS n FROM t WHERE c = '1'").first().plan
    assert "Physical Plan" in plan or "Scan" in plan
    # the index-only rewrite is visible through EXPLAIN
    assert ".vidx" in plan
    # and a verb-result frame explains too
    plan2 = eng.sql("EXPLAIN SHOW TABLES").first().plan
    assert "Scan" in plan2 or "LocalTableScan" in plan2


def test_call_pq_percolates_stored_queries(spark, tmp_path):
    eng, _ = _mk(spark, tmp_path)
    qp = f"{tmp_path}/alerts.parquet"
    spark.createDataFrame(
        [("q1", "disk error"), ("q2", "panic"), ("q3", "error")],
        "query_id string, query_text string",
    ).write.parquet(qp)
    got = [r.query_id for r in eng.sql(
        "CALL PQ('alerts', 'a disk error occurred in the pod')"
    ).collect()]
    assert got == ["q1", "q3"]  # AND semantics: all terms must appear
    got_b = [r.query_id for r in eng.sql(
        "CALL PQ('alerts', 'kernel panic but no test', 'boolean')"
    ).collect()]
    assert "q2" in got_b and "q1" not in got_b


def test_explain_refuses_mutating_statements(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    before = spark.read.parquet(p).count()
    with pytest.raises(ValueError):
        eng.sql("EXPLAIN DELETE FROM t WHERE i > 5")
    assert spark.read.parquet(p).count() == before  # nothing executed
    # the guard is an ALLOWLIST: a verb Engine.sql doesn't know yet is
    # refused by default instead of silently executed
    with pytest.raises(ValueError, match="read-only"):
        eng.sql("EXPLAIN FROBNICATE t")
    # read-only forms still explain fine
    assert "plan" in eng.sql("EXPLAIN WITH x AS (SELECT 1 AS a) SELECT * FROM x").columns


def test_show_changes_and_vacuum(spark, tmp_path):
    eng, p = _mk(spark, tmp_path)
    eng.sql("DELETE FROM t WHERE i >= 25")       # retires the 30-row state
    eng.sql("UPDATE t SET c = 'Z' WHERE i = 3")  # retires the 25-row state
    vers = {r.op: r.version for r in eng.sql("SHOW VERSIONS FROM t").collect()}
    pre_update = vers["update"]
    changes = eng.sql(
        f"SHOW CHANGES FROM t BETWEEN {pre_update} AND LIVE KEY (i)"
    ).collect()
    kinds = {}
    for r in changes:
        kinds.setdefault(r["_change_type"], []).append(r["i"])
    assert kinds.get("update_preimage") == [3] and kinds.get("update_postimage") == [3]
    assert "insert" not in kinds and "delete" not in kinds
    # versions 0 and 1 both retained; vacuum to the newest one
    assert len(eng.sql("SHOW VERSIONS FROM t").collect()) == 2
    row = eng.sql("VACUUM t RETAIN 1").first()
    assert row.n_removed == 1 and row.removed_versions != ""
    # the log is an audit trail: both entries stay listed, but only the
    # newest remains retained (readable/restorable)
    remaining = {r.op: r.retained for r in eng.sql("SHOW VERSIONS FROM t").collect()}
    assert remaining == {"delete": False, "update": True}


def test_review_fixes_round5(spark, tmp_path):
    """Regressions pinned from the round-5 code review: EXPLAIN VACUUM
    must not execute; IF [NOT] EXISTS tolerates arbitrary whitespace;
    CALL PQ rejects a 1-column queries table with a clear error;
    OPTIMIZE keeps the value-index freshness signature valid."""
    eng, p = _mk(spark, tmp_path)
    eng.sql("DELETE FROM t WHERE i >= 20")
    assert len(eng.sql("SHOW VERSIONS FROM t").collect()) == 1
    with pytest.raises(ValueError):
        eng.sql("EXPLAIN VACUUM t")
    assert eng.sql("SHOW VERSIONS FROM t").first().retained  # nothing vacuumed

    # whitespace-insensitive IF NOT EXISTS / IF EXISTS
    assert eng.sql(
        "CREATE TABLE IF NOT\n  EXISTS t (i int)"
    ).first().n_affected == 0
    assert eng.sql("DROP TABLE IF\n EXISTS nope").first().n_affected == 0

    # 1-column stored-queries table -> contract error, not IndexError
    spark.range(3).selectExpr("CAST(id AS STRING) AS q").write.parquet(
        f"{tmp_path}/oneq.parquet"
    )
    with pytest.raises(ValueError, match="query_id"):
        eng.sql("CALL PQ('oneq', 'some doc')")


def test_optimize_preserves_index_freshness(spark, tmp_path):
    """Compaction rewrites the table files without changing contents;
    the recorded value-index signature must be refreshed, not left to
    fail the freshness gate forever."""
    import json

    eng, p = _mk(spark, tmp_path, n=10)
    for k in range(5):
        spark.range(100 + k, 101 + k).selectExpr(
            "id AS i", "CAST(id % 3 AS STRING) AS c", "'text body x' AS text"
        ).coalesce(1).write.mode("append").parquet(p)
    write_value_index(spark, p, "c")
    eng.sql("OPTIMIZE TABLE t")
    from columnar_spark.stats import table_signature

    sig = json.load(open(p + ".vidx/c/_table_sig.json"))
    assert sig == table_signature(p)  # gate-valid after the rewrite


def test_split_label_full_weight_boundary(spark):
    """A non-final cumulative weight of 1.0 formats as 5 hex chars and
    would break the fixed-width compare — the always-true guard must
    assign everything to that label."""
    from pyspark.sql import functions as F

    from columnar_spark.operators.sampling import assign_splits

    df = spark.range(200).select(F.col("id").alias("k"))
    out = assign_splits(df, "k", {"train": 1.0, "test": 0.0})
    assert out.filter(F.col("split") != "train").count() == 0
