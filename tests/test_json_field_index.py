"""JSON per-field secondary indexing — reference secondary.cpp:426-433
parity: JSON attributes flatten into per-field value indexes with parent
linkage; E6/E7-style rewrites cover `get_json_object(parent, path)`
predicates; appends maintain the index from the parent column; a
parent-rewriting MERGE invalidates it (disable-on-update)."""

import os

import pytest
from pyspark.sql import functions as F

from columnar_spark.stats import (
    invalidate_json_field_indexes,
    json_index_meta,
    json_virtual_name,
    load_value_index,
    persisted_value_index_cols,
    write_json_field_index,
    write_value_index,
)
from columnar_spark.table import Engine

SF = "/root/testdata/sf0.001"


def test_json_virtual_name():
    assert json_virtual_name("props", "$.kind") == "props__j_kind"
    assert json_virtual_name("props", "$.a.b[0]") == "props__j_a_b_0"
    with pytest.raises(ValueError):
        json_virtual_name("props", "$")


def test_normalize_json_exprs():
    from columnar_spark.plans.count_rewrite import normalize_json_exprs

    q = "SELECT COUNT(*) FROM events WHERE get_json_object(props, '$.k') = '7'"
    assert (
        normalize_json_exprs(q)
        == "SELECT COUNT(*) FROM events WHERE props__j_k = '7'"
    )
    # non-JSON queries pass through untouched
    q2 = "SELECT COUNT(*) FROM t WHERE a = 1"
    assert normalize_json_exprs(q2) == q2


@pytest.fixture()
def events_table(spark, tmp_path):
    p = str(tmp_path / "events.parquet")
    spark.read.parquet(f"{SF}/events.parquet").write.parquet(p)
    return p


def test_engine_sql_count_on_json_field_drops_base_scan(spark):
    eng = Engine(spark, SF)
    eng.register_views(["events"])
    eng.build_json_field_index("events", "props", "$.k")

    q = "SELECT COUNT(*) AS n FROM events WHERE get_json_object(props, '$.k') = '7'"
    rewritten = eng.sql(q)
    plain = eng.spark.sql(q)
    assert rewritten.first()["n"] == plain.first()["n"]
    plan = rewritten._jdf.queryExecution().executedPlan().toString()
    assert "events.parquet" not in plan, plan  # index-only

    # GROUP BY form, aliased, with a WHERE conjunct on the same field
    q2 = (
        "SELECT get_json_object(props, '$.k') AS k, COUNT(*) AS cnt "
        "FROM events WHERE get_json_object(props, '$.k') IS NOT NULL GROUP BY 1"
    )
    r2 = eng.sql(q2)
    assert "events.parquet" not in r2._jdf.queryExecution().executedPlan().toString()
    got = sorted(map(tuple, r2.collect()))
    want = sorted(map(tuple, eng.spark.sql(q2).collect()))
    assert got == want


def test_persisted_json_index_append_maintenance(spark, events_table):
    """Appends maintain the per-field index from the PARENT column —
    merged index == one-shot rebuild on the grown table."""
    from columnar_spark.streaming.ingest import append_batch

    vname = write_json_field_index(spark, events_table, "props", "$.k")
    assert json_index_meta(events_table, vname) == {
        "parent": "props",
        "json_path": "$.k",
    }

    batch = spark.createDataFrame(
        [(99990001, 77.0, '{"k": 7}'), (99990002, 1.0, '{"k": 12345}')],
        "event_id long, value double, props string",
    )
    append_batch(batch, events_table)

    merged = {
        (r["value"], r["cnt"])
        for r in load_value_index(spark, events_table, vname).collect()
    }
    # rebuild from scratch on the grown table
    write_json_field_index(spark, events_table, "props", "$.k")
    rebuilt = {
        (r["value"], r["cnt"])
        for r in load_value_index(spark, events_table, vname).collect()
    }
    assert merged == rebuilt
    assert ("12345", 1) in merged  # the new field value arrived
    # parent linkage survived the merge rewrite
    assert json_index_meta(events_table, vname) is not None


def test_merge_invalidates_json_index_keeps_plain(spark, events_table):
    """A MERGE rewrites the parent JSON column; per-field indexes are
    disabled (reference semantics), plain-column indexes rebuild."""
    from columnar_spark.operators.upsert import merge_into

    vname = write_json_field_index(spark, events_table, "props", "$.k")
    write_value_index(spark, events_table, "event_type")
    assert set(persisted_value_index_cols(events_table)) >= {vname, "event_type"}

    updates = spark.read.parquet(events_table).limit(1).withColumn(
        "props", F.lit('{"k": 424242}')
    )
    merge_into(spark, events_table, updates, keys=["event_id"])

    cols = persisted_value_index_cols(events_table)
    assert vname not in cols  # invalidated
    assert "event_type" in cols  # rebuilt
    # explicit re-enable works and reflects the merged data
    write_json_field_index(spark, events_table, "props", "$.k")
    vals = {
        r["value"] for r in load_value_index(spark, events_table, vname).collect()
    }
    assert "424242" in vals


def test_invalidate_scoped_by_parent(spark, events_table):
    v1 = write_json_field_index(spark, events_table, "props", "$.k")
    removed = invalidate_json_field_indexes(events_table, parent="other_col")
    assert removed == [] and v1 in persisted_value_index_cols(events_table)
    removed = invalidate_json_field_indexes(events_table, parent="props")
    assert removed == [v1]


def test_writespec_json_fields_materializes_column(spark, tmp_path):
    from columnar_spark.writer import WriteSpec, write_table

    src = spark.read.parquet(f"{SF}/events.parquet")
    p = str(tmp_path / "ev_mat.parquet")
    write_table(src, p, WriteSpec(json_fields=(("props", "$.k"),)))
    out = spark.read.parquet(p)
    assert "props__j_k" in out.columns
    # materialized values agree with the live expression
    bad = out.filter(
        F.coalesce(F.col("props__j_k"), F.lit("~"))
        != F.coalesce(F.get_json_object(F.col("props"), "$.k"), F.lit("~"))
    ).count()
    assert bad == 0
    # the stats manifest carries the virtual column (skipping surface)
    from columnar_spark.stats import load_manifest
    from columnar_spark.writer import stats_path

    man = load_manifest(spark, stats_path(p))
    assert "props__j_k" in man and man["props__j_k"]["ndv"] > 0


def test_stream_ingest_maintains_json_field_index(spark, tmp_path):
    """Structured-streaming ingest keeps the per-field JSON index in
    lockstep across restart-resume, through the parent column — the
    same foreachBatch merge contract as the text/vector/value sidecars."""
    import shutil

    from columnar_spark.stats import load_value_index, write_json_field_index
    from columnar_spark.streaming.ingest import stream_ingest

    dst = str(tmp_path / "ev.parquet")
    src = tmp_path / "src"
    src.mkdir()
    stage = tmp_path / "stage"
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, value double, props string"

    def add(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage / name))
        for j, f in enumerate(sorted((stage / name).glob("*.parquet"))):
            shutil.copy(f, src / f"{name}_{j}.parquet")

    add("b1", [(1, 1.0, '{"k": 5}'), (2, 2.0, '{"k": 5}')])
    q = stream_ingest(spark, str(src), dst, ckpt, schema)
    q.awaitTermination(120)
    vname = write_json_field_index(spark, dst, "props", "$.k")

    add("b2", [(3, 3.0, '{"k": 5}'), (4, 4.0, '{"k": 777}')])
    q = stream_ingest(spark, str(src), dst, ckpt, schema)
    q.awaitTermination(120)

    got = {
        (r["value"], r["cnt"])
        for r in load_value_index(spark, dst, vname).collect()
    }
    assert got == {("5", 3), ("777", 1)}


def test_local_relation_is_jvm_local_and_type_exact(spark):
    """local_relation must produce a JVM LocalTableScan (no per-execution
    Python boundary — the pickled-ExistingRDD form costs ~0.3s/exec) and
    round-trip values exactly, including NULLs, bigints beyond 2^53,
    decimals and dates."""
    import datetime
    import decimal

    from pyspark.sql import Row

    from columnar_spark.localrel import local_relation

    rows = [
        Row(v=(1 << 60) + 7, s="a", d=datetime.date(1995, 3, 15),
            m=decimal.Decimal("12345.67"), cnt=3),
        Row(v=None, s=None, d=None, m=None, cnt=1),
        Row(v=-5, s="k", d=datetime.date(2020, 1, 1),
            m=decimal.Decimal("-0.01"), cnt=2 ** 55),
    ]
    src = spark.createDataFrame(rows, "v bigint, s string, d date, m decimal(10,2), cnt bigint")
    out = local_relation(spark, src)
    assert out.schema == src.schema
    assert sorted(map(str, out.collect())) == sorted(map(str, src.collect()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_engine_value_index_local_relation_plan(spark):
    """Engine.build_json_field_index registers its in-session index as a
    LocalTableScan, so index-served SQL never re-crosses the Python
    boundary at execution."""
    eng = Engine(spark, SF)
    eng.register_views(["events"])
    vname = eng.build_json_field_index("events", "props", "$.k")
    idx = eng._value_indexes[("events", vname)].frame
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
