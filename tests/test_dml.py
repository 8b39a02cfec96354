"""Engine.sql row-mutating DML: DELETE FROM / UPDATE ... SET over the
CoW machinery (operators/upsert.delete_where, update_set) — the
reference host's UPDATE/DELETE surface. Pins SQL NULL semantics,
old-value assignment visibility, time-travel history, and sidecar
maintenance (value index rebuilt, JSON field index invalidated)."""

import os

import pytest
from pyspark.sql import functions as F

from columnar_spark.table import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "a", 10, '{"k": "1"}'),
            (2, "b", 20, '{"k": "2"}'),
            (3, "b", None, '{"k": "1"}'),
            (4, "c", 40, None),
        ],
        "id int, c string, v int, props string",
    )
    p = str(tmp_path / "t.parquet")
    df.write.parquet(p)
    from columnar_spark.stats import write_json_field_index, write_value_index

    write_value_index(spark, p, "c")
    write_json_field_index(spark, p, "props", "$.k")
    e = Engine(spark, str(tmp_path))
    e.register_views(["t"])
    return e


def _vidx(spark, tmp_path, col="c"):
    return {
        (r["value"], r["cnt"])
        for r in spark.read.parquet(str(tmp_path / f"t.parquet.vidx/{col}")).collect()
    }


def test_sql_delete(spark, tmp_path, eng):
    # v > 15 is NULL for id=3 — SQL DELETE drops only TRUE rows
    res = eng.sql("DELETE FROM t WHERE v > 15").first()
    assert (res["op"], res["n_affected"], res["n_rows"]) == ("delete", 2, 2)
    left = {r["id"] for r in eng.sql("SELECT id FROM t").collect()}
    assert left == {1, 3}
    # value index rebuilt to match the surviving rows
    assert _vidx(spark, tmp_path) == {("a", 1), ("b", 1)}
    # JSON field index invalidated (disable-on-update parity)
    assert not os.path.isdir(str(tmp_path / "t.parquet.vidx/props__k"))
    # pre-delete table retired as a time-travel snapshot
    from columnar_spark.snapshots import history, read_table

    hist = history(str(tmp_path / "t.parquet"))
    assert hist and hist[-1].op == "delete"
    old = read_table(spark, str(tmp_path / "t.parquet"), version=hist[-1].version)
    assert old.count() == 4


def test_sql_delete_noop_keeps_version(tmp_path, eng):
    from columnar_spark.snapshots import history

    res = eng.sql("DELETE FROM t WHERE v > 1000").first()
    assert (res["n_affected"], res["n_rows"]) == (0, 4)
    assert history(str(tmp_path / "t.parquet")) == []


def test_sql_update(spark, tmp_path, eng):
    # assignments see OLD values: doubling v while also bumping id
    res = eng.sql("UPDATE t SET v = v * 2, id = id + 100 WHERE c = 'b'").first()
    assert (res["op"], res["n_affected"], res["n_rows"]) == ("update", 2, 4)
    rows = {r["id"]: r["v"] for r in eng.sql("SELECT id, v FROM t").collect()}
    assert rows == {1: 10, 102: 40, 103: None, 4: 40}  # NULL*2 stays NULL
    assert _vidx(spark, tmp_path) == {("a", 1), ("b", 2), ("c", 1)}


def test_sql_update_all_rows_and_funcs(spark, tmp_path, eng):
    res = eng.sql("UPDATE t SET v = coalesce(v, 0)").first()
    assert (res["n_affected"], res["n_rows"]) == (4, 4)
    vals = sorted(r["v"] for r in eng.sql("SELECT v FROM t").collect())
    assert vals == [0, 10, 20, 40]


def test_sql_update_unknown_column_refused(eng):
    with pytest.raises(ValueError, match="unknown column"):
        eng.sql("UPDATE t SET nope = 1")


def test_sql_insert_values_and_select(spark, tmp_path, eng):
    res = eng.sql(
        "INSERT INTO t VALUES (5, 'd', 50, NULL), (6, 'b', 60, '{\"k\": \"2\"}')"
    ).first()
    assert (res["op"], res["n_affected"], res["n_rows"]) == ("insert", 2, 6)
    # incremental sidecar maintenance: the .vidx merged the batch counts
    assert _vidx(spark, tmp_path) == {("a", 1), ("b", 3), ("c", 1), ("d", 1)}
    # INSERT ... SELECT binds positionally with cast
    res2 = eng.sql(
        "INSERT INTO t SELECT id + 10, upper(c), v, props FROM t WHERE id = 1"
    ).first()
    assert (res2["n_affected"], res2["n_rows"]) == (1, 7)
    got = eng.sql("SELECT c FROM t WHERE id = 11").first()["c"]
    assert got == "A"


def test_sql_insert_arity_refused(eng):
    with pytest.raises(ValueError, match="INSERT"):
        eng.sql("INSERT INTO t VALUES (1, 'x')")


def test_dml_refreshes_derived_sidecars(spark, tmp_path):
    """Row mutation must bring EVERY sidecar in line, not just .vidx:
    the stats manifest (whole-table rewrites + rollup freshness gate
    trust it), the rollup partials, and the text index."""
    import json

    from pyspark.sql import Row

    from columnar_spark.operators.fulltext import bm25_search_indexed, write_text_index
    from columnar_spark.streaming.rollup import write_rollup_sidecar

    rows = [
        Row(doc_id=i, text=("needle haystack" if i == 7 else "hay stack words"),
            ts=f"2024-01-0{1 + i % 5} 10:00:00", value=float(i))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    p = str(tmp_path / "d.parquet")
    df.write.parquet(p)
    from columnar_spark.stats import build_stats_manifest

    build_stats_manifest(spark.read.parquet(p)).write.parquet(p + ".stats")
    write_rollup_sidecar(spark.read.parquet(p), p, ts_col="ts", keys=(), value_col="value")
    write_text_index(spark, p)
    assert bm25_search_indexed(spark, p, "needle").count() == 1

    e = Engine(spark, str(tmp_path))
    res = e.sql("DELETE FROM d WHERE doc_id = 7").first()
    assert res["n_affected"] == 1

    # manifest reflects the new row count
    man = spark.read.parquet(p + ".stats").select("row_count").first()["row_count"]
    assert man == 9
    # rollup partials re-tile the new table exactly (freshness holds)
    total = spark.read.parquet(p + ".rollup/partials").agg(F.sum("cnt")).first()[0]
    assert total == 9
    # the text index no longer serves the deleted document
    assert bm25_search_indexed(spark, p, "needle").count() == 0


def test_update_type_preserved(spark, tmp_path, eng):
    eng.sql("UPDATE t SET v = v / 2 WHERE id = 2")  # div yields double; cast back
    dt = dict(spark.read.parquet(str(tmp_path / "t.parquet")).dtypes)["v"]
    assert dt == "int"


# ---------------------------------------------------------------- INSERT
# maintenance on the ingest layout of an events table: value index,
# materialized JSON field + its index, day/event_type and user-day
# rollups, cohort sidecar (writer.build_sf_layout).

_ROLLUP_Q = (
    "SELECT date_trunc('day', ts) AS b, event_type, COUNT(*) AS n "
    "FROM events GROUP BY b, event_type"
)


def _events_rows(lo, hi):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    types = ["view", "click", "buy", "signup"]
    return [
        {
            "event_id": i,
            "ts": t0 + datetime.timedelta(hours=7 * i),
            "user_id": (i * 37) % 53,
            "event_type": types[i % 4],
            "value": round((i % 97) * 1.25, 2),
            "props": '{"k": %d}' % (i % 5),
        }
        for i in range(lo, hi)
    ]


@pytest.fixture()
def events_eng(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from columnar_spark.writer import build_sf_layout

    src, dest = tmp_path / "src", tmp_path / "layout"
    src.mkdir()
    pq.write_table(pa.Table.from_pylist(_events_rows(0, 300)), str(src / "events.parquet"))
    build_sf_layout(spark, str(src), str(dest))
    return Engine(spark, str(dest))


def _insert_events(spark, eng, lo, hi):
    """INSERT INTO events from a temp view, binding every table column
    (the materialized JSON field is computed from props)."""
    import pyarrow as pa

    spark.createDataFrame(pa.Table.from_pylist(_events_rows(lo, hi))).createOrReplaceTempView(
        "ins_batch"
    )
    cols = [
        "get_json_object(props, '$.k') AS props__j_k" if c == "props__j_k" else c
        for c in eng.table("events").columns
    ]
    return eng.sql(f"INSERT INTO events SELECT {', '.join(cols)} FROM ins_batch").first()


def _live_rollup(spark, eng):
    ev = spark.read.parquet(f"{eng.sf_dir}/events.parquet")
    return sorted(
        tuple(r)
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("b"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )


def test_insert_keeps_rollup_route_fresh(spark, events_eng):
    """After INSERT the rollup-routed day/event_type GROUP BY still reads
    the rollup sidecar and equals the live plan (the batch folded into
    every rollup, and the row-count gate sees the new count)."""
    assert sorted(tuple(r) for r in events_eng.sql(_ROLLUP_Q).collect()) == _live_rollup(
        spark, events_eng
    )
    res = _insert_events(spark, events_eng, 300, 340)
    assert (res["n_affected"], res["n_rows"]) == (40, 340)
    routed = events_eng.sql(_ROLLUP_Q)
    files = routed.inputFiles()
    assert files and all(".rollup/" in f for f in files)
    assert sorted(tuple(r) for r in routed.collect()) == _live_rollup(spark, events_eng)


def test_count_reads_value_index_after_insert(spark, events_eng, monkeypatch):
    """Engine.count re-adopts the merged persisted sidecar after INSERT
    dropped the session copy, instead of scanning the table."""
    from columnar_spark import table as table_mod
    from columnar_spark.filters import Filter, FilterType
    from columnar_spark.stats import covered_count

    served = []

    def spy(idx, f):
        served.append(covered_count(idx, f))
        return served[-1]

    events_eng.load_persisted_value_indexes("events")
    _insert_events(spark, events_eng, 300, 340)
    monkeypatch.setattr(table_mod, "covered_count", spy)
    n = events_eng.count("events", [Filter("event_type", FilterType.STRINGS, strings=["buy"])])
    assert served and served[-1] == n
    assert n == spark.read.parquet(f"{events_eng.sf_dir}/events.parquet").where(
        "event_type = 'buy'"
    ).count()


def test_count_after_insert_runs_no_spark_job(spark, events_eng, spark_cost):
    """After INSERT dropped the session index, Engine.count re-adopts the
    merged sidecar as a driver-local relation and answers fresh in zero
    Spark jobs, with no Python worker."""
    from columnar_spark.filters import Filter, FilterType

    events_eng.load_persisted_value_indexes("events")
    f = Filter("event_type", FilterType.STRINGS, strings=["buy"])
    events_eng.count("events", [f])  # warm the session
    _insert_events(spark, events_eng, 300, 340)
    n, jobs, ticks = spark_cost(lambda: events_eng.count("events", [f]))
    assert (jobs, ticks) == (0, 0)
    assert n == spark.read.parquet(f"{events_eng.sf_dir}/events.parquet").where(
        "event_type = 'buy'"
    ).count()


def test_small_insert_job_budget_and_one_file(spark, events_eng):
    """A small INSERT maintaining every sidecar runs a fixed, small
    number of Spark jobs (the same on every append) and lands as one
    file."""
    path = f"{events_eng.sf_dir}/events.parquet"

    def files():
        return len([f for f in os.listdir(path) if f.endswith(".parquet")])

    sc = spark.sparkContext
    _insert_events(spark, events_eng, 300, 320)  # first append bootstraps the stats sketch
    jobs = []
    for i, lo in enumerate((320, 340)):
        before = files()
        group = f"insert-budget-{i}"
        sc.setJobGroup(group, "INSERT job budget", False)
        try:
            res = _insert_events(spark, events_eng, lo, lo + 20)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        assert res["n_affected"] == 20
        assert files() == before + 1
    assert jobs[0] == jobs[1] <= 30, jobs
