"""Persisted value-index sidecar: built at ingest, folded incrementally
on append (O(batch), merge == full rebuild), rebuilt on MERGE, adopted
by Engine.sql's index-covered rewrites."""

from pyspark.sql import functions as F

from columnar_spark.operators.upsert import merge_into
from columnar_spark.stats import (
    build_value_index,
    load_value_index,
    persisted_value_index_cols,
    write_value_index,
)
from columnar_spark.streaming.ingest import append_batch
from columnar_spark.table import Engine


def _idx_dict(df):
    return {r["value"]: r["cnt"] for r in df.collect()}


def test_append_merges_value_index_exactly(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    base = spark.createDataFrame(
        [(i, ["x", "y", "z"][i % 3]) for i in range(90)], "k: long, s: string"
    )
    base.write.parquet(path)
    write_value_index(spark, path, "s")
    assert persisted_value_index_cols(path) == ["s"]

    b1 = spark.createDataFrame([(100 + i, "x") for i in range(7)], "k: long, s: string")
    b2 = spark.createDataFrame(
        [(200 + i, ["y", "w"][i % 2]) for i in range(10)], "k: long, s: string"
    )
    append_batch(b1, path)
    append_batch(b2, path)

    got = _idx_dict(load_value_index(spark, path, "s"))
    want = _idx_dict(build_value_index(spark.read.parquet(path), "s"))
    assert got == want  # incremental merge == full rebuild (incl. new value 'w')
    assert got["x"] == 37 and got["w"] == 5


def test_merge_rebuilds_value_index(spark, tmp_path):
    path = str(tmp_path / "m.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "k: long, s: string"
    ).write.parquet(path)
    write_value_index(spark, path, "s")

    merge_into(
        spark,
        path,
        spark.createDataFrame([(2, "c"), (4, "c")], "k: long, s: string"),
        ["k"],
        deletes=spark.createDataFrame([(3,)], "k: long"),
    )
    got = _idx_dict(load_value_index(spark, path, "s"))
    assert got == {"a": 1, "c": 2}


def test_engine_adopts_persisted_index(spark, tmp_path):
    sf = str(tmp_path)
    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = f"{sf}/orders.parquet"
    src.write.parquet(path)
    write_value_index(spark, path, "o_orderstatus")

    eng = Engine(spark, sf)
    assert eng.load_persisted_value_indexes("orders") == ["o_orderstatus"]
    eng.register_views(["orders"])
    q = "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"
    got = eng.sql(q)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # served from the sidecar: the only scan reads the (value, cnt)
    # relation, never the base table's schema (paths truncate in plan
    # strings, so assert on ReadSchema instead)
    assert "struct<value:string,cnt:bigint>" in plan
    assert "o_orderkey" not in plan
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, spark.sql(q).collect())
    )


def test_check_table_audits_value_index(spark, tmp_path):
    import shutil

    from columnar_spark.stats import value_index_path
    from columnar_spark.writer import WriteSpec, check_table, write_table

    path = str(tmp_path / "chk.parquet")
    df = spark.createDataFrame([(i, ["a", "b"][i % 2]) for i in range(40)], "k: long, s: string")
    write_table(df, path, WriteSpec())
    write_value_index(spark, path, "s")
    assert check_table(spark, path) == []

    # corrupt: stale index after an unaudited append
    spark.createDataFrame([(100, "a")], "k: long, s: string").write.mode(
        "append"
    ).parquet(path)
    errs = check_table(spark, path)
    assert any("value index s" in e for e in errs)

    # repair by rebuild (after refreshing the manifest the same way ingest does)
    from columnar_spark.stats import build_stats_manifest
    from columnar_spark.writer import stats_path

    build_stats_manifest(spark.read.parquet(path)).write.mode("overwrite").parquet(
        stats_path(path)
    )
    write_value_index(spark, path, "s")
    assert check_table(spark, path) == []

    # missing column
    shutil.move(value_index_path(path, "s"), value_index_path(path, "nope"))
    errs = check_table(spark, path)
    assert any("column absent" in e for e in errs)


def test_stale_sidecar_not_served_python_surface(spark, tmp_path):
    """Freshness gate on the PYTHON load path (twin of the JVM
    CountRewriteRule.indexFresh): a table rewritten OUTSIDE the
    framework's append/DML paths must not be answered from the stale
    sidecar — load_value_index / load_posting_index return None and the
    base scan serves the query."""
    from columnar_spark.stats import load_posting_index, write_posting_index

    path = str(tmp_path / "stale.parquet")
    spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(10)], "k: long, s: string"
    ).write.parquet(path)
    write_value_index(spark, path, "s")
    write_posting_index(spark, path, "s", "k")
    assert load_value_index(spark, path, "s") is not None
    assert load_posting_index(spark, path, "s") is not None

    # out-of-band rewrite: plain spark.write overwrite, no index maintenance
    spark.createDataFrame([(1, "zzz")], "k: long, s: string").write.mode(
        "overwrite"
    ).parquet(path)
    assert load_value_index(spark, path, "s") is None  # stale → refused
    assert load_posting_index(spark, path, "s") is None
    # maintenance/checker paths may still read the bytes explicitly
    assert load_value_index(spark, path, "s", check_fresh=False) is not None

    # Engine.sql falls back to the base scan and stays correct
    import shutil

    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    tpath = f"{sf}/t.parquet"
    spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(10)], "k: long, s: string"
    ).write.parquet(tpath)
    write_value_index(spark, tpath, "s")
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "c")], "k: long, s: string"
    ).write.mode("overwrite").parquet(tpath)
    eng = Engine(spark, sf)
    assert eng.load_persisted_value_indexes("t") == []  # refused at adopt
    eng.register_views(["t"])
    got = {
        (r[0], r[1])
        for r in eng.sql("SELECT s, COUNT(*) AS n FROM t GROUP BY s").collect()
    }
    assert got == {("a", 2), ("c", 1)}  # live data, not the stale index
    shutil.rmtree(sf)


def test_posting_index_sidecar_lifecycle(spark, tmp_path):
    from columnar_spark.stats import (
        build_posting_index,
        load_posting_index,
        merge_posting_index,
        point_lookup,
        write_posting_index,
    )

    path = str(tmp_path / "p.parquet")
    spark.createDataFrame(
        [(i, ["x", "y"][i % 2]) for i in range(20)], "k: long, s: string"
    ).write.parquet(path)
    write_posting_index(spark, path, "s", "k")

    idx = load_posting_index(spark, path, "s")
    assert {r["value"]: r["postings"] for r in idx.collect()} == {
        "x": list(range(0, 20, 2)),
        "y": list(range(1, 20, 2)),
    }

    # incremental append merge == full rebuild, postings stay sorted
    batch = spark.createDataFrame([(100, "x"), (101, "z")], "k: long, s: string")
    batch.write.mode("append").parquet(path)
    merge_posting_index(spark, path, "s", batch, "k")
    got = {r["value"]: r["postings"] for r in load_posting_index(spark, path, "s").collect()}
    want = {
        r["value"]: r["postings"]
        for r in build_posting_index(spark.read.parquet(path), "s", "k").collect()
    }
    assert got == want and got["z"] == [101] and got["x"][-1] == 100

    # point lookup touches only the index
    hits = point_lookup(load_posting_index(spark, path, "s"), "z")
    assert [r["row_id"] for r in hits.collect()] == [101]

    # MERGE rebuilds it
    merge_into(
        spark,
        path,
        spark.createDataFrame([(0, "z")], "k: long, s: string"),
        ["k"],
    )
    got2 = {r["value"]: sorted(r["postings"]) for r in load_posting_index(spark, path, "s").collect()}
    assert 0 in got2["z"] and 0 not in got2["x"]


def test_measure_bearing_index_serves_in_list_aggregate(spark, tmp_path):
    """Measure-bearing value index (E6 extended): a large IN-list
    COUNT/COUNT-DISTINCT/SUM aggregate is answered from the sidecar
    alone, exactly — int64 fixed-point sums are associative, so the
    index path, the base scan, and the incremental merge all agree."""
    import shutil

    from columnar_spark.stats import (
        load_value_index,
        measure_col_name,
        value_index_measures,
        write_value_index,
    )
    from columnar_spark.streaming.ingest import append_batch

    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    path = f"{sf}/lineitem.parquet"
    rows = [(i, (i * 7) % 40, round(1.0 + (i % 50) / 4.0, 2)) for i in range(400)]
    df = spark.createDataFrame(rows, "l_orderkey: long, l_partkey: long, l_quantity: double")
    df.write.parquet(path)
    write_value_index(spark, path, "l_partkey", measures=[("l_quantity", 2)])
    assert value_index_measures(path, "l_partkey") == [["l_quantity", 2]]

    keys = [v for v in range(0, 40, 3)]

    def base_answer():
        live = spark.read.parquet(path).filter(F.col("l_partkey").isin(keys))
        return live.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("l_partkey").alias("n_parts"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        ).first()

    def index_answer():
        idx = load_value_index(spark, path, "l_partkey")
        assert idx is not None and measure_col_name("l_quantity") in idx.columns
        return idx.filter(F.col("value").isin(keys)).agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum(measure_col_name("l_quantity")) / 100.0, 2).alias("sum_qty"),
        ).first()

    assert tuple(index_answer()) == tuple(base_answer())

    # incremental append maintains the measure columns exactly
    batch = spark.createDataFrame(
        [(1000 + i, (i * 11) % 40, 2.25 + i) for i in range(37)],
        "l_orderkey: long, l_partkey: long, l_quantity: double",
    )
    append_batch(batch, path)
    assert tuple(index_answer()) == tuple(base_answer())

    # the queries() entry takes the index path on this layout and
    # matches its own base-scan fallback bit for bit
    import __spark_entry__ as E

    got_idx = E.queries()["filter_in_large_list"](spark, sf).first()
    shutil.move(
        path + ".vidx", path + ".vidx.hidden"
    )  # hide the sidecar -> fallback path
    E._TABLE_CACHE.clear()
    E._VIDX_CACHE.clear()
    got_scan = E.queries()["filter_in_large_list"](spark, sf).first()
    assert tuple(got_idx) == tuple(got_scan)


def test_engine_sql_sum_served_from_measure_index(spark, tmp_path):
    """Engine.sql serves COUNT/SUM/NDV mixes over an indexed key from
    the measure-bearing sidecar — the plan reads only the index
    relation, and the SUM is the exact decimal total."""
    import os

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/li.parquet"
    rows = [(i, (i * 3) % 7, round(0.25 * (i % 9), 2)) for i in range(200)]
    spark.createDataFrame(rows, "k: long, pk: long, qty: double").write.parquet(path)
    write_value_index(spark, path, "pk", measures=[("qty", 2)])

    eng = Engine(spark, sf)
    eng.register_views(["li"])
    q = (
        "SELECT COUNT(*) AS n, SUM(qty) AS total, COUNT(DISTINCT pk) AS nk "
        "FROM li WHERE pk IN (1, 3, 5)"
    )
    got = eng.sql(q).first()
    # exact reference from the raw rows
    keep = [r for r in rows if r[1] in (1, 3, 5)]
    assert got["n"] == len(keep)
    assert got["nk"] == len({r[1] for r in keep})
    assert abs(got["total"] - round(sum(r[2] for r in keep), 2)) < 1e-9
    # index-only: the executed plan reads the sidecar schema, never `k`
    plan = eng.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "m_qty" in plan and "struct<k" not in plan

    # a SUM on a column with no recorded measure falls through to Spark
    got2 = eng.sql("SELECT SUM(k) AS s FROM li WHERE pk = 2").first()
    assert got2["s"] == sum(r[0] for r in rows if r[1] == 2)


def test_q18_served_from_orderkey_measure_index(spark, tmp_path):
    """q18_large_orders takes the l_orderkey measure index when the
    layout carries it (the grouped HAVING sum is the sidecar relation,
    no lineitem shuffle) and matches its own base-scan fallback bit for
    bit — including total_qty, derived from the same int64 scaled sum."""
    import datetime
    import os
    import shutil

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    li_path = f"{sf}/lineitem.parquet"
    # orderkey 5 and 11 exceed the >150.0 quantity threshold
    li_rows = []
    for ok in range(20):
        n = 8 if ok in (5, 11) else 3
        for i in range(n):
            li_rows.append((ok, i, 21.25 if ok in (5, 11) else 7.5))
    spark.createDataFrame(
        li_rows, "l_orderkey: long, l_linenumber: long, l_quantity: double"
    ).write.parquet(li_path)
    spark.createDataFrame(
        [
            (ok, ok % 6, datetime.date(1996, 1, 1 + ok), 1000.0 + 7 * ok)
            for ok in range(20)
        ],
        "o_orderkey: long, o_custkey: long, o_orderdate: date, o_totalprice: double",
    ).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(c, f"Customer#{c}") for c in range(6)], "c_custkey: long, c_name: string"
    ).write.parquet(f"{sf}/customer.parquet")
    write_value_index(spark, li_path, "l_orderkey", measures=[("l_quantity", 2)])

    import __spark_entry__ as E

    q = E.queries()["q18_large_orders"]
    got_idx = [tuple(r) for r in q(spark, sf).collect()]
    assert {r[1] for r in got_idx} == {5, 11}
    # hide the sidecar -> the base-scan fallback must agree exactly
    shutil.move(li_path + ".vidx", li_path + ".vidx.hidden")
    E._TABLE_CACHE.clear()
    got_scan = [tuple(r) for r in q(spark, sf).collect()]
    assert got_idx == got_scan


def test_count_distinct_stats_index_route_null_semantics(spark, tmp_path):
    """count_distinct_stats' E7 index route: NDV excludes the sidecar's
    NULL group, n_rows includes it — matching COUNT(DISTINCT)/COUNT(*)
    on the base scan exactly."""
    import os
    import shutil

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/lineitem.parquet"
    rows = [
        (i % 5 if i % 7 else None, i % 3, ["A", "N", "R"][i % 3] if i % 11 else None)
        for i in range(300)
    ]
    spark.createDataFrame(
        rows, "l_partkey: long, l_suppkey: long, l_returnflag: string"
    ).write.parquet(path)
    for c in ("l_partkey", "l_suppkey", "l_returnflag"):
        write_value_index(spark, path, c)

    import __spark_entry__ as E

    q = E.queries()["count_distinct_stats"]
    got_idx = tuple(q(spark, sf).first())
    shutil.move(path + ".vidx", path + ".vidx.hidden")
    E._TABLE_CACHE.clear()
    got_scan = tuple(q(spark, sf).first())
    assert got_idx == got_scan == (5, 3, 3, 300)


def test_composite_value_index_lifecycle(spark, tmp_path):
    """Composite (two-key) value index: build == groupBy over the key
    pair, incremental append merge == full rebuild, checker walks it,
    and cube_orders' index route matches the base-scan CUBE exactly."""
    import os
    import shutil

    from columnar_spark.stats import (
        composite_index_cols,
        composite_virtual_name,
        measure_col_name,
        value_index_measures,
        write_value_index,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/orders.parquet"
    rows = [
        (i, ["O", "F", "P"][i % 3], f"{1 + i % 5}-PRIO", round(100.0 + 0.25 * i, 2))
        for i in range(240)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey: long, o_orderstatus: string, o_orderpriority: string,"
        " o_totalprice: double",
    ).write.parquet(path)
    keys = ("o_orderstatus", "o_orderpriority")
    write_value_index(spark, path, keys, measures=[("o_totalprice", 2)])
    name = composite_virtual_name(keys)
    assert composite_index_cols(path, name) == list(keys)
    assert value_index_measures(path, name) == [["o_totalprice", 2]]

    import __spark_entry__ as E

    q = E.queries()["cube_orders"]

    def canon(df):
        return sorted(
            (
                (r["o_orderstatus"] or "", r["o_orderpriority"] or ""),
                r["n"],
                round(r["total"], 2),
            )
            for r in df.collect()
        )

    got_idx = canon(q(spark, sf))
    # the index route must not scan the base table
    plan = q(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "o_orderkey" not in plan

    # incremental append maintains the struct key + measure exactly
    batch = spark.createDataFrame(
        [(1000 + i, ["O", "X"][i % 2], "9-PRIO", 50.5 + i) for i in range(23)],
        "o_orderkey: long, o_orderstatus: string, o_orderpriority: string,"
        " o_totalprice: double",
    )
    append_batch(batch, path)
    got_idx2 = canon(q(spark, sf))

    # checker audits the composite sidecar
    from columnar_spark.writer import check_table

    assert check_table(spark, path) == []

    # fallback (sidecar hidden) agrees at both states
    shutil.move(path + ".vidx", path + ".vidx.hidden")
    E._TABLE_CACHE.clear()
    got_scan2 = canon(q(spark, sf))
    assert got_idx2 == got_scan2
    assert len(got_idx) < len(got_idx2)  # new (status, priority) cells appeared


def test_q13_per_custkey_from_index_matches_fallback(spark, tmp_path):
    """q13's per-custkey subaggregate served from the o_custkey value
    index equals the orders-scan fallback — including the zero-orders
    customer bucket from the outer join."""
    import os
    import shutil

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/orders.parquet"
    spark.createDataFrame(
        [(i, i % 37) for i in range(400)], "o_orderkey: long, o_custkey: long"
    ).write.parquet(path)
    spark.createDataFrame(
        [(c,) for c in range(50)], "c_custkey: long"  # 13 customers orderless
    ).write.parquet(f"{sf}/customer.parquet")
    write_value_index(spark, path, "o_custkey")

    import __spark_entry__ as E

    q = E.queries()["q13_order_distribution"]
    got_idx = sorted(tuple(r) for r in q(spark, sf).collect())
    shutil.move(path + ".vidx", path + ".vidx.hidden")
    E._TABLE_CACHE.clear()
    got_scan = sorted(tuple(r) for r in q(spark, sf).collect())
    assert got_idx == got_scan
    assert (0, 13) in got_idx


def test_engine_sql_two_key_group_from_composite_index(spark, tmp_path):
    """Engine.sql serves `SELECT a, b, COUNT(*), SUM(m) GROUP BY a, b`
    from the composite sidecar — index-only plan, exact values, key
    order flipped in the query still matches (reversed lookup)."""
    import os

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/t.parquet"
    rows = [
        (i, ["x", "y"][i % 2], ["p", "q", "r"][i % 3], round(1.25 * (i % 7), 2))
        for i in range(210)
    ]
    spark.createDataFrame(
        rows, "k: long, a: string, b: string, m: double"
    ).write.parquet(path)
    from columnar_spark.stats import write_value_index

    write_value_index(spark, path, ("a", "b"), measures=[("m", 2)])

    eng = Engine(spark, sf)
    eng.register_views(["t"])
    q = "SELECT a, b, COUNT(*) AS n, SUM(m) AS total FROM t GROUP BY a, b"
    got = eng.sql(q)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "struct<value" in plan and "m_m" in plan  # sidecar, not base scan

    want = {
        (r["a"], r["b"]): (r["n"], round(r["total"], 2))
        for r in spark.sql(
            "SELECT a, b, COUNT(*) AS n, ROUND(SUM(m), 2) AS total"
            f" FROM parquet.`{path}` GROUP BY a, b"
        ).collect()
    }
    gotd = {(r["a"], r["b"]): (r["n"], round(r["total"], 2)) for r in got.collect()}
    assert gotd == want

    # key order flipped: still served (reversed composite lookup)
    q2 = "SELECT b, a, COUNT(*) AS n FROM t GROUP BY b, a"
    got2 = eng.sql(q2)
    assert "struct<value" in got2._jdf.queryExecution().executedPlan().toString()
    assert {(r["b"], r["a"]): r["n"] for r in got2.collect()} == {
        k[::-1]: v[0] for k, v in want.items()
    }

    # a SUM on an unrecorded measure falls through to the plain plan
    got3 = eng.sql("SELECT a, b, COUNT(*) AS n, SUM(k) AS s FROM t GROUP BY a, b")
    assert {(r["a"], r["b"]): r["s"] for r in got3.collect()} == {
        (x, y): sum(r[0] for r in rows if r[1] == x and r[2] == y)
        for (x, y) in want
    }


# ------------------------------------------ driver-local adopted indexes

def test_adopted_index_counts_in_no_spark_job(spark, tmp_path, spark_cost):
    from columnar_spark.filters import Filter, FilterType

    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    spark.range(3000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 97).alias("o_custkey")
    ).write.parquet(path)
    write_value_index(spark, path, "o_custkey")
    eng = Engine(spark, sf)
    assert eng.load_persisted_value_indexes("orders") == ["o_custkey"]
    key = spark.read.parquet(path).first()["o_custkey"]
    f = Filter("o_custkey", FilterType.VALUES, values=[key])
    eng.count("orders", [f])  # warm the session
    n, jobs, ticks = spark_cost(lambda: eng.count("orders", [f]))
    assert (jobs, ticks) == (0, 0)
    assert n == spark.read.parquet(path).where(F.col("o_custkey") == key).count()


def test_adopted_index_sums_point_filters_on_driver_at_any_size(spark, tmp_path, spark_cost, monkeypatch):
    """Past the driver-sum row bound a range count is Spark's aggregate
    over the sidecar files; a point filter still sums on the driver.
    Both stay exact."""
    from columnar_spark import stats
    from columnar_spark.filters import Filter, FilterType

    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    spark.range(3000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 97).alias("o_custkey")
    ).write.parquet(path)
    write_value_index(spark, path, "o_custkey")
    eng = Engine(spark, sf)
    assert eng.load_persisted_value_indexes("orders") == ["o_custkey"]
    monkeypatch.setattr(stats, "_DRIVER_SUM_ROWS", 10)
    base = spark.read.parquet(path)
    point = Filter("o_custkey", FilterType.VALUES, values=[5, 7])
    rng = Filter("o_custkey", FilterType.RANGE, min_value=10, max_value=60)
    n, jobs, _ = spark_cost(lambda: eng.count("orders", [point]))
    assert jobs == 0 and n == base.where(F.col("o_custkey").isin(5, 7)).count()
    n, jobs, _ = spark_cost(lambda: eng.count("orders", [rng]))
    assert jobs > 0 and n == base.where(F.col("o_custkey").between(10, 60)).count()


def test_in_session_rebuild_replaces_adopted_copy(spark, tmp_path):
    """An index built in session replaces both forms of an adopted one:
    after rows land in the table outside the Engine and the index is
    rebuilt (held as a cached frame, no driver copy), Engine.count
    answers from the rebuilt index, not the adopted copy."""
    from columnar_spark.filters import Filter, FilterType

    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    rows = spark.range(300).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 7).alias("o_custkey")
    )
    rows.write.parquet(path)
    write_value_index(spark, path, "o_custkey")
    eng = Engine(spark, sf)
    assert eng.load_persisted_value_indexes("orders") == ["o_custkey"]
    f = Filter("o_custkey", FilterType.VALUES, values=[3])
    assert eng.count("orders", [f]) == 43
    rows.write.mode("append").parquet(path)
    eng.build_value_index("orders", "o_custkey", max_local_rows=0)
    assert eng._value_indexes[("orders", "o_custkey")].local is None
    assert eng.count("orders", [f]) == 86


def test_local_adoption_counts_like_file_backed_index(spark, tmp_path):
    """A sidecar read with pyarrow under its footer schema counts exactly
    like the Spark read of the same files, for values Arrow and Spark
    must agree on: bigint beyond 2^53, NULL, decimal, date, timestamp,
    string."""
    import datetime as dt
    from decimal import Decimal

    from columnar_spark.filters import Filter, FilterType
    from columnar_spark.localrel import local_row_count
    from columnar_spark.stats import adopt_value_index, covered_count

    big = 2**53 + 1
    rows = [
        (big, Decimal("12.34"), dt.date(2020, 1, 2), dt.datetime(2021, 3, 4, 5, 6, 7, 123456), "a"),
        (big + 2, Decimal("-0.01"), dt.date(1969, 12, 31), dt.datetime(1900, 1, 1), "é"),
        (None, None, None, None, None),
        (big, Decimal("12.34"), dt.date(2020, 1, 2), dt.datetime(2021, 3, 4, 5, 6, 7, 123456), "a"),
        (-(2**62), Decimal("99999999.99"), dt.date(9999, 12, 31), dt.datetime(2262, 4, 12, 0, 0, 1), "b"),
    ]
    path = str(tmp_path / "types.parquet")
    spark.createDataFrame(
        rows, "b bigint, d decimal(10,2), dt date, ts timestamp, s string"
    ).write.parquet(path)
    cases = {
        "b": [
            Filter("b", FilterType.VALUES, values=[big]),
            Filter("b", FilterType.VALUES, values=[big + 1]),
            Filter("b", FilterType.VALUES, values=[big], exclude=True),
            Filter("b", FilterType.RANGE, min_value=big + 1),
        ],
        "d": [
            Filter("d", FilterType.FLOATRANGE, min_value=0.0),
            Filter("d", FilterType.NOTNULL, exclude=True),
        ],
        "dt": [
            Filter("dt", FilterType.RANGE, min_value=dt.date(2000, 1, 1)),
            Filter("dt", FilterType.NOTNULL),
        ],
        "ts": [
            Filter("ts", FilterType.RANGE, max_value=dt.datetime(2021, 3, 4, 5, 6, 7, 123456)),
            Filter("ts", FilterType.RANGE, min_value=dt.datetime(2021, 3, 4, 5, 6, 7, 123457)),
        ],
        "s": [
            Filter("s", FilterType.STRINGS, strings=["a"]),
            Filter("s", FilterType.STRINGS, strings=["é", "b"]),
            Filter("s", FilterType.STRINGS, strings=["a"], exclude=True),
        ],
    }
    for col, filters in cases.items():
        write_value_index(spark, path, col)
        files, local = adopt_value_index(spark, path, col)
        assert local_row_count(local) is not None and local_row_count(files) is None
        assert local.schema == files.schema
        assert sorted(map(str, local.collect())) == sorted(map(str, files.collect()))
        for f in filters:
            assert covered_count(local, f) == covered_count(files, f), (col, f)
