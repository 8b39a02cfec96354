"""Denormalized join-projection sidecar (projections.py).

Pins the contracts that make projection serving safe at scale:
- the stored projection equals the live inner join row-for-row;
- staleness of EITHER constituent table refuses the projection;
- the append-only delta algebra (ΔF⋈D, then F⋈ΔD) applied serially
  reproduces the full rebuild exactly — batch boundaries invisible;
- the structural checker catches a projection that disagrees with a
  live recount;
- the entry queries served from the projection match their live-join
  twins bit-for-bit.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from columnar_spark.projections import (
    check_projection,
    load_join_projection,
    merge_projection_dim_delta,
    merge_projection_fact_delta,
    projection_path,
    rebuild_projection,
    write_join_projection,
)

SF = "/root/testdata/sf0.001"
DIM_COLS = ("o_custkey", "o_orderdate", "o_orderpriority")


@pytest.fixture()
def layout(spark, tmp_path):
    """Private copies of lineitem + orders in one layout dir."""
    li = str(tmp_path / "lineitem.parquet")
    orders = str(tmp_path / "orders.parquet")
    spark.read.parquet(f"{SF}/lineitem.parquet").write.parquet(li)
    spark.read.parquet(f"{SF}/orders.parquet").write.parquet(orders)
    return li, orders


def _build(spark, li, orders):
    write_join_projection(
        spark, li, orders,
        name="lineorder", fact_key="l_orderkey", dim_key="o_orderkey",
        dim_cols=DIM_COLS, cluster_by=("o_orderdate",),
    )


def _rows(df, cols=None):
    if cols:
        df = df.select(*cols)
    return sorted([tuple(r) for r in df.collect()])


def _live(spark, li, orders):
    l = spark.read.parquet(li)
    o = spark.read.parquet(orders).select("o_orderkey", *DIM_COLS)
    return l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        *(l.columns + list(DIM_COLS))
    )


def test_projection_matches_live_join(spark, layout):
    li, orders = layout
    _build(spark, li, orders)
    stored = load_join_projection(spark, li, "lineorder")
    assert stored is not None
    live = _live(spark, li, orders)
    assert _rows(stored) == _rows(live)
    assert stored.schema == live.schema


def test_stale_on_either_side_refused(spark, layout):
    li, orders = layout
    _build(spark, li, orders)
    assert load_join_projection(spark, li, "lineorder") is not None
    # out-of-band rewrite of the DIM side
    spark.read.parquet(orders).limit(1).write.mode("append").parquet(orders)
    assert load_join_projection(spark, li, "lineorder") is None
    rebuild_projection(spark, li, "lineorder")
    assert load_join_projection(spark, li, "lineorder") is not None
    # out-of-band rewrite of the FACT side
    spark.read.parquet(li).limit(1).write.mode("append").parquet(li)
    assert load_join_projection(spark, li, "lineorder") is None


def test_delta_algebra_equals_rebuild(spark, layout, tmp_path):
    li, orders = layout
    full_li = spark.read.parquet(li)
    full_ord = spark.read.parquet(orders)
    # hold out a slice of each table as "future appends": lineitems of
    # late orders, plus those orders themselves — the lineitem delta
    # arrives FIRST (its orders not yet visible), then the orders delta
    # joins the already-appended lineitem rows: the adversarial ordering
    # for the delta algebra.
    late = full_ord.filter(F.col("o_orderkey") % 10 == 0)
    early_ord = full_ord.subtract(late)
    li_delta = full_li.join(
        late, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    li_base = full_li.subtract(li_delta)

    li2 = str(tmp_path / "li2.parquet")
    ord2 = str(tmp_path / "ord2.parquet")
    li_base.write.parquet(li2)
    early_ord.write.parquet(ord2)
    _build(spark, li2, ord2)

    # append the lineitem delta (fact side), then merge
    li_delta.write.mode("append").parquet(li2)
    merge_projection_fact_delta(spark, li2, "lineorder", li_delta)
    assert load_join_projection(spark, li2, "lineorder") is not None

    # append the orders delta (dim side), then merge
    late.write.mode("append").parquet(ord2)
    merge_projection_dim_delta(spark, li2, "lineorder", late)
    stored = load_join_projection(spark, li2, "lineorder")
    assert stored is not None

    live = _live(spark, li2, ord2)
    assert _rows(stored) == _rows(live)
    assert check_projection(spark, li2, "lineorder") == []


def test_checker_catches_corruption(spark, layout):
    li, orders = layout
    _build(spark, li, orders)
    assert check_projection(spark, li, "lineorder") == []
    # corrupt: append duplicate rows to the stored projection only
    p = projection_path(li, "lineorder")
    spark.read.parquet(p).limit(5).write.mode("append").parquet(p)
    assert check_projection(spark, li, "lineorder") != []


def test_ledgered_append_maintains_projection(spark, layout):
    """append_batch on the FACT side maintains the projection and leaves
    it fresh; same for the DIM side."""
    from columnar_spark.streaming.ingest import append_batch
    from columnar_spark.writer import WriteSpec

    li, orders = layout
    _build(spark, li, orders)
    li_delta = spark.read.parquet(li).orderBy("l_orderkey").limit(7)
    assert append_batch(li_delta, li, WriteSpec(), batch_id=901)
    stored = load_join_projection(spark, li, "lineorder")
    assert stored is not None  # fresh after the ledgered append
    assert _rows(stored) == _rows(_live(spark, li, orders))

    ord_delta = spark.createDataFrame(
        [(99990001, 1, "O", 1.0, None, "1-URGENT")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    assert append_batch(ord_delta, orders, WriteSpec(), batch_id=902)
    stored = load_join_projection(spark, li, "lineorder")
    assert stored is not None
    assert _rows(stored) == _rows(_live(spark, li, orders))


def test_entry_queries_identical_with_projection(spark, layout, tmp_path):
    import __spark_entry__ as entry

    li, orders = layout
    sf_dir = str(tmp_path)
    for t in ("customer", "supplier", "nation", "region", "part"):
        shutil.copy(f"{SF}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    qs = entry.queries()
    names = (
        "q3_shipping_priority", "q4_order_priority", "q5_region_revenue",
        "q7_nation_volume", "q8_market_share", "q10_returned_items",
    )
    before = {n: _rows(qs[n](spark, sf_dir)) for n in names}
    _build(spark, li, orders)
    assert load_join_projection(spark, li, "lineorder") is not None
    for n in names:
        assert _rows(qs[n](spark, sf_dir)) == before[n], n


def test_engine_serves_projection_as_view(spark, layout, tmp_path):
    """Engine.table('lineorder') / SQL `FROM lineorder` resolve to the
    stored projection when fresh and to the LIVE defining join when
    stale — view-with-materialization semantics, identical answers."""
    from columnar_spark.table import Engine

    li, orders = layout
    _build(spark, li, orders)
    eng = Engine(spark, str(tmp_path))
    eng.register_views()
    n_proj = eng.sql(
        "SELECT COUNT(*) AS n FROM lineorder WHERE o_orderpriority = '1-URGENT'"
    ).first()["n"]
    live = _live(spark, li, orders)
    assert n_proj == live.filter(F.col("o_orderpriority") == "1-URGENT").count()

    # stale the dim side out-of-band: resolution flips to the live join
    spark.read.parquet(orders).limit(3).write.mode("append").parquet(orders)
    assert load_join_projection(spark, li, "lineorder") is None
    again = eng.table("lineorder")
    assert again.count() == _live(spark, li, orders).count()


def test_create_drop_projection_ddl(spark, layout, tmp_path):
    """CREATE PROJECTION / DROP PROJECTION — the join-MV DDL twin of
    CREATE INDEX: materialize, query by name, drop."""
    from columnar_spark.table import Engine

    li, orders = layout
    eng = Engine(spark, str(tmp_path))
    out = eng.sql(
        "CREATE PROJECTION lo2 ON lineitem JOIN orders ON l_orderkey = o_orderkey "
        "CARRY (o_custkey, o_orderdate, o_orderpriority) CLUSTER BY (o_orderdate)"
    ).first()
    assert out["kind"] == "join_projection" and out["column"] == "lo2"
    assert load_join_projection(spark, li, "lo2") is not None
    eng.register_views()
    n = eng.sql("SELECT COUNT(*) AS n FROM lo2").first()["n"]
    assert n == _live(spark, li, orders).count()
    # SHOW INDEXES lists it
    kinds = {(r["kind"], r["column"]) for r in eng.sql("SHOW INDEXES FROM lineitem").collect()}
    assert ("join_projection", "lo2") in kinds

    out = eng.sql("DROP PROJECTION lo2 ON lineitem").first()
    assert out["kind"] == "join_projection"
    assert load_join_projection(spark, li, "lo2") is None


def test_sql_join_mv_routing(spark, layout, tmp_path):
    """Engine.sql rewrites a matching two-table equi-join onto the
    projection (plan reads the .proj sidecar, not the base tables);
    queries referencing non-carried columns fall back to the original
    plan with identical results."""
    from columnar_spark.table import Engine

    li, orders = layout
    write_join_projection(
        spark, li, orders,
        name="lineorder", fact_key="l_orderkey", dim_key="o_orderkey",
        dim_cols=("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
        cluster_by=("o_orderdate",),
    )
    eng = Engine(spark, str(tmp_path))
    eng.register_views()
    q = ("SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS q "
         "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
         "WHERE o_orderdate >= '1996-01-01' GROUP BY o_orderpriority")
    routed = eng.sql(q)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    # the routed plan is a single pre-joined scan: no join operator left
    assert "Join" not in plan, "join-MV route did not fire"
    base = spark.sql(q)
    assert _rows(routed) == _rows(base)

    # o_totalprice is not carried -> analysis fails on the rewrite ->
    # original plan, same answer
    q2 = ("SELECT COUNT(*) AS n, SUM(o_totalprice) AS t "
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    out2 = eng.sql(q2)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan2  # fell back to the real join
    assert _rows(out2) == _rows(spark.sql(q2))

    # a three-table join is never rewritten
    q3 = ("SELECT COUNT(*) AS n FROM lineitem "
          "JOIN orders ON l_orderkey = o_orderkey "
          "JOIN customer ON o_custkey = c_custkey")
    import shutil as _sh
    _sh.copy("/root/testdata/sf0.001/customer.parquet", str(tmp_path / "customer.parquet"))
    eng.register_views()
    out3 = eng.sql(q3)
    assert _rows(out3) == _rows(spark.sql(q3))


def test_mv_router_never_touches_literals_or_ctes(spark, layout, tmp_path):
    """A JOIN spelled inside a string literal, a CTE shadowing a table
    name, or a subquery must never be rewritten — each returns exactly
    what plain spark.sql returns."""
    from columnar_spark.table import Engine

    li, orders = layout
    write_join_projection(
        spark, li, orders,
        name="lineorder", fact_key="l_orderkey", dim_key="o_orderkey",
        dim_cols=("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
    )
    eng = Engine(spark, str(tmp_path))
    eng.register_views()

    # literal containing the join text: data must come through verbatim
    q1 = ("SELECT 'FROM lineitem JOIN orders ON l_orderkey = o_orderkey' AS s, "
          "COUNT(*) AS n FROM orders")
    assert _rows(eng.sql(q1)) == _rows(spark.sql(q1))
    assert eng.sql(q1).first()["s"].startswith("FROM lineitem JOIN")

    # CTE shadowing the fact table: CTE semantics must win — this query
    # matches the projection's (tables, keys) exactly, so a rewrite
    # would silently return the projection's count instead of the CTE's
    q2 = ("WITH lineitem AS (SELECT o_orderkey AS l_orderkey FROM orders "
          "ORDER BY o_orderkey LIMIT 5) "
          "SELECT COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    assert _rows(eng.sql(q2)) == _rows(spark.sql(q2))
    assert eng.sql(q2).first()["n"] == 5

    # subquery FROM: left alone
    q3 = ("SELECT COUNT(*) AS n FROM (SELECT l_orderkey FROM lineitem) t "
          "JOIN orders ON l_orderkey = o_orderkey")
    assert _rows(eng.sql(q3)) == _rows(spark.sql(q3))


def test_ledgered_replay_is_noop_for_companions(spark, layout):
    """Re-delivering an already-applied batch_id (streaming retry) must
    not double-append any companion: the ledger skips the whole
    application, so projection, textstats-style row-local sidecars and
    the table itself are byte-stable."""
    from columnar_spark.streaming.ingest import append_batch
    from columnar_spark.writer import WriteSpec

    li, orders = layout
    _build(spark, li, orders)
    delta = spark.read.parquet(li).orderBy("l_orderkey").limit(5)
    assert append_batch(delta, li, WriteSpec(), batch_id=555) is True
    proj_rows = _rows(load_join_projection(spark, li, "lineorder"))
    n_table = spark.read.parquet(li).count()

    # same batch_id again: skipped before any effect
    assert append_batch(delta, li, WriteSpec(), batch_id=555) is False
    assert spark.read.parquet(li).count() == n_table
    assert _rows(load_join_projection(spark, li, "lineorder")) == proj_rows


def test_crash_recovery_rebuilds_new_companions(spark, layout, tmp_path):
    """A crashed in-flight marker forces the sidecar rebuild: the
    projection (fact side) and a textstats/dedupsig companion on a
    sibling documents table must converge to exactly the one-shot state
    after the retry — no double-applied deltas."""
    import json
    import os

    from columnar_spark.streaming.ingest import append_batch, ingest_ledger_path
    from columnar_spark.writer import WriteSpec

    li, orders = layout
    _build(spark, li, orders)

    # crashed attempt, reproduced by hand: the batch's table files land
    # AND the projection absorbed the delta once, but no ledger commit
    from columnar_spark.projections import merge_projection_fact_delta

    delta = spark.read.parquet(li).orderBy("l_orderkey").limit(9)
    stage = str(tmp_path / "stage")
    delta.write.parquet(stage)
    for name in sorted(os.listdir(stage)):
        if not name.startswith(("_", ".")):
            os.replace(
                os.path.join(stage, name), os.path.join(li, f"part-ingest-b5-{name}")
            )
    merge_projection_fact_delta(spark, li, "lineorder", delta)
    root = ingest_ledger_path(li)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "meta.json"), "w") as f:
        json.dump({"applied_batches": {}, "inflight": "5"}, f)

    # retry: crash recovery rebuilds the projection from base tables
    assert append_batch(delta, li, WriteSpec(), batch_id=5) is True
    stored = load_join_projection(spark, li, "lineorder")
    assert stored is not None
    assert _rows(stored) == _rows(_live(spark, li, orders))
    assert check_projection(spark, li, "lineorder") == []
