"""The JVM Catalyst extension: index-covered COUNT(*) rewrite reaching
PLAIN spark.sql (reference CalcCount is host-wired unconditionally,
secondary.cpp:531-551 — r3 verdict item #3).

Runs in a SUBPROCESS: spark.sql.extensions only applies at
SparkSession/SparkContext creation, and the suite's shared session is
already up."""

import os
import subprocess
import sys

import pytest

# the checkout this test lives in, wherever it is cloned
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from columnar_spark.session import ext_jar_path

SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from columnar_spark.session import ext_jar_path

jar = ext_jar_path()
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.jars", jar)
    .config("spark.driver.extraClassPath", jar)
    .config("spark.sql.extensions", "ColumnarSparkExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import tempfile

from columnar_spark.stats import write_value_index

tmp = tempfile.mkdtemp()
p = f"{tmp}/li.parquet"
src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
src.write.parquet(p)
write_value_index(spark, p, "l_returnflag")
spark.read.parquet(p).createOrReplaceTempView("li")

# 1. covered COUNT: base scan gone, vidx scan present, answer exact
df = spark.sql("SELECT COUNT(*) AS n FROM li WHERE l_returnflag = 'R'")
plan = df._jdf.queryExecution().executedPlan().toString()
assert ".vidx" in plan, plan
assert "li.parquet" not in plan.replace("li.parquet.vidx", ""), plan
assert df.first()["n"] == src.filter("l_returnflag = 'R'").count()

# 2. range + null forms stay exact
for pred in ["l_returnflag <> 'R'", "l_returnflag IS NOT NULL",
             "l_returnflag IN ('A', 'N')"]:
    q = f"SELECT COUNT(*) AS n FROM li WHERE {pred}"
    assert spark.sql(q).first()["n"] == src.filter(pred).count(), pred

# 3. non-covered column falls through with a base scan, same answer
df3 = spark.sql("SELECT COUNT(*) AS n FROM li WHERE l_quantity > 30")
plan3 = df3._jdf.queryExecution().executedPlan().toString()
assert "li.parquet" in plan3.replace(".vidx", "")
assert df3.first()["n"] == src.filter("l_quantity > 30").count()

# 4. GROUP BY col + COUNT(*): the (value, cnt) sidecar IS the result
df4 = spark.sql(
    "SELECT l_returnflag AS rf, COUNT(*) AS n FROM li "
    "WHERE l_returnflag <> 'R' GROUP BY l_returnflag"
)
plan4 = df4._jdf.queryExecution().executedPlan().toString()
assert ".vidx" in plan4 and "li.parquet" not in plan4.replace("li.parquet.vidx", "")
got4 = sorted(map(tuple, df4.collect()))
want4 = sorted(
    map(tuple, src.filter("l_returnflag <> 'R'").groupBy("l_returnflag").count().collect())
)
assert got4 == want4 and df4.columns == ["rf", "n"]

# 5. shapes the rule must NOT touch stay correct: extra aggregate,
#    multi-column grouping, non-covered grouping column
df5 = spark.sql("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS s FROM li GROUP BY 1")
assert "vidx" not in df5._jdf.queryExecution().executedPlan().toString()
assert df5.count() == 3
assert spark.sql("SELECT l_linenumber, COUNT(*) AS n FROM li GROUP BY 1").count() == \
    src.select("l_linenumber").distinct().count()

# 6. JSON per-field sidecar serves PLAIN-SQL get_json_object predicates
#    and groupings — no materialized column in the table at all
from columnar_spark.stats import write_json_field_index

pe = f"{tmp}/events.parquet"
esrc = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
esrc.write.parquet(pe)
write_json_field_index(spark, pe, "props", "$.k")
spark.read.parquet(pe).createOrReplaceTempView("ev")

def ev_nohaz(plan):
    return "events.parquet" not in plan.replace("events.parquet.vidx", "")

q6 = "SELECT COUNT(*) AS n FROM ev WHERE get_json_object(props, '$.k') = '7'"
d6 = spark.sql(q6)
p6 = d6._jdf.queryExecution().executedPlan().toString()
assert ".vidx" in p6 and ev_nohaz(p6), p6
from pyspark.sql import functions as F

assert d6.first()["n"] == esrc.filter(F.get_json_object("props", "$.k") == "7").count()

q7 = (
    "SELECT get_json_object(props, '$.k') AS k, COUNT(*) AS n FROM ev "
    "WHERE get_json_object(props, '$.k') IS NOT NULL "
    "GROUP BY get_json_object(props, '$.k')"
)
d7 = spark.sql(q7)
p7 = d7._jdf.queryExecution().executedPlan().toString()
assert ".vidx" in p7 and ev_nohaz(p7), p7
got7 = sorted(map(tuple, d7.collect()))
want7 = sorted(
    map(
        tuple,
        esrc.filter(F.get_json_object("props", "$.k").isNotNull())
        .groupBy(F.get_json_object("props", "$.k").alias("k"))
        .count()
        .collect(),
    )
)
assert got7 == want7

# mixed parent use / other path: untouched and correct
q8 = "SELECT COUNT(*) AS n FROM ev WHERE get_json_object(props, '$.k') = '7' AND props IS NOT NULL"
d8 = spark.sql(q8)
assert ".vidx" not in d8._jdf.queryExecution().executedPlan().toString()
assert d8.first()["n"] == esrc.filter(
    (F.get_json_object("props", "$.k") == "7") & F.col("props").isNotNull()
).count()
assert ".vidx" not in spark.sql(
    "SELECT COUNT(*) AS n FROM ev WHERE get_json_object(props, '$.zz') = '7'"
)._jdf.queryExecution().executedPlan().toString()

# 9. global aggregate forms beyond COUNT(*): COUNT(col) / COUNT(DISTINCT
#    col) / MIN / MAX served off the sidecars — incl. NULL semantics,
#    multi-column stat queries (cross-joined one-row frames) and the
#    filterless whole-table COUNT(*)
from columnar_spark.stats import write_value_index as _wvi

pn = f"{tmp}/nt.parquet"
nsrc = spark.createDataFrame(
    [(1, "a"), (2, None), (3, "b"), (4, "b"), (5, None), (6, "c")],
    "x int, c string",
)
nsrc.write.parquet(pn)
_wvi(spark, pn, "c")
_wvi(spark, pn, "x")
spark.read.parquet(pn).createOrReplaceTempView("nt")

def nt_indexonly(d):
    p = d._jdf.queryExecution().executedPlan().toString()
    return ".vidx" in p and "nt.parquet" not in p.replace("nt.parquet.vidx", "")

d9 = spark.sql("SELECT COUNT(DISTINCT c) AS ndv FROM nt")
assert nt_indexonly(d9), d9._jdf.queryExecution().executedPlan().toString()
assert d9.first()["ndv"] == 3  # NULLs excluded

d10 = spark.sql("SELECT MIN(c) AS mn, MAX(c) AS mx, COUNT(c) AS nn, COUNT(*) AS n FROM nt")
assert nt_indexonly(d10)
assert tuple(d10.first()) == ("a", "c", 4, 6)  # count(c) skips NULL, count(*) doesn't

d11 = spark.sql("SELECT MIN(x) AS mnx, MAX(c) AS mxc, COUNT(*) AS n FROM nt")
assert nt_indexonly(d11)  # two sidecars, one-row frames cross-joined
assert tuple(d11.first()) == (1, "c", 6)

d12 = spark.sql("SELECT COUNT(*) AS n FROM nt")
assert nt_indexonly(d12)  # filterless whole-table count off any sidecar
assert d12.first()["n"] == 6

d13 = spark.sql("SELECT COUNT(DISTINCT c) AS ndv, MIN(c) AS mn FROM nt WHERE c >= 'b'")
assert nt_indexonly(d13)
assert tuple(d13.first()) == (2, "b")

# filtered form: aggregate on a DIFFERENT column than the filter -> no proof, untouched
d14 = spark.sql("SELECT MIN(x) AS mn FROM nt WHERE c = 'b'")
assert not nt_indexonly(d14)
assert d14.first()["mn"] == 3

# non-covered column falls through with a base scan, stays correct
d15 = spark.sql("SELECT MIN(l_quantity) AS mn FROM li")
assert ".vidx" not in d15._jdf.queryExecution().executedPlan().toString()
assert d15.first()["mn"] == src.agg({"l_quantity": "min"}).first()[0]

# 16. the aggregate is rarely the plan ROOT in production — the rule
#     must fire as a join input and under a write command too (the
#     subtree substitution pins original exprIds via a Project)
def nt_gone(p):
    return ".vidx" in p and "nt.parquet" not in p.replace("nt.parquet.vidx", "")

d17 = spark.sql(
    "SELECT l.l_returnflag, g.n FROM "
    "(SELECT COUNT(*) AS n FROM nt WHERE c = 'b') g "
    "CROSS JOIN (SELECT DISTINCT l_returnflag FROM li) l"
)
p17 = d17._jdf.queryExecution().executedPlan().toString()
assert nt_gone(p17), p17
assert sorted(r["n"] for r in d17.collect()) == [2, 2, 2]

# 17. maintenance and audit plans must NOT be answered from the sidecar
#     (stats.rewrites_disabled): (a) rebuilding an index after the base
#     changed reflects the NEW base — without the guard the rebuild
#     groupBy is rewritten onto the OLD sidecar (self-overwrite crash or
#     silently stale counts); (b) check_table flags an out-of-sync
#     sidecar — without the guard both the audit's COUNT(*) and its live
#     recount would read the corrupt sidecar and agree with it.
pm = f"{tmp}/mt.parquet"
spark.createDataFrame([(1, "x"), (2, "y")], "i int, c string").write.parquet(pm)
_wvi(spark, pm, "c")
spark.createDataFrame(
    [(1, "x"), (2, "x"), (3, "z")], "i int, c string"
).write.mode("overwrite").parquet(pm)
_wvi(spark, pm, "c")  # rebuild after base change
idx = spark.read.parquet(pm + ".vidx/c")
assert {(r["value"], r["cnt"]) for r in idx.collect()} == {("x", 2), ("z", 1)}

from columnar_spark.writer import check_table

spark.createDataFrame(
    [("x", 99), ("z", 1)], "value string, cnt bigint"
).write.mode("overwrite").parquet(pm + ".vidx/c")
errs = check_table(spark, pm)
assert any("value index" in e for e in errs), errs

# 18. differential fuzz: seeded random predicates over the indexed
#     columns — the rewritten answer must equal the rule-off base scan
#     for every COUNT/NDV/MIN/MAX form (null-handling, excludes, ranges)
import random

from columnar_spark.stats import rewrites_disabled

rng = random.Random(20260814)
vals = ["'a'", "'b'", "'c'", "'zz'", "NULL"]
ops = ["=", "<>", ">=", "<", "IN ('a','b')", "IS NOT NULL", "IS NULL"]
aggsets = [
    "COUNT(*) AS n",
    "COUNT(c) AS n",
    "COUNT(DISTINCT c) AS n",
    "MIN(c) AS n",
    "MAX(c) AS n",
    "COUNT(*) AS n, COUNT(DISTINCT c) AS d, MIN(c) AS mn, MAX(c) AS mx",
]
for _ in range(25):
    op = rng.choice(ops)
    pred = (
        f"c {op}"
        if op in ("IS NOT NULL", "IS NULL") or op.startswith("IN")
        else f"c {op} {rng.choice(vals)}"
    )
    q = f"SELECT {rng.choice(aggsets)} FROM nt WHERE {pred}"
    if rng.random() < 0.3:
        q = q.split(" WHERE ")[0]  # filterless form
    on = [tuple(r) for r in spark.sql(q).collect()]
    with rewrites_disabled(spark):
        off = [tuple(r) for r in spark.sql(q).collect()]
    assert on == off, (q, on, off)

# 19. materialized-view routing: a time-bucketed GROUP BY over a table
#     carrying a .rollup sidecar is served merge-on-read from the
#     O(buckets x keys) partials — in PLAIN spark.sql. Freshness-gated
#     on the stats manifest; stale sidecar -> base plan; week unit and
#     filtered forms -> base plan.
from columnar_spark.stats import rewrites_disabled as _rd
from columnar_spark.streaming.rollup import write_rollup_sidecar
from columnar_spark.writer import stats_path
from columnar_spark.stats import build_stats_manifest

pev = f"{tmp}/ev2.parquet"
esrc2 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
if dict(esrc2.dtypes).get("ts") in ("bigint", "long"):
    esrc2 = esrc2.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
esrc2.write.parquet(pev)
ev2 = spark.read.parquet(pev)
write_rollup_sidecar(ev2, pev)
build_stats_manifest(ev2).write.mode("overwrite").parquet(stats_path(pev))
ev2.createOrReplaceTempView("ev2")

q19 = (
    "SELECT date_trunc('day', ts) AS d, event_type, COUNT(*) AS n, "
    "SUM(value) AS s, MIN(value) AS mn, MAX(value) AS mx, AVG(value) AS av "
    "FROM ev2 GROUP BY 1, 2"
)
d19 = spark.sql(q19)
p19 = d19._jdf.queryExecution().executedPlan().toString()
assert ".rollup" in p19 and "ev2.parquet" not in p19.replace(
    "ev2.parquet.rollup", "").replace("ev2.parquet.stats", ""), p19
with _rd(spark):
    want19 = {tuple(r)[:2]: tuple(r)[2:] for r in spark.sql(q19).collect()}
got19 = {tuple(r)[:2]: tuple(r)[2:] for r in d19.collect()}
assert set(got19) == set(want19)
for k in want19:
    gn, gs, gmn, gmx, gav = got19[k]
    wn, ws, wmn, wmx, wav = want19[k]
    assert (gn, gmn, gmx) == (wn, wmn, wmx), k
    assert abs(gs - ws) < 1e-6 and abs(gav - wav) < 1e-6, k  # decimal-exact vs double-order sum

# bucket-only form rolls the keys up further
q20 = "SELECT date_trunc('day', ts) AS d, COUNT(*) AS n FROM ev2 GROUP BY 1"
d20 = spark.sql(q20)
assert ".rollup" in d20._jdf.queryExecution().executedPlan().toString()
with _rd(spark):
    assert sorted(map(tuple, d20.collect())) == sorted(
        map(tuple, spark.sql(q20).collect())
    )

# week bucketing does not match a 1-day sidecar; filters refuse routing
for qno in (
    "SELECT date_trunc('week', ts) AS d, COUNT(*) AS n FROM ev2 GROUP BY 1",
    "SELECT date_trunc('day', ts) AS d, COUNT(*) AS n FROM ev2 "
    "WHERE event_type = 'view' GROUP BY 1",
):
    assert ".rollup" not in spark.sql(qno)._jdf.queryExecution().executedPlan().toString(), qno

# staleness: append rows and maintain the manifest (the engine's append
# contract) WITHOUT updating the rollup -> the gate must refuse and the
# fresh rows must appear in the answer
extra = ev2.limit(7)
extra.write.mode("append").parquet(pev)
ev2b = spark.read.parquet(pev)
with _rd(spark):
    build_stats_manifest(ev2b).write.mode("overwrite").parquet(stats_path(pev))
ev2b.createOrReplaceTempView("ev2")
d21 = spark.sql(q20)
assert ".rollup" not in d21._jdf.queryExecution().executedPlan().toString()
assert sum(r["n"] for r in d21.collect()) == ev2b.count()

# Write sinks: DSv2 writes (noop / AppendData) pass the full plan —
# write command over query — through the main optimizer, which is
# exactly the transformUp path d17 just proved; V1 commands (parquet
# CTAS/INSERT) optimize their inner query as its own ROOT QueryExecution
# at run time, the shape sections 1-15 prove. Smoke the noop path:
spark.sql("SELECT COUNT(DISTINCT c) AS ndv FROM nt").write.format("noop").mode(
    "overwrite"
).save()

# 22. value-index freshness gate. (a) An overwrite OUTSIDE the framework
#     (plain df.write) leaves the sidecar in place but its recorded
#     _table_sig.json no longer matches the table dir -> the rule must
#     refuse the index and the base plan must answer with the NEW data.
#     (b) write_table overwrite drops every sidecar it does not
#     regenerate, so even a legacy no-sig index can never serve stale.
import os

ps = f"{tmp}/st.parquet"
spark.createDataFrame([(1, "x"), (2, "y"), (3, "y")], "i int, c string").write.parquet(ps)
_wvi(spark, ps, "c")
assert os.path.exists(ps + ".vidx/c/_table_sig.json")
spark.read.parquet(ps).createOrReplaceTempView("st")
d22 = spark.sql("SELECT COUNT(*) AS n FROM st WHERE c = 'y'")
assert ".vidx" in d22._jdf.queryExecution().executedPlan().toString()
assert d22.first()["n"] == 2

spark.createDataFrame(
    [(1, "y"), (2, "y"), (3, "y"), (4, "y")], "i int, c string"
).write.mode("overwrite").parquet(ps)  # out-of-band rewrite, sidecar untouched
spark.read.parquet(ps).createOrReplaceTempView("st")
d23 = spark.sql("SELECT COUNT(*) AS n FROM st WHERE c = 'y'")
p23 = d23._jdf.queryExecution().executedPlan().toString()
assert ".vidx" not in p23, p23  # stale sig -> index refused
assert d23.first()["n"] == 4    # base plan, NEW data

from columnar_spark.writer import WriteSpec, write_table

pw = f"{tmp}/wt.parquet"
w1 = spark.createDataFrame([(1, "a"), (2, "b")], "i int, c string")
write_table(w1, pw, WriteSpec(value_index_cols=("c",)))
os.makedirs(pw + ".ftidx", exist_ok=True)  # a sidecar the next write won't regenerate
spark.read.parquet(pw).createOrReplaceTempView("wt")
assert spark.sql("SELECT COUNT(*) AS n FROM wt WHERE c = 'a'").first()["n"] == 1
w2 = spark.createDataFrame([(1, "a"), (2, "a"), (3, "a")], "i int, c string")
write_table(w2, pw, WriteSpec(value_index_cols=("c",)))
assert not os.path.isdir(pw + ".ftidx")  # stale sidecar removed by the overwrite
spark.read.parquet(pw).createOrReplaceTempView("wt")
d24 = spark.sql("SELECT COUNT(*) AS n FROM wt WHERE c = 'a'")
assert ".vidx" in d24._jdf.queryExecution().executedPlan().toString()
assert d24.first()["n"] == 3  # regenerated index serves the NEW counts

print("JVM-EXT-OK")
"""


@pytest.mark.skipif(ext_jar_path() is None, reason="extension jar not built")
def test_plain_spark_sql_count_rewrite_via_extension():
    env = dict(os.environ)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert "JVM-EXT-OK" in out.stdout
