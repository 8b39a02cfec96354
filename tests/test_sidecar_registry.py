"""One sidecar registry (columnar_spark/sidecars.py): append, crash
recovery, DML and DROP maintain every sidecar kind through one list.

- INSERT -> DELETE -> INSERT keeps the stats manifest exact (DML
  rebuilds the mergeable sketch with the manifest);
- DELETE -> INSERT never brings deleted documents back through the
  row-local text companions;
- a table carrying every registry kind: after INSERT, DELETE, UPDATE
  (on it and on its projections' dim table) and OPTIMIZE each kind's
  artifact equals a from-scratch build over the current table, or is
  absent, and check_table finds nothing; a corrupted artifact of every
  kind with a checker is reported;
- SHOW INDEXES lists one row per artifact of every kind, in no Spark
  job; SHOW CREATE TABLE reads the text index's meta only;
- compaction (OPTIMIZE and writer.compact_table alike) compacts the
  text index and the row-local companions, and re-stamps only the
  artifacts that matched the table before the rewrite;
- every sibling directory a public writer creates is claimed by a
  registry kind, and a write_table overwrite removes them all;
- DROP TABLE of a table registered as a view drops the view."""

import dataclasses
import datetime
import os

import pytest
from pyspark.sql import functions as F

from columnar_spark import sidecars
from columnar_spark.table import Engine
from columnar_spark.writer import check_table, compact_table, write_table


def _rows(df, cols=None):
    """Order-free multiset of a frame's rows (repr: struct/array safe)."""
    cols = cols or sorted(df.columns)
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


# ------------------------------------------------ drift regressions

def _small_table(spark, tmp_path, name):
    p = f"{tmp_path}/{name}.parquet"
    write_table(
        spark.createDataFrame(
            [(i, f"doc number {i} words") for i in range(1, 7)],
            "doc_id: bigint, text: string",
        ),
        p,
    )
    return Engine(spark, str(tmp_path)), p


def test_insert_delete_insert_keeps_stats_exact(spark, tmp_path):
    eng, p = _small_table(spark, tmp_path, "st")
    eng.sql("INSERT INTO st VALUES (7, 'seven'), (8, 'eight')")
    eng.sql("DELETE FROM st WHERE doc_id <= 2")
    eng.sql("INSERT INTO st VALUES (9, 'nine'), (10, 'ten')")
    table = spark.read.parquet(p)
    n = table.count()
    assert n == 8
    man = {r["column"]: r for r in spark.read.parquet(p + ".stats").collect()}
    assert {c: r["row_count"] for c, r in man.items()} == {"doc_id": n, "text": n}
    assert float(man["doc_id"]["min"]) == 3 and float(man["doc_id"]["max"]) == 10
    lo, hi = table.agg(F.min("text"), F.max("text")).first()
    assert (man["text"]["min"], man["text"]["max"]) == (lo, hi)
    shown = {r["table"]: r["row_count"] for r in eng.sql("SHOW TABLES").collect()}
    assert shown["st"] == n


def test_delete_then_insert_serves_only_live_docs(spark, tmp_path):
    from columnar_spark.dedupsig import load_dedupsig, write_dedupsig_sidecar
    from columnar_spark.textstats import load_textstats, write_textstats_sidecar

    eng, p = _small_table(spark, tmp_path, "ld")
    write_textstats_sidecar(spark, p, "doc_id", "text")
    write_dedupsig_sidecar(spark, p, "doc_id", "text", num_hashes=8)
    eng.sql("DELETE FROM ld WHERE doc_id <= 2")
    eng.sql("INSERT INTO ld VALUES (7, 'a new document')")
    live = {r[0] for r in spark.read.parquet(p).select("doc_id").collect()}
    assert live == {3, 4, 5, 6, 7}
    ts = load_textstats(spark, p)
    ds = load_dedupsig(spark, p, 8, 1)
    assert ts is not None and ds is not None
    assert {r[0] for r in ts.select("doc_id").collect()} == live
    assert {r[0] for r in ds.select("doc_id").collect()} == live


def test_drop_table_of_registered_view(spark, tmp_path):
    eng, p = _small_table(spark, tmp_path, "registry_view_t")
    eng.register_views(["registry_view_t"])
    assert spark.catalog.tableExists("registry_view_t")
    row = eng.sql("DROP TABLE registry_view_t").first()
    assert row.n_affected == 1 and not os.path.exists(p)
    assert not spark.catalog.tableExists("registry_view_t")
    assert "registry_view_t" not in eng._views


# ------------------------------------------- a table of every kind

_T0 = datetime.datetime(2024, 1, 1)


def _doc(i, user=None):
    return (
        i,
        ["red", "green", "blue"][i % 3],
        user if user is not None else i % 3,
        '{"k": %d}' % (i % 2),
        f"word{i % 4} shared text body {i}",
        _T0 + datetime.timedelta(hours=13 * i),
        float(i) * 1.25,
        [float(i % 5), float(i % 3), 1.0, float(i) / 10.0],
    )


_DOCS_SCHEMA = (
    "doc_id: bigint, cat: string, user_id: bigint, props: string, "
    "text: string, ts: timestamp, value: double, emb: array<float>"
)
_ENRICH = ({"table": "users.parquet", "left_on": "user_id",
            "right_on": "user_id", "cols": {"uname": "uname"}},)


def _build_every_kind(spark, d):
    """docs.parquet with one artifact of every registry kind (through
    the public writers), and users.parquet as the dim of its join and
    aggregate projections."""
    from columnar_spark.aggprojections import write_agg_projection
    from columnar_spark.dedupsig import write_dedupsig_sidecar
    from columnar_spark.operators.cohort import write_cohort_sidecar
    from columnar_spark.operators.fulltext import write_text_index
    from columnar_spark.operators.hnsw_index import build_graph_index
    from columnar_spark.operators.knn_index import build_vector_index
    from columnar_spark.projections import write_join_projection
    from columnar_spark.stats import (
        write_json_field_index,
        write_posting_index,
        write_value_index,
    )
    from columnar_spark.streaming.rollup import write_rollup_sidecar
    from columnar_spark.streaming.vocab import init_vocab_monitor
    from columnar_spark.textstats import write_textstats_sidecar

    docs, users = f"{d}/docs.parquet", f"{d}/users.parquet"
    write_table(spark.createDataFrame([_doc(i) for i in range(1, 13)], _DOCS_SCHEMA), docs)
    write_table(
        spark.createDataFrame(
            [(0, "ann"), (1, "bob"), (2, "cy")], "user_id: bigint, uname: string"
        ),
        users,
    )
    write_value_index(spark, docs, "cat", measures=[("value", 2)])
    write_value_index(spark, docs, ("cat", "user_id"))
    write_json_field_index(spark, docs, "props", "$.k")
    write_posting_index(spark, docs, "cat", "doc_id")
    table = spark.read.parquet(docs)
    build_vector_index(spark, table, docs, vec_col="emb", id_col="doc_id",
                       metric="l2", nlist=2, m=2, k=4)
    build_graph_index(spark, table, docs, vec_col="emb", id_col="doc_id",
                      metric="l2", M=4, ef_construction=8, num_parts=2)
    write_text_index(spark, docs, "text", "doc_id")
    init_vocab_monitor(spark, docs, "text")
    write_textstats_sidecar(spark, docs, "doc_id", "text")
    write_dedupsig_sidecar(spark, docs, "doc_id", "text", num_hashes=8)
    write_join_projection(spark, docs, users, name="docusers", fact_key="user_id",
                          dim_key="user_id", dim_cols=("uname",))
    write_agg_projection(spark, docs, name="bycat",
                         keys={"cat": "cat", "uname": "uname"},
                         measures=[{"name": "cnt", "agg": "count"}], enrich=_ENRICH)
    write_cohort_sidecar(spark, docs, "ts", "user_id")
    write_rollup_sidecar(table, docs, ts_col="ts", keys=("cat",), value_col="value")
    write_rollup_sidecar(table, docs, ts_col="ts", keys=(), value_col="value",
                         name="all")
    return docs, users


# Each check returns (stored, from-scratch) for one artifact, or None
# when the artifact is refused as stale. "From scratch" is the kind's
# own builder over the current table.

def _check_stats(spark, p, _inst):
    t = spark.read.parquet(p)
    numeric = {c for c, dt in t.dtypes if dt in ("bigint", "double")}
    flat = [c for c, dt in t.dtypes if not dt.startswith("array")]

    def norm(c, v):
        return None if v is None else (float(v) if c in numeric else v)

    stored = sorted(
        (r["column"], r["row_count"], r["null_count"],
         norm(r["column"], r["min"]), norm(r["column"], r["max"]))
        for r in spark.read.parquet(p + ".stats").collect() if r["column"] in flat
    )
    agg = t.agg(
        F.count(F.lit(1)).alias("n"),
        *[e for c in flat for e in (
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
        )],
    ).first()
    live = sorted(
        (c, agg["n"], agg[f"nulls_{c}"] or 0,
         norm(c, agg[f"min_{c}"]), norm(c, agg[f"max_{c}"]))
        for c in flat
    )
    return stored, live


def _check_value_index(spark, p, col):
    from columnar_spark.stats import (
        _with_composite_col,
        build_value_index,
        composite_index_cols,
        load_value_index,
        value_index_measures,
    )

    idx = load_value_index(spark, p, col)
    if idx is None:
        return None
    t = spark.read.parquet(p)
    cm = composite_index_cols(p, col)
    if cm:
        t = _with_composite_col(t, col, cm)
    ms = value_index_measures(p, col)
    live = build_value_index(t, col, [(c, int(dp)) for c, dp in ms] if ms else None)
    return _rows(idx), _rows(live)


def _check_json_field_index(spark, p, inst):
    from columnar_spark.stats import build_value_index, json_field_expr, load_value_index

    col, jm = inst
    idx = load_value_index(spark, p, col)
    if idx is None:
        return None
    t = spark.read.parquet(p).withColumn(
        col, json_field_expr(jm["parent"], jm["json_path"])
    )
    return _rows(idx), _rows(build_value_index(t, col))


def _check_posting_index(spark, p, inst):
    from columnar_spark.stats import build_posting_index, load_posting_index

    col, idc = inst
    idx = load_posting_index(spark, p, col)
    if idx is None:
        return None
    return _rows(idx), _rows(build_posting_index(spark.read.parquet(p), col, idc))


def _check_vector_index(spark, p, vdir):
    from columnar_spark.operators.knn_index import _load_vector_index_dir

    vi = _load_vector_index_dir(p, vdir, check_fresh=True)
    if vi is None:
        return None
    stored = spark.read.parquet(vi.vectors_path).select("id")
    return _rows(stored), _rows(spark.read.parquet(p).select(vi.id_col))


def _check_graph_index(spark, p, gdir):
    from columnar_spark.operators.hnsw_index import load_graph_index_meta

    gm = load_graph_index_meta(p, index_path=gdir)
    if gm is None:
        return None
    stored = spark.read.parquet(os.path.join(gm["path"], "graph")).select("label")
    return _rows(stored), _rows(spark.read.parquet(p).select(gm["id_col"]))


def _check_text_index(spark, p, meta):
    from columnar_spark.operators.fulltext import (
        build_positional_postings,
        doc_lengths,
        load_text_index,
    )

    postings, lengths, meta = load_text_index(spark, p)
    t = spark.read.parquet(p)
    args = (t, meta["id_col"], meta["text_col"], meta.get("analyzer"))
    cols = ["term", "doc_id", "tf", "positions"]
    return (
        (_rows(postings, cols), _rows(lengths), meta["n_docs"]),
        (_rows(build_positional_postings(*args), cols), _rows(doc_lengths(*args)),
         t.count()),
    )


def _check_vocab(spark, p, meta):
    from columnar_spark.functions.text import tokens
    from columnar_spark.operators.collocations import _unigram_counts
    from columnar_spark.streaming.vocab import vocab_counts

    live = _unigram_counts(spark.read.parquet(p), tokens(F.col(meta["text_col"])))
    return _rows(vocab_counts(spark, p)), _rows(live)


def _check_textstats(spark, p, meta):
    from columnar_spark.textstats import load_textstats, text_features

    side = load_textstats(spark, p)
    if side is None:
        return None
    live = text_features(spark.read.parquet(p), meta["id_col"], meta["text_col"])
    return _rows(side), _rows(live)


def _check_dedupsig(spark, p, meta):
    from columnar_spark.dedupsig import load_dedupsig, signature_frame

    side = load_dedupsig(spark, p, meta["num_hashes"], meta["shingle_k"])
    if side is None:
        return None
    live = signature_frame(
        spark.read.parquet(p), meta["id_col"], meta["text_col"],
        meta["num_hashes"], meta["shingle_k"], meta["store_shingle_hashes"],
    )
    return _rows(side), _rows(live)


def _check_join(spark, fact, name):
    from columnar_spark.projections import live_join_frame, load_join_projection

    stored = load_join_projection(spark, fact, name)
    if stored is None:
        return None
    live = live_join_frame(spark, fact, name)
    return _rows(stored, sorted(live.columns)), _rows(live)


def _check_agg(spark, fact, name):
    from columnar_spark.aggprojections import live_agg_frame, load_agg_projection

    stored = load_agg_projection(spark, fact, name)
    if stored is None:
        return None
    live = live_agg_frame(spark, fact, name)
    return _rows(stored, sorted(live.columns)), _rows(live)


def _check_cohort(spark, p, _meta):
    from columnar_spark.operators.cohort import check_cohort_sidecar, load_cohort_matrix

    if load_cohort_matrix(spark, p) is None:
        return None
    return check_cohort_sidecar(spark, p), []


def _check_rollup(spark, p, inst):
    from columnar_spark.stats import index_is_fresh
    from columnar_spark.streaming.rollup import (
        finalize_rollup,
        load_rollup_sidecar,
        merge_rollup,
        rollup_partials,
        rollup_sidecar_path,
        ts_as_timestamp,
    )

    name, meta = inst
    if not index_is_fresh(p, rollup_sidecar_path(p, name)):
        return None
    partials, meta = load_rollup_sidecar(spark, p, name)
    live = rollup_partials(
        ts_as_timestamp(spark.read.parquet(p), meta["ts_col"]),
        meta["ts_col"], meta["bucket"], meta["keys"], meta["value_col"],
    )
    keys = meta["keys"]
    return (
        _rows(finalize_rollup(merge_rollup(partials, keys))),
        _rows(finalize_rollup(merge_rollup(live, keys))),
    )


CHECKS = {
    "stats": _check_stats,
    "value_index": _check_value_index,
    "json_field_index": _check_json_field_index,
    "posting_index": _check_posting_index,
    "vector_index": _check_vector_index,
    "graph_index": _check_graph_index,
    "text_index": _check_text_index,
    "vocab": _check_vocab,
    "textstats": _check_textstats,
    "dedupsig": _check_dedupsig,
    "join_projection": _check_join,
    "join_projection_dim": lambda spark, _p, inst: _check_join(spark, *inst),
    "aggregate_projection": _check_agg,
    "aggregate_projection_enrich": lambda spark, _p, inst: _check_agg(spark, *inst),
    "cohort": _check_cohort,
    "rollup": _check_rollup,
}


def _served_kinds(spark, docs, users):
    """Assert every artifact of every kind equals its from-scratch build
    (or is refused as stale); return the names of the kinds served."""
    assert set(CHECKS) == {k.name for k in sidecars.KINDS}
    served = set()
    for kind in sidecars.KINDS:
        # the dim-side kinds are reached from the dim table
        path = users if kind.suffix is None else docs
        for inst in kind.instances(path):
            got = CHECKS[kind.name](spark, path, inst)
            if got is not None:
                assert got[0] == got[1], (kind.name, inst)
                served.add(kind.name)
    return served


def _doc_values(i, user):
    doc_id, cat, user_id, props, text, ts, value, emb = _doc(i, user)
    return (
        f"({doc_id}, '{cat}', {user_id}, '{props}', '{text}', "
        f"TIMESTAMP '{ts:%Y-%m-%d %H:%M:%S}', {value}, "
        f"array({', '.join(map(str, emb))}))"
    )


def test_every_kind_matches_a_rebuild_after_each_write(spark, tmp_path):
    docs, users = _build_every_kind(spark, tmp_path)
    eng = Engine(spark, str(tmp_path))
    every = {k.name for k in sidecars.KINDS}
    steps = [
        (["INSERT INTO docs VALUES "
          + ", ".join(_doc_values(i, i % 4) for i in (13, 14, 15))], every),
        # row mutations drop JSON-field indexes and rebuild the rest
        (["DELETE FROM docs WHERE doc_id IN (1, 2)"], every - {"json_field_index"}),
        (["UPDATE docs SET text = 'rewritten words', value = value + 1 "
          "WHERE doc_id = 3"], every - {"json_field_index"}),
        # the dim side: folds into, and rebuilds, the docs projections
        (["INSERT INTO users VALUES (3, 'dee')",
          "DELETE FROM users WHERE user_id = 1"], every - {"json_field_index"}),
        # compaction keeps the rows: every artifact is re-stamped, none
        # turns stale
        (["OPTIMIZE docs"], every - {"json_field_index"}),
    ]
    assert check_table(spark, docs) == []
    for queries, want in steps:
        for query in queries:
            eng.sql(query)
        assert _served_kinds(spark, docs, users) == want, queries
        assert check_table(spark, docs) == [], queries


def test_every_sibling_is_claimed_and_an_overwrite_drops_them(spark, tmp_path):
    docs, _users = _build_every_kind(spark, tmp_path)
    siblings = [e for e in os.listdir(tmp_path) if e.startswith("docs.parquet.")]
    assert siblings
    assert [e for e in siblings if not sidecars.claims(docs, e)] == []
    # every kind that lives beside the table has an artifact here
    for kind in sidecars.KINDS:
        if kind.suffix is not None:
            assert kind.instances(docs), kind.name
    write_table(spark.createDataFrame([_doc(99)], _DOCS_SCHEMA), docs)
    left = sorted(e for e in os.listdir(tmp_path) if e.startswith("docs.parquet."))
    assert left == ["docs.parquet.stats"]


@pytest.mark.parametrize("crashed", [False, True])
def test_crashed_ledger_rebuilds_all_but_retry_exact_kinds(spark, tmp_path, monkeypatch, crashed):
    """A crashed ledger rebuilds every kind from the table except the
    retry-exact ones (text index, vocab), which fold; a clean one folds
    every kind."""
    calls = []
    kinds = tuple(
        dataclasses.replace(
            k,
            instances=lambda p, name=k.name: [name],
            fold=lambda m, inst: calls.append(("fold", inst)),
            rebuild=lambda m, inst: calls.append(("rebuild", inst)),
            remove=lambda p, inst: calls.append(("remove", inst)),
        )
        for k in sidecars.KINDS
    )
    monkeypatch.setattr(sidecars, "KINDS", kinds)
    batch = spark.createDataFrame([(1,)], "x: int")
    sidecars.fold_batch(spark, str(tmp_path / "t.parquet"), batch, crashed=crashed)
    want = {
        (("fold" if k.retry_exact or not crashed else "rebuild"), k.name) for k in kinds
    }
    assert set(calls) == want and len(calls) == len(kinds)


# ------------------------------------------------ check, SHOW, OPTIMIZE

def _corrupt(art):
    """Damage one artifact in place: in its first non-empty data file,
    bump the first `row_count` / `cnt` value, or else drop the first
    row."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(
        f for f in glob.glob(f"{art}/**/*.parquet", recursive=True) if os.path.isfile(f)
    )
    f, t = next((f, t) for f in files if (t := pq.read_table(f, coerce_int96_timestamp_unit="us")).num_rows)
    col = next((c for c in ("row_count", "cnt") if c in t.column_names), None)
    if col is None:
        t = t.slice(1)
    else:
        vals = t[col].to_pylist()
        vals[0] += 1
        t = t.set_column(t.column_names.index(col), col, pa.array(vals, t[col].type))
    # INT96 timestamps, as Spark writes them
    pq.write_table(t, f, use_deprecated_int96_timestamps=True)
    # the Hadoop checksum of the old bytes would fail the read instead
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


# the violation each kind's checker reports for its corrupted artifact
_CORRUPTION_REPORTS = {
    "stats": "stats manifest",
    "value_index": "value index cat:",
    "json_field_index": "value index props__j_k:",
    "vector_index": "centroids:",
    "graph_index": "part ",
    "text_index": "text index:",
    "textstats": "textstats sidecar:",
    "dedupsig": "dedupsig sidecar:",
    "join_projection": "projection docusers:",
    "aggregate_projection": "agg projection bycat:",
    "cohort": "cohort sidecar:",
}


def test_check_table_reports_a_corrupted_artifact_of_every_checked_kind(spark, tmp_path):
    docs, _users = _build_every_kind(spark, tmp_path)
    checked = [k for k in sidecars.KINDS if k.check is not None]
    assert {k.name for k in checked} == set(_CORRUPTION_REPORTS)
    for kind in checked:
        _corrupt(kind.artifact(docs, kind.instances(docs)[0]))
    errors = check_table(spark, docs)
    for name, report in _CORRUPTION_REPORTS.items():
        assert any(e.startswith(report) for e in errors), (name, errors)


def test_show_indexes_lists_every_artifact_in_no_spark_job(spark, tmp_path, spark_cost, monkeypatch):
    from columnar_spark.operators import fulltext

    docs, _users = _build_every_kind(spark, tmp_path)
    eng = Engine(spark, str(tmp_path))
    rows, jobs, ticks = spark_cost(lambda: eng.sql("SHOW INDEXES FROM docs").collect())
    assert (jobs, ticks) == (0, 0)
    assert sorted((r["kind"], r["column"]) for r in rows) == sorted([
        ("stats", "—"), ("value_index", "cat"), ("value_index", "cat__x__user_id"),
        ("json_field_index", "props:$.k"), ("posting_index", "cat"),
        ("vector_index", "emb"), ("graph_index", "emb"), ("text_index", "—"),
        ("vocab", "—"), ("textstats", "—"), ("dedupsig", "—"),
        ("join_projection", "docusers"), ("aggregate_projection", "bycat"),
        ("cohort", "—"), ("rollup", "—"), ("rollup", "all"),
    ])
    assert {r["kind"] for r in rows} == {k.name for k in sidecars.KINDS if k.suffix}
    assert all(os.path.isdir(r["path"]) for r in rows)
    assert f"{docs}.rollup-all" in {r["path"] for r in rows}

    # SHOW CREATE TABLE reads the text index's meta.json, not its frames
    calls = []
    load = fulltext.load_text_index
    monkeypatch.setattr(
        fulltext, "load_text_index", lambda *a, **k: calls.append(a) or load(*a, **k)
    )
    ddl = eng.sql("SHOW CREATE TABLE docs").first().create_table
    assert calls == []
    for clause in ("INDEX (cat)", "INDEX (cat, user_id)",
                   "INDEX (get_json_object(props, '$.k'))", "TEXT INDEX (text, doc_id)",
                   "VECTOR INDEX (emb) WITH (metric='l2', nlist=2, m=2)"):
        assert clause in ddl, (clause, ddl)


def test_compact_table_compacts_text_index_and_companions(spark, tmp_path):
    from columnar_spark.dedupsig import dedupsig_path, write_dedupsig_sidecar
    from columnar_spark.operators.fulltext import text_index_meta, write_text_index
    from columnar_spark.textstats import load_textstats, textstats_path, write_textstats_sidecar

    eng, p = _small_table(spark, tmp_path, "frag")
    write_text_index(spark, p, "text", "doc_id")
    write_textstats_sidecar(spark, p, "doc_id", "text")
    write_dedupsig_sidecar(spark, p, "doc_id", "text", num_hashes=8)
    for i in range(7, 12):
        eng.sql(f"INSERT INTO frag VALUES ({i}, 'appended doc {i}')")

    def n_files(d):
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    assert n_files(textstats_path(p)) > 4 and n_files(dedupsig_path(p)) > 4
    assert len(text_index_meta(p)["deltas"]) == 5
    compact_table(spark, p)
    assert n_files(textstats_path(p)) == 1 and n_files(dedupsig_path(p)) == 1
    assert not text_index_meta(p).get("deltas")
    assert load_textstats(spark, p) is not None
    assert check_table(spark, p) == []


def test_compaction_restamps_only_artifacts_fresh_before_it(spark, tmp_path):
    from columnar_spark.stats import index_is_fresh, value_index_path, write_value_index

    p = f"{tmp_path}/restamp_t.parquet"

    def rows():
        return spark.range(30).select(
            F.col("id").alias("i"), (F.col("id") % 3).cast("string").alias("c")
        )

    rows().write.parquet(p)
    write_value_index(spark, p, "c")
    # out-of-band appends: the `c` index turns stale, `i` is built after
    for _ in range(6):
        rows().coalesce(1).write.mode("append").parquet(p)
    write_value_index(spark, p, "i")
    assert not index_is_fresh(p, value_index_path(p, "c"))
    eng = Engine(spark, str(tmp_path))
    row = eng.sql("OPTIMIZE TABLE restamp_t").first()
    assert row.files_after < row.files_before
    assert not index_is_fresh(p, value_index_path(p, "c"))
    assert index_is_fresh(p, value_index_path(p, "i"))
    assert eng.sql("SELECT COUNT(*) AS n FROM restamp_t WHERE c = '1'").first()["n"] == 70
    assert spark.read.parquet(p).filter("c = '1'").count() == 70
    assert eng.sql("SELECT COUNT(*) AS n FROM restamp_t WHERE i = 4").first()["n"] == 7
