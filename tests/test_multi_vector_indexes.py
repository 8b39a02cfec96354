"""Per-attribute KNN sidecars (reference knn/knn.cpp:557-640 keeps a
name->index map so one table can carry several indexed vector columns):
a table with a text embedding AND an image embedding builds, appends,
queries, and audits BOTH artifacts independently — `.knn`/`.knn-graph`
root layout for the first column, `col=<vec_col>/` subdirs for the
rest."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from columnar_spark.operators.hnsw_index import (
    append_to_graph_index,
    build_graph_index,
    check_graph_index,
    graph_index_dirs,
    graph_index_path,
    knn_query_graph,
    load_graph_index_meta,
)
from columnar_spark.operators.knn_index import (
    append_to_vector_index,
    build_vector_index,
    check_vector_index,
    knn_index_path,
    knn_query_indexed,
    load_vector_index,
    vector_index_dirs,
)


def _mk_rows(n, d1, d2, seed, base=0):
    rng = np.random.RandomState(seed)
    return [
        (base + i,
         [float(x) for x in rng.randn(d1)],
         [float(x) for x in rng.randn(d2)])
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def two_vec_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("twovec") / "t.parquet")
    df = spark.createDataFrame(
        _mk_rows(300, 16, 8, seed=3),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    df.write.parquet(path)
    return path


def test_two_graph_indexes_coexist_and_serve(spark, two_vec_table):
    df = spark.read.parquet(two_vec_table)
    p1 = build_graph_index(
        spark, df, two_vec_table, vec_col="text_emb", num_parts=2, metric="l2"
    )
    p2 = build_graph_index(
        spark, df, two_vec_table, vec_col="img_emb", num_parts=2, metric="l2"
    )
    # first index keeps the root layout; the second roots per-attribute
    assert p1 == graph_index_path(two_vec_table)
    assert p2 == graph_index_path(two_vec_table, "img_emb")
    assert os.path.basename(p2) == "col=img_emb"
    assert set(graph_index_dirs(two_vec_table)) == {p1, p2}
    # resolution by vec_col finds each independently
    assert load_graph_index_meta(two_vec_table, vec_col="text_emb")["dim"] == 16
    assert load_graph_index_meta(two_vec_table, vec_col="img_emb")["dim"] == 8
    # queries dispatch by vec_col and disagree (different spaces)
    row = df.filter(F.col("vec_id") == 5).first()
    got_t = knn_query_graph(
        spark, two_vec_table, [float(x) for x in row["text_emb"]], 3,
        exact=True, vec_col="text_emb",
    ).collect()
    got_i = knn_query_graph(
        spark, two_vec_table, [float(x) for x in row["img_emb"]], 3,
        exact=True, vec_col="img_emb",
    ).collect()
    assert got_t[0]["vec_id"] == 5 and got_i[0]["vec_id"] == 5
    assert [r["dist"] for r in got_t] != [r["dist"] for r in got_i]
    # the checker audits both artifacts
    assert check_graph_index(spark, two_vec_table) == []


def test_two_graph_indexes_append_independently(spark, two_vec_table):
    batch = spark.createDataFrame(
        _mk_rows(20, 16, 8, seed=9, base=1000),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    batch.write.mode("append").parquet(two_vec_table)
    for vc in ("text_emb", "img_emb"):
        append_to_graph_index(spark, batch, two_vec_table, vec_col=vc)
    assert check_graph_index(spark, two_vec_table) == []
    q = [float(x) for x in batch.first()["img_emb"]]
    top = knn_query_graph(
        spark, two_vec_table, q, 1, exact=True, vec_col="img_emb"
    ).first()
    assert top["vec_id"] == 1000


@pytest.fixture(scope="module")
def two_vec_ivf_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("twovec_ivf") / "t.parquet")
    df = spark.createDataFrame(
        _mk_rows(300, 16, 8, seed=4),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    df.write.parquet(path)
    return path


def test_two_ivf_indexes_coexist_append_and_check(spark, two_vec_ivf_table):
    df = spark.read.parquet(two_vec_ivf_table)
    p1 = build_vector_index(
        spark, df, two_vec_ivf_table, vec_col="text_emb", nlist=4, m=4, k=8
    )
    p2 = build_vector_index(
        spark, df, two_vec_ivf_table, vec_col="img_emb", nlist=4, m=4, k=8
    )
    assert p1 == knn_index_path(two_vec_ivf_table)
    assert p2 == knn_index_path(two_vec_ivf_table, "img_emb")
    assert set(vector_index_dirs(two_vec_ivf_table)) == {p1, p2}
    i1 = load_vector_index(two_vec_ivf_table, vec_col="text_emb")
    i2 = load_vector_index(two_vec_ivf_table, vec_col="img_emb")
    assert i1.dim == 16 and i2.dim == 8 and i1.path != i2.path
    # default (no vec_col) keeps today's behavior: the root artifact
    assert load_vector_index(two_vec_ivf_table).vec_col == "text_emb"

    batch = spark.createDataFrame(
        _mk_rows(15, 16, 8, seed=10, base=2000),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    batch.write.mode("append").parquet(two_vec_ivf_table)
    for vc in ("text_emb", "img_emb"):
        append_to_vector_index(spark, batch, two_vec_ivf_table, vec_col=vc)
    assert check_vector_index(spark, two_vec_ivf_table) == []

    # served query on the second attribute finds the appended vector
    idx2 = load_vector_index(two_vec_ivf_table, vec_col="img_emb")
    q = [float(x) for x in batch.first()["img_emb"]]
    top = knn_query_indexed(spark, idx2, q, 1).first()
    assert top["id"] == 2000

    # a corrupted second artifact is reported with its col= tag
    batch2 = spark.createDataFrame(
        _mk_rows(5, 16, 8, seed=11, base=3000),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    batch2.write.mode("append").parquet(two_vec_ivf_table)
    append_to_vector_index(spark, batch2, two_vec_ivf_table, vec_col="text_emb")
    errs = check_vector_index(spark, two_vec_ivf_table)
    assert any(e.startswith("col=img_emb:") for e in errs), errs


def test_sql_knn_resolves_by_clause_column(spark, tmp_path_factory):
    """The SQL surface's KNN(<col>, ...) clause selects the matching
    per-attribute graph artifact; naming an unindexed column refuses
    loudly instead of serving a different column's index."""
    from columnar_spark.table import Engine

    sf = str(tmp_path_factory.mktemp("sqlmulti"))
    path = f"{sf}/embeddings.parquet"
    df = spark.createDataFrame(
        _mk_rows(300, 16, 8, seed=3),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    df.write.parquet(path)
    for vc in ("text_emb", "img_emb"):
        build_graph_index(spark, df, path, vec_col=vc, num_parts=2, metric="l2")
    eng = Engine(spark, sf)
    df = spark.read.parquet(path)
    row = df.filter(F.col("vec_id") == 5).first()

    def q(col, vals):
        lit = ", ".join(str(float(x)) for x in vals)
        return (
            f"SELECT vec_id, KNN_DIST() FROM embeddings "
            f"WHERE KNN({col}, 3, ({lit})) OPTION mode=graph"
        )

    got_t = eng.sql(q("text_emb", row["text_emb"])).collect()
    got_i = eng.sql(q("img_emb", row["img_emb"])).collect()
    assert got_t[0]["vec_id"] == 5 and got_i[0]["vec_id"] == 5
    assert [r["knn_dist"] for r in got_t] != [r["knn_dist"] for r in got_i]
    with pytest.raises(ValueError, match="no fresh graph index"):
        eng.sql(q("vec_id", [0.0] * 16)).collect()


def test_ingest_append_maintains_both_artifacts(spark, tmp_path_factory):
    """append_batch (the E9 maintenance unit) folds one batch into EVERY
    per-attribute artifact — both graph sidecars extend, both stay
    audit-clean, and a fresh query on each column finds the new row."""
    from columnar_spark.streaming.ingest import append_batch

    path = str(tmp_path_factory.mktemp("ingmulti") / "t.parquet")
    df = spark.createDataFrame(
        _mk_rows(200, 16, 8, seed=6),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    df.write.parquet(path)
    for vc, d in (("text_emb", 16), ("img_emb", 8)):
        build_graph_index(spark, df, path, vec_col=vc, num_parts=2, metric="l2")
        build_vector_index(spark, df, path, vec_col=vc, nlist=4, m=4, k=8)

    batch = spark.createDataFrame(
        _mk_rows(10, 16, 8, seed=12, base=7000),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    assert append_batch(batch, path, batch_id=1) is True
    assert check_graph_index(spark, path) == []
    assert check_vector_index(spark, path) == []
    for vc in ("text_emb", "img_emb"):
        q = [float(x) for x in batch.first()[vc]]
        top = knn_query_graph(spark, path, q, 1, exact=True, vec_col=vc).first()
        assert top["vec_id"] == 7000, vc


def test_engine_knn_metric_mismatch_guard(spark, tmp_path_factory):
    """Engine.knn must not silently answer in the artifact's space when
    the caller asked for a different metric: auto falls back to exact
    (correct in the REQUESTED metric), an explicit mode=graph refuses."""
    from columnar_spark.filters import Filter  # noqa: F401 (engine import path)
    from columnar_spark.table import Engine

    sf = str(tmp_path_factory.mktemp("metricguard"))
    path = f"{sf}/embeddings.parquet"
    df = spark.createDataFrame(
        _mk_rows(200, 8, 8, seed=5),
        "vec_id: long, embedding: array<float>, img_emb: array<float>",
    )
    df.write.parquet(path)
    build_graph_index(spark, df, path, vec_col="embedding", num_parts=2, metric="l2")
    eng = Engine(spark, sf)
    q = [float(x) for x in df.filter(F.col("vec_id") == 3).first()["embedding"]]

    # auto + cosine over an l2 artifact -> exact path, cosine answer
    got = eng.knn("embeddings", "embedding", q, k=3, metric="cosine").collect()
    from columnar_spark.operators.knn import knn_topk

    want = knn_topk(df, "embedding", q, 3, metric="cosine").collect()
    assert [(r["vec_id"], round(r["dist"], 9)) for r in got] == [
        (r["vec_id"], round(r["dist"], 9)) for r in want
    ]
    # forced graph + mismatched metric refuses loudly
    with pytest.raises(ValueError, match="serves metric"):
        eng.knn("embeddings", "embedding", q, k=3, metric="cosine", mode="graph")
    # matching metric serves from the graph
    top = eng.knn("embeddings", "embedding", q, k=1, metric="l2", mode="graph").first()
    assert top["vec_id"] == 3


def test_compaction_rerecords_per_attribute_sigs(spark, tmp_path_factory):
    """compact_table changes the table's file signature without changing
    content: EVERY per-attribute artifact's freshness sig must be
    re-recorded (a stale col=* sig would refuse that index forever) and
    the per-column code datasets compact too."""
    from columnar_spark.writer import compact_table

    path = str(tmp_path_factory.mktemp("compmulti") / "t.parquet")
    df = spark.createDataFrame(
        _mk_rows(120, 16, 8, seed=8),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    df.repartition(6).write.parquet(path)
    for vc in ("text_emb", "img_emb"):
        build_graph_index(spark, df, path, vec_col=vc, num_parts=2, metric="l2")
        build_vector_index(spark, df, path, vec_col=vc, nlist=2, m=4, k=8)
    compact_table(spark, path, rows_per_split=1000)
    # fresh loads succeed for BOTH columns of BOTH artifact kinds
    for vc in ("text_emb", "img_emb"):
        assert load_vector_index(path, vec_col=vc) is not None, vc
        assert load_graph_index_meta(path, vec_col=vc) is not None, vc
    assert check_vector_index(spark, path) == []
    assert check_graph_index(spark, path) == []


def test_crash_rebuild_preserves_quantization_and_all_artifacts(spark, tmp_path_factory):
    """sidecars.rebuild (the crashed-mid-application recovery) must
    rebuild EVERY per-attribute artifact and preserve each graph's
    quantization ladder + frozen bounds (a raw-float rebuild of a q8
    artifact would silently quadruple it and break the oracle's
    code-space construction)."""
    from columnar_spark.sidecars import rebuild

    path = str(tmp_path_factory.mktemp("crashmulti") / "t.parquet")
    df = spark.createDataFrame(
        _mk_rows(150, 16, 8, seed=13),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    df.write.parquet(path)
    build_graph_index(
        spark, df, path, vec_col="text_emb", num_parts=2, metric="l2",
        quantize="q8",
    )
    build_graph_index(spark, df, path, vec_col="img_emb", num_parts=2, metric="l2")
    m0 = load_graph_index_meta(path, vec_col="text_emb")
    bounds0 = (m0["q8_lo"], m0["q8_hi"])

    # simulate the crashed batch: rows landed in the table, sidecars may
    # or may not have absorbed them -> recovery rebuilds from the table
    batch = spark.createDataFrame(
        _mk_rows(10, 16, 8, seed=14, base=9000),
        "vec_id: long, text_emb: array<float>, img_emb: array<float>",
    )
    batch.write.mode("append").parquet(path)
    rebuild(spark, path)

    m1 = load_graph_index_meta(path, vec_col="text_emb")
    assert m1["quantize"] == "q8" and (m1["q8_lo"], m1["q8_hi"]) == bounds0
    assert load_graph_index_meta(path, vec_col="img_emb")["quantize"] == "none"
    assert check_graph_index(spark, path) == []
    q = [float(x) for x in batch.first()["text_emb"]]
    top = knn_query_graph(spark, path, q, 1, exact=True, vec_col="text_emb").first()
    assert top["vec_id"] == 9000
