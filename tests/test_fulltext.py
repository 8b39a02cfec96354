"""Full-text retrieval: BM25 vs a python reference, persisted-index
parity, partition pruning of the term-bucketed sidecar, RRF fusion."""

import math

import pytest
from pyspark.sql import functions as F

from columnar_spark.operators import fulltext as FT

DOCS = [
    (1, "spark scan merge join fast fast table"),
    (2, "vector scan slow merge merge merge row"),
    (3, "the quick brown fox jumps over a lazy dog"),
    (4, "scan scan scan scan scan"),
    (5, "vector vector join table row column"),
    (6, "empty of matches entirely unrelated words"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_matches_python_reference(docs_df):
    query = "vector scan merge"
    got = {
        r["doc_id"]: r["score"]
        for r in FT.bm25_scores(docs_df, FT.tokenize_query(query)).collect()
    }
    want = FT.bm25_reference(DOCS, query)
    assert set(got) == set(want)
    for d, s in want.items():
        assert math.isclose(got[d], s, rel_tol=1e-12), (d, got[d], s)


def test_bm25_search_order_and_k(docs_df):
    rows = FT.bm25_search(docs_df, "vector scan merge", k=3).collect()
    assert len(rows) == 3
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # doc 4 is pure "scan" with max tf; doc 2 hits all three terms.
    assert rows[0]["doc_id"] in (2, 4)


def test_bm25_empty_query_raises(docs_df):
    with pytest.raises(ValueError):
        FT.bm25_scores(docs_df, [])


def test_bm25_unknown_terms_empty(docs_df):
    assert FT.bm25_scores(docs_df, ["zzz", "qqq"]).count() == 0


def test_persisted_index_parity_and_pruning(spark, tmp_path):
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(p)
    FT.write_text_index(spark, p)

    live = FT.bm25_search(spark.read.parquet(p), "vector scan merge", k=5).collect()
    idx = FT.bm25_search_indexed(spark, p, "vector scan merge", k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in live] == [
        (r["doc_id"], r["score"]) for r in idx
    ]

    # partition pruning: the postings scan must carry a PartitionFilters
    # entry on tb (bucket of the query terms), not read all 64 buckets.
    loaded = FT.load_text_index(spark, p)
    postings = loaded[0].filter(F.col("tb").isin([0, 1])).filter(
        F.col("term").isin(["vector"])
    )
    plan = postings._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_incremental_like_rebuild_matches(spark, tmp_path):
    """write_text_index is a full rebuild; meta stats must agree with a
    direct computation."""
    p = str(tmp_path / "d2.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(p)
    FT.write_text_index(spark, p)
    _, lengths, meta = FT.load_text_index(spark, p)
    n, total = lengths.agg(F.count(F.lit(1)), F.sum("dl")).first()
    assert meta["n_docs"] == n
    assert math.isclose(meta["avgdl"], total / n)


def test_rrf_fusion(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    b = spark.createDataFrame([(3, 1), (1, 2), (9, 3)], "doc_id long, rank long")
    rows = FT.rrf_fuse(a, b, k=4).collect()
    got = {r["doc_id"]: r["rrf"] for r in rows}
    # doc 1: 1/61 + 1/62; doc 3: 1/63 + 1/61; doc 2: 1/62; doc 9: 1/63
    assert math.isclose(got[1], round(1 / 61 + 1 / 62, 6), abs_tol=1e-9)
    assert math.isclose(got[3], round(1 / 63 + 1 / 61, 6), abs_tol=1e-9)
    assert rows[0]["doc_id"] == 1  # highest fused score
    assert set(got) == {1, 2, 3, 9}


def test_facet_counts(docs_df):
    docs = docs_df.withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("fr")
    )
    rows = FT.facet_counts(docs, "vector scan", ["lang"]).collect()
    got = {(r["facet"], r["value"]): r["cnt"] for r in rows}
    # matching docs: 1,2,4 (scan), 2,5 (vector) -> {1,2,4,5}
    assert got[("lang", "en")] == 2  # docs 2, 4
    assert got[("lang", "fr")] == 2  # docs 1, 5


def test_append_half_equals_full_rebuild(spark, tmp_path):
    """Incremental maintenance proof: build the index on half the corpus,
    append the other half -> postings/lengths/meta identical to a
    one-shot build on the full corpus."""
    full = spark.createDataFrame(DOCS, "doc_id long, text string")
    half1 = full.filter(F.col("doc_id") <= 3)
    half2 = full.filter(F.col("doc_id") > 3)

    p_inc = str(tmp_path / "inc.parquet")
    half1.write.parquet(p_inc)
    FT.write_text_index(spark, p_inc)
    # grow the table, then the index
    half2.write.mode("append").parquet(p_inc)
    FT.append_to_text_index(spark, p_inc, half2)

    p_full = str(tmp_path / "full.parquet")
    full.write.parquet(p_full)
    FT.write_text_index(spark, p_full)

    pa, la, _ = FT.load_text_index(spark, p_inc)
    pb, lb, _ = FT.load_text_index(spark, p_full)
    for part, a, b in (("postings", pa, pb), ("lengths", la, lb)):
        assert sorted(map(tuple, a.select(*b.columns).collect())) == sorted(
            map(tuple, b.collect())
        ), part
    _, _, ma = FT.load_text_index(spark, p_inc)
    _, _, mb = FT.load_text_index(spark, p_full)
    assert ma["n_docs"] == mb["n_docs"] and ma["total_dl"] == mb["total_dl"]
    assert ma["avgdl"] == mb["avgdl"]

    # scores identical through the incremental index
    inc = FT.bm25_search_indexed(spark, p_inc, "vector scan merge", k=5).collect()
    one = FT.bm25_search_indexed(spark, p_full, "vector scan merge", k=5).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in one]


def test_check_text_index_clean_and_detects_drift(spark, tmp_path):
    from columnar_spark.operators.fulltext import check_text_index

    p = str(tmp_path / "chk.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(p)
    FT.write_text_index(spark, p)
    assert check_text_index(spark, p) == []

    # drift: append docs to the TABLE but not the index
    spark.createDataFrame([(99, "drifted doc")], "doc_id long, text string").write.mode(
        "append"
    ).parquet(p)
    errs = check_text_index(spark, p)
    assert errs and any("n_docs" in e or "rows" in e for e in errs)


def test_check_table_walks_text_index(spark, tmp_path):
    from columnar_spark.writer import check_table

    p = str(tmp_path / "wtbl.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(p)
    FT.write_text_index(spark, p)
    errs = check_table(spark, p)
    # stats manifest is absent for a bare write, but no text-index errors
    assert not any("text index" in e for e in errs)


def test_snippets(spark):
    df = spark.createDataFrame(
        [(1, "x" * 30 + " vector rest of the text here and more padding"),
         (2, "Vector at start"), (3, "no match")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in FT.snippets(df, "vector", before=5, after=10).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["off"] == 1
    assert rows[2]["snippet"].startswith("Vector")
    assert rows[1]["off"] == 32
    # window: 5 before + 6 term + 10 after
    assert len(rows[1]["snippet"]) == 21


def test_keyword_suggest(docs_df):
    rows = FT.keyword_suggest(docs_df, "s").collect()
    terms = [r["term"] for r in rows]
    assert "scan" in terms and "spark" in terms and "slow" in terms
    assert all(t.startswith("s") for t in terms)
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    scan = next(r for r in rows if r["term"] == "scan")
    assert scan["df"] == 3 and scan["total_tf"] == 7  # docs 1,2,4; tfs 1+1+5


def test_spell_suggest(docs_df):
    rows = FT.spell_suggest(docs_df, "scann", max_dist=2).collect()
    assert rows[0]["term"] == "scan" and rows[0]["dist"] == 1
    assert all(r["dist"] <= 2 for r in rows)


def test_sidecar_serves_all_retrieval_ops(spark, tmp_path):
    """phrase / NEAR / boolean / suggest / batch-BM25 served from the
    positional .ftidx sidecar must equal the on-the-fly build."""
    p = str(tmp_path / "allops.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(p)
    FT.write_text_index(spark, p)
    postings, lengths, meta = FT.load_text_index(spark, p)
    assert "positions" in postings.columns
    df = spark.read.parquet(p)

    def rows(d):
        return sorted(map(tuple, d.collect()))

    assert rows(FT.phrase_match(df, "vector scan", postings=postings)) == rows(
        FT.phrase_match(df, "vector scan")
    )
    assert rows(FT.near_match(df, "merge", "row", 3, postings=postings)) == rows(
        FT.near_match(df, "merge", "row", 3)
    )
    assert rows(FT.match_boolean(df, "vector AND NOT fox", postings=postings)) == rows(
        FT.match_boolean(df, "vector AND NOT fox")
    )
    assert rows(FT.keyword_suggest(df, "s", postings=postings)) == rows(
        FT.keyword_suggest(df, "s")
    )
    assert rows(
        FT.bm25_batch_search(
            df, [("q", "vector scan")], k=5,
            postings=postings.select("term", "doc_id", "tf"), lengths=lengths,
        )
    ) == rows(FT.bm25_batch_search(df, [("q", "vector scan")], k=5))

    from columnar_spark.operators.fulltext import check_text_index

    assert check_text_index(spark, p) == []


def test_bm25f_field_weights(spark):
    """A title hit must outscore the same hit in the body; python
    reference parity on the full formula."""
    import math

    docs = [
        (1, "vector search", "other words here entirely"),
        (2, "other words", "vector search in the body text"),
        (3, "nothing", "nothing again"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, title string, body string")
    out = {
        r["doc_id"]: r["score"]
        for r in FT.bm25f_scores(
            df, ["vector"], {"title": ("title", 2.0), "body": ("body", 1.0)}
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1] > out[2]

    # python reference
    import re

    def toks(s):
        return [t for t in re.split(FT.TOKEN_SPLIT_RE, s.lower()) if t]

    w = {"title": 2.0, "body": 1.0}
    wtf = {}
    wlen = {}
    for i, title, body in docs:
        wtf[i] = w["title"] * toks(title).count("vector") + w["body"] * toks(body).count("vector")
        wlen[i] = w["title"] * len(toks(title)) + w["body"] * len(toks(body))
    n = len(docs)
    avg = sum(wlen.values()) / n
    dfreq = sum(1 for v in wtf.values() if v > 0)
    idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
    for i in (1, 2):
        want = idf * wtf[i] / (1.2 * (0.25 + 0.75 * wlen[i] / avg) + wtf[i])
        assert math.isclose(out[i], want, rel_tol=1e-12)


# ---------------------------------------------- driver-served BM25 search

TIED = DOCS + [
    (7, "vector scan merge"),
    (8, "vector scan merge"),
    (9, "the tables scanned rows merges"),
    (10, "scans of vectors and the joins"),
]
QUERIES = ["vector scan merge", "scan", "the tables rows", "fox dog", "zzz qqq", "merges joins vectors"]


def _driver_equals_plan(spark, monkeypatch, path, query, k):
    """bm25_search_indexed served on the driver equals the Spark plan
    (forced by a zero row cap) row for row, with the same schema."""
    from columnar_spark import localrel

    drv = FT.bm25_search_indexed(spark, path, query, k=k)
    assert localrel.local_row_count(drv) is not None, "not served on the driver"
    with monkeypatch.context() as m:
        m.setattr(localrel, "MAX_LOCAL_ROWS", 0)
        plan = FT.bm25_search_indexed(spark, path, query, k=k)
        assert localrel.local_row_count(plan) is None
        want = [tuple(r) for r in plan.collect()]
    assert drv.schema == plan.schema
    got = [tuple(r) for r in drv.collect()]
    assert got == want, (query, k)
    return got


@pytest.mark.parametrize(
    "analyzer", [None, {"stem": True, "stopwords": ["the", "of", "and", "a"]}], ids=["plain", "stem_stop"]
)
def test_bm25_driver_path_matches_spark_plan(spark, tmp_path, monkeypatch, analyzer):
    p = str(tmp_path / "tied.parquet")
    spark.createDataFrame(TIED, "doc_id long, text string").write.parquet(p)
    FT.write_text_index(spark, p, analyzer=analyzer)
    for q in QUERIES:
        for k in (3, 50):  # 50 > every match count
            _driver_equals_plan(spark, monkeypatch, p, q, k)
    # score ties order by doc_id
    rows = _driver_equals_plan(spark, monkeypatch, p, "vector scan merge", 10)
    tied = [d for d, s in rows if s == dict(rows)[7]]
    assert tied == sorted(tied) and {7, 8} <= set(tied)
    # no matching term: empty frame, same schema
    assert _driver_equals_plan(spark, monkeypatch, p, "zzz qqq", 5) == []


def test_bm25_driver_path_reads_committed_deltas(spark, tmp_path, monkeypatch):
    full = spark.createDataFrame(TIED, "doc_id long, text string")
    p = str(tmp_path / "inc.parquet")
    full.filter(F.col("doc_id") <= 4).write.parquet(p)
    FT.write_text_index(spark, p)
    for lo, hi in ((5, 7), (8, 10)):
        batch = full.filter(F.col("doc_id").between(lo, hi))
        batch.write.mode("append").parquet(p)
        FT.append_to_text_index(spark, p, batch)
    assert len(FT.text_index_meta(p)["deltas"]) == 2
    p_full = str(tmp_path / "full.parquet")
    full.write.parquet(p_full)
    FT.write_text_index(spark, p_full)
    for q in QUERIES:
        got = _driver_equals_plan(spark, monkeypatch, p, q, 10)
        assert got == [tuple(r) for r in FT.bm25_search_indexed(spark, p_full, q, k=10).collect()]


@pytest.mark.parametrize("id_type", ["int", "string"])
def test_bm25_driver_path_keeps_doc_id_type(spark, tmp_path, monkeypatch, id_type):
    p = str(tmp_path / f"ids_{id_type}.parquet")
    rows = [((str(d) if id_type == "string" else d), t) for d, t in TIED]
    spark.createDataFrame(rows, f"doc_id {id_type}, text string").write.parquet(p)
    FT.write_text_index(spark, p)
    got = _driver_equals_plan(spark, monkeypatch, p, "vector scan merge", 10)
    assert got and all(isinstance(d, str if id_type == "string" else int) for d, _s in got)
    assert FT.bm25_search_indexed(spark, p, "scan", k=3).schema["doc_id"].dataType.simpleString() == id_type


def test_engine_bm25_search_runs_no_spark_job(spark, tmp_path, spark_cost):
    from columnar_spark.table import Engine

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(TIED, "doc_id long, text string").write.parquet(p)
    FT.write_text_index(spark, p)
    eng = Engine(spark, str(tmp_path))
    eng.search("docs", "vector scan", k=3).collect()  # warm the session
    rows, jobs, ticks = spark_cost(lambda: eng.search("docs", "vector scan merge", k=5).collect())
    assert (jobs, ticks) == (0, 0)
    ref = FT.bm25_reference(TIED, "vector scan merge")
    want = sorted(ref, key=lambda d: (-round(ref[d], 6), d))[:5]
    assert [r["doc_id"] for r in rows] == want
    for r in rows:
        assert math.isclose(r["score"], ref[r["doc_id"]], abs_tol=1e-6)


def test_bm25_driver_path_matches_plan_on_a_larger_corpus(spark, tmp_path, monkeypatch):
    """400 documents over a 10-word vocabulary (many equal scores, so the
    top-k cut falls inside tie groups), with doc ids repeated inside the
    base and again in a committed delta (the doc_id join fans out)."""
    import random

    rnd = random.Random(7)
    vocab = "alpha beta gamma delta eps zeta eta theta iota kappa".split()

    def doc(i):
        return (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 6))))

    p = str(tmp_path / "larger.parquet")
    spark.createDataFrame([doc(i % 350) for i in range(400)], "doc_id long, text string").write.parquet(p)
    FT.write_text_index(spark, p)
    batch = spark.createDataFrame([doc(i) for i in range(40)], "doc_id long, text string")
    batch.write.mode("append").parquet(p)
    FT.append_to_text_index(spark, p, batch)
    for q in ("alpha", "beta gamma", "kappa iota eta", "zeta omega"):
        for k in (1, 37):
            assert _driver_equals_plan(spark, monkeypatch, p, q, k)


def test_bm25_top_k_rounds_before_the_cut():
    """A document whose unrounded score is just below the k-th best but
    rounds to the same 6-dp value wins the cut on doc_id, as in the
    Spark plan's ORDER BY round(score, 6) DESC, doc_id."""
    import numpy as np
    import pyarrow as pa

    ids = pa.array([5, 3, 9, 1], pa.int64())
    scores = np.array([0.1234569, 0.1234565, 0.5, 0.1234549])
    assert FT._top_k_rounded(ids, scores, 2) == [(9, 0.5), (3, 0.123457)]
    assert FT._top_k_rounded(ids, scores, 3) == [(9, 0.5), (3, 0.123457), (5, 0.123457)]
    assert FT._top_k_rounded(ids, scores, 9) == [(9, 0.5), (3, 0.123457), (5, 0.123457), (1, 0.123455)]
