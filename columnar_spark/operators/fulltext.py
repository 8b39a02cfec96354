"""Full-text retrieval: inverted index, BM25 ranking, hybrid fusion.

The reference's secondary index maps value -> row-id postings
(secondary/builder.cpp:849+, secondary/secondary.cpp load path); the
inverted text index is the same artifact with *terms* as the values and
term frequency riding along — the structure the reference's parent
project pairs with the columnar store for ranked keyword retrieval.
Spark-first shape:

- postings are an ordinary DataFrame (term, doc_id, tf) built by ONE
  explode -> groupBy pass (a single shuffle keyed on (term, doc_id));
- a per-query scan filters `term IN (<query terms>)` BEFORE any
  aggregation, so the plan touches |query| posting lists, never the
  whole index (equality pushdown reaches the parquet scan of the
  persisted sidecar, and the sidecar is hive-partitioned by a term-hash
  bucket so partition pruning drops 63/64 of the files up front);
- BM25 scoring is pure codegen arithmetic; the per-document sum folds
  contributions in ascending-term order (F.aggregate over a sorted
  struct array) so the float result is reproducible bit-for-bit on any
  partitioning and matches an engine that sums in the same order.

Scale posture: the index build is linear in corpus tokens with map-side
combine; a query shuffles only the filtered postings (|terms| lists).
Document-length norms live in a (doc_id, dl) table that joins on the
already-shuffled doc_id key. Nothing here collects the corpus to the
driver; `N` / `avgdl` travel as a broadcast 1-row cross join.

Point queries on small sidecars: a POSIX `.ftidx` of at most
`localrel.MAX_LOCAL_ROWS` documents serves `bm25_search_indexed` on the
driver — the query terms' bucket files and the lengths rows read with
pyarrow, scored with the same algebra in vectorized numpy, no Spark job
and no Python worker (parity with the Spark plan pinned row for row).
Measured on 4 vCPUs it costs less CPU than the plan up to that bound,
common terms included (see bm25_search_indexed). Larger and
object-store sidecars keep the plan above.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Lucene-style BM25 defaults.
K1 = 1.2
B = 0.75
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokenize(text: Column) -> Column:
    """Lowercase alphanumeric tokenizer; '' never appears as a token."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != "")


def stem_s(t: Column) -> Column:
    """Harman S-stemmer as a pure codegen expression — the light-touch
    English morphology pass (Manticore morphology=stem_en's cheap tier):
    -ies -> -y (not -eies/-aies), -es -> -e (not -aes/-ees/-oes),
    -s dropped (not -us/-ss). Order matters; first matching rule wins."""
    ln = F.length(t)
    return (
        F.when(
            t.endswith("ies") & ~t.endswith("eies") & ~t.endswith("aies") & (ln > 4),
            F.concat(t.substr(F.lit(1), ln - 3), F.lit("y")),
        )
        .when(
            t.endswith("es") & ~t.endswith("aes") & ~t.endswith("ees") & ~t.endswith("oes") & (ln > 3),
            t.substr(F.lit(1), ln - 1),
        )
        .when(t.endswith("s") & ~t.endswith("us") & ~t.endswith("ss") & (ln > 2), t.substr(F.lit(1), ln - 1))
        .otherwise(t)
    )


def tokenize_analyzed(
    text: Column, stem: bool = False, stopwords: tuple[str, ...] = ()
) -> Column:
    """Tokenizer + analyzer chain: lowercase split, optional stopword
    removal, optional S-stemming — all array expressions, zero UDFs.
    Stopwords filter BEFORE stemming (the conventional order: stopword
    lists are surface forms)."""
    toks = tokenize(text)
    if stopwords:
        sw = F.array(*[F.lit(w) for w in stopwords])
        toks = F.filter(toks, lambda t: ~F.array_contains(sw, t))
    if stem:
        toks = F.transform(toks, stem_s)
    return toks


def stem_s_py(t: str) -> str:
    """Python twin of stem_s for tests/oracles."""
    if t.endswith("ies") and not t.endswith(("eies", "aies")) and len(t) > 4:
        return t[:-3] + "y"
    if t.endswith("es") and not t.endswith(("aes", "ees", "oes")) and len(t) > 3:
        return t[:-1]
    if t.endswith("s") and not t.endswith(("us", "ss")) and len(t) > 2:
        return t[:-1]
    return t


def tokenize_query(query: str) -> list[str]:
    """Driver-side twin of `tokenize` for the (tiny) query string.
    Deduplicated, sorted — BM25 scores each distinct term once."""
    import re

    return sorted({t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t})


def _toks(text: Column, analyzer: dict | None) -> Column:
    """tokenize, or the analyzer chain when one is configured
    ({"stem": bool, "stopwords": [..]} — the persisted-index meta
    format, so index build and query agree by construction)."""
    if not analyzer:
        return tokenize(text)
    return tokenize_analyzed(
        text,
        stem=bool(analyzer.get("stem")),
        stopwords=tuple(analyzer.get("stopwords") or ()),
    )


def analyze_query_terms(terms: list[str], analyzer: dict | None) -> list[str]:
    """Driver-side twin of _toks for (tiny) query term lists."""
    if not analyzer:
        return terms
    sw = set(analyzer.get("stopwords") or ())
    out = [t for t in terms if t not in sw]
    if analyzer.get("stem"):
        out = [stem_s_py(t) for t in out]
    return sorted(set(out))


def doc_lengths(
    df: DataFrame, id_col: str, text_col: str, analyzer: dict | None = None
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(_toks(F.col(text_col), analyzer)).alias("dl"),
    )


def build_postings(
    df: DataFrame, id_col: str, text_col: str, analyzer: dict | None = None
) -> DataFrame:
    """(term, doc_id, tf) — one explode + one partial-aggregated shuffle."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_toks(F.col(text_col), analyzer)).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _idf(n_docs: Column, df_term: Column) -> Column:
    # Lucene BM25 idf: ln(1 + (N - df + .5)/(df + .5)) — strictly positive
    # even for terms present in every document (this corpus's regime).
    return F.log(
        F.lit(1.0)
        + (n_docs.cast("double") - df_term.cast("double") + F.lit(0.5))
        / (df_term.cast("double") + F.lit(0.5))
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    postings: DataFrame | None = None,
    lengths: DataFrame | None = None,
) -> DataFrame:
    """BM25 score per matching document: (doc_id, score).

    `postings`/`lengths` override the on-the-fly build with a persisted
    index (see write_text_index) — same downstream plan either way.
    Determinism contract: contributions fold in ascending-term order, so
    the double is independent of shuffle partitioning.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("empty query")
    if postings is None:
        postings = build_postings(df, id_col, text_col)
    if lengths is None:
        lengths = doc_lengths(df, id_col, text_col)

    # Corpus stats as a broadcast 1-row frame (never a driver collect of
    # data, never a single-partition window).
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )

    hits = postings.filter(F.col("term").isin(terms))
    df_term = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    contrib = (
        hits.join(F.broadcast(df_term), "term")
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            _idf(F.col("n_docs"), F.col("df"))
            * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
            / (
                F.col("tf").cast("double")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
                )
            ),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )


def bm25_search(
    df: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """Top-k ranked retrieval. The ORDER BY is on the 6-dp ROUNDED score
    (desc) with doc_id tiebreak, so the k-cutoff is identical on any
    engine computing the same formula."""
    scores = bm25_scores(df, tokenize_query(query), id_col, text_col, **kw)
    return (
        scores.select("doc_id", (F.round("score", 6) + F.lit(0.0)).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (each carrying a dense
    1-based `rank` column, unique non-null ids — top-N lists by
    construction): rrf = 1/(c+rank_a) + 1/(c+rank_b), absent list
    contributes 0. Fixed a-then-b addition order keeps the double
    deterministic.

    Shape: union + one groupBy instead of a FULL OUTER join — Spark
    cannot broadcast a full outer join, so the join form forces a
    SortMergeJoin with two exchanges and sorts on what are <= N-row
    sides; the aggregate form is one tiny exchange. Row-identical for
    unique-id inputs (the operator's contract), same rrf expression on
    the same values."""
    a = ranked_a.select(
        F.col(id_col),
        F.col("rank").alias("__rnk"),
        F.lit(True).alias("__is_a"),
    )
    b = ranked_b.select(
        F.col(id_col),
        F.col("rank").alias("__rnk"),
        F.lit(False).alias("__is_a"),
    )
    fused = (
        a.unionByName(b)
        .groupBy(id_col)
        .agg(
            F.max(F.when(F.col("__is_a"), F.col("__rnk"))).alias("rank_a"),
            F.max(F.when(~F.col("__is_a"), F.col("__rnk"))).alias("rank_b"),
        )
        .withColumn(
            "rrf",
            F.coalesce(F.lit(1.0) / (F.lit(float(c)) + F.col("rank_a").cast("double")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(float(c)) + F.col("rank_b").cast("double")), F.lit(0.0)),
        )
    )
    return (
        fused.select(
            id_col,
            (F.round("rrf", 6) + F.lit(0.0)).alias("rrf"),
            F.col("rank_a").cast("long").alias("rank_a"),
            F.col("rank_b").cast("long").alias("rank_b"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(k)
    )


def facet_counts(
    df: DataFrame,
    query: str,
    facet_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    min_should_match: int = 1,
) -> DataFrame:
    """Faceted search: per-facet value counts over the documents matching
    >= min_should_match distinct query terms. One match pass (postings
    filter + distinct-term count), then a union of tiny per-facet
    aggregates — the matching-doc set is computed once and reused."""
    terms = tokenize_query(query)
    match = (
        build_postings(df, id_col, text_col)
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .filter(F.col("n_terms") >= min_should_match)
        .select("doc_id")
    )
    hits = df.join(match, df[id_col] == match["doc_id"], "left_semi")
    parts = [
        hits.groupBy(F.lit(c).alias("facet"), F.col(c).cast("string").alias("value")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        for c in facet_cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------ persisted index sidecar

def text_index_path(table_path: str) -> str:
    return table_path.rstrip("/") + ".ftidx"


N_TERM_BUCKETS = 64


def write_text_index(
    spark: SparkSession,
    table_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fmt: str = "parquet",
    analyzer: dict | None = None,
) -> None:
    """Persist the inverted index beside the table (like `.vidx`):
    `<table>.ftidx/postings/` hive-partitioned by tb=xxhash64(term)%64 —
    a query's term list prunes to |terms| partitions before any IO —
    plus `lengths/` and a `meta.json` with (n_docs, avgdl)."""
    from columnar_spark import objstore

    objstore.require_transport(table_path)
    df = getattr(spark.read, fmt)(table_path)
    real_root = text_index_path(table_path)
    on_store = objstore.is_object_store(table_path)
    if on_store:
        # generation-dir commit (objstore.py): build the whole tree —
        # base postings/lengths + meta.json — in POSIX staging, upload
        # complete, publish with one pointer PUT. The delta-append
        # protocol below then operates INSIDE the live generation.
        import tempfile

        root = tempfile.mkdtemp(prefix="ftidx-build-")
    else:
        root = real_root
    # positional postings (hitlists): tf-only consumers (BM25, boolean,
    # suggest) just don't read the positions column — parquet column
    # pruning makes that free — while phrase/NEAR get index service too
    postings = build_positional_postings(df, id_col, text_col, analyzer).withColumn(
        "tb", F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int")
    )
    # one file per bucket partition (repartition on tb), not one file
    # per shuffle task per bucket — a term lookup opens exactly one
    # file. At 100 TB-corpus scale, size this with repartition(n, "tb")
    # so each bucket splits across n/64 files while staying colocated.
    postings.repartition(N_TERM_BUCKETS, "tb").write.mode("overwrite").partitionBy(
        "tb"
    ).parquet(f"{root}/postings")
    lengths = doc_lengths(df, id_col, text_col, analyzer)
    lengths.write.mode("overwrite").parquet(f"{root}/lengths")
    n, total = lengths.agg(F.count(F.lit(1)), F.sum("dl")).first()
    _commit_text_meta(
        root,
        {
            # empty table (CREATE TABLE pre-registration, TRUNCATE):
            # zeroed counters, appends take it from here
            "n_docs": int(n),
            "total_dl": int(total or 0),
            "avgdl": (total / n) if n else 0.0,
            "text_col": text_col,
            "id_col": id_col,
            "analyzer": analyzer,
        },
    )
    if on_store:
        import shutil as _sh

        objstore.publish_tree(root, real_root)
        _sh.rmtree(root, ignore_errors=True)


def live_text_index(table_path: str) -> "tuple[str, dict] | None":
    """(live root, meta.json) of the table's text sidecar, or None if it
    has none — one json.load, no DataFrame construction."""
    from columnar_spark import objstore

    root = objstore.resolve_tree(text_index_path(table_path))
    if not os.path.isdir(f"{root}/postings"):
        return None
    meta = objstore.read_json(root, "meta.json")
    return None if meta is None else (root, meta)


def text_index_meta(table_path: str) -> dict | None:
    """The sidecar's meta.json alone (text_col/id_col/analyzer/counters).
    Use this when only the metadata is needed (snippet column resolution,
    SHOW CREATE TABLE); load_text_index builds postings/lengths frames
    per delta segment."""
    live = live_text_index(table_path)
    return None if live is None else live[1]


def load_text_index(
    spark: SparkSession, table_path: str, live: "tuple[str, dict] | None" = None
):
    """-> (postings, lengths, meta) or None if no sidecar exists. `live`
    is live_text_index's answer when the caller has already read it.

    Postings/lengths are the base segment UNION the COMMITTED delta
    segments listed in meta['deltas'] — delta dirs not (yet) listed in
    meta are uncommitted leftovers of a failed append attempt and are
    invisible (meta.json is the commit point; see append_to_text_index)."""
    import glob as _glob

    live = live or live_text_index(table_path)
    if live is None:
        return None
    root, meta = live
    if _glob.glob(f"{root}/postings/**/*.parquet", recursive=True):
        postings = spark.read.parquet(f"{root}/postings")
        lengths = spark.read.parquet(f"{root}/lengths")
    else:
        # zero-row base segment (CREATE TABLE pre-registration): a
        # partitioned write of 0 rows leaves no files to infer a schema
        # from — derive correctly-typed empty frames from the table
        id_col = meta.get("id_col", "doc_id")
        empty = spark.read.parquet(table_path).limit(0)
        postings = build_positional_postings(
            empty, id_col, meta["text_col"], meta.get("analyzer")
        ).withColumn("tb", F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int"))
        lengths = doc_lengths(empty, id_col, meta["text_col"], meta.get("analyzer"))
    for a in meta.get("deltas", []):
        postings = postings.unionByName(
            spark.read.parquet(f"{root}/postings_delta/{a}")
        )
        lengths = lengths.unionByName(spark.read.parquet(f"{root}/lengths_delta/{a}"))
    return postings, lengths, meta


def _commit_text_meta(root: str, meta: dict) -> None:
    """Atomic meta commit — the transaction point. POSIX layouts rename
    a temp file into place; object-store generations use the atomic
    single-object PUT (objstore.put_json). A crash before this call
    leaves the sidecar exactly as it was (staged delta dirs are
    unreferenced and invisible to load_text_index)."""
    from columnar_spark import objstore

    if objstore.is_object_store(root):
        objstore.put_json(root, "meta.json", meta)
        return
    tmp = f"{root}/meta.json.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, f"{root}/meta.json")


def append_to_text_index(
    spark: SparkSession,
    table_path: str,
    batch_df: DataFrame,
    batch_id: int | None = None,
) -> bool:
    """E9-style incremental maintenance: fold ONE batch of NEW documents
    into the persisted inverted index — O(batch tokens) work, no corpus
    re-tokenize. Returns True if the batch was applied, False if it was
    skipped as already applied.

    Replay-safe by a stage-then-commit protocol (foreachBatch sinks are
    invoked at-least-once, so a retried batch must not double-index):
    the batch's postings/lengths land in fresh per-attempt delta dirs
    (overwrite — never touching the base segment), and only the final
    atomic meta.json rename makes them visible, recording the attempt
    in meta['deltas'] and — when `batch_id` is given (the streaming
    epoch id) — in meta['applied_batches'] so a retry of an
    already-committed batch is a no-op. A crash mid-append leaves only
    an unreferenced delta dir, swept by compact_text_index.

    Meta counters are associative (n_docs, total_dl), so batch
    boundaries are invisible — append_half == one-shot rebuild,
    pytest-pinned."""
    import uuid

    from columnar_spark import objstore

    root = objstore.resolve_tree(text_index_path(table_path))
    meta = objstore.read_json(root, "meta.json")
    if meta is None:
        raise FileNotFoundError(f"no text index meta under {root}")
    if batch_id is not None and str(batch_id) in meta.get("applied_batches", {}):
        return False
    id_col, text_col = meta.get("id_col", "doc_id"), meta["text_col"]
    analyzer = meta.get("analyzer")
    attempt = uuid.uuid4().hex

    postings = build_positional_postings(batch_df, id_col, text_col, analyzer).withColumn(
        "tb", F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int")
    )
    if objstore.is_object_store(root):
        # rename-free delta-dir upload (fresh dirs, PUT-only)
        objstore.append_parquet_tree(
            spark, postings, f"{root}/postings_delta/{attempt}",
            partition_by="tb",
        )
        objstore.append_parquet_tree(
            spark, doc_lengths(batch_df, id_col, text_col, analyzer),
            f"{root}/lengths_delta/{attempt}",
        )
    else:
        postings.write.mode("overwrite").partitionBy("tb").parquet(
            f"{root}/postings_delta/{attempt}"
        )
        lengths = doc_lengths(batch_df, id_col, text_col, analyzer)
        lengths.write.mode("overwrite").parquet(f"{root}/lengths_delta/{attempt}")

    # Count from the WRITTEN delta so the committed counters can never
    # disagree with the committed rows (batch_df could be re-evaluated
    # non-identically between the write and a recount).
    n, total = (
        spark.read.parquet(f"{root}/lengths_delta/{attempt}")
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .first()
    )
    old_total = int(meta.get("total_dl", round(meta["avgdl"] * meta["n_docs"])))
    meta["n_docs"] += int(n)
    meta["total_dl"] = old_total + int(total or 0)
    meta["avgdl"] = meta["total_dl"] / meta["n_docs"] if meta["n_docs"] else 0.0
    meta.setdefault("deltas", []).append(attempt)
    if batch_id is not None:
        meta.setdefault("applied_batches", {})[str(batch_id)] = attempt
    _commit_text_meta(root, meta)
    return True


def compact_text_index(spark: SparkSession, table_path: str, fmt: str = "parquet") -> int:
    """Fold committed deltas back into a single base segment (a full
    rebuild from the table, which by the append contract already holds
    every indexed row) and sweep delta dirs — including unreferenced
    ones left by crashed append attempts. Returns the number of delta
    dirs removed. Mirrors the vector sidecar's compaction: appends are
    O(batch), compaction amortizes the segment count back to 1.

    Single-writer maintenance op (like the reference's segment rebuild):
    run it with the ingest stream stopped — appends racing a compaction
    can be lost when the rebuilt meta replaces theirs."""
    import shutil

    from columnar_spark import objstore

    root = objstore.resolve_tree(text_index_path(table_path))
    meta = objstore.read_json(root, "meta.json")
    if meta is None:
        return 0
    write_text_index(
        spark,
        table_path,
        text_col=meta["text_col"],
        id_col=meta.get("id_col", "doc_id"),
        fmt=fmt,
        analyzer=meta.get("analyzer"),
    )
    # Carry the replay ledger forward: the rebuild's fresh meta.json must
    # keep applied_batches, or a foreachBatch retry of an epoch committed
    # BEFORE the compaction (stream restart whose checkpoint commit
    # failed) would re-index documents the rebuilt base already contains,
    # silently skewing tf/df/avgdl. The attempt names the map pointed to
    # are gone with the deltas — only the batch-id keys gate replays.
    # the rebuild may have published a NEW generation — resolve again
    new_root = objstore.resolve_tree(text_index_path(table_path))
    if meta.get("applied_batches"):
        fresh = objstore.read_json(new_root, "meta.json")
        fresh["applied_batches"] = meta["applied_batches"]
        _commit_text_meta(new_root, fresh)
    if new_root != root:
        # object store: the old generation (deltas and all) is retired
        # wholesale by the pointer flip; GC happens via vacuum_tree
        return len(meta.get("deltas", []))
    removed = 0
    for sub in ("postings_delta", "lengths_delta"):
        d = f"{root}/{sub}"
        if os.path.isdir(d):
            removed += len(os.listdir(d)) if sub == "postings_delta" else 0
            shutil.rmtree(d)
    return removed


def check_text_index(spark: SparkSession, table_path: str, fmt: str = "parquet") -> list[str]:
    """Integrity audit of the .ftidx sidecar (reference A13's checker
    walking companion structures): lengths<->table id lockstep, postings
    ids subset of table ids, term buckets consistent with the hash, tf
    totals equal a live re-tokenize, meta counters in agreement."""
    loaded = load_text_index(spark, table_path)
    if loaded is None:
        return []
    postings, lengths, meta = loaded
    errors: list[str] = []
    df = getattr(spark.read, fmt)(table_path)
    id_col, text_col = meta.get("id_col", "doc_id"), meta["text_col"]

    n_table = df.count()
    n_len = lengths.count()
    if n_len != n_table or meta["n_docs"] != n_table:
        errors.append(
            f"text index: lengths rows {n_len} / meta n_docs {meta['n_docs']}"
            f" != table rows {n_table}"
        )
    ids = df.select(F.col(id_col).alias("doc_id"))
    orphans = postings.select("doc_id").distinct().join(ids, "doc_id", "left_anti").count()
    if orphans:
        errors.append(f"text index: {orphans} posting doc_ids absent from table")
    bad_bucket = postings.filter(
        F.col("tb") != F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int")
    ).count()
    if bad_bucket:
        errors.append(f"text index: {bad_bucket} postings in the wrong term bucket")
    stored_tf = postings.agg(F.sum("tf")).first()[0] or 0
    live_tf = (
        df.select(F.size(_toks(F.col(text_col), meta.get("analyzer"))).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
        or 0
    )
    if stored_tf != live_tf:
        errors.append(f"text index: tf total {stored_tf} != live token count {live_tf}")
    if "positions" in postings.columns:
        bad_pos = postings.filter(F.size("positions") != F.col("tf")).count()
        if bad_pos:
            errors.append(
                f"text index: {bad_pos} postings where len(positions) != tf"
            )
    total_dl = lengths.agg(F.sum("dl")).first()[0] or 0
    if meta.get("total_dl", total_dl) != total_dl:
        errors.append(
            f"text index: meta total_dl {meta['total_dl']} != lengths sum {total_dl}"
        )
    return errors


def bm25_search_indexed(
    spark: SparkSession,
    table_path: str,
    query: str,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Ranked retrieval off the persisted sidecar — no corpus scan at all.

    Driver path: a POSIX sidecar of at most localrel.MAX_LOCAL_ROWS
    documents (meta n_docs) is scored here, in no Spark job and with no
    Python worker. pyarrow reads only the query terms' `tb=` bucket
    directories of the base and committed delta postings (rows filtered
    to the terms) plus every lengths row; `_bm25_on_driver` applies
    bm25_scores' algebra exactly and returns a LocalRelation with the
    Spark plan's columns and types.

    Spark plan (larger or object-store sidecars): the postings filter
    `term IN (...)` combines with the tb partition column so the scan
    prunes to the buckets actually containing query terms. Both paths
    take the buckets from Spark's own pmod(xxhash64(term), 64) over a
    driver-local relation, which folds at optimization (no job)."""
    from columnar_spark import localrel, objstore

    live = live_text_index(table_path)
    if live is None:
        raise FileNotFoundError(f"no text index at {text_index_path(table_path)}")
    root, meta = live
    terms = analyze_query_terms(tokenize_query(query), meta.get("analyzer"))
    if not terms:
        raise ValueError("query empty after analysis")
    tdf = localrel.local_rows(spark, [(t,) for t in terms], "term string")
    buckets = sorted(
        {
            r["tb"]
            for r in tdf.select(
                F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int").alias("tb")
            ).collect()
        }
    )
    if not objstore.is_object_store(root) and meta.get("n_docs", math.inf) <= localrel.MAX_LOCAL_ROWS:
        out = _bm25_on_driver(spark, root, meta, terms, buckets, k, k1, b)
        if out is not None:
            return out
    postings, lengths, _meta = load_text_index(spark, table_path, live)
    pruned = postings.filter(F.col("tb").isin(buckets)).filter(F.col("term").isin(terms))
    scores = bm25_scores(
        df=None,  # index-only path: df never touched
        query_terms=terms,
        k1=k1,
        b=b,
        postings=pruned.select("term", "doc_id", "tf"),
        lengths=lengths,
    )
    return (
        scores.select("doc_id", (F.round("score", 6) + F.lit(0.0)).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _round6(x: float) -> float:
    """Spark's round(x, 6) + 0.0 on a double: HALF_UP on the decimal
    repr of x (BigDecimal.valueOf), then back to the nearest double."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)) + 0.0


def _bm25_on_driver(
    spark: SparkSession,
    root: str,
    meta: dict,
    terms: "list[str]",
    buckets: "list[int]",
    k: int,
    k1: float,
    b: float,
) -> "DataFrame | None":
    """bm25_search_indexed's driver path; None when the sidecar has no
    lengths file to type the result by (a zero-row base without deltas)
    or NULL tf / lengths where they matter — cases the Spark plan handles.

    Same relation algebra as the plan over the same rows, vectorized
    with pyarrow/numpy (elementwise IEEE double ops, as the JVM does
    them): df counts every matching posting row, the inner join on doc_id
    drops postings without a lengths row (and NULL ids) and fans out
    duplicate ones, n_docs and avgdl come from the lengths rows, idf is
    `_idf` evaluated by Spark over a driver-local relation (Spark's own
    log), each document folds its contributions in ascending
    (term, contrib) order from 0.0, and the rounded score orders
    (desc, doc_id asc) before the top-k cut (_top_k_rounded)."""
    import glob as _glob

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.types import DoubleType, StructField, StructType

    from columnar_spark import localrel

    segments = [("postings", "lengths")] + [
        (f"postings_delta/{a}", f"lengths_delta/{a}") for a in meta.get("deltas", [])
    ]
    len_files = [f for _p, ln in segments for f in sorted(_glob.glob(f"{root}/{ln}/*.parquet"))]
    if not len_files:
        return None
    len_schema = localrel.footer_schema(len_files[0])
    if len_schema is None:
        return None
    out_schema = StructType(
        [len_schema["doc_id"], StructField("score", DoubleType(), True)]
    )
    lengths = pa.concat_tables(
        pq.read_table(f, columns=["doc_id", "dl"]) for f in len_files
    )
    total = pc.sum(lengths["dl"]).as_py()
    if not total:
        return None
    n_docs = lengths.num_rows
    avgdl = float(total) / float(n_docs)

    post_files = [
        f
        for p, _ln in segments
        for tb in buckets
        for f in sorted(_glob.glob(f"{root}/{p}/tb={tb}/*.parquet"))
    ]
    hits = [
        pq.read_table(f, columns=["term", "doc_id", "tf"], filters=[("term", "in", terms)])
        for f in post_files
    ]
    hits = pa.concat_tables(hits) if hits else None
    if hits is None or hits.num_rows == 0:
        return localrel.local_rows(spark, [], out_schema)
    if hits["tf"].null_count:
        return None

    vc = pc.value_counts(hits["term"])
    df_term = sorted(zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()))
    idf_df = localrel.local_rows(
        spark, [(t, n_docs, n) for t, n in df_term], "term string, n_docs bigint, df bigint"
    ).select("term", _idf(F.col("n_docs"), F.col("df")).alias("idf"))
    idf = {r["term"]: r["idf"] for r in idf_df.collect()}
    ranked = sorted(idf)  # Python str order = Spark's binary string order

    joined = hits.join(lengths, keys="doc_id", join_type="inner")
    if joined.num_rows == 0:
        return localrel.local_rows(spark, [], out_schema)
    if joined["dl"].null_count:
        return None
    trank = pc.index_in(joined["term"], value_set=pa.array(ranked, joined["term"].type))
    tf = joined["tf"].to_numpy().astype(np.float64)
    dl = joined["dl"].to_numpy().astype(np.float64)
    idf_arr = np.array([idf[t] for t in ranked], dtype=np.float64)
    contrib = (
        idf_arr[trank.to_numpy()]
        * (tf * (k1 + 1.0))
        / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    )
    rows = pa.table(
        {"doc_id": joined["doc_id"], "trank": trank, "contrib": contrib}
    ).sort_by([("doc_id", "ascending"), ("trank", "ascending"), ("contrib", "ascending")])
    codes = pc.dictionary_encode(rows["doc_id"].combine_chunks()).indices.to_numpy()
    new = np.concatenate(([True], codes[1:] != codes[:-1]))
    gid = np.cumsum(new) - 1
    starts = np.flatnonzero(new)
    pos = np.arange(len(gid)) - starts[gid]
    c = rows["contrib"].to_numpy()
    acc = np.zeros(len(starts))
    for j in range(int(pos.max()) + 1):  # left fold, one position at a time
        at = pos == j
        acc[gid[at]] += c[at]
    return localrel.local_rows(
        spark, _top_k_rounded(rows["doc_id"].take(pa.array(starts)), acc, k), out_schema
    )


def _top_k_rounded(ids, scores, k: int) -> "list[tuple]":
    """[(doc_id, round(score, 6))] ordered (rounded score desc, doc_id
    asc), first k. Rounding is monotone and moves a score by at most
    5e-7, so only documents within 2e-6 of the k-th best unrounded score
    can make the cut and only those are rounded (exactly, _round6).
    `ids` is an Arrow array aligned with the numpy `scores`."""
    import numpy as np
    import pyarrow as pa

    if len(scores) > k > 0:
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        cand = np.flatnonzero(scores >= kth - 2e-6)
    else:
        cand = np.arange(len(scores))
    scored = [
        (d, _round6(x))
        for d, x in zip(ids.take(pa.array(cand)).to_pylist(), scores[cand].tolist())
    ]
    scored.sort(key=lambda r: (-r[1], r[0]))
    return scored[:k]


def bm25_batch_search(
    df: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    postings: DataFrame | None = None,
    lengths: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 for MANY queries in ONE pass: (query_id, doc_id,
    score, rank). The retrieval-pipeline scale path — Q queries against
    a 100 TB corpus must not run Q corpus scans.

    Shape: postings filter to the UNION of all query terms (one scan),
    per-term df computed once (query-independent), then a broadcast
    (query_id, term) join fans matching postings out to queries, and a
    per-query window takes top-k — partitioned by query_id, never a
    global sort. Scoring folds ascending-term like the single-query op,
    so per-(query, doc) scores are identical to running each query
    alone (pytest-pinned)."""
    if not queries:
        raise ValueError("no queries")
    spark = df.sparkSession if df is not None else postings.sparkSession
    pairs = sorted({(qid, t) for qid, qs in queries for t in tokenize_query(qs)})
    if not pairs:
        raise ValueError("all queries empty after tokenization")
    all_terms = sorted({t for _, t in pairs})
    qterms = spark.createDataFrame(pairs, "query_id string, term string")

    if postings is None:
        postings = build_postings(df, id_col, text_col)
    if lengths is None:
        lengths = doc_lengths(df, id_col, text_col)

    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    hits = postings.filter(F.col("term").isin(all_terms))
    df_term = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    contrib = (
        hits.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_term), "term")
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            _idf(F.col("n_docs"), F.col("df"))
            * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
            / (
                F.col("tf").cast("double")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl"))
            ),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select(
            "query_id",
            "doc_id",
            (F.round("score", 6) + F.lit(0.0)).alias("score_r"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("score_r").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ------------------------------------------------ phrase / proximity

def build_positional_postings(
    df: DataFrame, id_col: str, text_col: str, analyzer: dict | None = None
) -> DataFrame:
    """(term, doc_id, tf, positions) — positions are 0-based token
    offsets, sorted. Same single explode->aggregate shape as
    build_postings; the positions array is what the reference's parent
    engine keeps in its hitlists for phrase/proximity matching."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(_toks(F.col(text_col), analyzer)).alias("pos", "term"),
        )
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )


def phrase_match(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
    analyzer: dict | None = None,
) -> DataFrame:
    """Documents containing the exact phrase, with occurrence count:
    (doc_id, n_occurrences). Token i of the phrase must appear at
    start+i for every i — evaluated by intersecting the per-term
    position lists (|phrase| - 1 broadcast-size joins over postings
    already filtered to the phrase's terms; the base table never
    re-scans per term).

    Duplicate-term phrases work: each phrase slot joins the SAME
    posting row again under a slot alias.

    `analyzer` (the sidecar's meta['analyzer']) maps the phrase into
    the index's token stream: stopwords drop and terms stem IN ORDER,
    so adjacency is evaluated in the same analyzed position space the
    index stores (positions in a stopworded index are post-filter
    offsets)."""
    import re

    words = [t for t in re.split(TOKEN_SPLIT_RE, phrase.lower()) if t]
    if analyzer:
        sw = set(analyzer.get("stopwords") or ())
        words = [t for t in words if t not in sw]
        if analyzer.get("stem"):
            words = [stem_s_py(t) for t in words]
    if not words:
        raise ValueError("empty phrase")
    if postings is None:
        postings = build_positional_postings(df, id_col, text_col, analyzer)
    base = postings.filter(F.col("term").isin(sorted(set(words))))

    out = base.filter(F.col("term") == words[0]).select(
        "doc_id", F.col("positions").alias("starts")
    )
    def _at_offset(col_name: str, offset: int):
        # single-arg lambda: F.filter treats 2-arg lambdas as
        # (element, index), which is not what we want here
        return lambda s: F.array_contains(F.col(col_name), s + offset)

    for i, w in enumerate(words[1:], start=1):
        nxt = base.filter(F.col("term") == w).select(
            "doc_id", F.col("positions").alias(f"p{i}")
        )
        out = (
            out.join(nxt, "doc_id")
            .withColumn("starts", F.filter(F.col("starts"), _at_offset(f"p{i}", i)))
            .drop(f"p{i}")
            .filter(F.size("starts") > 0)
        )
    return out.select(
        "doc_id", F.size("starts").cast("long").alias("n_occurrences")
    )


def mmr_rerank(
    candidates: list[tuple],
    k: int,
    lam: float = 0.5,
) -> list[tuple]:
    """Maximal-marginal-relevance diversification over a TOP-N candidate
    list: greedily pick argmax lam*rel - (1-lam)*max_sim_to_selected.

    Driver-side by design: the input is the k-row result of a
    distributed retrieval (BM25/KNN top-N), not a table — same contract
    as the driver fetching a top-k. Each tuple is (id, rel, vec) with
    vec a float list; similarity is cosine. Deterministic: ties break on
    id ascending."""
    import math as m

    def cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = m.sqrt(sum(x * x for x in a))
        nb = m.sqrt(sum(x * x for x in b))
        return dp / (na * nb) if na > 0 and nb > 0 else 0.0

    remaining = sorted(candidates, key=lambda t: (-t[1], t[0]))
    selected: list[tuple] = []
    while remaining and len(selected) < k:
        best = None
        best_score = None
        for cand in remaining:
            penalty = max((cos(cand[2], s[2]) for s in selected), default=0.0)
            score = lam * cand[1] - (1.0 - lam) * penalty
            if best is None or score > best_score or (
                score == best_score and cand[0] < best[0]
            ):
                best, best_score = cand, score
        selected.append(best)
        remaining.remove(best)
    return selected


def near_match(
    df: DataFrame,
    term_a: str,
    term_b: str,
    slop: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
    analyzer: dict | None = None,
) -> DataFrame:
    """Proximity operator (Manticore NEAR/N): documents where term_a and
    term_b occur within `slop` token positions of each other, with the
    closest observed gap: (doc_id, min_gap). Two posting lists join on
    doc_id; the pairwise position check is a codegen'd nested
    array-exists, never an explode of positions.

    `analyzer` stems the two query terms into the index's term space;
    a stopword query term is absent from a stopworded index, so the
    result is correctly empty."""
    if postings is None:
        postings = build_positional_postings(df, id_col, text_col, analyzer)
    ta, tb = term_a.lower(), term_b.lower()
    if analyzer and analyzer.get("stem"):
        ta, tb = stem_s_py(ta), stem_s_py(tb)
    a = postings.filter(F.col("term") == ta).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = postings.filter(F.col("term") == tb).select(
        "doc_id", F.col("positions").alias("pb")
    )
    joined = a.join(b, "doc_id")
    # min over all |p-q| via a fold (arrays are per-doc hit lists, small
    # relative to the corpus; the fold is jvm-side, no shuffle)
    min_gap = F.aggregate(
        F.flatten(
            F.transform(
                F.col("pa"),
                lambda p: F.transform(F.col("pb"), lambda q: F.abs(p - q)),
            )
        ),
        F.lit(None).cast("int"),
        lambda acc, x: F.when(acc.isNull() | (x < acc), x).otherwise(acc),
    )
    return (
        joined.withColumn("min_gap", min_gap.cast("long"))
        .filter(F.col("min_gap") <= slop)
        .select("doc_id", "min_gap")
    )


def wildcard_match(
    df: DataFrame,
    pattern: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Wildcard term search (Manticore dict=keywords wildcards): docs
    containing any vocabulary term matching the glob (`*` = any run,
    `?` = one char): (doc_id, n_matched_terms). The pattern evaluates
    against the VOCABULARY (term dimension), then matching terms
    semi-join the postings — the corpus is never regex-scanned. A
    leading-literal pattern keeps the term filter sargable (startswith
    prefix cut applied before the regex).

    Term space: the pattern evaluates against the INDEXED vocabulary —
    for an analyzed (stemmed/stopworded) sidecar that is the analyzed
    term space, the standard wildcard semantic (a glob cannot be
    stemmed); stopwords are simply absent from the vocabulary."""
    import re

    glob = pattern.lower()
    rx = "^" + re.escape(glob).replace("\\*", ".*").replace("\\?", ".") + "$"
    if postings is None:
        postings = build_postings(df, id_col, text_col)
    pruned = postings
    prefix = re.match(r"^[a-z0-9]+", glob)
    if prefix:
        pruned = pruned.filter(F.col("term").startswith(prefix.group(0)))
    return (
        pruned.filter(F.col("term").rlike(rx))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched_terms"))
    )


# ------------------------------------------------ boolean match DSL

class _BoolNode:
    __slots__ = ("op", "kids", "term")

    def __init__(self, op, kids=None, term=None):
        self.op, self.kids, self.term = op, kids or [], term


def parse_bool_query(query: str) -> _BoolNode:
    """Manticore-extended-syntax-style boolean matching: terms combined
    with AND / OR / NOT and parentheses; adjacency is implicit AND
    ("scan vector" == "scan AND vector"). Case-insensitive keywords;
    anything else tokenizes through the standard tokenizer."""
    import re

    raw = [t for t in re.findall(r"\(|\)|[^\s()]+", query)]
    toks: list[tuple[str, str]] = []
    for t in raw:
        u = t.upper()
        if t in "()":
            toks.append((t, t))
        elif u in ("AND", "OR", "NOT"):
            toks.append((u, t))
        else:
            for w in tokenize_query(t):
                toks.append(("TERM", w))
    pos = 0

    def peek():
        return toks[pos][0] if pos < len(toks) else None

    def eat(kind):
        nonlocal pos
        if peek() != kind:
            raise ValueError(f"expected {kind} at {pos} in {query!r}")
        pos += 1
        return toks[pos - 1][1]

    def parse_or():
        node = parse_and()
        while peek() == "OR":
            eat("OR")
            rhs = parse_and()
            node = _BoolNode("or", [node, rhs])
        return node

    def parse_and():
        node = parse_unary()
        while peek() in ("AND", "NOT", "TERM", "("):
            if peek() == "AND":
                eat("AND")
            rhs = parse_unary()
            node = _BoolNode("and", [node, rhs])
        return node

    def parse_unary():
        if peek() == "NOT":
            eat("NOT")
            return _BoolNode("not", [parse_unary()])
        if peek() == "(":
            eat("(")
            node = parse_or()
            eat(")")
            return node
        return _BoolNode("term", term=eat("TERM"))

    node = parse_or()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in {query!r}")
    return node


def _bool_terms(node: _BoolNode) -> set[str]:
    if node.op == "term":
        return {node.term}
    out: set[str] = set()
    for k in node.kids:
        out |= _bool_terms(k)
    return out


def _bool_column(node: _BoolNode, terms_col: Column) -> Column:
    if node.op == "term":
        return F.array_contains(terms_col, node.term)
    if node.op == "not":
        return ~_bool_column(node.kids[0], terms_col)
    parts = [_bool_column(k, terms_col) for k in node.kids]
    out = parts[0]
    for p in parts[1:]:
        out = (out & p) if node.op == "and" else (out | p)
    return out


def _stem_node_terms(node: _BoolNode, analyzer: dict | None) -> None:
    """Rewrite term nodes into the index's term space (stemming only:
    a stopword term is simply absent from the index and evaluates
    False, which composes correctly under NOT)."""
    if not analyzer or not analyzer.get("stem"):
        return
    if node.op == "term":
        node.term = stem_s_py(node.term)
    for k in node.kids:
        _stem_node_terms(k, analyzer)


def match_boolean(
    df: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
    analyzer: dict | None = None,
) -> DataFrame:
    """Documents satisfying a boolean term expression: (doc_id).

    Plan: postings filter to the expression's terms (|terms| lists, one
    scan), per-doc matched-term sets aggregate once, and the boolean
    tree evaluates as ONE codegen'd Column over the set — no per-clause
    subquery, no self-joins. Docs matching zero terms flow through the
    left join with an empty set so NOT-clauses see them.

    `analyzer` is the persisted sidecar's meta['analyzer']: query terms
    are stemmed into the index's term space so a stemmed sidecar
    matches; stopword query terms are not dropped — they are absent
    from the index, evaluate False, and thus behave correctly under
    NOT."""
    node = parse_bool_query(query)
    _stem_node_terms(node, analyzer)
    terms = sorted(_bool_terms(node))
    if postings is None:
        postings = build_postings(df, id_col, text_col, analyzer)
    matched = (
        postings.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.collect_set("term").alias("__terms"))
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    joined = ids.join(matched, "doc_id", "left").withColumn(
        "__terms",
        F.coalesce(F.col("__terms"), F.array().cast("array<string>")),
    )
    return joined.filter(_bool_column(node, F.col("__terms"))).select("doc_id")


def match_boolean_reference(docs: list[tuple[int, str]], query: str) -> set[int]:
    """Python twin of match_boolean for differential tests."""
    import re

    node = parse_bool_query(query)

    def ev(n, toks):
        if n.op == "term":
            return n.term in toks
        if n.op == "not":
            return not ev(n.kids[0], toks)
        vals = [ev(k, toks) for k in n.kids]
        return all(vals) if n.op == "and" else any(vals)

    out = set()
    for i, s in docs:
        toks = {t for t in re.split(TOKEN_SPLIT_RE, s.lower()) if t}
        if ev(node, toks):
            out.add(i)
    return out


def bm25f_scores(
    df: DataFrame,
    query_terms: list[str],
    fields: dict[str, tuple[str, float]],
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25F — multi-field ranking (title^2 body^1 ...): per-term
    WEIGHTED tf across fields feeds ONE saturation curve (Robertson's
    simple BM25F), with a weighted doc length norm:

        tf~(t,d)  = sum_f w_f * tf_f(t,d)
        len~(d)   = sum_f w_f * len_f(d)
        score(d)  = sum_t idf(t) * tf~ / (k1*(1-b+b*len~/avg len~) + tf~)

    `fields` maps field name -> (text column, weight). idf counts a doc
    once if ANY field contains the term. One union'd explode over the
    fields, the same single-shuffle aggregate shape as plain BM25, and
    the same ascending-term fold determinism."""
    terms = sorted(set(query_terms))
    if not terms or not fields:
        raise ValueError("empty query or fields")

    per_field = []
    lens = None
    for fname in sorted(fields):
        col, w = fields[fname]
        tf_f = (
            df.select(
                F.col(id_col).alias("doc_id"),
                F.explode(tokenize(F.col(col))).alias("term"),
            )
            .filter(F.col("term").isin(terms))
            .groupBy("doc_id", "term")
            .agg((F.count(F.lit(1)).cast("double") * F.lit(float(w))).alias("wtf"))
        )
        per_field.append(tf_f)
        flen = df.select(
            F.col(id_col).alias("doc_id"),
            (F.size(tokenize(F.col(col))).cast("double") * F.lit(float(w))).alias("wlen"),
        )
        lens = flen if lens is None else lens.unionByName(flen)

    wtf = per_field[0]
    for p in per_field[1:]:
        wtf = wtf.unionByName(p)
    wtf = wtf.groupBy("doc_id", "term").agg(F.sum("wtf").alias("wtf"))

    wlen = lens.groupBy("doc_id").agg(F.sum("wlen").alias("wlen"))
    stats = wlen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("wlen") / F.count(F.lit(1))).alias("avg_wlen"),
    )
    df_term = wtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    contrib = (
        wtf.join(F.broadcast(df_term), "term")
        .join(wlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            _idf(F.col("n_docs"), F.col("df"))
            * F.col("wtf")
            / (
                F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("wlen") / F.col("avg_wlen"))
                + F.col("wtf")
            ),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )


# ------------------------------------------------ percolate (stored queries)

def percolate(
    docs: DataFrame,
    stored: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Percolate: match a batch of DOCUMENTS against STORED QUERIES —
    the reverse of search, Manticore's percolate-table feature (alerting
    / routing: queries are the index, documents are the probes).

    `stored` is [(query_id, query_text)]; a document matches a query
    when it contains ALL the query's terms (the AND semantics percolate
    defaults to). Returns (query_id, doc_id).

    Shape: stored queries flatten to a broadcast (query_id, term,
    n_terms) table; document postings filter to the UNION of stored
    terms (one corpus pass for ALL queries), join, and a per-(query,
    doc) distinct-term count equal to n_terms is a match. Cost is
    O(matched postings), independent of how many stored queries share
    terms."""
    if not stored:
        raise ValueError("no stored queries")
    spark = docs.sparkSession if docs is not None else postings.sparkSession
    pairs = []
    for qid, qtext in stored:
        terms = tokenize_query(qtext)
        if not terms:
            raise ValueError(f"stored query {qid!r} empty after tokenization")
        for t in terms:
            pairs.append((qid, t, len(terms)))
    qdf = spark.createDataFrame(pairs, "query_id string, term string, n_terms int")
    all_terms = sorted({t for _, t, _ in pairs})

    if postings is None:
        postings = build_postings(docs, id_col, text_col)
    hits = postings.filter(F.col("term").isin(all_terms))
    return (
        hits.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("__matched"),
            F.first("n_terms").alias("__need"),
        )
        .filter(F.col("__matched") == F.col("__need"))
        .select("query_id", "doc_id")
    )


def percolate_boolean(
    docs: DataFrame,
    stored: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Percolate with FULL boolean semantics: each stored query is an
    extended-syntax expression (AND/OR/NOT/parens — parse_bool_query),
    so alerts like "(error AND disk) OR (panic AND NOT test)" are
    storable. One matched-term-set aggregation over the union of every
    stored query's terms; each query then evaluates as a codegen'd
    boolean column over that shared set (Catalyst's exchange reuse
    dedupes the shared aggregate across the per-query union branches).
    NOT semantics see zero-match documents via the left join. Returns
    (query_id, doc_id)."""
    if not stored:
        raise ValueError("no stored queries")
    parsed = [(qid, parse_bool_query(q)) for qid, q in stored]
    all_terms = sorted(set().union(*[_bool_terms(n) for _, n in parsed]))

    if postings is None:
        postings = build_postings(docs, id_col, text_col)
    matched = (
        postings.filter(F.col("term").isin(all_terms))
        .groupBy("doc_id")
        .agg(F.collect_set("term").alias("__terms"))
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    base = ids.join(matched, "doc_id", "left").withColumn(
        "__terms",
        F.coalesce(F.col("__terms"), F.array().cast("array<string>")),
    )
    out = None
    for qid, node in parsed:
        part = base.filter(_bool_column(node, F.col("__terms"))).select(
            F.lit(qid).alias("query_id"), "doc_id"
        )
        out = part if out is None else out.unionByName(part)
    return out


# ------------------------------------------------ search QoL: snippets,
# prefix suggest, spell suggest (CALL SNIPPETS / KEYWORDS / QSUGGEST
# parity — the operational surface around ranked retrieval)

def snippets(
    df: DataFrame,
    term: str,
    before: int = 20,
    after: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document snippet around the FIRST occurrence of `term`:
    (doc_id, off, snippet). Zero-shuffle projection — locate + substring
    are codegen'd string ops; documents without the term drop out.
    `off` is the 1-based char offset (SQL locate convention)."""
    t = term.lower()
    off = F.locate(t, F.lower(F.col(text_col)))
    start = F.greatest(off - F.lit(before), F.lit(1))
    return (
        df.withColumn("off", off.cast("long"))
        .filter(F.col("off") > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            "off",
            F.substring(F.col(text_col), start.cast("int"), before + len(t) + after).alias(
                "snippet"
            ),
        )
    )


def keyword_suggest(
    df: DataFrame,
    prefix: str,
    limit: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Autocomplete: vocabulary terms starting with `prefix`, ranked by
    document frequency then total term frequency: (term, df, total_tf).
    One aggregation over prefix-filtered postings — with the persisted
    sidecar this is an index-only scan (startsWith pushes to parquet).

    Term space: suggestions come from the INDEXED vocabulary — for an
    analyzed sidecar that is the analyzed term space (the only terms a
    follow-up search can match), so the prefix is matched verbatim."""
    if postings is None:
        postings = build_postings(df, id_col, text_col)
    return (
        postings.filter(F.col("term").startswith(prefix.lower()))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.col("df").desc(), F.col("total_tf").desc(), F.col("term").asc())
        .limit(limit)
    )


def spell_suggest(
    df: DataFrame,
    word: str,
    max_dist: int = 2,
    limit: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Did-you-mean: vocabulary terms within `max_dist` Levenshtein edits
    of `word`, ranked by (distance, df desc, term): (term, dist, df).
    The distance runs over the aggregated VOCABULARY (ndv terms), never
    per posting row — at corpus scale the vocab is millions while
    postings are trillions."""
    if postings is None:
        postings = build_postings(df, id_col, text_col)
    vocab = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        vocab.withColumn("dist", F.levenshtein(F.col("term"), F.lit(word.lower())).cast("long"))
        .filter(F.col("dist") <= max_dist)
        .orderBy(F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
        .limit(limit)
    )


# ------------------------------------------------ python reference (tests)

def bm25_reference(
    docs: list[tuple[int, str]], query: str, k1: float = K1, b: float = B
) -> dict[int, float]:
    """Plain-python BM25 with the same ascending-term fold — the pytest
    differential oracle."""
    import re

    toks = {
        i: [t for t in re.split(TOKEN_SPLIT_RE, s.lower()) if t] for i, s in docs
    }
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    terms = sorted({t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t})
    dfreq = {t: sum(1 for d in toks.values() if t in d) for t in terms}
    out: dict[int, float] = {}
    for i, d in toks.items():
        score = 0.0
        for t in terms:
            tf = d.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            score += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(d) / avgdl))
        if score != 0.0:
            out[i] = score
    return out
