"""Per-document text-feature companion sidecar (computed columns at rest).

The reference computes derived companion columns at BUILD time and stores
them beside the data (the `$name_HASH` string companion,
columnar/builder.cpp:83-87; flattened JSON attribute columns,
secondary.cpp:426-433). This module applies the same regime to the text
features every training-data pipeline recomputes per query: token/char
counts, mean word length, alpha ratio, composite quality, language ID and
the min-shingle fingerprint are evaluated ONCE at ingest into a
`<table>.parquet.textstats` sidecar and served to every downstream
query — quality gates, language filters, length-stratified sampling,
dedup pre-keys.

Scale posture: the feature projection is pure whole-stage-codegen
Catalyst (functions/text.py — no Python, no shuffle); the sidecar is one
row per document with fixed-width + two short string columns, so it scans
orders of magnitude faster than re-tokenizing 100 TB of raw text per
query. Appends maintain it incrementally (O(batch) — features are
row-local, so a batch's rows are simply appended); the freshness gate
(stats.index_is_fresh) refuses a sidecar whose base table was rewritten
outside the framework, falling back to the live computation, which is
expression-for-expression identical (`text_features` is the single code
path used by the writer, the merge AND the live queries, so serving from
the sidecar is bit-identical by construction).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    quality_score_from,
    tokens,
)
from columnar_spark.stats import _write_table_sig, index_is_fresh

TEXTSTATS_COLS = (
    "n_tokens",
    "n_chars",
    "mean_word_len",
    "alpha_ratio",
    "quality",
    "lang",
    "fingerprint",
)


def textstats_path(table_path: str) -> str:
    return table_path.rstrip("/") + ".textstats"


def text_features(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The canonical per-document feature projection — the ONE definition
    shared by the sidecar writer, the incremental merge and the live
    (no-sidecar) query paths, so every serving mode produces identical
    doubles. The three regex passes (tokenize, lowercase-tokenize,
    strip-non-alnum) are materialized once in an inner projection:
    codegen's subexpression elimination does not dedupe them across the
    composed stat expressions (A/B at sf1: 3.10s -> 2.67s)."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        t.alias("__text"),
        tokens(t).alias("_tk"),
        tokens(F.lower(t)).alias("_ltk"),
        F.regexp_replace(t, r"[^A-Za-z0-9 ]", "").alias("_clean"),
    )
    alpha: Column = F.length("_clean").cast("double") / F.greatest(
        F.length("__text"), F.lit(1)
    ).cast("double")
    return base.select(
        F.col(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        F.length("__text").cast("long").alias("n_chars"),
        # sum of token lengths == length of the separator-less concat:
        # one codegen'd string op instead of an interpreted per-token
        # aggregate lambda (identical integer)
        F.round(
            F.length(F.concat_ws("", F.col("_tk"))).cast("double")
            / F.greatest(F.size("_tk"), F.lit(1)).cast("double"),
            6,
        ).alias("mean_word_len"),
        F.round(alpha, 6).alias("alpha_ratio"),
        quality_score_from(
            F.col("__text"), F.col("_tk"), F.col("_ltk"), alpha=alpha
        ).alias("quality"),
        lang_id(F.lit(""), lower_tokens=F.col("_ltk")).alias("lang"),
        doc_fingerprint(F.lit(""), shingle_k=3, toks=F.col("_tk")).alias("fingerprint"),
    )


def textstats_meta(table_path: str) -> dict | None:
    from columnar_spark import objstore

    return objstore.read_json(textstats_path(table_path), "_meta.json")


def write_textstats_sidecar(
    spark: SparkSession,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Full (re)build: scan the base table once, write the feature rows.
    Used by first-time ingest, crash recovery and DML (sidecars.py) —
    incremental appends go through merge_textstats."""
    from columnar_spark import objstore
    from columnar_spark.functions.layout import ensure_parallelism

    objstore.require_transport(table_path)
    df = ensure_parallelism(spark.read.parquet(table_path))
    p = textstats_path(table_path)
    feats = text_features(df, id_col, text_col)
    if objstore.is_object_store(table_path):
        # staging + atomic manifest-pointer commit (objstore.py)
        objstore.write_df(spark, feats, p, mode="overwrite")
    else:
        feats.write.mode("overwrite").parquet(p)
    objstore.put_json(p, "_meta.json", {"id_col": id_col, "text_col": text_col})
    _write_table_sig(table_path, p)


def load_textstats(
    spark: SparkSession, table_path: str, check_fresh: bool = True
) -> DataFrame | None:
    """The persisted feature sidecar, or None when absent or STALE (base
    table rewritten outside the framework's append/DML paths) — callers
    fall back to the live text_features projection, which is always
    correct."""
    from columnar_spark import objstore

    p = textstats_path(table_path)
    if ("://" not in p and not os.path.isdir(p)) or textstats_meta(table_path) is None:
        return None
    if check_fresh and not index_is_fresh(table_path, p):
        return None
    return objstore.read_df(spark, p)


def check_textstats(spark: SparkSession, table_path: str, fmt: str = "parquet") -> list[str]:
    """Integrity audit: the stored features must equal a live
    re-projection (the same text_features code path), row for row."""
    meta = textstats_meta(table_path)
    side = load_textstats(spark, table_path, check_fresh=False)
    if side is None:
        return ["textstats sidecar: meta present but unreadable"]
    df = getattr(spark.read, fmt)(table_path)
    if meta["text_col"] not in df.columns or meta["id_col"] not in df.columns:
        return []
    live = text_features(df, meta["id_col"], meta["text_col"])
    if side.exceptAll(live).limit(1).count() + live.exceptAll(side).limit(1).count():
        return ["textstats sidecar: rows disagree with live recompute"]
    return []


def merge_textstats(spark: SparkSession, table_path: str, appended: DataFrame) -> None:
    """Incremental E9 maintenance: features are row-local, so one batch's
    contribution is simply the feature projection of the appended rows —
    O(batch), no base-table re-scan, batch boundaries invisible."""
    meta = textstats_meta(table_path)
    if meta is None:
        return
    from columnar_spark import objstore

    p = textstats_path(table_path)
    batch = text_features(appended, meta["id_col"], meta["text_col"])
    if objstore.is_object_store(table_path):
        objstore.write_df(spark, batch, p, mode="append")
    else:
        batch.write.mode("append").parquet(p)
    _write_table_sig(table_path, p)
