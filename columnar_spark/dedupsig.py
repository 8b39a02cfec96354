"""Near-dup signature companion sidecar (MinHash + SimHash at rest).

MinHash and SimHash signatures are row-local pure functions of the text
— exactly like the text-feature companion (textstats.py), they belong in
the write path, not in every query: a 100 TB dedup run re-hashing every
shingle 64 times per invocation is the single most expensive recurring
scan a training-data pipeline pays. This sidecar computes BOTH
signatures in ONE explode + ONE grouped aggregation at ingest
(`<table>.parquet.dedupsig`) and the dedup operators
(operators/dedup.minhash_dedup / simhash_dedup) accept them as the
`signatures` input: the banding/candidate/verify stages — the parts that
genuinely need a cluster-wide shuffle — are all that remains at query
time. SimHash verification is signature-only, so simhash dedup becomes a
pure sidecar read; MinHash verifies over the stored sorted-distinct
shingle HASHES (`store_shingle_hashes`, on by default) so its verify
joins shuffle 8-byte longs instead of shingle strings and the text is
never touched either — the hash_grams regime already established by
strip_repeated_spans, identical Jaccard absent 64-bit collisions.

The signatures depend on (num_hashes, shingle_k) — recorded in
_meta.json and REQUIRED to match at load, so a query with different
parameters recomputes live instead of silently serving the wrong
sketch. Same freshness / incremental-append / crash-rebuild / checker
contracts as every other companion (stats.index_is_fresh; features are
row-local so a batch's rows append in O(batch)).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark.operators.dedup import token_shingles
from columnar_spark.stats import _write_table_sig, index_is_fresh


def dedupsig_path(table_path: str) -> str:
    return table_path.rstrip("/") + ".dedupsig"


def signature_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 1,
    store_shingle_hashes: bool = True,
) -> DataFrame:
    """(id, minhash array<long>, simhash long) — the canonical signature
    projection, computed in one explode + one grouped aggregation so each
    shingle is hashed exactly once per seed. Identical values to
    dedup.minhash_signatures_agg / simhash_signatures_agg by
    construction: the same token_shingles (array_distinct'd) universe,
    the same per-seed xxhash64 min, the same per-bit +1/-1 vote sign.
    Documents whose shingle set is empty (k=1 on empty/whitespace text)
    have no signature row — exactly the rows the live aggregation drops.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        token_shingles(F.col(text_col), shingle_k).alias("__sh"),
    )
    ex = base.select("__id", F.explode("__sh").alias("__s")).select(
        "__id", F.col("__s"), F.xxhash64(F.col("__s")).alias("__hh")
    )
    aggs = [
        F.min(F.xxhash64(F.col("__s"), F.lit(seed))).alias(f"__h{seed}")
        for seed in range(num_hashes)
    ]
    aggs += [
        F.sum(
            F.when(
                F.shiftright(F.col("__hh"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(64)
    ]
    if store_shingle_hashes:
        # sorted distinct xxhash64 of the shingles: lets the MinHash
        # verify step compute Jaccard over 8-byte longs instead of
        # re-tokenizing and shuffling shingle strings — the operator
        # family's established hash_grams regime (identical value
        # absent 64-bit collisions; shingles are already distinct)
        aggs.append(F.sort_array(F.collect_list(F.col("__hh"))).alias("__shh"))
    wide = ex.groupBy("__id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = F.shiftleft(sim, 1) + F.when(F.col(f"__v{b}") > 0, 1).otherwise(0).cast(
            "long"
        )
    cols = [
        F.col("__id").alias(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("minhash"),
        sim.alias("simhash"),
    ]
    if store_shingle_hashes:
        cols.append(F.col("__shh").alias("shingle_hashes"))
    return wide.select(*cols)


def dedupsig_meta(table_path: str) -> dict | None:
    from columnar_spark import objstore

    return objstore.read_json(dedupsig_path(table_path), "_meta.json")


def write_dedupsig_sidecar(
    spark: SparkSession,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 1,
    store_shingle_hashes: bool = True,
) -> None:
    from columnar_spark import objstore
    from columnar_spark.functions.layout import ensure_parallelism

    objstore.require_transport(table_path)
    df = ensure_parallelism(spark.read.parquet(table_path))
    p = dedupsig_path(table_path)
    sigs = signature_frame(
        df, id_col, text_col, num_hashes, shingle_k, store_shingle_hashes
    )
    if objstore.is_object_store(table_path):
        # staging + atomic manifest-pointer commit (objstore.py)
        objstore.write_df(spark, sigs, p, mode="overwrite")
    else:
        sigs.write.mode("overwrite").parquet(p)
    objstore.put_json(
        p,
        "_meta.json",
        {
            "id_col": id_col,
            "text_col": text_col,
            "num_hashes": num_hashes,
            "shingle_k": shingle_k,
            "store_shingle_hashes": store_shingle_hashes,
        },
    )
    _write_table_sig(table_path, p)


def load_dedupsig(
    spark: SparkSession,
    table_path: str,
    num_hashes: int,
    shingle_k: int,
    check_fresh: bool = True,
) -> DataFrame | None:
    """The signature sidecar when present, FRESH, and built with exactly
    the requested parameters — else None (callers recompute live, which
    is always correct)."""
    from columnar_spark import objstore

    meta = dedupsig_meta(table_path)
    p = dedupsig_path(table_path)
    if meta is None or ("://" not in p and not os.path.isdir(p)):
        return None
    if meta["num_hashes"] != num_hashes or meta["shingle_k"] != shingle_k:
        return None
    if check_fresh and not index_is_fresh(table_path, p):
        return None
    return objstore.read_df(spark, p)


def check_dedupsig(spark: SparkSession, table_path: str, fmt: str = "parquet") -> list[str]:
    """Integrity audit: the stored sketches must equal a live recompute
    with the recorded parameters, row for row."""
    meta = dedupsig_meta(table_path)
    side = load_dedupsig(
        spark, table_path, meta["num_hashes"], meta["shingle_k"], check_fresh=False
    )
    if side is None:
        return ["dedupsig sidecar: meta present but unreadable"]
    df = getattr(spark.read, fmt)(table_path)
    if meta["text_col"] not in df.columns or meta["id_col"] not in df.columns:
        return []
    live = signature_frame(
        df, meta["id_col"], meta["text_col"], meta["num_hashes"], meta["shingle_k"],
        meta.get("store_shingle_hashes", False),
    )
    if side.exceptAll(live).limit(1).count() + live.exceptAll(side).limit(1).count():
        return ["dedupsig sidecar: rows disagree with live recompute"]
    return []


def merge_dedupsig(spark: SparkSession, table_path: str, appended: DataFrame) -> None:
    """Incremental E9 maintenance — signatures are row-local, so one
    batch's rows append in O(batch)."""
    meta = dedupsig_meta(table_path)
    if meta is None:
        return
    from columnar_spark import objstore

    p = dedupsig_path(table_path)
    batch = signature_frame(
        appended,
        meta["id_col"],
        meta["text_col"],
        meta["num_hashes"],
        meta["shingle_k"],
        meta.get("store_shingle_hashes", False),
    )
    if objstore.is_object_store(table_path):
        objstore.write_df(spark, batch, p, mode="append")
    else:
        batch.write.mode("append").parquet(p)
    _write_table_sig(table_path, p)
