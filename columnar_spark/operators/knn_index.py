"""Persisted vector index — the A12 write path done the way the
reference does it (a `.spknn`-style artifact built ONCE beside the
storage, knn/knn.cpp index build + Save), not retrained per query.

Artifact layout, `<table>.parquet.knn/`:

- `meta.parquet`    — 1 row: vec/id column names, metric, nlist, m, k,
                      dim, whether vectors were unit-normalized.
- `centroids.parquet` — (cluster, centroid array<float>): the coarse
                      IVF table. Tiny; loaded driver-side via pyarrow.
- `codebooks.parquet` — (subspace, code, centroid array<float>): the
                      residual-PQ codebooks. Tiny; driver-side.
- `quantizers.parquet` — (kind, params array<double>): the scalar/
                      binary quantizer ladder trained at build time —
                      'q8' holds the clipped [lo, hi] bounds, 'b1'
                      marks sign-bit packing (empty params = zero
                      threshold, the oracle-bearing form). Reference
                      stores the quantized vectors INSIDE the index
                      (knn/quantizer.cpp:45-641); here the codes are
                      at-rest COLUMNS of the code dataset.
- `vectors/`        — (id, pq_code, b1, q8, vec) hive-PARTITIONED BY
                      `ivf_cluster`: a probe's cluster filter prunes
                      whole directories before any file opens; parquet
                      column pruning means a BIT1 pre-rank reads the
                      8-byte-per-64-dims `b1` column only — 32x less
                      than float32 — and q8 reads 4x less. The float
                      vector rides along for exact re-rank; drop it
                      (store_vectors=False) for the pure-code
                      footprint and re-rank from the base table.

Query path (`knn_query_indexed`): load centroids/codebooks driver-side
(no Spark job), pick nprobe lists, scan ONLY those partitions, ADC-score
in codegen'd expressions, exact re-rank the shortlist. At 100 TB the
scan cost is nprobe/nlist of the corpus, the index artifacts are KBs,
and nothing is retrained at query time.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark.functions.vector import unit_vector
from columnar_spark.operators.knn import assign_clusters
from columnar_spark.operators.pq import (
    encode_vectors,
    knn_topk_ivfpq,
    residual_col,
    train_ivfpq,
)


def knn_index_path(table_path: str, vec_col: "str | None" = None) -> str:
    """Artifact root for the table's IVF-PQ sidecar. `vec_col=None` is
    the single-index layout (the artifact lives at `<table>.knn/`
    directly); a named column roots at `<table>.knn/col=<vec_col>/` so
    one table can index SEVERAL vector attributes — the name->index map
    of the reference's Load (knn/knn.cpp:557-640), realized as
    directory structure. The `col=` prefix cannot collide with the
    artifact's own inner dirs (vectors/, meta.parquet, ...)."""
    root = table_path.rstrip("/") + ".knn"
    if vec_col is None:
        return root
    return os.path.join(root, f"col={vec_col}")


def vector_index_dirs(table_path: str) -> "list[str]":
    """Every IVF-PQ artifact dir on this table: the root layout plus
    per-attribute `col=*` subdirs. Maintenance (append/rebuild) and the
    checker walk ALL of them."""
    from columnar_spark import objstore

    root = knn_index_path(table_path)
    out = []
    if os.path.isdir(os.path.join(objstore.resolve_tree(root), "vectors")):
        out.append(root)
    if os.path.isdir(root):
        for d in sorted(os.listdir(root)):
            p = os.path.join(root, d)
            if d.startswith("col=") and os.path.isdir(
                os.path.join(objstore.resolve_tree(p), "vectors")
            ):
                out.append(p)
    return out


@dataclass
class VectorIndex:
    vec_col: str
    id_col: str
    metric: str
    nlist: int
    m: int
    k: int
    dim: int
    normalized: bool
    centroids: list[list[float]]
    codebooks: list[list[list[float]]]
    path: str
    # at-rest quantizer ladder (None on pre-ladder artifacts)
    q8_bounds: "tuple[float, float] | None" = None
    has_b1: bool = False
    # artifact ROOT (= path on plain layouts; on object stores `path` is
    # the live generation dir under this root — signatures and pointer
    # metadata live at the root)
    root: str = ""

    @property
    def vectors_path(self) -> str:
        return os.path.join(self.path, "vectors")


def build_vector_index(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    nlist: int = 16,
    m: int = 8,
    k: int = 16,
    max_iter: int = 8,
    seed: int = 42,
    store_vectors: bool = True,
    store_b1: bool = True,
    store_q8: bool = True,
    index_path: str | None = None,
) -> str:
    """Train and persist the IVF-PQ index for `df[vec_col]`. Returns the
    artifact path. Idempotent per content only in the sense of
    overwrite — rebuild when the table is rewritten (compact/merge do).

    Placement: the first index on a table roots at `<table>.knn/`
    (single-index layout, unchanged); building for a SECOND vector
    column moves to `<table>.knn/col=<vec_col>/` automatically so both
    artifacts coexist — the per-attribute map of knn/knn.cpp:557-640.
    `index_path` overrides placement outright (shadow builds)."""
    from columnar_spark import objstore

    objstore.require_transport(index_path or table_path)
    dim = len(df.select(vec_col).first()[0])
    base = df
    if metric == "cosine":
        base = df.withColumn(
            vec_col, unit_vector(F.col(vec_col)).cast("array<float>")
        )
    elif metric != "l2":
        raise ValueError("metric must be cosine or l2")

    centroids, codebooks = train_ivfpq(
        base, vec_col, dim, nlist=nlist, m=m, k=k, max_iter=max_iter, seed=seed
    )
    q8_bounds = None
    if store_q8:
        from columnar_spark.operators.quantize import train_quantizer

        q8_bounds = train_quantizer(base, vec_col)

    if index_path is not None:
        out = index_path
    else:
        out = knn_index_path(table_path)
        existing = _load_vector_index_dir(table_path, out, check_fresh=False)
        if existing is not None and existing.vec_col != vec_col:
            out = knn_index_path(table_path, vec_col)
    target = out
    on_store = objstore.is_object_store(index_path or table_path)
    if on_store:
        # generation-dir commit: build the whole tree in POSIX staging,
        # upload it once complete, publish with one pointer PUT
        import tempfile

        out = tempfile.mkdtemp(prefix="knn-build-")
    os.makedirs(out, exist_ok=True)

    meta = spark.createDataFrame(
        [(vec_col, id_col, metric, nlist, m, k, dim, metric == "cosine")],
        "vec_col: string, id_col: string, metric: string, nlist: int, "
        "m: int, k: int, dim: int, normalized: boolean",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "meta.parquet"))

    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster: int, centroid: array<float>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "centroids.parquet")
    )
    book_df = spark.createDataFrame(
        [
            (j, c, [float(x) for x in cent])
            for j, book in enumerate(codebooks)
            for c, cent in enumerate(book)
        ],
        "subspace: int, code: int, centroid: array<float>",
    )
    book_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "codebooks.parquet")
    )
    quant_rows = []
    if q8_bounds is not None:
        quant_rows.append(("q8", [float(q8_bounds[0]), float(q8_bounds[1])]))
    if store_b1:
        quant_rows.append(("b1", []))
    if quant_rows:
        spark.createDataFrame(
            quant_rows, "kind: string, params: array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, "quantizers.parquet")
        )

    _write_codes(
        base, centroids, codebooks, vec_col, id_col, store_vectors,
        os.path.join(out, "vectors"), mode="overwrite", dim=dim,
        store_b1=store_b1, q8_bounds=q8_bounds,
    )
    if on_store:
        import shutil as _sh

        objstore.publish_tree(out, target)
        _sh.rmtree(out, ignore_errors=True)
    from columnar_spark.stats import _write_table_sig

    _write_table_sig(table_path, target)
    return target


def _write_codes(
    base: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
    store_vectors: bool,
    vectors_path: str,
    mode: str,
    dim: int | None = None,
    store_b1: bool = False,
    q8_bounds: "tuple[float, float] | None" = None,
) -> None:
    """Assign coarse clusters, residual-PQ-encode, add the at-rest
    scalar/binary codes, and write the code dataset hive-partitioned by
    cluster. Shared by the initial build and incremental appends so both
    produce byte-identical codes for the same (centroids, codebooks,
    quantizer params, vectors)."""
    tagged = assign_clusters(base, vec_col, centroids, "ivf_cluster")
    tagged = residual_col(tagged, vec_col, centroids, "ivf_cluster")
    tagged = encode_vectors(tagged, "__ivfpq_res", codebooks, "pq_code").drop(
        "__ivfpq_res"
    )
    cols = [F.col(id_col).alias("id"), F.col("pq_code"), F.col("ivf_cluster")]
    if store_b1:
        from columnar_spark.operators.quantize import binarize_expr

        d = dim if dim is not None else len(centroids[0])
        cols.append(binarize_expr(F.col(vec_col), d).alias("b1"))
    if q8_bounds is not None:
        from columnar_spark.operators.quantize import quantize_expr

        cols.append(
            quantize_expr(F.col(vec_col), q8_bounds[0], q8_bounds[1]).alias("q8")
        )
    if store_vectors:
        cols.append(F.col(vec_col).alias("vec"))
    out_df = tagged.select(*cols).repartition("ivf_cluster")
    from columnar_spark import objstore

    if mode == "append" and objstore.is_object_store(vectors_path):
        # rename-free append into the live generation (objstore.py)
        objstore.append_parquet_tree(
            out_df.sparkSession, out_df, vectors_path,
            partition_by="ivf_cluster",
        )
    else:
        out_df.write.mode(mode).partitionBy("ivf_cluster").parquet(vectors_path)


def append_to_vector_index(
    spark: SparkSession,
    df_new: DataFrame,
    table_path: str,
    vec_col: "str | None" = None,
) -> VectorIndex:
    """Incremental index maintenance (E9 for vectors): encode a NEW batch
    with the index's EXISTING centroids/codebooks and append its codes to
    the partitioned dataset — no retrain, no rewrite of prior codes.
    O(batch) work per ingest batch, the same contract as the incremental
    stats sketches; the reference's KNN builder likewise adds documents
    to a trained index one at a time (knn/knn.cpp Train-then-Add flow).

    Quantization drift is the documented trade: centroids/codebooks stay
    those of the original training sample, so recall on appended data
    degrades only if its distribution shifts; rebuild via
    `build_vector_index` on compaction, exactly like the reference's
    segment-rebuild story."""
    # check_fresh=False: append runs AFTER the batch's table append, so
    # the recorded signature is legitimately one step behind right now
    index = load_vector_index(table_path, check_fresh=False, vec_col=vec_col)
    if index is None:
        raise ValueError(
            f"no vector index at {knn_index_path(table_path, vec_col)}"
        )
    base = df_new
    if index.normalized:
        base = df_new.withColumn(
            index.vec_col, unit_vector(F.col(index.vec_col)).cast("array<float>")
        )
    existing_cols = spark.read.parquet(index.vectors_path).columns
    _write_codes(
        base, index.centroids, index.codebooks, index.vec_col, index.id_col,
        "vec" in existing_cols, index.vectors_path, mode="append",
        dim=index.dim, store_b1="b1" in existing_cols,
        q8_bounds=index.q8_bounds if "q8" in existing_cols else None,
    )
    from columnar_spark.stats import _write_table_sig

    _write_table_sig(table_path, index.root or index.path)
    return index


def load_vector_index(
    table_path: str, *, check_fresh: bool = True, vec_col: "str | None" = None
) -> VectorIndex | None:
    """Driver-side artifact load (pyarrow — centroids/codebooks are KBs;
    no Spark job). None when the table has no index — or when STALE
    under the shared `_table_sig` gate (table rewritten outside the
    framework's paths): callers fall back to on-the-fly training, same
    contract as the stats sidecar. Maintenance paths (append, checker)
    pass check_fresh=False.

    `vec_col` selects among PER-ATTRIBUTE indexes (knn/knn.cpp:557-640
    name->index map): the `col=<vec_col>/` artifact wins when present,
    else the root artifact serves iff it indexes that column. None
    keeps today's single-index behavior (root only)."""
    if vec_col is None:
        return _load_vector_index_dir(
            table_path, knn_index_path(table_path), check_fresh
        )
    for out in (
        knn_index_path(table_path, vec_col),
        knn_index_path(table_path),
    ):
        idx = _load_vector_index_dir(table_path, out, check_fresh)
        if idx is not None and idx.vec_col == vec_col:
            return idx
    return None


def _load_vector_index_dir(
    table_path: str, out: str, check_fresh: bool
) -> VectorIndex | None:
    from columnar_spark import objstore

    root = out
    out = objstore.resolve_tree(out)  # live generation on object stores
    if not os.path.isdir(os.path.join(out, "vectors")):
        return None
    if check_fresh:
        from columnar_spark.stats import index_is_fresh

        if not index_is_fresh(table_path, root):
            return None
    try:
        import pyarrow.parquet as pq

        def _read(name):
            fs = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
            import pyarrow as pa

            return pa.concat_tables([pq.read_table(f) for f in fs])

        meta = _read("meta.parquet").to_pylist()[0]
        cents = sorted(_read("centroids.parquet").to_pylist(), key=lambda r: r["cluster"])
        books_rows = _read("codebooks.parquet").to_pylist()
        m = meta["m"]
        books: list[list[list[float]]] = [[] for _ in range(m)]
        for r in sorted(books_rows, key=lambda r: (r["subspace"], r["code"])):
            books[r["subspace"]].append([float(x) for x in r["centroid"]])
        q8_bounds = None
        has_b1 = False
        if os.path.isdir(os.path.join(out, "quantizers.parquet")):
            for r in _read("quantizers.parquet").to_pylist():
                if r["kind"] == "q8":
                    q8_bounds = (float(r["params"][0]), float(r["params"][1]))
                elif r["kind"] == "b1":
                    has_b1 = True
        return VectorIndex(
            vec_col=meta["vec_col"], id_col=meta["id_col"], metric=meta["metric"],
            nlist=meta["nlist"], m=m, k=meta["k"], dim=meta["dim"],
            normalized=meta["normalized"],
            centroids=[[float(x) for x in r["centroid"]] for r in cents],
            codebooks=books, path=out, q8_bounds=q8_bounds, has_b1=has_b1,
            root=root,
        )
    except Exception:
        return None


def check_vector_index(spark: SparkSession, table_path: str) -> list[str]:
    """Integrity checker for the vector sidecar — the A13
    CheckColumnarStorage contract extended to the index artifacts
    (the reference's checker walks every companion structure too,
    columnar/accessor/check.cpp:316-322). Returns violations (empty =
    clean): meta/codebook shape agreement, code-width per row, and
    id-set equality between the table and the code dataset (appends and
    merges must keep them in lockstep). Walks EVERY per-attribute
    artifact (root layout + col=* subdirs)."""
    errors: list[str] = []
    for d in vector_index_dirs(table_path):
        tag = os.path.basename(d)
        prefix = f"{tag}: " if tag.startswith("col=") else ""
        errors.extend(
            prefix + e for e in _check_vector_index_dir(spark, table_path, d)
        )
    return errors


def _check_vector_index_dir(
    spark: SparkSession, table_path: str, index_dir: str
) -> list[str]:
    # the checker validates content directly — read even a stale sidecar
    index = _load_vector_index_dir(table_path, index_dir, check_fresh=False)
    if index is None:
        return []  # no sidecar, nothing to check
    errors: list[str] = []
    if len(index.centroids) != index.nlist:
        errors.append(
            f"centroids: {len(index.centroids)} rows != nlist {index.nlist}"
        )
    if len(index.codebooks) != index.m or any(
        len(b) != index.k for b in index.codebooks
    ):
        errors.append("codebooks: shape != (m, k)")
    if any(len(c) != index.dim for c in index.centroids):
        errors.append(f"centroids: dim != {index.dim}")

    codes = spark.read.parquet(index.vectors_path)
    bad_width = codes.filter(F.size("pq_code") != index.m).count()
    if bad_width:
        errors.append(f"pq_code: {bad_width} rows have width != m={index.m}")
    if "b1" in codes.columns:
        n_words = (index.dim + 63) // 64
        bad_b1 = codes.filter(F.size("b1") != n_words).count()
        if bad_b1:
            errors.append(f"b1: {bad_b1} rows have width != {n_words} words")
    if "q8" in codes.columns:
        bad_q8 = codes.filter(F.size("q8") != index.dim).count()
        if bad_q8:
            errors.append(f"q8: {bad_q8} rows have width != dim={index.dim}")
    bad_cluster = codes.filter(
        (F.col("ivf_cluster") < 0) | (F.col("ivf_cluster") >= index.nlist)
    ).count()
    if bad_cluster:
        errors.append(f"ivf_cluster: {bad_cluster} rows out of [0, nlist)")

    table = spark.read.parquet(table_path).select(
        F.col(index.id_col).alias("id")
    )
    ids = codes.select("id")
    missing = table.join(ids, "id", "left_anti").count()
    orphans = ids.join(table, "id", "left_anti").count()
    if missing:
        errors.append(f"index missing {missing} table ids")
    if orphans:
        errors.append(f"index has {orphans} orphan ids not in table")
    return errors


def compact_vector_index_dir(spark: SparkSession, table_path: str, index_dir: str) -> bool:
    """Compact one vector artifact's code dataset: per-batch appends
    leave one file per (batch, cluster); rewrite to one file per cluster
    partition, rewrite-then-swap. Codes are NOT retrained — ids,
    clusters, and pq codes are byte-identical, only the file layout
    changes. Returns True when a rewrite happened."""
    import shutil

    # compaction may just have changed the table's file signature
    index = _load_vector_index_dir(table_path, index_dir, check_fresh=False)
    if index is None:
        return False
    vp = index.vectors_path
    if len(glob.glob(os.path.join(vp, "ivf_cluster=*", "*.parquet"))) <= index.nlist:
        return False
    tmp = vp.rstrip("/") + ".compact.tmp"
    (
        spark.read.parquet(vp)
        .repartition("ivf_cluster")
        .write.mode("overwrite")
        .partitionBy("ivf_cluster")
        .parquet(tmp)
    )
    old = vp.rstrip("/") + ".compact.old"
    shutil.move(vp, old)
    shutil.move(tmp, vp)
    shutil.rmtree(old)
    return True


# Driver-side b1 shortlist probe: below this many code rows the hamming
# candidate scan runs as one pyarrow read + numpy popcount on the driver
# (cached per artifact signature), collapsing the query to a single
# Spark job — the sidecar-probe job otherwise costs a full scheduling
# round that toy scales can't amortize. 2M rows x 16 bytes = 32 MB read,
# driver-safe; above the cap the distributed b1-only scan takes over.
_B1_DRIVER_PROBE_MAX_ROWS = 2_000_000
_B1_PROBE_CACHE: dict = {}

# byte-wise popcount table for numpy <2 (no np.bitwise_count)
import numpy as _np

_POPCNT8 = _np.array([bin(i).count("1") for i in range(256)], dtype=_np.uint8)


def _b1_rows_if_small(index: VectorIndex) -> "tuple | None":
    """(ids, code_bytes) for the whole artifact when it is under the
    driver-probe cap, else None. Cached per (path, table signature)."""
    import glob as _glob

    import pyarrow.parquet as pq

    from columnar_spark.stats import table_signature

    files = sorted(
        _glob.glob(os.path.join(index.vectors_path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        return None
    n = sum(pq.read_metadata(f).num_rows for f in files)
    if n > _B1_DRIVER_PROBE_MAX_ROWS:
        return None
    key = (index.vectors_path, tuple(sorted(table_signature(index.vectors_path).items())))
    hit = _B1_PROBE_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow as pa

    t = pa.concat_tables([pq.read_table(f, columns=["id", "b1"]) for f in files])
    ids = _np.asarray(t.column("id").to_pylist(), dtype=_np.int64)
    words = t.column("b1").to_pylist()  # list[list[int64 words]]
    nwords = len(words[0]) if words else 0
    codes = _np.asarray(words, dtype=_np.int64).view(_np.uint8).reshape(len(ids), nwords * 8)
    _B1_PROBE_CACHE.clear()  # one artifact at a time is plenty
    _B1_PROBE_CACHE[key] = (ids, codes)
    return ids, codes


def _b1_driver_shortlist(
    index: VectorIndex, q: Sequence[float], n_short: int
) -> "list[int] | None":
    """Exact hamming top-n_short (ham asc, id asc) computed driver-side
    from the cached code matrix — bit-identical to knn_topk_b1's
    candidate order, one job cheaper at small scale."""
    rows = _b1_rows_if_small(index)
    if rows is None:
        return None
    from columnar_spark.operators.quantize import binarize_py

    ids, codes = rows
    qwords = _np.asarray(binarize_py(list(q)), dtype=_np.int64)
    qbytes = qwords.view(_np.uint8)
    ham = _POPCNT8[codes ^ qbytes[None, :]].sum(axis=1).astype(_np.int64)
    order = _np.lexsort((ids, ham))[:n_short]
    return [int(ids[i]) for i in order]


def _b1q4_driver_shortlist(
    index: VectorIndex, q: Sequence[float], n_short: int
) -> "list[int] | None":
    """Asymmetric twin of _b1_driver_shortlist: top-n_short by the 4-bit
    query estimate (score desc, id asc). The integer plane popcounts and
    the two scaled multiply-adds are evaluated in the same order as
    asym_score_expr's JVM doubles, so the shortlist is bit-identical to
    knn_topk_b1q4's candidate order."""
    rows = _b1_rows_if_small(index)
    if rows is None:
        return None
    from columnar_spark.operators.quantize import query_bit_planes

    ids, codes = rows
    planes, scale, qmin = query_bit_planes(list(q))
    asym = _np.zeros(len(ids), dtype=_np.int64)
    for p, plane in enumerate(planes):
        pbytes = _np.asarray(plane, dtype=_np.int64).view(_np.uint8)
        asym += (1 << p) * _POPCNT8[codes & pbytes[None, :]].sum(axis=1).astype(
            _np.int64
        )
    pc = _POPCNT8[codes].sum(axis=1).astype(_np.int64)
    score = (2.0 / scale) * asym.astype(_np.float64) + (2.0 * qmin) * pc.astype(
        _np.float64
    )
    order = _np.lexsort((ids, -score))[:n_short]
    return [int(ids[i]) for i in order]


def knn_query_indexed_b1(
    spark: SparkSession,
    index: VectorIndex,
    query_vec: Sequence[float],
    topk: int,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 16,
    nprobe: int | None = None,
    asym: bool = False,
    driver_probe: bool | None = None,
) -> DataFrame:
    """Top-k via the AT-REST BIT1 codes (quantizer.cpp:45-641 parity at
    rest, not just at query time): the candidate scan reads ONLY the
    `b1` column of the code dataset — 8 bytes per 64 dims, a 32x read
    cut vs float32, visible as ReadSchema pruning in the plan — ranks by
    hamming popcount (or the asymmetric 4-bit-query estimate with
    asym=True), and exact re-ranks the k*rerank_factor shortlist.

    Re-rank source: `rerank_df` (the BASE table — id_col/vec_col from
    meta) when given, else the stored `vec` column. The shortlist join
    is a broadcast of <= k*rerank_factor ids, so the float column is
    touched for the shortlist only. Optional IVF pruning composes: with
    `nprobe`, only the nearest coarse lists' partitions are scanned
    (PartitionFilters + ReadSchema pruning together)."""
    import math

    from columnar_spark.operators.quantize import knn_topk_b1, knn_topk_b1q4

    if not index.has_b1:
        raise ValueError("index has no at-rest b1 codes (store_b1=False build)")
    q = [float(x) for x in query_vec]
    if index.normalized:
        nrm = math.sqrt(sum(x * x for x in q)) or 1.0
        q = [x / nrm for x in q]

    # asym scoring uses the RAW query: the 4-bit bins are affine-
    # invariant so normalization cannot change them mathematically, but
    # scoring with the oracle's own doubles removes even rounding-tie
    # divergence at the shortlist boundary (sign bits are scale-
    # invariant either way, so the symmetric path keeps normalized q)
    raw_q = [float(x) for x in query_vec]
    if nprobe is None and driver_probe is not False:
        # small artifact: the candidate scan runs driver-side (cached
        # pyarrow read + numpy popcount, identical candidate order), so
        # the whole query is ONE Spark job — the rerank scan with an
        # IN-pushed shortlist. driver_probe=False forces the distributed
        # b1-only scan (the 100 TB plan, ReadSchema-pruned); None
        # auto-gates on _B1_DRIVER_PROBE_MAX_ROWS.
        if asym:
            short_ids = _b1q4_driver_shortlist(index, raw_q, topk * rerank_factor)
        else:
            short_ids = _b1_driver_shortlist(index, q, topk * rerank_factor)
        if short_ids is not None:
            if rerank_df is not None:
                pool = rerank_df.select(
                    F.col(index.id_col).alias("id"),
                    F.col(index.vec_col).alias("vec"),
                )
            else:
                pool = spark.read.parquet(index.vectors_path).select("id", "vec")
            cand = pool.filter(F.col("id").isin(short_ids))
            from columnar_spark.operators.knn import knn_topk

            rq = [float(x) for x in query_vec] if rerank_df is not None else q
            return knn_topk(cand, "vec", rq, topk, metric=index.metric, id_col="id", unroll=False)

    vectors = spark.read.parquet(index.vectors_path)
    if nprobe is not None:
        dists = sorted(
            range(index.nlist),
            key=lambda c: sum(
                (a - b) ** 2 for a, b in zip(index.centroids[c], q)
            ),
        )[: max(1, nprobe)]
        vectors = vectors.filter(F.col("ivf_cluster").isin(dists))

    codes = vectors.select("id", "b1")
    pre = knn_topk_b1q4 if asym else knn_topk_b1
    # vec_col=None returns the raw code-ranked order; ask for the full
    # k*rerank_factor shortlist in one TakeOrdered over the b1-only scan
    shortlist = pre(
        codes, "b1", raw_q if asym else q, topk * rerank_factor,
        id_col="id", vec_col=None,
    ).select("id")
    if rerank_df is not None:
        pool = rerank_df.select(
            F.col(index.id_col).alias("id"),
            F.col(index.vec_col).alias("vec"),
        )
    else:
        if "vec" not in vectors.columns:
            raise ValueError(
                "no stored vectors in the index and no rerank_df given"
            )
        pool = vectors.select("id", "vec")
    cand = pool.join(F.broadcast(shortlist), "id")
    from columnar_spark.operators.knn import knn_topk

    # q is on the unit sphere for cosine indexes; pass the ORIGINAL query
    # against the rerank pool's raw/normalized vectors consistently
    rq = [float(x) for x in query_vec] if rerank_df is not None else q
    return knn_topk(cand, "vec", rq, topk, metric=index.metric, id_col="id", unroll=False)


def knn_query_indexed(
    spark: SparkSession,
    index: VectorIndex,
    query_vec: Sequence[float],
    topk: int,
    nprobe: int = 4,
    rerank: bool = True,
    rerank_factor: int = 4,
) -> DataFrame:
    """Top-k via the persisted index: partition-pruned probe scan + ADC
    + optional exact re-rank on the stored float vectors. Output:
    (id, dist) re-ranked, or (id, pq_dist) ADC-only."""
    import math

    q = [float(x) for x in query_vec]
    if index.normalized:
        nrm = math.sqrt(sum(x * x for x in q)) or 1.0
        q = [x / nrm for x in q]

    vectors = spark.read.parquet(index.vectors_path)
    use_vec = rerank and "vec" in vectors.columns
    return knn_topk_ivfpq(
        vectors,
        "pq_code",
        q,
        index.centroids,
        index.codebooks,
        topk,
        nprobe=nprobe,
        id_col="id",
        cluster_col="ivf_cluster",
        vec_col="vec" if use_vec else None,
        # ADC always runs in (residual) l2 space; q is already on the
        # unit sphere for cosine indexes, where l2 order == cosine order
        metric=index.metric if use_vec else "l2",
        rerank_factor=rerank_factor,
    )
