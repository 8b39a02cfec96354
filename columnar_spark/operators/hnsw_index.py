"""Persisted HNSW graph sidecar — A12/F1 at the reference's fidelity.

The reference builds per-attribute HNSW graphs ONCE at index time and
serves every query from the loaded artifact (knn/knn.cpp:643-790 Save,
:557-640 Load); the graph is never rebuilt per query. This module gives
the engine the same lifecycle on Spark:

Artifact layout, `<table>.parquet.knn-graph/`:

- `meta.parquet` — 1 row: vec/id column names, metric, M,
  ef_construction, dim, num_parts, seed.
- `graph/` — node rows (node, label, vec, links array<array<int>>,
  entry, max_level) hive-PARTITIONED BY `part`
  (= pmod(xxhash64(id), num_parts)): one directory per sub-graph, so a
  query task reads exactly one graph and an incremental append rewrites
  only the touched parts (dynamic partition overwrite).
- `_table_sig.json` — the freshness gate shared with the .vidx/.pidx
  sidecars: a table rewritten outside the framework's paths refuses to
  serve from this index.

Scale posture: each part holds an independent sub-graph bounded by
PY_HNSW_MAX_PARTITION_ROWS; a query fans one search task per part
(O(log n) beam walk each) and merges with a global top-k — at 100 TB
that's thousands of small graph walks, not one giant graph, and the
build cost is paid once at ingest, not per query. Reconstruction from
rows is O(n) with zero distance computations, and executor-side worker
reuse caches the reconstructed graph across queries in a session
(keyed by the artifact signature), so a standing corpus is served from
memory after the first probe — the Load-once contract.

Incremental append (E9 for graphs): new rows route to their stable
part by the same id hash; each touched part's graph is reconstructed,
extended with deterministic level sampling (seeded by part + prior
size, so a crashed-and-replayed batch produces byte-identical state),
and rewritten in place. O(touched parts + batch), no retrain of the
untouched parts — the reference's Add-to-loaded-index flow.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnar_spark.localrel import local_rows
from columnar_spark.operators.hnsw_py import (
    PY_HNSW_MAX_PARTITION_ROWS,
    HnswIndex,
    index_from_rows,
    index_to_rows,
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("part", T.IntegerType()),
        T.StructField("node", T.IntegerType()),
        T.StructField("label", T.LongType()),
        # exactly one of (vec, code) is populated: raw float32 vectors
        # (quantize='none') or packed sign-bit codes (quantize='b1',
        # ceil(dim/64)*8 bytes — a 4-32x smaller artifact whose beam
        # steps pay popcount bandwidth, not float32; reference
        # knn/knn.cpp:411-452 searches the graph over quantized codes)
        T.StructField("vec", T.ArrayType(T.FloatType())),
        T.StructField("code", T.BinaryType()),
        T.StructField("links", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("entry", T.IntegerType()),
        T.StructField("max_level", T.IntegerType()),
    ]
)


def _code_nbytes(dim: int) -> int:
    return ((dim + 63) // 64) * 8


def _pack_code(vec, dim: int) -> int:
    """Sign bits of `vec` as one python int — bit i set iff vec[i] > 0,
    identical to quantize.binarize_expr's packed words."""
    acc = 0
    for i in range(dim):
        if float(vec[i]) > 0.0:
            acc |= 1 << i
    return acc


def _code_to_bytes(code: int, dim: int) -> bytes:
    return int(code).to_bytes(_code_nbytes(dim), "little")


def _bytes_to_code(b: bytes) -> int:
    return int.from_bytes(bytes(b), "little")


def _q8_walk_dtype(dim: int):
    """Walk-space dtype for q8 levels: float32 keeps squared-L2 / ip
    sums EXACT only while dim * 255^2 < 2^24 (dim <= 257) — numpy
    accumulates np.dot in the operand dtype. Past that, upcast to
    float64 (exact to 2^53, any practical dim). For small dims the two
    are bit-identical (float32 integer arithmetic below 2^24 is exact),
    so the shipped 64-dim oracles are unchanged."""
    import numpy as np

    return np.float32 if dim * 255 * 255 < (1 << 24) else np.float64


def _q8_levels(vec, lo: float, hi: float):
    """Trained-clip int8 quantization LEVELS (0..255) as a numpy array
    — the walk space for quantize='q8' artifacts. The arithmetic is
    fixed to floor((clip(x)-lo)*255/(hi-lo) + 0.5) on float64 so a SQL
    oracle (Spark or DuckDB) reproduces every level bit-for-bit; levels
    are small integers, so the walk's squared-L2/ip sums are EXACT in
    the dtype _q8_walk_dtype picks — the determinism the hash oracle
    rides on. Reference: quantizer.cpp:45 int8 ladder, searched in code
    space knn/knn.cpp:411-452."""
    import numpy as np

    x = np.asarray(vec, dtype=np.float64)
    scale = 255.0 / (hi - lo)
    return np.floor((np.clip(x, lo, hi) - lo) * scale + 0.5).astype(
        _q8_walk_dtype(x.shape[-1])
    )


def _q8_levels_to_bytes(lvl) -> bytes:
    """Levels (0..255) -> int8 codes at rest (dim bytes — 4x smaller
    than float32 node vectors)."""
    import numpy as np

    return (np.asarray(lvl, dtype=np.int16) - 128).astype(np.int8).tobytes()


def _q8_bytes_to_levels(b: bytes):
    import numpy as np

    raw = np.frombuffer(bytes(b), dtype=np.int8)
    return raw.astype(_q8_walk_dtype(raw.shape[-1])) + 128.0


# In-walk allow-set transport cap: the set is broadcast to every search
# task, so it must stay driver/executor-memory bounded. Past this, a
# filtered query should pre-filter and rank exactly (knn_topk with
# pre_filter) — knn_access_path makes that switch automatically.
KNN_ALLOW_SET_CAP = 1_000_000


def graph_index_path(table_path: str, vec_col: "str | None" = None) -> str:
    """Artifact root for the table's graph sidecar. `vec_col=None` is
    the single-index layout (artifact at `<table>.knn-graph/`); a named
    column roots at `<table>.knn-graph/col=<vec_col>/` so one table can
    carry graphs over SEVERAL vector attributes — the name->index map
    of the reference's Load (knn/knn.cpp:557-640). `col=` cannot
    collide with the artifact's inner dirs (graph/, meta.parquet)."""
    root = table_path.rstrip("/") + ".knn-graph"
    if vec_col is None:
        return root
    return os.path.join(root, f"col={vec_col}")


def graph_index_dirs(table_path: str) -> "list[str]":
    """Every graph artifact dir on this table (root layout + col=*
    subdirs) — maintenance and the checker walk all of them."""
    from columnar_spark import objstore

    root = graph_index_path(table_path)
    out = []
    if os.path.isdir(os.path.join(objstore.resolve_tree(root), "graph")):
        out.append(root)
    if os.path.isdir(root):
        for d in sorted(os.listdir(root)):
            p = os.path.join(root, d)
            if d.startswith("col=") and os.path.isdir(
                os.path.join(objstore.resolve_tree(p), "graph")
            ):
                out.append(p)
    return out


def _part_seed(seed: int, part: int, n_before: int) -> int:
    # Deterministic level-sampling seed per (part, prior size): replaying
    # the same append over the same prior state is byte-identical, the
    # idempotence the ingest ledger's replay safety relies on.
    return (seed * 1_000_003 + part * 8191 + n_before) & 0x7FFFFFFF


def _graph_state_rows(index: HnswIndex, part: int, dim: int, quantize: str = "none"):
    import numpy as np
    import pandas as pd

    n = len(index._vecs)
    hamming = index.metric == "hamming"
    coded = hamming or quantize == "q8"
    if hamming:
        codes = [_code_to_bytes(index._vecs[i], dim) for i in range(n)]
    elif quantize == "q8":
        codes = [_q8_levels_to_bytes(index._vecs[i]) for i in range(n)]
    else:
        codes = [None] * n
    return pd.DataFrame(
        {
            "part": [part] * n,
            "node": list(range(n)),
            "label": [int(x) for x in index._labels],
            "vec": [
                None if coded else [float(x) for x in index._vecs[i]]
                for i in range(n)
            ],
            "code": codes,
            "links": [
                [list(map(int, lv)) for lv in index._graph[i]] for i in range(n)
            ],
            "entry": [index._entry] * n,
            "max_level": [index._max_level] * n,
        }
    )


def _index_from_state(pdf, metric, M, efc, seed_val, dim, quantize: str = "none"):
    """Reconstruct a searchable per-part index from state rows — float
    vectors, packed sign-bit codes (hamming walk), or int8 q8 codes
    (level-space walk under the artifact's metric), whichever the
    artifact stores."""
    import numpy as np

    # Column-at-once extraction: per-element pandas `.iloc` was the
    # measured cold-start cost (r9 verdict: 5.0s first distributed
    # query at 320k nodes — profiled ~60% in pandas indexing machinery,
    # 160k .iloc calls per 40k-row part). Raw numpy object arrays index
    # in nanoseconds; the reconstruction semantics (and therefore every
    # search result) are unchanged.
    if pdf["code"].iloc[0] is not None:
        q8 = quantize == "q8"
        idx = HnswIndex(dim, metric if q8 else "hamming", M, efc, seed=seed_val)
        order = np.argsort(pdf["node"].to_numpy())
        codes = pdf["code"].to_numpy()[order]
        labels = pdf["label"].to_numpy()[order]
        links_col = pdf["links"].to_numpy()[order]
        if q8:
            idx._vecs = [_q8_bytes_to_levels(c) for c in codes]
            idx._norms = [
                float(np.linalg.norm(v)) or 1e-30 for v in idx._vecs
            ]
        else:
            idx._vecs = [_bytes_to_code(c) for c in codes]
            idx._norms = [0.0] * len(codes)
        idx._labels = [int(x) for x in labels]
        idx._graph = [
            [list(map(int, lv)) for lv in links] for links in links_col
        ]
        idx._entry = int(pdf["entry"].iloc[0])
        idx._max_level = int(pdf["max_level"].iloc[0])
        return idx
    order = np.argsort(pdf["node"].to_numpy())
    return index_from_rows(
        list(
            zip(
                (int(x) for x in pdf["node"].to_numpy()[order]),
                pdf["label"].to_numpy()[order],
                pdf["vec"].to_numpy()[order],
                pdf["links"].to_numpy()[order],
            )
        ),
        metric,
        M,
        efc,
        int(pdf["entry"].iloc[0]),
        int(pdf["max_level"].iloc[0]),
        seed=seed_val,
    )


def _with_part(df: DataFrame, id_col: str, vec_col: str, num_parts: int) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias("label"),
        F.col(vec_col).cast("array<float>").alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_parts)).cast("int").alias("part"),
    )


def build_graph_index(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    M: int = 16,
    ef_construction: int = 200,
    num_parts: int = 8,
    seed: int = 42,
    index_path: str | None = None,
    quantize: str = "none",
    q8_bounds: "tuple[float, float] | None" = None,
) -> str:
    """Build and persist the partitioned HNSW graph for `df[vec_col]`.
    One beam-search build per part, fully distributed (one task per
    part); returns the artifact path. `index_path` overrides the
    default `<table>.knn-graph` location (e.g. a writable shadow dir
    for a read-only table mount).

    quantize='b1' stores PACKED SIGN-BIT CODES in the node rows instead
    of float32 vectors and links the graph on hamming distances — the
    reference's quantizer-inside-the-index posture (quantizer.cpp:45,
    222-641 + knn.cpp:411-452): the at-rest artifact shrinks 4-32x,
    beam steps pay popcount bandwidth, and queries exact-re-rank their
    merged shortlist against the base table's raw floats. Sign bits are
    scale-invariant, so normalized and raw vectors produce identical
    codes (same property knn_b1_cosine relies on).

    quantize='q8' (metric l2|ip — cosine's scale invariance makes b1
    the right ladder there) stores trained-clip INT8 CODES: 4x smaller
    at rest, the walk runs on exact integer level-space distances, and
    queries exact-re-rank the merged shortlist against raw floats —
    the reference's int8 ladder for unnormalized metrics
    (quantizer.cpp:45, knn.cpp:411-452). `q8_bounds` pins the clip
    interval (pass exact min/max for an oracle-replicable build);
    default trains the 0.5%/99.5% clip like the .knn sidecar
    (operators/quantize.train_quantizer)."""
    from columnar_spark import objstore

    objstore.require_transport(index_path or table_path)
    if metric not in ("cosine", "l2", "ip"):
        raise ValueError(f"metric must be cosine|l2|ip, got {metric!r}")
    if quantize not in ("none", "b1", "q8"):
        raise ValueError(f"quantize must be none|b1|q8, got {quantize!r}")
    if quantize == "q8" and metric not in ("l2", "ip"):
        raise ValueError(
            "quantize='q8' serves metrics l2|ip; for cosine use "
            "quantize='b1' (sign bits are scale-invariant there)"
        )
    q8_lo = q8_hi = None
    if quantize == "q8":
        if q8_bounds is None:
            from columnar_spark.operators.quantize import train_quantizer

            q8_bounds = train_quantizer(df, vec_col)
        q8_lo, q8_hi = float(q8_bounds[0]), float(q8_bounds[1])
        if q8_hi <= q8_lo:
            q8_hi = q8_lo + 1e-9
    if index_path is not None:
        out = index_path
    else:
        # per-attribute placement (knn/knn.cpp:557-640): first index
        # keeps the root layout; an index over a DIFFERENT vector
        # column roots at col=<vec_col>/ so both artifacts coexist
        out = graph_index_path(table_path)
        root_meta = load_graph_index_meta(
            table_path, check_fresh=False, index_path=out
        )
        if root_meta is not None and root_meta["vec_col"] != vec_col:
            out = graph_index_path(table_path, vec_col)
    target = out
    on_store = objstore.is_object_store(index_path or table_path)
    if on_store:
        # generation-dir commit (objstore.py): build the whole tree in
        # POSIX staging, upload complete, publish with one pointer PUT
        import tempfile

        out = tempfile.mkdtemp(prefix="knn-graph-build-")
    os.makedirs(out, exist_ok=True)
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError(
            f"build_graph_index: table {table_path!r} has no rows; "
            "a graph index needs at least one vector (callers with "
            "possibly-empty tables should skip the graph build)"
        )
    dim = len(first[0])

    def _build(pdf):
        part = int(pdf["part"].iloc[0])
        if len(pdf) > PY_HNSW_MAX_PARTITION_ROWS:
            raise ValueError(
                f"graph part {part} has {len(pdf)} rows > "
                f"{PY_HNSW_MAX_PARTITION_ROWS}; raise num_parts"
            )
        if quantize == "b1":
            index = HnswIndex(
                dim, "hamming", M, ef_construction, seed=_part_seed(seed, part, 0)
            )
            for label, vec in zip(pdf["label"], pdf["vec"]):
                index.add(_pack_code(vec, dim), int(label))
        elif quantize == "q8":
            index = HnswIndex(
                dim, metric, M, ef_construction, seed=_part_seed(seed, part, 0)
            )
            for label, vec in zip(pdf["label"], pdf["vec"]):
                index.add(_q8_levels(vec, q8_lo, q8_hi), int(label))
        else:
            index = HnswIndex(
                dim, metric, M, ef_construction, seed=_part_seed(seed, part, 0)
            )
            for label, vec in zip(pdf["label"], pdf["vec"]):
                index.add(vec, int(label))
        return _graph_state_rows(index, part, dim, quantize)

    tagged = _with_part(df, id_col, vec_col, num_parts)
    state = tagged.groupBy("part").applyInPandas(_build, _STATE_SCHEMA)
    (
        state.repartition("part")
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(os.path.join(out, "graph"))
    )

    meta = spark.createDataFrame(
        [(vec_col, id_col, metric, M, ef_construction, dim, num_parts, seed,
          quantize, q8_lo, q8_hi)],
        "vec_col: string, id_col: string, metric: string, m: int, "
        "ef_construction: int, dim: int, num_parts: int, seed: int, "
        "quantize: string, q8_lo: double, q8_hi: double",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "meta.parquet"))

    if on_store:
        import shutil as _sh

        objstore.publish_tree(out, target)
        _sh.rmtree(out, ignore_errors=True)
    from columnar_spark.stats import _write_table_sig

    _write_table_sig(table_path, target)
    return target


def load_graph_index_meta(
    table_path: str, *, check_fresh: bool = True, index_path: str | None = None,
    vec_col: "str | None" = None,
) -> dict | None:
    """Driver-side meta load (pyarrow, no Spark job). None when absent —
    or stale under the shared signature gate, so callers fall back to
    exact/on-the-fly search exactly like the .vidx consumers.

    `vec_col` selects among per-attribute artifacts: the col=<vec_col>/
    subdir wins when present, else the root artifact serves iff it
    indexes that column."""
    if index_path is None and vec_col is not None:
        for out in (
            graph_index_path(table_path, vec_col),
            graph_index_path(table_path),
        ):
            meta = load_graph_index_meta(
                table_path, check_fresh=check_fresh, index_path=out
            )
            if meta is not None and meta["vec_col"] == vec_col:
                return meta
        return None
    from columnar_spark import objstore

    root = index_path or graph_index_path(table_path)
    out = objstore.resolve_tree(root)  # live generation on object stores
    if not os.path.isdir(os.path.join(out, "graph")):
        return None
    from columnar_spark.stats import index_is_fresh

    if check_fresh and not index_is_fresh(table_path, root):
        return None
    try:
        import glob

        import pyarrow.parquet as pq

        fs = sorted(glob.glob(os.path.join(out, "meta.parquet", "*.parquet")))
        meta = pq.read_table(fs[0]).to_pylist()[0]
        meta["path"] = out
        meta["root"] = root
        meta.setdefault("quantize", "none")  # pre-quantization artifacts
        if meta["quantize"] is None:
            meta["quantize"] = "none"
        meta.setdefault("q8_lo", None)  # pre-q8 artifacts
        meta.setdefault("q8_hi", None)
        return meta
    except Exception:
        return None


def append_to_graph_index(
    spark: SparkSession, df_new: DataFrame, table_path: str,
    index_path: str | None = None, vec_col: "str | None" = None,
) -> None:
    """Incremental maintenance: route the batch to its stable parts,
    reconstruct ONLY the touched sub-graphs, extend them with
    deterministic level sampling, and dynamic-partition-overwrite those
    directories. Untouched parts are not read or written."""
    meta = load_graph_index_meta(
        table_path, check_fresh=False, index_path=index_path, vec_col=vec_col
    )
    if meta is None:
        raise ValueError(
            f"no graph index at {index_path or graph_index_path(table_path, vec_col)}"
        )
    graph_dir = os.path.join(meta["path"], "graph")
    batch = _with_part(df_new, meta["id_col"], meta["vec_col"], meta["num_parts"])
    touched = [r["part"] for r in batch.select("part").distinct().collect()]
    if not touched:
        return
    existing = spark.read.parquet(graph_dir).filter(F.col("part").isin(touched))

    metric, M, efc, seed = meta["metric"], meta["m"], meta["ef_construction"], meta["seed"]
    dim = meta["dim"]
    qz = meta["quantize"]
    q8_lo, q8_hi = meta["q8_lo"], meta["q8_hi"]

    def _merge(key, state_pdf, batch_pdf):
        part = int(key[0])
        if len(state_pdf):
            index = _index_from_state(
                state_pdf, metric, M, efc,
                _part_seed(seed, part, len(state_pdf)), dim, quantize=qz,
            )
        else:  # a part that had no rows at build time
            index = HnswIndex(
                dim, "hamming" if qz == "b1" else metric, M, efc,
                seed=_part_seed(seed, part, 0),
            )
        if len(index._vecs) + len(batch_pdf) > PY_HNSW_MAX_PARTITION_ROWS:
            raise ValueError(
                f"graph part {part} would exceed "
                f"{PY_HNSW_MAX_PARTITION_ROWS} rows; raise num_parts and "
                "rebuild (build_graph_index)"
            )
        for label, vec in zip(batch_pdf["label"], batch_pdf["vec"]):
            if qz == "b1":
                v = _pack_code(vec, dim)
            elif qz == "q8":
                # append uses the ARTIFACT's trained bounds — quantizer
                # parameters are frozen at build like the reference's
                # (retrain requires rebuild)
                v = _q8_levels(vec, q8_lo, q8_hi)
            else:
                v = vec
            index.add(v, int(label))
        return _graph_state_rows(index, part, dim, qz)

    merged = (
        existing.groupBy("part")
        .cogroup(batch.groupBy("part"))
        .applyInPandas(_merge, _STATE_SCHEMA)
    )
    from columnar_spark import objstore

    root = meta.get("root") or meta["path"]
    if objstore.is_object_store(root):
        # generation-dir commit: dynamic partition overwrite is a rename
        # swap, so on a store the append publishes a NEW generation —
        # merged touched parts written fresh (the plan reads the live
        # generation, which the protocol never mutates), untouched part
        # dirs and the meta copied byte-for-byte. O(graph) bytes per
        # append is the documented object-store trade; parts are capped
        # (PY_HNSW_MAX_PARTITION_ROWS) so the copy is bounded.
        import shutil as _sh
        import tempfile as _tf

        live = meta["path"]
        touched_set = {int(t) for t in touched}
        stage = _tf.mkdtemp(prefix="knn-graph-append-")
        try:
            gstage = os.path.join(stage, "graph")
            (
                merged.repartition("part")
                .write.mode("overwrite")
                .partitionBy("part")
                .parquet(gstage)
            )
            for d in os.listdir(os.path.join(live, "graph")):
                if (
                    d.startswith("part=")
                    and int(d.split("=", 1)[1]) not in touched_set
                ):
                    _sh.copytree(
                        os.path.join(live, "graph", d), os.path.join(gstage, d)
                    )
            _sh.copytree(
                os.path.join(live, "meta.parquet"),
                os.path.join(stage, "meta.parquet"),
            )
            objstore.publish_tree(stage, root)
        finally:
            _sh.rmtree(stage, ignore_errors=True)
    else:
        (
            merged.repartition("part")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part")
            .parquet(graph_dir)
        )
    from columnar_spark.stats import _write_table_sig

    # append runs AFTER the batch's table append — signature taken now
    # matches the table state the extended graph describes
    _write_table_sig(table_path, root)


# Executor-side reconstructed-graph cache: python workers are reused
# across queries (spark.python.worker.reuse), so a standing corpus pays
# the O(n) reconstruction once per (artifact version, part) per worker —
# the Load-once serving contract. Keyed by the artifact signature the
# driver stamps into the closure, so a rebuilt/extended index is never
# served stale. Size-bounded LRU: a long-lived worker that serves many
# tables/parts otherwise accumulates part-count x graph-size resident
# state (count alone doesn't bound memory — part graphs vary 100x).
import collections as _collections

_GRAPH_CACHE: "_collections.OrderedDict" = _collections.OrderedDict()
_GRAPH_CACHE_MAX = 64
_GRAPH_CACHE_MAX_BYTES = 2 << 30  # per python worker


def _cached_graph(cache_key, builder):
    hit = _GRAPH_CACHE.get(cache_key)
    if hit is not None:
        _GRAPH_CACHE.move_to_end(cache_key)
        return hit[0]
    index = builder()
    try:
        nb = int(index.nbytes())
    except Exception:
        nb = 0
    _GRAPH_CACHE[cache_key] = (index, nb)
    while len(_GRAPH_CACHE) > 1 and (
        len(_GRAPH_CACHE) > _GRAPH_CACHE_MAX
        or sum(b for _, b in _GRAPH_CACHE.values()) > _GRAPH_CACHE_MAX_BYTES
    ):
        _GRAPH_CACHE.popitem(last=False)
    return index


# Unlike the b1 probe (8 bytes/row), graph node rows carry the vector
# (or code) AND the link lists — ~0.5-1 KB each — so the driver-side
# cap is row-count small to keep the probe's resident state ~100-200 MB.
_GRAPH_PROBE_MAX_ROWS = 250_000


def _graph_parts_if_small(graph_dir: str):
    """{part: (files, rows)} from the part files' footers when the
    artifact is under the driver-probe cap, else None — the graph twin
    of knn_index._b1_rows_if_small. No row is read here: a part's state
    is read (`_read_part`) only when its reconstructed index is missing
    from the same _GRAPH_CACHE the executors use (this is the driver's
    own python process, so the cache key space is shared naturally)."""
    import glob as _glob
    import re as _re

    import pyarrow.parquet as pq

    files = sorted(
        _glob.glob(os.path.join(graph_dir, "**", "*.parquet"), recursive=True)
    )
    if not files:
        return None
    rows = {f: pq.read_metadata(f).num_rows for f in files}
    if sum(rows.values()) > _GRAPH_PROBE_MAX_ROWS:
        return None
    # `part` is a hive partition directory (part=N/), not a file column
    by_part: dict = {}
    for f in files:
        m = _re.search(r"part=(\d+)", f)
        if m is None:
            return None  # unexpected layout: let the distributed path read it
        by_part.setdefault(int(m.group(1)), []).append(f)
    return {
        p: (fs, sum(rows[f] for f in fs)) for p, fs in sorted(by_part.items())
    }


def _read_part(files: "list[str]"):
    import pandas as pd
    import pyarrow.parquet as pq

    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def knn_query_graph(
    spark: SparkSession,
    table_path: str,
    query_vec: Sequence[float],
    k: int,
    ef: int = 64,
    policy: str = "none",
    budget: int | None = None,
    index_path: str | None = None,
    exact: bool = False,
    allowed: "Sequence[int] | None" = None,
    rerank_factor: int = 16,
    rerank_df: DataFrame | None = None,
    driver_probe: bool | None = None,
    vec_col: "str | None" = None,
) -> DataFrame:
    """Top-k (id, dist) served from the persisted graph: one beam search
    per part (reconstruction cached executor-side), global
    TakeOrderedAndProject merge of k x parts candidate rows. No build,
    no training, no full scan — the artifact answers the query, the
    reference's serving shape (knn/knn.cpp:411-540 Search on the loaded
    graph). Termination policies ride along (F5): same knobs as
    HnswIndex.search.

    `exact=True` runs the ef >= part-size limit of the beam
    (HnswIndex.search_exact, vectorized float64): deterministic exact
    top-k served from the SAME artifact and plan shape, which is what
    gives the graph path a full SQL hash oracle (reference fullscan
    mode, knn/knn.cpp:216-217). `allowed` threads a label allow-set
    into the walk — filter-DURING-search (reference
    KNNFilter_i::IsAllowed, knn/knn.h:87-94, knn.cpp:90-96), not a
    post-filter: disallowed nodes are still traversed for
    connectivity but never enter the result frontier.

    On a QUANTIZED artifact (build quantize='b1') the walk runs on
    hamming distances over the at-rest codes; each part returns a
    k*rerank_factor shortlist, the global (ham, id) top-shortlist is
    exact-re-ranked against the base table's raw floats (rerank_df
    overrides the source), and the final (id, dist) is the true metric
    distance — the reference's quantized-graph Search + rerank
    (knn/knn.cpp:411-452). exact=True makes the per-part shortlist
    exhaustive, so the whole pipeline is deterministic and carries the
    same SQL hash oracle construction as knn_b1_cosine."""
    meta = load_graph_index_meta(table_path, index_path=index_path, vec_col=vec_col)
    if meta is None:
        raise ValueError(
            f"no fresh graph index at "
            f"{index_path or graph_index_path(table_path, vec_col)}; "
            "build_graph_index first (or the table changed under it)"
        )
    from columnar_spark.stats import table_signature

    graph_dir = os.path.join(meta["path"], "graph")
    sig = tuple(sorted(table_signature(graph_dir).items()))
    q = [float(x) for x in query_vec]
    metric, M, efc, seed = meta["metric"], meta["m"], meta["ef_construction"], meta["seed"]
    id_col = meta["id_col"]
    qz = meta["quantize"]
    quantized = qz in ("b1", "q8")
    dim = meta["dim"]
    if qz == "b1":
        q_search = _pack_code(q, dim)
        n_short = max(k * rerank_factor, k)
    elif qz == "q8":
        # asymmetric would drift by summation order; quantizing the
        # query keeps the walk's level-space distances exact integers —
        # the same determinism the hamming walk gets for free
        q_search = _q8_levels(q, meta["q8_lo"], meta["q8_hi"])
        n_short = max(k * rerank_factor, k)
    else:
        q_search = q
        n_short = k

    allowed_bc = None
    if allowed is not None:
        allow_set = frozenset(int(x) for x in allowed)
        if len(allow_set) > KNN_ALLOW_SET_CAP:
            raise ValueError(
                f"knn_query_graph: allowed set has {len(allow_set)} labels; "
                "an in-walk allow-set over ~1M ids should be a pre-filtered "
                "exact search instead (knn_topk with pre_filter) — the "
                "selectivity switch in Engine.knn_access_path makes this "
                "choice automatically"
            )
        allowed_bc = spark.sparkContext.broadcast(allow_set)

    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("dist", T.DoubleType())]
    )

    if driver_probe is not False:
        # sub-cap artifact: run every part's beam driver-side from the
        # cached reconstructed graphs — identical hits (same HnswIndex
        # code path, same per-part seeds), merged by the same
        # (dist, id) order, so the whole query is at most ONE Spark job
        # (the quantized re-rank with an IN-pushed shortlist; the raw
        # path is a LocalRelation). driver_probe=False pins the
        # distributed applyInPandas shape — the 100 TB plan.
        parts = _graph_parts_if_small(graph_dir)
        if parts is not None:
            allow = frozenset(int(x) for x in allowed) if allowed is not None else None
            hits_all: list = []
            for part, (files, n_rows) in parts.items():
                index = _cached_graph(
                    (graph_dir, part, sig),
                    lambda files=files, n_rows=n_rows, part=part: _index_from_state(
                        _read_part(files), metric, M, efc,
                        _part_seed(seed, part, n_rows), dim, quantize=qz,
                    ),
                )
                nn = min(n_short, len(index._vecs))
                if exact:
                    hits = index.search_exact(q_search, nn, allowed=allow)
                else:
                    hits = index.search(
                        q_search, nn, ef=max(ef, n_short),
                        policy=policy, budget=budget, allowed=allow,
                    )
                hits_all.extend(hits)
            hits_all.sort(key=lambda h: (float(h[1]), int(h[0])))
            top = hits_all[:n_short]
            if not quantized:
                return local_rows(spark, [(int(i), float(d)) for i, d in top], out_schema)
            from columnar_spark.operators.knn import knn_topk

            pool = rerank_df if rerank_df is not None else spark.read.parquet(table_path)
            cand = pool.select(
                F.col(meta["id_col"]).cast("long").alias(id_col),
                F.col(meta["vec_col"]).alias("__vec"),
            ).filter(F.col(id_col).isin([int(i) for i, _ in top]))
            return knn_topk(cand, "__vec", q, k, metric=metric, id_col=id_col, unroll=False).select(
                id_col, "dist"
            )

    def _search(key, pdf):
        import pandas as pd

        part = int(key[0])

        def _rebuild():
            return _index_from_state(
                pdf, metric, M, efc, _part_seed(seed, part, len(pdf)), dim,
                quantize=qz,
            )

        index = _cached_graph((graph_dir, part, sig), _rebuild)
        allow = allowed_bc.value if allowed_bc is not None else None
        nn = min(n_short, len(index._vecs))
        if exact:
            hits = index.search_exact(q_search, nn, allowed=allow)
        else:
            hits = index.search(q_search, nn, ef=max(ef, n_short),
                                policy=policy, budget=budget, allowed=allow)
        return pd.DataFrame(
            {id_col: [h[0] for h in hits], "dist": [float(h[1]) for h in hits]}
        )

    local = (
        spark.read.parquet(graph_dir)
        .groupBy("part")
        .applyInPandas(_search, out_schema)
    )
    merged = local.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(n_short)
    if not quantized:
        return merged
    # exact re-rank of the deterministic hamming shortlist against the
    # base table's raw floats (a broadcast of <= k*rerank_factor ids) —
    # same recipe as knn_query_indexed_b1, same oracle construction
    from columnar_spark.operators.knn import knn_topk

    pool = rerank_df if rerank_df is not None else spark.read.parquet(table_path)
    cand = pool.select(
        F.col(meta["id_col"]).cast("long").alias(id_col),
        F.col(meta["vec_col"]).alias("__vec"),
    ).join(F.broadcast(merged.select(id_col)), id_col)
    return knn_topk(cand, "__vec", q, k, metric=metric, id_col=id_col, unroll=False).select(
        id_col, "dist"
    )


def check_graph_index(
    spark: SparkSession, table_path: str, index_path: str | None = None
) -> list[str]:
    """A13 checker for the graph sidecar: per-part structural audit
    (contiguous node range, valid entry, links in range, level shape)
    plus table<->index id lockstep — the same walk-every-companion
    contract as check_vector_index. With no explicit index_path, walks
    EVERY per-attribute artifact (root + col=* subdirs)."""
    if index_path is None:
        errors: list[str] = []
        for d in graph_index_dirs(table_path):
            tag = os.path.basename(d)
            prefix = f"{tag}: " if tag.startswith("col=") else ""
            errors.extend(
                prefix + e
                for e in check_graph_index(spark, table_path, index_path=d)
            )
        return errors
    meta = load_graph_index_meta(table_path, check_fresh=False, index_path=index_path)
    if meta is None:
        return []
    errors: list[str] = []
    graph_dir = os.path.join(meta["path"], "graph")
    g = spark.read.parquet(graph_dir)

    def _audit(key, pdf):
        import pandas as pd

        part = int(key[0])
        errs = []
        n = len(pdf)
        nodes = sorted(int(x) for x in pdf["node"])
        if nodes != list(range(n)):
            errs.append(f"part {part}: node range not contiguous 0..{n - 1}")
        entry = int(pdf["entry"].iloc[0])
        if not (0 <= entry < n):
            errs.append(f"part {part}: entry {entry} out of range")
        max_level = int(pdf["max_level"].iloc[0])
        bad_links = bad_levels = 0
        for links in pdf["links"]:
            if len(links) > max_level + 1:
                bad_levels += 1
            for lv in links:
                if any(not (0 <= int(nb) < n) for nb in lv):
                    bad_links += 1
        if bad_levels:
            errs.append(f"part {part}: {bad_levels} nodes above max_level")
        if bad_links:
            errs.append(f"part {part}: {bad_links} levels with out-of-range links")
        if meta["quantize"] in ("b1", "q8"):
            want = (
                _code_nbytes(meta["dim"])
                if meta["quantize"] == "b1"
                else meta["dim"]  # q8: one int8 code per dimension
            )
            bad_dim = sum(
                1 for c in pdf["code"] if c is None or len(bytes(c)) != want
            )
            if bad_dim:
                errs.append(
                    f"part {part}: {bad_dim} codes with size != {want} bytes"
                )
        else:
            bad_dim = sum(1 for v in pdf["vec"] if len(v) != meta["dim"])
            if bad_dim:
                errs.append(f"part {part}: {bad_dim} vectors with dim != {meta['dim']}")
        return pd.DataFrame({"err": errs})

    errors.extend(
        r["err"] for r in g.groupBy("part").applyInPandas(_audit, "err: string").collect()
    )

    table = spark.read.parquet(table_path).select(
        F.col(meta["id_col"]).cast("long").alias("label")
    )
    ids = g.select("label")
    missing = table.join(ids, "label", "left_anti").count()
    orphans = ids.join(table, "label", "left_anti").count()
    if missing:
        errors.append(f"graph index missing {missing} table ids")
    if orphans:
        errors.append(f"graph index has {orphans} orphan ids not in table")
    dupes = ids.groupBy("label").count().filter(F.col("count") > 1).count()
    if dupes:
        errors.append(f"graph index has {dupes} duplicated labels")
    return errors
