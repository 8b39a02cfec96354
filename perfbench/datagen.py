"""Inputs: the fixed source tables, and seeded per-op query parameters
and append batches drawn from them.

The source tables are files under `perfbench/data/` and do not depend
on the seed. Everything the seed drives is a pure function of
(seed, stream, source tables) built on numpy's PCG64, so the same seed
yields the same ops in the same order and byte-identical append
batches. The timed sequence and the untimed warm-up draw from separate
streams (`TIMED`, `WARMUP`), so warm-up never replays a timed input.
No Spark here: the engine only ever sees these inputs.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# stream ids mixed into the seed: the timed op sequence and the untimed
# warm-up ops
TIMED, WARMUP = 1, 2

APPEND_ROWS = 200
KNN_NOISE = 0.05  # per-coordinate std of the noise added to a stored vector


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def source_path(name: str) -> str:
    return os.path.join(DATA_DIR, f"{name}.parquet")


def load_tables(names: "list[str]") -> "dict[str, pa.Table]":
    """The fixed source tables, as Arrow tables without file metadata."""
    return {n: pq.read_table(source_path(n)).replace_schema_metadata(None) for n in names}


# ------------------------------------------------------------------ ops


def op_params(seed: int, stream: int, kind: str, n: int, source: "dict[str, pa.Table]") -> "list[dict]":
    """`n` parameter sets for op type `kind`, drawn from (seed, stream)
    and the values present in `source`."""
    g = rng(seed, stream * 1000 + sorted(_OP_PARAMS).index(kind) + 1)
    return [_OP_PARAMS[kind](g, source) for _ in range(n)]


def _pick(g: np.random.Generator, column: pa.ChunkedArray):
    return column[int(g.integers(0, len(column)))].as_py()


def _p_count(g, src):
    return {"custkey": int(_pick(g, src["orders"].column("o_custkey")))}


def _p_lookup(g, src):
    keys = np.sort(src["orders"].column("o_orderkey").to_numpy())
    i = int(g.integers(0, len(keys) - 16))
    return {"lo": int(keys[i]), "hi": int(keys[i + 15]), "limit": 50}


def _p_knn(g, src):
    v = np.asarray(_pick(g, src["embeddings"].column("embedding")), dtype=np.float64)
    v = v + g.normal(0.0, KNN_NOISE, v.shape)
    return {"vec": [float(x) for x in v / np.linalg.norm(v)], "k": 10}


def _p_search(g, src):
    texts = src["documents"].column("text").to_pylist()
    words = sorted({w for t in texts for w in re.split(r"\W+", t.lower()) if w})
    terms = g.choice(np.array(words), int(g.integers(1, 4)), replace=False)
    return {"query": " ".join(terms), "k": 10}


def _p_event_type(g, src):
    return {"event_type": _pick(g, src["events"].column("event_type"))}


def _p_bucket_agg(g, src):
    aggs = ["SUM(value) AS s", "MIN(value) AS lo", "MAX(value) AS hi", "AVG(value) AS av"]
    pick = sorted(g.choice(len(aggs), int(g.integers(1, 4)), replace=False))
    # a `value` floor between the table's 10th and 50th percentile, so an
    # aggregate keeps half to nine tenths of the rows
    values = np.sort(src["events"].column("value").to_numpy())
    floor = float(values[int(g.integers(len(values) // 10, len(values) // 2))])
    return {"aggs": ["COUNT(*) AS n"] + [aggs[i] for i in pick], "min_value": floor}


_OP_PARAMS = {
    "count": _p_count,
    "lookup": _p_lookup,
    "knn": _p_knn,
    "search": _p_search,
    "event_count": _p_event_type,
    "bucket_agg": _p_bucket_agg,
}


# -------------------------------------------------------------- appends


def append_batches(seed: int, stream: int, n: int, events: pa.Table) -> "list[pa.Table]":
    """`n` events-shaped batches of APPEND_ROWS rows continuing `events`:
    fresh ids after its largest, `ts` advancing past its latest by gaps
    resampled from its own, and user, type, value and props each
    resampled from its rows."""
    g = rng(seed, stream * 1000 + 999)
    ids = events.column("event_id").to_numpy()
    ts = np.sort(events.column("ts").cast(pa.int64()).to_numpy())
    gaps = np.diff(ts)
    gaps = gaps[gaps > 0]
    next_id, t_us = int(ids.max()) + 1, int(ts[-1])
    cols = {c: events.column(c) for c in ("user_id", "event_type", "value", "props")}
    out = []
    for _ in range(n):
        new_ts = t_us + np.cumsum(g.choice(gaps, APPEND_ROWS))
        batch = {
            "event_id": pa.array(np.arange(next_id, next_id + APPEND_ROWS), pa.int64()),
            "ts": pa.array(new_ts, pa.int64()).cast(events.schema.field("ts").type),
        }
        for c, col in cols.items():
            batch[c] = col.take(pa.array(g.integers(0, len(col), APPEND_ROWS))).combine_chunks()
        out.append(pa.table(batch, schema=events.schema))
        next_id += APPEND_ROWS
        t_us = int(new_ts[-1])
    return out
