"""Independent answers for every timed op, checked outside the timed
region: DuckDB over the source rows (plus every acknowledged
append batch), exact numpy cosine for KNN, and the engine's plain-Python
BM25 reference for full-text search."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

REL_TOL = 1e-9
ABS_TOL = 1e-6
SCORE_TOL = 1e-5
DIST_TOL = 1e-4


def _norm(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return dt.datetime(v.year, v.month, v.day)
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (bool, int)):
        return float(v)
    return v


def _same(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def _key(row) -> tuple:
    return tuple((v is None, str(type(_norm(v)).__name__), _norm(v)) for v in row)


def rows_match(got, want, ordered: bool = False) -> bool:
    """Row lists equal as multisets (or sequences), floats within
    REL_TOL/ABS_TOL."""
    got, want = [tuple(r) for r in got], [tuple(r) for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    return all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


class Duck:
    """A DuckDB connection over the source tables; `append`
    adds acknowledged batches so post-append reads have an oracle."""

    def __init__(self, tables: "dict"):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for name, tbl in tables.items():
            self.con.register(f"_src_{name}", tbl)
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM _src_{name}")
            self.con.unregister(f"_src_{name}")

    def append(self, name: str, batch) -> None:
        self.con.register("_batch", batch)
        self.con.execute(f"INSERT INTO {name} SELECT * FROM _batch")
        self.con.unregister("_batch")

    def rows(self, sql: str, params: "list | None" = None) -> "list[tuple]":
        return self.con.execute(sql, params or []).fetchall()

    def close(self) -> None:
        self.con.close()


class Vectors:
    """Exact cosine top-k over the source embeddings."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = ids
        v = vecs.astype(np.float64)
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)

    def topk(self, q, k: int) -> "tuple[list[int], dict[int, float]]":
        qv = np.asarray(q, dtype=np.float64)
        dist = 1.0 - self.unit @ (qv / np.linalg.norm(qv))
        order = np.lexsort((self.ids, dist))
        return [int(self.ids[i]) for i in order[:k]], dict(zip(self.ids.tolist(), dist.tolist()))


def check_knn(got: "list[tuple[int, float]]", vectors: Vectors, q, k: int) -> "tuple[bool, float]":
    """(ok, recall@k). ok: k distinct known ids, each reported distance
    equal to its exact cosine distance, ascending. Recall is reported,
    not gated — the graph path is approximate by design."""
    want, dist = vectors.topk(q, k)
    ids = [int(i) for i, _ in got]
    ok = len(ids) == k and len(set(ids)) == k and all(i in dist for i in ids)
    ok = ok and all(abs(d - dist[i]) <= DIST_TOL for i, d in got)
    ok = ok and all(got[j][1] <= got[j + 1][1] + DIST_TOL for j in range(len(got) - 1))
    return ok, len(set(ids) & set(want)) / k


def check_search(got: "list[tuple[int, float]]", reference: "dict[int, float]", k: int) -> bool:
    """BM25 top-k: the scores equal the reference's k best, and each
    returned doc carries its reference score (ties may order freely)."""
    want = sorted(reference.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(got) != len(want):
        return False
    return all(
        abs(g[1] - w[1]) <= SCORE_TOL and abs(reference.get(int(g[0]), math.inf) - g[1]) <= SCORE_TOL
        for g, w in zip(got, want)
    )
