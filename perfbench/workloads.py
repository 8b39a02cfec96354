"""The workloads: what each ingests, the op types it interleaves,
how each op calls the engine's public surface, and how its answer is
checked.

An op runs in two timed phases: `call` (the engine call, until it
returns a DataFrame or a value) and, for a DataFrame, the collect. The
oracle check and any input preparation (registering an append batch as
a view) run outside both.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np

from perfbench import datagen
from perfbench.oracle import Duck, Vectors, check_knn, check_search, rows_match


@dataclass
class Op:
    seq: int
    kind: str  # op type, also the latency metric's prefix: <kind>_p50_ms
    params: dict = field(default_factory=dict)


class Workload:
    """Base: subclasses set `tables` (loaded and ingested), `cycle`
    (op types in their interleaved order) and `cycles_per_s` (the
    nominal rate that turns --seconds into a fixed op count)."""

    name = ""
    tables: "list[str]" = []
    cycle: "list[str]" = []
    cycles_per_s = 1.0
    warmup_cycles = 1
    unwarmed: "set[str]" = set()  # op types the warm-up skips

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.src_dir = os.path.join(run_dir, "src")
        self.layout = os.path.join(run_dir, "layout")
        self.source = datagen.load_tables(self.tables)
        self.user_bytes = sum(t.nbytes for t in self.source.values())
        self.extra: dict[str, list] = {}  # per-op side values (recall, knn path)

    # -- inputs

    def write_sources(self) -> None:
        os.makedirs(self.src_dir, exist_ok=True)
        for name in self.tables:
            shutil.copyfile(datagen.source_path(name), os.path.join(self.src_dir, f"{name}.parquet"))

    def n_cycles(self, seconds: int) -> int:
        return max(2, round(seconds * self.cycles_per_s))

    def ops(self, stream: int, n_cycles: int) -> "list[Op]":
        """`n_cycles` repetitions of `cycle`, each op with its own
        parameters drawn from (seed, stream)."""
        params = {
            k: iter(datagen.op_params(
                self.seed, stream, self.param_kind(k), n_cycles * self.cycle.count(k), self.source
            ))
            for k in dict.fromkeys(self.cycle)
            if self.param_kind(k)
        }
        return [
            Op(c * len(self.cycle) + j, kind, next(params[kind]) if kind in params else {})
            for c in range(n_cycles)
            for j, kind in enumerate(self.cycle)
        ]

    def param_kind(self, kind: str) -> "str | None":
        """The datagen parameter family of an op type (None: no params)."""
        return kind

    # -- engine side

    def setup(self, spark) -> None:
        """Ingest the run's source tables into the run-private layout with
        the engine's own builder (the code behind `python -m columnar_spark
        ingest`) and open an Engine on it."""
        from columnar_spark import writer
        from columnar_spark.table import Engine

        writer.build_sf_layout(spark, self.src_dir, self.layout)
        self.engine = Engine(spark, self.layout)

    def warmup(self, stream: int) -> None:
        """Run `warmup_cycles` full cycles untimed (less the `unwarmed` op
        types), on inputs from `stream`, so the timed ops do not pay a
        fresh JVM's first-call costs (class loading, JIT). One cycle is
        what the run budget leaves room for."""
        for op in self.ops(stream, self.warmup_cycles):
            if op.kind in self.unwarmed:
                continue
            self.prepare(op)
            value = self.call(op)
            if hasattr(value, "collect"):
                value.collect()
            self.finish(op, ok=True)

    def prepare(self, op: Op) -> None:
        """Untimed input preparation before the op's timed call."""

    def call(self, op: Op):
        return getattr(self, f"_call_{op.kind}")(op.params)

    def check(self, op: Op, value) -> bool:
        return getattr(self, f"_check_{op.kind}")(op.params, value)

    def finish(self, op: Op, ok: bool) -> None:
        """Untimed bookkeeping after the op's check."""

    def close(self) -> None:
        pass


class ServePoint(Workload):
    """Index- and sidecar-served point ops: per-op fixed cost dominates."""

    name = "serve_point"
    tables = ["orders", "documents", "embeddings"]
    # the cheap point ops repeat so their medians rest on more samples
    cycle = ["count", "lookup", "knn", "count", "lookup", "search", "count", "lookup"]
    cycles_per_s = 0.14

    def __init__(self, seed, run_dir):
        super().__init__(seed, run_dir)
        self.duck = Duck({"orders": self.source["orders"]})
        emb = self.source["embeddings"]
        self.vectors = Vectors(
            emb.column("vec_id").to_numpy(),
            np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)),
        )
        docs = self.source["documents"]
        self.docs = list(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))

    def setup(self, spark):
        super().setup(spark)
        self.engine.load_persisted_value_indexes("orders")

    def _call_count(self, p):
        from columnar_spark.filters import Filter, FilterType

        return self.engine.count("orders", [Filter("o_custkey", FilterType.VALUES, values=[p["custkey"]])])

    def _check_count(self, p, n):
        return n == self.duck.rows("SELECT count(*) FROM orders WHERE o_custkey = ?", [p["custkey"]])[0][0]

    _LOOKUP_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]

    def _call_lookup(self, p):
        from columnar_spark.filters import Filter, FilterType

        f = Filter("o_orderkey", FilterType.RANGE, min_value=p["lo"], max_value=p["hi"])
        return self.engine.scan("orders", [f], select=self._LOOKUP_COLS, limit=p["limit"])

    def _check_lookup(self, p, rows):
        want = self.duck.rows(
            f"SELECT {', '.join(self._LOOKUP_COLS)} FROM orders WHERE o_orderkey BETWEEN ? AND ?",
            [p["lo"], p["hi"]],
        )
        return rows_match(rows, want)

    def _call_knn(self, p):
        self.extra.setdefault("knn_path", []).append(
            self.engine.knn_access_path("embeddings", "embedding", k=p["k"])
        )
        return self.engine.knn("embeddings", "embedding", p["vec"], k=p["k"]).select("vec_id", "dist")

    def _check_knn(self, p, rows):
        ok, recall = check_knn([(r[0], r[1]) for r in rows], self.vectors, p["vec"], p["k"])
        self.extra.setdefault("recall", []).append(recall)
        return ok

    def _call_search(self, p):
        return self.engine.search("documents", p["query"], k=p["k"])

    def _check_search(self, p, rows):
        from columnar_spark.operators.fulltext import bm25_reference

        return check_search([(r["doc_id"], r["score"]) for r in rows], bm25_reference(self.docs, p["query"]), p["k"])

    def warmup(self, stream):
        super().warmup(stream)
        self.extra.clear()

    def close(self):
        self.duck.close()


_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


class IngestServe(Workload):
    """One INSERT INTO events, then reads of what it landed beside."""

    name = "ingest_serve"
    tables = ["events"]
    # one append, then one read of each kind on the state it left: the
    # append dominates a cycle's cost, so short cycles put more appends
    # into the run's budget
    cycle = ["append", "count", "lookup", "agg"]
    cycles_per_s = 0.14
    # Only the reads warm up, on the measured table before its first
    # append, so the measured table only ever sees timed appends. A
    # warm-up append on a throwaway copy of the layout cost ~15 s a run,
    # which the run budget does not leave, so the first timed append is
    # the JVM's first INSERT.
    unwarmed = {"append"}

    def __init__(self, seed, run_dir):
        super().__init__(seed, run_dir)
        self.duck = Duck({"events": self.source["events"]})
        self.rows_now = self.source["events"].num_rows
        self.user_bytes_appended = 0

    def param_kind(self, kind):
        return {"count": "event_count", "agg": "bucket_agg"}.get(kind)

    def ops(self, stream, n_cycles):
        """Every stream's batches continue the source table (fresh ids,
        later `ts`), so warm-up and timed sequences are independent."""
        out = super().ops(stream, n_cycles)
        events = self.source["events"]
        batches = datagen.append_batches(self.seed, stream, n_cycles, events)
        for op in out:
            if op.kind in ("append", "lookup"):
                op.params = {"batch": batches[op.seq // len(self.cycle)]}
        return out

    def setup(self, spark):
        from columnar_spark.stats import json_virtual_name

        super().setup(spark)
        self.spark = spark
        self.engine.load_persisted_value_indexes("events")
        # INSERT binds positionally to every table column, including the
        # JSON field the layout materializes at ingest
        vcol = json_virtual_name("props", "$.k")
        derived = {vcol: f"get_json_object(props, '$.k') AS {vcol}"}
        self.insert_cols = [
            c if c in _EVENT_COLS else derived[c] for c in self.engine.table("events").columns
        ]

    def prepare(self, op):
        if op.kind == "append":
            view = f"bench_batch_{op.seq}"
            self.spark.createDataFrame(op.params["batch"]).createOrReplaceTempView(view)
            op.params["view"] = view

    def _call_append(self, p):
        cols = ", ".join(self.insert_cols)
        return self.engine.sql(f"INSERT INTO events SELECT {cols} FROM {p['view']}")

    def _check_append(self, p, rows):
        n = p["batch"].num_rows
        return len(rows) == 1 and rows[0]["n_affected"] == n and rows[0]["n_rows"] == self.rows_now + n

    def _call_count(self, p):
        from columnar_spark.filters import Filter, FilterType

        return self.engine.count("events", [Filter("event_type", FilterType.STRINGS, strings=[p["event_type"]])])

    def _check_count(self, p, n):
        return n == self.duck.rows("SELECT count(*) FROM events WHERE event_type = ?", [p["event_type"]])[0][0]

    def _call_lookup(self, p):
        from columnar_spark.filters import Filter, FilterType

        ids = p["batch"].column("event_id")
        f = Filter("event_id", FilterType.RANGE, min_value=ids[0].as_py(), max_value=ids[-1].as_py())
        return self.engine.scan("events", [f], select=_EVENT_COLS)

    def _check_lookup(self, p, rows):
        return rows_match(rows, [tuple(r.values()) for r in p["batch"].to_pylist()])

    def _agg_sql(self, p):
        # The WHERE takes this off the rollup route (`Engine.sql` routes
        # only the unfiltered bucketed shape): after INSERT the engine
        # serves that shape from a stale rollup (see README, Oracle).
        return (
            "SELECT date_trunc('day', ts) AS b, event_type, " + ", ".join(p["aggs"])
            + f" FROM events WHERE value >= CAST('{p['min_value']!r}' AS DOUBLE)"
            + " GROUP BY b, event_type"
        )

    def _call_agg(self, p):
        return self.engine.sql(self._agg_sql(p))

    def _check_agg(self, p, rows):
        return rows_match(rows, self.duck.rows(self._agg_sql(p)))

    def finish(self, op, ok):
        if op.kind == "append":
            self.spark.catalog.dropTempView(op.params["view"])
            if ok:
                batch = op.params["batch"]
                self.rows_now += batch.num_rows
                self.user_bytes_appended += batch.nbytes
                self.duck.append("events", batch)

    def close(self):
        self.duck.close()


WORKLOADS = {w.name: w for w in (ServePoint, IngestServe)}
