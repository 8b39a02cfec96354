"""Measurement probes that sit outside the engine: process-tree CPU and
memory from /proc, on-disk bytes of a layout, and the tracer (spans
around layer calls, one Spark job group per op, executed-plan scan
metrics).

The tracer wraps functions at the module attribute each caller
resolves at call time (e.g. `columnar_spark.table.covered_count`, which
`Engine.count` reads from its own module globals), so the engine code is
not modified. Spans are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import importlib
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------ processes


def _stat(pid: int) -> "tuple[int, str, float] | None":
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    cpu = sum(int(x) for x in f[11:15]) / _CLK
    return int(f[1]), comm, cpu


def process_tree(root: int | None = None) -> "dict[int, tuple[int, str, float]]":
    """Every live process under `root` (default: this one), with stats."""
    root = root or os.getpid()
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(int(d))
            if s is not None:
                procs[int(d)] = s
    tree, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in procs and p not in tree:
            tree[p] = procs[p]
            todo.extend(c for c, s in procs.items() if s[0] == p)
    return tree


def _role(pid: int, comm: str, root: int) -> str:
    if pid == root:
        return "driver"
    return "jvm" if comm == "java" else "pyworker"


def cpu_split(root: int | None = None) -> "dict[str, float]":
    """CPU seconds of the process tree by role: driver (this Python
    process), jvm (the Spark JVM) and pyworker (Python workers and any
    other descendants). Monotonic while the tree is stable; reaped
    children are folded into their parent's cutime/cstime."""
    root = root or os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (_ppid, comm, cpu) in process_tree(root).items():
        out[_role(pid, comm, root)] += cpu
    return out


def rss_mb(root: int | None = None) -> float:
    """Resident memory of the whole process tree, in MB."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total / 1e6


# -------------------------------------------------------------- storage


def layout_bytes(layout: str, tables: "list[str]") -> "dict[str, dict[str, int]]":
    """{table: {data, sidecars, files}} for an ingested layout: `data`
    is the table directory, `sidecars` every `<table>.parquet.*` sibling
    (indexes, stats, projections), `files` the data file count."""
    out = {}
    for t in tables:
        base = f"{t}.parquet"
        data = side = files = 0
        for entry in os.listdir(layout):
            if entry != base and not entry.startswith(base + "."):
                continue
            for root, _dirs, names in os.walk(os.path.join(layout, entry)):
                for n in names:
                    size = os.path.getsize(os.path.join(root, n))
                    if entry == base:
                        data += size
                        files += n.endswith(".parquet")
                    else:
                        side += size
        out[t] = {"data": data, "sidecars": side, "files": files}
    return out


# --------------------------------------------------------------- tracer

# (span name, module, attribute): the attribute the caller resolves
WRAPPED = [
    ("writer.build_layout", "columnar_spark.writer", "build_sf_layout"),
    ("writer.write_table", "columnar_spark.writer", "write_table"),
    ("writer.graph_build", "columnar_spark.operators.hnsw_index", "build_graph_index"),
    ("writer.text_index", "columnar_spark.operators.fulltext", "write_text_index"),
    ("stats.covered_count", "columnar_spark.table", "covered_count"),
    ("knn.graph_query", "columnar_spark.operators.hnsw_index", "knn_query_graph"),
    ("search.index_load", "columnar_spark.operators.fulltext", "load_text_index"),
    ("ingest.append_batch", "columnar_spark.streaming.ingest", "append_batch"),
    ("stats.merge_value_index", "columnar_spark.stats", "merge_value_index"),
    ("stats.merge_sketches", "columnar_spark.streaming.ingest", "merge_sketches"),
]


class Tracer:
    """In-memory span recorder. `active` gates recording, so one run can
    alternate traced and untraced cycles to measure tracing overhead."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.op_id: int | None = None
        self.spans: list[tuple] = []  # (name, start, end, parent, op_id, result)
        self._stack: list[int] = []
        self._orig: list[tuple] = []

    def install(self) -> None:
        for name, mod, attr in WRAPPED:
            m = importlib.import_module(mod)
            fn = getattr(m, attr)
            self._orig.append((m, attr, fn))
            setattr(m, attr, self._wrap(name, fn))

    def uninstall(self) -> None:
        for m, attr, fn in reversed(self._orig):
            setattr(m, attr, fn)
        self._orig.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            parent = tracer._stack[-1] if tracer._stack else None
            idx = len(tracer.spans)
            tracer.spans.append(None)
            tracer._stack.append(idx)
            t0 = time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                t1 = time.perf_counter()
                tracer._stack.pop()
                tracer.spans[idx] = (name, t0, t1, parent, tracer.op_id, _tag(name, args, result))

        wrapper.__wrapped__ = fn
        return wrapper

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        if self.active:
            self.spark.sparkContext.setJobGroup(f"bench-op-{op_id}", "bench op", False)

    def end_op(self) -> "dict[str, int]":
        """Jobs, stages and tasks the op's job group ran."""
        counts = {"jobs": 0, "stages": 0, "tasks": 0}
        if self.active:
            sc = self.spark.sparkContext
            st = sc.statusTracker()
            for jid in st.getJobIdsForGroup(f"bench-op-{self.op_id}"):
                job = st.getJobInfo(jid)
                counts["jobs"] += 1
                for sid in job.stageIds if job else ():
                    stage = st.getStageInfo(sid)
                    counts["stages"] += 1
                    counts["tasks"] += stage.numTasks if stage else 0
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.op_id = None
        return counts

    def spans_of(self, name: str) -> "list[tuple]":
        return [s for s in self.spans if s is not None and s[0] == name]


def _tag(name: str, args: tuple, result) -> "str | None":
    if name == "stats.covered_count":
        return "served" if result is not None else "missed"
    if name == "writer.write_table":
        return os.path.basename(str(args[1]).rstrip("/")).split(".")[0]
    return None


def ingest_seconds(tracer: Tracer) -> "dict[str, float]":
    """Seconds the layout builder spent per table: from the start of a
    table's `write_table` to the next table's, or to the builder's end
    (its sidecars are built in between)."""
    builds = tracer.spans_of("writer.build_layout")
    if not builds:
        return {}
    b0, b1 = builds[0][1], builds[0][2]
    starts = sorted((s[1], s[5]) for s in tracer.spans_of("writer.write_table") if b0 <= s[1] <= b1)
    ends = [t for t, _ in starts[1:]] + [b1]
    return {table: end - t0 for (t0, table), end in zip(starts, ends)}


def plan_scans(df) -> "list[dict]":
    """File scans of a DataFrame's executed plan after its action ran:
    one {path, files, rows} per FileSourceScanExec, from its SQL metrics.
    Walks adaptive plans through their final stages."""
    out: list[dict] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            walk(node.child())
            return
        if cls == "FileSourceScanExec":
            metrics = node.metrics()

            def metric(key):
                m = metrics.get(key)
                return int(m.get().value()) if m.isDefined() else 0

            roots = node.relation().location().rootPaths()
            out.append(
                {
                    "path": str(roots.apply(0)) if roots.size() else "",
                    "files": metric("numFiles"),
                    "rows": metric("numOutputRows"),
                }
            )
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            walk(subs.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def jvm_gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector, in ms."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())))
