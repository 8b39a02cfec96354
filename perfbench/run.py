"""Serving benchmark for the columnar Spark engine.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run is a fresh process with a fresh
Spark session and a fresh, run-private ingest under `.bench_run/`, which
is removed on exit. The op sequence is a pure function of the seed and
its length a pure function of --seconds, so two runs with one seed do
the same work against the same table states. Prints a human report on
stderr and, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"} — end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, probe  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 160.0  # stop the timed loop early rather than overrun 180 s
ALL_KINDS = ["count", "lookup", "knn", "search", "agg", "append"]
INGEST_TABLES = ["orders", "events", "documents", "embeddings"]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def _geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class OpRecord:
    __slots__ = ("op", "ok", "raised", "plan_s", "exec_s", "cpu", "traced", "counts", "scans", "rows_out")

    def __init__(self, op):
        self.op = op
        self.ok = False
        self.raised = False
        self.plan_s = self.exec_s = 0.0
        self.cpu = {}
        self.traced = False
        self.counts = {}
        self.scans = []
        self.rows_out = 0

    @property
    def latency_s(self):
        return self.plan_s + self.exec_s


def run_ops(workload, ops, tracer=None, trace_every=0, deadline=None, log=sys.stderr):
    """Run `ops` in order, each timed (call, then collect) and then
    checked by the workload's oracle outside the timed region. An op that
    raises, or whose answer the oracle rejects, counts as failed. With a
    tracer, every `trace_every`-th cycle runs traced."""
    records = []
    width = len(workload.cycle)
    for op in ops:
        if deadline is not None and time.perf_counter() > deadline:
            print(f"deadline reached after {len(records)} ops", file=log)
            break
        rec = OpRecord(op)
        workload.prepare(op)
        if tracer is not None:
            rec.traced = trace_every > 0 and (op.seq // width) % trace_every == 0
            tracer.active = rec.traced
            tracer.begin_op(op.seq)
        cpu0 = probe.cpu_split()
        df = None
        try:
            t0 = time.perf_counter()
            value = workload.call(op)
            t1 = time.perf_counter()
            if hasattr(value, "collect"):
                df, value = value, value.collect()
            t2 = time.perf_counter()
            rec.plan_s, rec.exec_s = t1 - t0, t2 - t1
            rec.rows_out = len(value) if isinstance(value, list) else 1
        except Exception:  # noqa: BLE001 — a failed op is a measurement
            rec.raised = True
            print(f"op {op.seq} ({op.kind}) raised:\n{traceback.format_exc()}", file=log)
        cpu1 = probe.cpu_split()
        rec.cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        if tracer is not None:
            rec.counts = tracer.end_op()
            if rec.traced and df is not None:
                try:
                    rec.scans = probe.plan_scans(df)
                except Exception:  # noqa: BLE001 — plan shape not walkable
                    rec.scans = []
            tracer.active = False
        if not rec.raised:
            try:
                rec.ok = bool(workload.check(op, value))
            except Exception:  # noqa: BLE001 — a check that cannot run rejects
                print(f"op {op.seq} ({op.kind}) check raised:\n{traceback.format_exc()}", file=log)
            if not rec.ok:
                print(f"op {op.seq} ({op.kind}) returned a wrong answer: {op.params}", file=log)
        workload.finish(op, rec.ok)
        records.append(rec)
    return records


def failed_share(records):
    return sum(not r.ok for r in records) / len(records) if records else 0.0


def latencies_ms(records, traced=None):
    """{op kind: [latency ms]} over ops that returned (optionally only
    the traced or only the untraced ones)."""
    by_kind = {}
    for r in records:
        if not r.raised and (traced is None or r.traced == traced):
            by_kind.setdefault(r.op.kind, []).append(r.latency_s * 1e3)
    return by_kind


def end_to_end(records, setup_s, stored):
    """The gated metrics: set-up time, process-tree CPU per op, stored
    bytes and answer correctness. Wall-clock op latency is reported per
    layer: on a 4-vCPU VM sharing its CPUs with other VMs, its spread over
    ten seeds reached 0.3-0.45 IQR/median while CPU per op stayed within
    0.1-0.16, as stolen time is not charged to the process."""
    cpu = sum(sum(r.cpu.values()) for r in records)
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (cpu * 1e3 / len(records), "ms"),
        "stored_bytes_per_user_byte": (stored, "ratio"),
        "ok_op_share": (1.0 - failed_share(records), "ratio"),
    }


def latency_metrics(records, traced=None):
    """Wall-clock metrics over the timed ops: ops/s, each kind's median,
    their geometric mean (a gain on one kind moves it undiluted by the
    mix) and the 90th percentile."""
    by_kind = latencies_ms(records, traced)
    rs = [r for r in records if traced is None or r.traced == traced]
    wall = sum(r.latency_s for r in rs)
    m = {
        "ops_per_s": (len(rs) / wall if wall else 0.0, "1/s"),
        "typed_p50_geomean_ms": (_geomean([_median(v) for v in by_kind.values()]), "ms"),
        "p90_ms": (_pct([x for v in by_kind.values() for x in v], 0.9), "ms"),
    }
    for kind in ALL_KINDS:
        m[f"{kind}_p50_ms"] = (_median(by_kind.get(kind, [])), "ms")
    return m


def per_layer(workload, records, tracer, session_s, gc_ms, rss, storage0, storage):
    traced = [r for r in records if r.traced]
    untraced = [r for r in records if not r.traced]
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    put("session.start_s", session_s, "s")
    ingest_s = probe.ingest_seconds(tracer)
    for t in INGEST_TABLES:
        put(f"writer.ingest_s.{t}", ingest_s.get(t, 0.0), "s")
    put("writer.graph_build_s", sum(s[2] - s[1] for s in tracer.spans_of("writer.graph_build")), "s")
    put("writer.text_index_s", sum(s[2] - s[1] for s in tracer.spans_of("writer.text_index")), "s")
    for t in INGEST_TABLES:
        st = storage.get(t, {"data": 0, "sidecars": 0, "files": 0})
        put(f"storage.bytes.{t}.data", st["data"], "B")
        put(f"storage.bytes.{t}.sidecars", st["sidecars"], "B")
        put(f"storage.files.{t}", st["files"], "count")

    # wall-clock latency from the untraced cycles of this run
    for name, (value, unit) in latency_metrics(records, traced=False).items():
        put(name, value, unit)
    for kind in ALL_KINDS:
        rs = [r for r in traced if r.op.kind == kind and not r.raised]
        put(f"engine.plan_ms.{kind}", _median([r.plan_s * 1e3 for r in rs]), "ms")
        put(f"spark.exec_ms.{kind}", _median([r.exec_s * 1e3 for r in rs]), "ms")
        for c in ("jobs", "stages", "tasks"):
            put(f"spark.{c}_per_op.{kind}", _mean([r.counts.get(c, 0) for r in rs]), "count")

    def op_spans(name):
        ids = {r.op.seq for r in traced}
        return [s for s in tracer.spans_of(name) if s[4] in ids]

    counts = [r for r in traced if r.op.kind == "count"]
    cc = op_spans("stats.covered_count")
    served = {s[4] for s in cc if s[5] == "served"}
    put("stats.index_served_share", len([r for r in counts if r.op.seq in served]) / len(counts) if counts else 0, "ratio")
    put("stats.covered_count_ms", _span_ms_per_op(cc, counts), "ms")

    sqls = [r for r in traced if r.op.kind == "agg" and not r.raised]
    base = {f"{t}.parquet" for t in workload.tables}
    rewritten = [r for r in sqls if not any(os.path.basename(s["path"].rstrip("/")) in base for s in r.scans)]
    put("sql.rewritten_share", len(rewritten) / len(sqls) if sqls else 0, "ratio")
    put("sql.mv_router_skips", len(workload.engine.mv_router_skips), "count")
    scans = [r for r in traced if r.op.kind in ("agg", "lookup") and not r.raised]
    files = [sum(s["files"] for s in r.scans) for r in scans]
    put("scan.files_read_per_op", _mean(files), "count")
    rows_read = sum(sum(s["rows"] for s in r.scans) for r in scans)
    rows_out = sum(r.rows_out for r in scans)
    put("scan.rows_read_per_row_returned", rows_read / rows_out if rows_out else 0, "ratio")

    paths = workload.extra.get("knn_path", [])
    for p in ("graph", "fullscan", "ivf"):
        put(f"knn.path_share.{p}", paths.count(p) / len(paths) if paths else 0, "ratio")
    knns = [r for r in traced if r.op.kind == "knn"]
    put("knn.graph_query_ms", _span_ms_per_op(op_spans("knn.graph_query"), knns), "ms")
    put("knn_recall_at_10", _mean(workload.extra.get("recall", [])), "ratio")
    searches = [r for r in traced if r.op.kind == "search"]
    put("search.index_load_ms", _span_ms_per_op(op_spans("search.index_load"), searches), "ms")
    put("search.jobs_per_op", _mean([r.counts.get("jobs", 0) for r in searches]), "count")

    appends = [r for r in traced if r.op.kind == "append" and not r.raised]
    ab = op_spans("ingest.append_batch")
    put("ingest.append_batch_ms", _span_ms_per_op(ab, appends), "ms")
    put(
        "ingest.insert_overhead_ms",
        _mean([r.latency_s * 1e3 for r in appends]) - _span_ms_per_op(ab, appends),
        "ms",
    )
    put("stats.merge_value_index_ms", _span_ms_per_op(op_spans("stats.merge_value_index"), appends), "ms")
    put("stats.merge_sketches_ms", _span_ms_per_op(op_spans("stats.merge_sketches"), appends), "ms")
    n_app = len([r for r in records if r.op.kind == "append"])
    added = storage.get("events", {}).get("files", 0) - storage0.get("events", {}).get("files", 0)
    put("ingest.files_added_per_append", added / n_app if n_app else 0, "count")

    n = len(traced) or 1
    for role in ("driver", "jvm", "pyworker"):
        put(f"cpu.{role}_ms_per_op", sum(r.cpu.get(role, 0.0) for r in traced) * 1e3 / n, "ms")
    put("gc.jvm_ms_per_op", gc_ms / len(records) if records else 0, "ms")
    put("rss_mb", rss, "MB")
    put("failed_op_share", failed_share(records), "ratio")

    # tracing overhead: traced vs untraced cycles of the same run
    # (an unwarmed kind is left out: its first, cold op would land on one
    # side only)
    ratios = []
    for kind in dict.fromkeys(k for k in workload.cycle if k not in workload.unwarmed):
        a = _median([r.latency_s for r in traced if r.op.kind == kind and not r.raised])
        b = _median([r.latency_s for r in untraced if r.op.kind == kind and not r.raised])
        if a and b:
            ratios.append(a / b)
    put("trace.overhead_share", _geomean(ratios) - 1.0 if ratios else 0.0, "ratio")
    return m


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _span_ms_per_op(spans, records):
    return sum(s[2] - s[1] for s in spans) * 1e3 / len(records) if records else 0.0


def _configure_env(run_dir):
    """Keep every file Spark and Python write inside the run directory,
    make this checkout importable by Python workers, and silence the
    console progress bar (a logging setting, not an engine conf)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        # no hsperfdata file under /tmp; the JVM's temp files go to `tmp`
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _stop_spark(spark):
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort: do not leave it behind
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, log=sys.stderr):
    from columnar_spark.session import get_spark  # the engine must be present

    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure_env(run_dir)

    workload = WORKLOADS[args.workload](args.seed, run_dir)
    spark = None
    try:
        workload.write_sources()
        # a traced run does the same ops and traces every other cycle
        ops = workload.ops(datagen.TIMED, workload.n_cycles(args.seconds))
        tracer = None
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        if args.trace:
            tracer = probe.Tracer(spark)
            tracer.install()
            tracer.active = True
        workload.setup(spark)
        t_ingest = time.perf_counter()
        if tracer is not None:
            tracer.active = False
        workload.warmup(datagen.WARMUP)
        setup_s = time.perf_counter() - t0
        print(f"setup: session {session_s:.2f} s, ingest {t_ingest - t0 - session_s:.2f} s, "
              f"warm-up {t0 + setup_s - t_ingest:.2f} s", file=log)
        storage0 = probe.layout_bytes(workload.layout, workload.tables)
        gc0 = probe.jvm_gc_ms(spark)
        t_ops = time.perf_counter()
        records = run_ops(
            workload, ops, tracer, trace_every=2 if tracer else 0,
            deadline=t_ops + DEADLINE_S - setup_s, log=log,
        )
        print(f"timed: {len(records)} ops in {time.perf_counter() - t_ops:.2f} s "
              "(op calls, collects and oracle checks)", file=log)
        rss = probe.rss_mb()
        gc_ms = probe.jvm_gc_ms(spark) - gc0
        storage = probe.layout_bytes(workload.layout, workload.tables)
        stored = sum(s["data"] + s["sidecars"] for s in storage.values())
        user = workload.user_bytes + getattr(workload, "user_bytes_appended", 0)
        e2e = end_to_end(records, setup_s, stored / user)
        if tracer is not None:
            metrics = per_layer(workload, records, tracer, session_s, gc_ms, rss, storage0, storage)
            tracer.uninstall()
        else:
            metrics = e2e
        report(args, records, e2e, rss, metrics if tracer else None, log)
        return {
            "correct": all(r.ok for r in records) and len(records) == len(ops),
            "attempted": len(records),
            "failed": sum(not r.ok for r in records),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            workload.close()
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))  # only when no other run uses it
            except OSError:
                pass


def report(args, records, e2e, rss, layers, log):
    """Every metric by name and unit, plus per-kind medians, p90 and RSS."""
    print(f"== {args.workload} seed={args.seed} ops={len(records)} "
          f"failed={sum(not r.ok for r in records)}", file=log)
    for k, (v, u) in e2e.items():
        print(f"  {k:36s} {v:14.4f} {u}", file=log)
    lat = latencies_ms(records)
    for k, (v, u) in latency_metrics(records).items():
        n = len(lat.get(k[: -len("_p50_ms")], [])) if k.endswith("_p50_ms") else len(records)
        if n:
            print(f"  {k + ' (all ops)':36s} {v:14.4f} {u}  n={n}", file=log)
    print(f"  {'rss_mb (end of timed ops)':36s} {rss:14.4f} MB", file=log)
    for k, (v, u) in (layers or {}).items():
        print(f"  {k:36s} {v:14.4f} {u}", file=log)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    result = measure(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
