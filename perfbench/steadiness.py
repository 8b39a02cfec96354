"""Steadiness check: run the benchmark as two sets of runs on one
checkout and print, per workload and metric, each set's median and
quartiles and the set-to-set difference — the numbers a metric's bound
is set from.

    python3 perfbench/steadiness.py --runs 10 --sets 2
    python3 perfbench/steadiness.py --workload ingest_serve --runs 5 --sets 1
    python3 perfbench/steadiness.py --first-set 1 --sets 2 --out runs.jsonl   # add set 1

Set k uses seeds k*1000+1 .. k*1000+runs, so the sets share no seed.
Runs are sequential, one benchmark process at a time. Each metric row
shows per set the quartiles and IQR/median (the spread the bound must
cover; `statistics.quantiles(n=4)`), then the relative difference of the
last set's median from the first's. A line ending in `!` has a spread or
difference over a third of the metric's bound. Raw results are appended
as JSON lines to --out; `--summarize FILE` re-prints a summary from them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(spec: dict, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values: "list[float]") -> "tuple[float, float, float, float]":
    """(median, q1, q3, (q3-q1)/median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def summarize(spec: dict, results: "dict[str, list[list[dict]]]", trace: int) -> None:
    names = spec["per_layer" if trace else "end_to_end"]
    for workload, sets in results.items():
        print(f"\n== {workload}: {len(sets)} set(s) x {len(sets[0])} runs")
        head = " ".join(f"{'q1':>10s} {'med':>10s} {'q3':>10s} {'iqr/med':>7s}" for _ in sets)
        print(f"{'metric':30s} {'bound':>5s} {head} {'diff':>7s}")
        for m in names:
            row, meds, worst = [], [], 0.0
            for runs in sets:
                vals = [r["metrics"][m["name"]]["value"] for r in runs]
                med, q1, q3, rel = spread(vals) if len(vals) > 1 else (vals[0], vals[0], vals[0], 0.0)
                meds.append(med)
                row.append(f"{q1:10.4f} {med:10.4f} {q3:10.4f} {rel:7.4f}")
                worst = max(worst, rel)
            diff = (meds[-1] - meds[0]) / meds[0] if meds[0] else 0.0
            bound = m.get("bound")
            flag = " !" if bound is not None and (worst > bound / 3 or abs(diff) > bound / 3) else ""
            print(f"{m['name']:30s} {bound if bound is not None else '-':>5} {' '.join(row)} {diff:7.4f}{flag}")
        fails = sum(r["failed"] for runs in sets for r in runs)
        ops = sum(r["attempted"] for runs in sets for r in runs)
        print(f"failed ops over all runs: {fails} of {ops}")


def load_results(path: str) -> "dict[str, list[list[dict]]]":
    """Results appended by --out, grouped by workload and set."""
    results: dict[str, dict[int, list[dict]]] = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            results.setdefault(r["workload"], {}).setdefault(r["set"], []).append(r)
    return {w: [sets[k] for k in sorted(sets)] for w, sets in results.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="two-set steadiness check")
    ap.add_argument("--workload", action="append", help="default: every workload in BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-set", type=int, default=0,
                    help="skip the sets before this one (to add a set to an earlier --out file)")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", help="append raw results here as JSON lines")
    ap.add_argument("--summarize", metavar="FILE", help="only summarize results an earlier --out wrote")
    args = ap.parse_args(argv)
    spec = load_spec()
    if args.summarize:
        summarize(spec, load_results(args.summarize), args.trace)
        return 0
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    results: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    for k in range(args.first_set, args.sets):
        for w in workloads:
            runs = []
            for i in range(args.runs):
                seed = k * 1000 + i + 1
                r = run_once(spec, w, seed, spec["run_seconds"], args.trace)
                runs.append(r)
                print(f"set {k} {w} seed {seed}: " + json.dumps(
                    {n: round(v["value"], 4) for n, v in r["metrics"].items()}
                ), file=sys.stderr, flush=True)
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps({"set": k, "workload": w, "seed": seed, **r}) + "\n")
            results[w].append(runs)
    summarize(spec, results, args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
