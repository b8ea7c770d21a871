#!/usr/bin/env python3
"""Steadiness report: run each workload with several seeds and print, per
metric, the median, the quartiles and the spread (interquartile range over
median), flagging any end-to-end metric whose spread exceeds a tenth.

    python3 perfbench/steady.py --runs 10 [--workloads sql_read,lake_ingest]
        [--first-seed 1] [--trace 0] [--out perfbench/results/steady.json]
    python3 perfbench/steady.py --from perfbench/results/steady_e2e_a.json

Quartiles are Python's statistics.quantiles(values, n=4). `--from` prints
the report of runs recorded earlier with `--out` instead of running.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run_all(workloads, runs, first_seed, seconds, trace):
    out = {}
    for w in workloads:
        out[w] = []
        for seed in range(first_seed, first_seed + runs):
            p = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: run failed\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            record, result = json.loads(lines[-2])["perfbench"], json.loads(lines[-1])
            out[w].append({"record": record, "result": result})
            print(f"{w} seed {seed}: failed={result['failed']}/{result['attempted']} "
                  f"load={record['load_before'][0]}->{record['load_after'][0]}", file=sys.stderr)
    return out


def report(runs, bounds):
    worst = 0.0
    for w, rs in runs.items():
        print(f"\n{w}  ({len(rs)} runs, seeds {rs[0]['record']['seed']}..{rs[-1]['record']['seed']}, "
              f"trace={rs[0]['record']['trace']})")
        print(f"  {'metric':30s} {'unit':6s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>7s}")
        for m, v0 in rs[0]["result"]["metrics"].items():
            vals = [r["result"]["metrics"][m]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            flag = ""
            if m in bounds and rs[0]["record"]["trace"] == 0:
                worst = max(worst, spread / bounds[m])
                flag = " <-- over 0.1" if spread > 0.1 else ""
            print(f"  {m:30s} {v0['unit']:6s} {med:11.5g} {q1:11.5g} {q3:11.5g} {spread:7.3f}{flag}")
        failed = sum(r["result"]["failed"] for r in rs)
        attempted = sum(r["result"]["attempted"] for r in rs)
        print(f"  operations: {attempted} attempted, {failed} failed")
    if worst:
        print(f"\nlargest spread / bound: {worst:.2f}")


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out", help="also write every run record here (JSON)")
    ap.add_argument("--from", dest="src", help="report on runs recorded with --out")
    a = ap.parse_args()
    if a.src:
        runs = json.loads(Path(a.src).read_text())
    else:
        runs = run_all(a.workloads.split(","), a.runs, a.first_seed, a.seconds, a.trace)
        if a.out:
            Path(a.out).parent.mkdir(parents=True, exist_ok=True)
            Path(a.out).write_text(json.dumps(runs, indent=1) + "\n")
    report(runs, {m["name"]: m["bound"] for m in spec["end_to_end"]})


if __name__ == "__main__":
    main()
