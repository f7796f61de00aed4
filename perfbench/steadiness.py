#!/usr/bin/env python3
"""Steadiness evidence: two interleaved sets of runs of the same code.

    python3 perfbench/steadiness.py --out perfbench/results/steadiness.json

Runs every workload ten times in set A and ten times in set B, for
``run_seconds`` from BENCHMARK.json, seed ``i`` on round ``i``, alternating
A-B and B-A from round to round so that host drift falls on both sets alike.
Then it makes two traced runs with one seed per workload, to see which
per-layer counters repeat exactly.  It writes every run's result line and
diagnostics to ``--out`` and prints a summary: for each end-to-end metric
and set, the median, the quartiles and the spread (quartile distance over
median), and the shift of B's median from A's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

RUNS = 10
TRACED = 2

# Counters that should repeat exactly on one seed; the rest are timings.
EXACT = ("jvm.codegen_compiles", "build.jobs", "exec.jobs", "exec.stages", "exec.tasks",
         "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.input_bytes",
         "catalog.load_table_calls", "pyworker.bytes_sent", "pyworker.bytes_returned",
         "ndjson.jobs", "ndjson.bytes_in", "ndjson.bytes_out")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": time.time() - t0,
            "result": json.loads(lines[-1]), "diagnostics": json.loads(lines[-2])["diagnostics"]}


def summarize(runs: list[dict]) -> dict:
    out: dict = {}
    for workload in wl.WORKLOADS:
        rows = [r for r in runs if r["workload"] == workload and r["trace"] == 0]
        if not rows:
            continue
        per: dict = {}
        for name in rows[0]["result"]["metrics"]:
            sets = {}
            for s in ("A", "B"):
                xs = [r["result"]["metrics"][name]["value"] for r in rows if r["set"] == s]
                q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
                med = statistics.median(xs)
                sets[s] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "n": len(xs)}
            sets["shift_B_vs_A"] = sets["B"]["median"] / sets["A"]["median"] - 1.0
            per[name] = sets
        traced = [r for r in runs if r["workload"] == workload and r["trace"] == 1]
        repeat = {}
        if len(traced) >= 2:
            a, b = (t["result"]["metrics"] for t in traced[:2])
            for name in EXACT:
                repeat[name] = {"values": [a[name]["value"], b[name]["value"]],
                                "repeats": a[name]["value"] == b[name]["value"]}
        out[workload] = {
            "metrics": per,
            "failed": sum(r["result"]["failed"] for r in rows),
            "wall_s_median": statistics.median(r["wall_s"] for r in rows),
            "trace_overhead_s": [t["result"]["metrics"]["trace.overhead_s"]["value"] for t in traced],
            "exact_counters": repeat,
        }
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    runs = []
    for i in range(RUNS):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for workload in wl.WORKLOADS:
            for s in order:
                r = run_once(workload, i + 1, seconds, 0)
                r["set"] = s
                runs.append(r)
                print(f"{s} {workload} seed {i + 1} wall {r['wall_s']:.1f} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items()),
                      flush=True)
    for workload in wl.WORKLOADS:
        for _ in range(TRACED):
            r = run_once(workload, 1, seconds, 1)
            r["set"] = "T"
            runs.append(r)
            print(f"T {workload} seed 1 wall {r['wall_s']:.1f}", flush=True)

    summary = summarize(runs)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"runs": runs, "summary": summary}, fh, indent=1)
    for workload, s in summary.items():
        print(f"\n{workload}: failed={s['failed']} wall_s_median={s['wall_s_median']:.1f}")
        for name, m in s["metrics"].items():
            print(f"  {name:14s} A {m['A']['median']:.4g} [{m['A']['q1']:.4g}, {m['A']['q3']:.4g}] "
                  f"spread {m['A']['spread']:.3f} | B {m['B']['median']:.4g} spread {m['B']['spread']:.3f}"
                  f" | shift {m['shift_B_vs_A']:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
