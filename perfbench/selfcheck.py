#!/usr/bin/env python3
"""Self-check of the benchmark's own code; needs no Spark session.

    python3 perfbench/selfcheck.py

- The same seed gives byte-identical inputs (NDJSON objects and Parquet
  tables) and the same per-pass operation order; another seed gives
  different ones.
- Every listed registry operation, and the warm-up query, is a
  registered, oracle-backed registry query.
- The tail and self-time helpers compute what their docstrings say.

Exits 0 and prints ``selfcheck ok`` when every check holds.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import workloads as wl  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    return {name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
            for name in sorted(os.listdir(directory))}


def _inputs(work: str, tag: str, seed: int) -> dict[str, str]:
    base = os.path.join(work, tag)
    gen.write_landing(os.path.join(base, "landing"), seed, wl.NDJSON_OBJECTS, wl.NDJSON_MEDIAN_RECORDS)
    gen.write_tables(os.path.join(base, "tables"), seed, wl.SCALE_FACTOR)
    return {**{f"landing/{k}": v for k, v in _digest(os.path.join(base, "landing")).items()},
            **{f"tables/{k}": v for k, v in _digest(os.path.join(base, "tables")).items()}}


def check_determinism(work: str) -> None:
    a, b, c = _inputs(work, "a", 7), _inputs(work, "b", 7), _inputs(work, "c", 8)
    if a != b:
        raise AssertionError(f"seed 7 twice gave different inputs: {sorted(k for k in a if a[k] != b.get(k))}")
    for prefix in ("landing/", "tables/lineitem", "tables/documents"):
        same = [k for k in a if k.startswith(prefix) and a[k] == c.get(k)]
        if same:
            raise AssertionError(f"seeds 7 and 8 gave identical {same}")
    for workload in wl.WORKLOADS:
        ops = wl.operations(workload, [f"o{i}" for i in range(wl.NDJSON_OBJECTS)])
        first = wl.pass_orders(ops, 7, 4)
        if first != wl.pass_orders(ops, 7, 4):
            raise AssertionError(f"{workload}: seed 7 gave two operation orders")
        if first == wl.pass_orders(ops, 8, 4):
            raise AssertionError(f"{workload}: seeds 7 and 8 gave the same operation order")
        if any(sorted(order) != sorted(ops) for order in first):
            raise AssertionError(f"{workload}: a pass does not run every operation once")


def check_registry() -> None:
    from etl_pipeline_aws_spark import registry

    queries, oracles = registry.queries(), registry.oracle_sql()
    listed = [*wl.WAREHOUSE_LLM, wl.WARMUP_QUERY]
    missing = [op for op in listed if op not in queries or op not in oracles]
    if missing:
        raise AssertionError(f"not registered oracle-backed queries: {missing}")


def check_helpers() -> None:
    import layertrace
    from run import tail

    value, pct = tail([float(i) for i in range(1, 41)])
    if (value, pct) != (30.0, 75.0):  # 40 samples: the 30th has ten beyond it
        raise AssertionError(f"tail of 1..40 = {(value, pct)}")
    if tail([1.0, 2.0, 3.0])[0] != 2.0:  # never below the median
        raise AssertionError("tail of a small pool fell below its median")
    spans = [
        {"id": 0, "parent": None, "layer": "op", "start": 0.0, "end": 1.0},
        {"id": 1, "parent": 0, "layer": "exec", "start": 0.2, "end": 0.8},
        {"id": 2, "parent": 1, "layer": "stage", "start": 0.3, "end": 0.5},
        {"id": 3, "parent": 1, "layer": "stage", "start": 0.4, "end": 0.6},
    ]
    got = {k: round(v, 6) for k, v in layertrace.self_times(spans).items()}
    if got != {"op": 400.0, "exec": 300.0, "stage": 400.0}:
        raise AssertionError(f"self times {got}")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}")
    os.makedirs(work)
    try:
        check_determinism(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    check_registry()
    check_helpers()
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
