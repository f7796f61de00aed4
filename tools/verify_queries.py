#!/usr/bin/env python
"""Oracle-verify specific declared queries at one or more scale factors,
using the same compare() the pytest suite and the driver use.

Usage:
    python tools/verify_queries.py --names asof_join_merge dedup_cluster_keepers \
        --sf-dirs /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1

``--plans OUT.json`` also writes each query's physical plan as submitted for
execution, with the per-session numbers masked: expression IDs ``#N`` and
``plan_id=N``.  It is read before the comparison runs the query: adaptive
execution then re-plans joins and numbers stages in whatever order its
stages finish, so the final plan differs between identical runs.  Two
checkouts compare plans with one ``diff`` of their OUT files.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import etl_pipeline_aws_spark as engine  # noqa: E402
from tests.oracle import compare, duckdb_con  # noqa: E402


def masked_plan(df) -> str:
    """Physical plan before adaptive re-planning, IDs masked."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", nargs="+", required=True)
    ap.add_argument(
        "--sf-dirs",
        nargs="+",
        default=[
            "/root/testdata/sf0.001",
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
        ],
    )
    ap.add_argument("--plans", metavar="OUT.json")
    args = ap.parse_args()

    spark = engine.get_spark("verify_queries")
    spark.sparkContext.setLogLevel("ERROR")
    # untruncated scan metadata: truncation would cut at a point that
    # depends on how many digits the (masked) IDs had
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    qs = engine.all_queries()
    oracles = engine.oracle_sql()
    results: dict[str, dict[str, str]] = {}
    plans: dict[str, dict[str, str]] = {}
    ok = True
    for sf_dir in args.sf_dirs:
        con = duckdb_con(sf_dir)
        for name in args.names:
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, sf_dir)
                if args.plans:
                    plans.setdefault(name, {})[sf_dir] = masked_plan(df)
                compare(df, con, oracles[name])
                verdict = f"ok ({time.perf_counter() - t0:.1f}s)"
            except Exception as exc:  # noqa: BLE001
                verdict = f"FAIL: {exc}"
                ok = False
            results.setdefault(name, {})[sf_dir] = verdict
            print(json.dumps({name: {sf_dir: verdict}}), flush=True)
            engine.clear_caches(spark)
        con.close()
    print(json.dumps(results, indent=1))
    if args.plans:
        with open(args.plans, "w", encoding="utf-8") as fh:
            json.dump(plans, fh, indent=1, sort_keys=True)
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
