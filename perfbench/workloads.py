"""The workloads: their operations, per-pass order and the NDJSON output check.

Every workload is a closed loop with one client: the next operation starts
when the previous one has finished.  An operation is timed from the call into
the engine until its sink has finished:

- ``warehouse_llm``: a registry builder
  ``queries()[name](spark, data_dir)`` followed by a ``noop`` sink, which
  materializes every output column (a ``count()`` would let Catalyst prune
  them);
- ``ndjson_ingest``: ``pipeline.run_pipeline`` on one landing object, which
  ends when the single-file NDJSON sink has written.
"""

from __future__ import annotations

import glob
import json
import os
import random

# Oracle-checked registry queries.  Relational: Catalyst/AQE planning,
# shuffle joins and aggregations, SQL over registered views.  LLM-data:
# TF-IDF and brute-force similarity top-k, Arrow/pandas Python workers (the
# multimodal packer's mapInPandas) and a builder that launches Spark jobs of
# its own (Lloyd k-means rounds).  Seven operations over four passes pool
# 28 samples, whose median falls among the samples of three operations with
# close medians (the packer, the similarity top-k and q3), not on one
# operation's samples alone.
WAREHOUSE_LLM = (
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "events_growth_accounting",
    "text_tfidf_top_terms",
    "similarity_topk_bruteforce",
    "multimodal_pack_interleaved",
    "embedding_kmeans_lloyd",
)

# Fixed warm-up operation of every set-up (not part of any timed pass).
WARMUP_QUERY = "q6_forecast_revenue"

SCALE_FACTOR = 0.01

# NDJSON landing objects per pass and their median record count.
NDJSON_OBJECTS = 12
NDJSON_MEDIAN_RECORDS = 1500

# Seconds of ``--seconds`` that one timed pass stands for.  ``--seconds`` is
# turned into a fixed number of passes, so a run does the same work, and
# pools the same number of samples, whatever the host's speed that minute.
# At the benchmark's 20 s: four timed passes of warehouse_llm (about 5-6 s
# each on a 4-core host) and three of ndjson_ingest (about 3 s each; more
# would not fit the run budget, and its spreads are the smaller).  Other
# tenants on the host slow whole stretches of a run: the median of four
# passes leaves out two slowed passes, the median of three only one.
SECONDS_PER_PASS = {"warehouse_llm": 5.0, "ndjson_ingest": 6.5}

# Untimed warm passes between the check pass and the timed passes.  The JIT
# keeps compiling the engine's hot code for several passes after the checks.
# In three runs of warehouse_llm the process tree's CPU per pass read 30,
# 21, 18, 14, 15, 12 and 12 s on average over the seven passes after the
# checks; on ndjson_ingest it read 11, 9.2, 7.3, 7.0, 6.4 and 6.4 s
# (results/warm-up.json).  How far into that fall a pass is depends on the
# host's load, so a pass timed on its steep part reads the host twice over.
# With two warm passes the timed passes skip the steep part, and their
# median drops the first of them, still the slowest.
WARM_PASSES = 2

WORKLOADS = ("warehouse_llm", "ndjson_ingest")


def operations(workload: str, landing: list[str] | None = None) -> list[str]:
    if workload == "warehouse_llm":
        return list(WAREHOUSE_LLM)
    if workload == "ndjson_ingest":
        return list(landing or [])
    raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")


def passes_for(workload: str, seconds: float) -> int:
    return max(2, round(seconds / SECONDS_PER_PASS[workload]))


def pass_orders(ops: list[str], seed: int, passes: int) -> list[list[str]]:
    """One seeded permutation of ``ops`` per pass."""
    rng = random.Random(seed)
    return [rng.sample(ops, len(ops)) for _ in range(passes)]


# --- output checks --------------------------------------------------------

def check_ndjson(source: str, out_path: str) -> None:
    """The reference transform's contract on one object: every non-blank
    input line comes out once with its fields unchanged, ``processed`` is
    true and ``uppercase_name`` is ``upper(coalesce(name, ''))``."""
    with open(source, encoding="utf-8") as fh:
        inputs = [json.loads(line) for line in fh if line.strip()]
    parts = glob.glob(os.path.join(out_path, "part-*"))
    if len(parts) != 1:
        raise AssertionError(f"{out_path}: expected one part file, found {len(parts)}")
    with open(parts[0], encoding="utf-8") as fh:
        outputs = [json.loads(line) for line in fh if line.strip()]
    if len(outputs) != len(inputs):
        raise AssertionError(f"{source}: {len(inputs)} records in, {len(outputs)} out")
    by_id = {rec["id"]: rec for rec in inputs}
    for rec in outputs:
        if rec.pop("processed", None) is not True:
            raise AssertionError(f"{source}: record {rec.get('id')} not processed")
        upper = rec.pop("uppercase_name", None)
        src = by_id.pop(rec.get("id"), None)
        if src is None or rec != src:
            raise AssertionError(f"{source}: record {rec.get('id')} changed: {rec!r} vs {src!r}")
        if upper != (src.get("name") or "").upper():
            raise AssertionError(f"{source}: record {src['id']} uppercase_name={upper!r}")
