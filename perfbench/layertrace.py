"""The traced run: spans around the engine's public layer functions and
per-layer counters read from outside the program.

Spans are kept in memory and written as JSONL when the run ends.  Each
operation is one span with ``build`` and ``exec`` children; Spark stages
(submission to completion, from the status store) sit under the span whose
job group launched them, and calls into ``catalog`` and ``sources.ndjson``
sit under whichever span was open when they were made.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

from probes import Jvm, StatusStore

# Per-layer metrics of the traced run, with units.  Values are per pass
# (median over traced passes) unless the name says otherwise.
LAYER_METRICS = {
    "session.start_s": "s",
    "jvm.codegen_compiles": "count",
    "jvm.codegen_ms": "ms",
    "jvm.jit_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.heap_used_mb": "MB",
    "build.ms": "ms",
    "build.jobs": "count",
    "catalog.load_table_calls": "count",
    "catalog.load_table_ms": "ms",
    "catalog.register_views_ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.cpu_share": "ratio",
    "exec.straggler_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_returned": "bytes",
    "pyworker.run_ms": "ms",
    "pyworker.start_ms": "ms",
    "pyworker.init_ms": "ms",
    "ndjson.read_ms": "ms",
    "ndjson.write_ms": "ms",
    "ndjson.jobs": "count",
    "ndjson.bytes_in": "bytes",
    "ndjson.bytes_out": "bytes",
    "ndjson.out_per_in": "ratio",
    "self.op_ms": "ms",
    "self.build_ms": "ms",
    "self.exec_ms": "ms",
    "self.stage_ms": "ms",
    "self.catalog_ms": "ms",
    "self.ndjson_ms": "ms",
    "trace.overhead_s": "s",
    "mem.peak_rss_mb": "MB",
}


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.active = False
        self.counts: dict[str, float] = {}
        self._next_id = 0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = {"id": self._next_id, "parent": self._stack[-1]["id"] if self._stack else None,
             "name": name, "layer": layer, "start": time.time(), **attrs}
        self._next_id += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.spans.append(s)

    def add_span(self, parent: dict, name: str, layer: str, start: float, end: float, **attrs) -> None:
        self.spans.append({"id": self._next_id, "parent": parent["id"], "name": name,
                           "layer": layer, "start": start, "end": end, **attrs})
        self._next_id += 1

    def split_span(self, span: dict, at: float, name: str, layer: str) -> dict:
        """End ``span`` at ``at`` and add a sibling covering the rest of it;
        children that started after ``at`` move to the sibling."""
        end, span["end"] = span["end"], at
        sibling = {"id": self._next_id, "parent": span["parent"], "name": name,
                   "layer": layer, "start": at, "end": end}
        self._next_id += 1
        for s in self.spans:
            if s["parent"] == span["id"] and s["start"] >= at:
                s["parent"] = sibling["id"]
        self.spans.append(sibling)
        return sibling

    def bump(self, key: str, value: float = 1.0) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def wrap(self, fn, layer: str, on_enter=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            if on_enter:
                on_enter(*args, **kwargs)
            t0 = time.perf_counter()
            with tracer.span(f"{layer}.{fn.__name__}", layer):
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer.bump(f"{layer}.{fn.__name__}.ms", (time.perf_counter() - t0) * 1e3)
                    tracer.bump(f"{layer}.{fn.__name__}.calls")

        return wrapped

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: (s["start"], s["id"])):
                fh.write(json.dumps(s) + "\n")


def install_wrappers(tracer: Tracer, on_write=None) -> None:
    """Replace ``catalog.load_table``, ``catalog.register_views`` and the
    NDJSON source and sink with timing wrappers in every loaded engine
    module that holds a reference to them."""
    from etl_pipeline_aws_spark import catalog
    from etl_pipeline_aws_spark.sources import ndjson

    originals = {
        catalog.load_table: tracer.wrap(catalog.load_table, "catalog"),
        catalog.register_views: tracer.wrap(catalog.register_views, "catalog"),
        ndjson.read_ndjson: tracer.wrap(ndjson.read_ndjson, "ndjson"),
        ndjson.write_ndjson: tracer.wrap(ndjson.write_ndjson, "ndjson", on_enter=on_write),
    }
    for name, mod in list(sys.modules.items()):
        if not name.startswith("etl_pipeline_aws_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if callable(value) and value in originals:
                setattr(mod, attr, originals[value])


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi], in ms."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1e3


def self_times(spans: list[dict]) -> dict[str, float]:
    """Each layer's self time: span duration minus what its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) * 1e3 - _union_ms(children.get(s["id"], []), s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


class PassRecorder:
    """Reads the status stores and JVM counters around each traced operation
    and sums them into per-pass figures."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.store = StatusStore(spark)
        self.jvm = Jvm(spark)
        self.tracer = tracer

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def begin_pass(self) -> None:
        self.store.drain()
        self.jvm_start = self.jvm.counters()
        self.span_mark = len(self.tracer.spans)
        self.tracer.counts = {}
        self.totals = {k: 0.0 for k in LAYER_METRICS if not k.startswith(("session.", "trace.", "self.", "jvm.", "mem."))}
        self.stragglers: list[float] = []
        self.last_exec_id = self.store.last_execution_id()

    def record_op(self, op_span: dict, build_span: dict, exec_span: dict, groups: dict[str, str],
                  ndjson_io: tuple[int, int] | None) -> None:
        """After the timed region of one operation: attach stage spans and
        add the operation's counters to the pass totals."""
        self.store.drain()
        t = self.totals
        t["build.ms"] += (build_span["end"] - build_span["start"]) * 1e3
        t["exec.ms"] += (exec_span["end"] - exec_span["start"]) * 1e3
        for phase, parent in (("build", build_span), ("exec", exec_span)):
            jobs = self.store.job_ids(groups[phase])
            if phase == "build":
                t["build.jobs"] += len(jobs)
            t["exec.jobs"] += len(jobs)
            if ndjson_io is not None:
                t["ndjson.jobs"] += len(jobs)
            for st in self.store.stages(jobs):
                t["exec.stages"] += 1
                t["exec.tasks"] += st["tasks"]
                t["exec.task_run_ms"] += st["run_ms"]
                t["exec.task_cpu_ms"] += st["cpu_ms"]
                t["exec.shuffle_read_bytes"] += st["shuffle_read_bytes"]
                t["exec.shuffle_write_bytes"] += st["shuffle_write_bytes"]
                t["exec.spill_bytes"] += st["spill_bytes"]
                t["exec.input_bytes"] += st["input_bytes"]
                if len(st["task_ms"]) >= 2:
                    med = statistics.median(st["task_ms"])
                    if med > 0:
                        self.stragglers.append(max(st["task_ms"]) / med)
                if st["start"] is not None and st["end"] is not None:
                    self.tracer.add_span(parent, f"stage {st['stage']}", "stage",
                                         st["start"], st["end"], tasks=st["tasks"])
        py = self.store.python_node_metrics(self.last_exec_id)
        self.last_exec_id = self.store.last_execution_id()
        for key, value in py.items():
            t[f"pyworker.{key}"] += value
        if ndjson_io is not None:
            t["ndjson.bytes_in"] += ndjson_io[0]
            t["ndjson.bytes_out"] += ndjson_io[1]

    def end_pass(self) -> dict[str, float]:
        self.store.drain()
        end = self.jvm.counters()
        out = dict(self.totals)
        for key in ("codegen_compiles", "codegen_ms", "jit_ms", "gc_ms"):
            out[f"jvm.{key}"] = end[key] - self.jvm_start[key]
        out["jvm.heap_used_mb"] = end["heap_used_mb"]
        c = self.tracer.counts
        out["catalog.load_table_calls"] = c.get("catalog.load_table.calls", 0.0)
        out["catalog.load_table_ms"] = c.get("catalog.load_table.ms", 0.0)
        out["catalog.register_views_ms"] = c.get("catalog.register_views.ms", 0.0)
        out["ndjson.read_ms"] = c.get("ndjson.read_ndjson.ms", 0.0)
        out["ndjson.write_ms"] = c.get("ndjson.write_ndjson.ms", 0.0)
        out["ndjson.out_per_in"] = (out["ndjson.bytes_out"] / out["ndjson.bytes_in"]
                                    if out["ndjson.bytes_in"] else 0.0)
        out["exec.cpu_share"] = (out["exec.task_cpu_ms"] / out["exec.task_run_ms"]
                                 if out["exec.task_run_ms"] else 0.0)
        out["exec.straggler_ratio"] = statistics.fmean(self.stragglers) if self.stragglers else 1.0
        selfs = self_times(self.tracer.spans[self.span_mark:])
        for layer in ("op", "build", "exec", "stage", "catalog", "ndjson"):
            out[f"self.{layer}_ms"] = selfs.get(layer, 0.0)
        return out
