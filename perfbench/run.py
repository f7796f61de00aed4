#!/usr/bin/env python3
"""Benchmark of the engine: two closed-loop workloads, one client each.

    python3 perfbench/run.py --workload warehouse_llm --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed`` inside the checkout, starts one Spark session at
``local[<cpus>]`` (the cold set-up, timed from process start), checks
every operation's output once, runs the workload's untimed warm passes,
then times a fixed number of passes over the workload's operations
(``--seconds`` divided by the workload's ``workloads.SECONDS_PER_PASS``).  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  The line before it holds
diagnostics: host calibration, steal time, load average, every pass time,
the sample count, and the tail of the operation pool with its percentile.

METHODS.md explains the workloads, the metrics and how to name a claim.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "4g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "op_p50_s": "s",
    "op_geomean_s": "s",
}


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Fix everything the engine reads from the environment, before the JVM
    and its Python workers start: cores, driver heap, scratch directories,
    and the import path of the checkout under test."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("OMP_NUM_THREADS", None)
    import tempfile

    tempfile.tempdir = tmp


def tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile of ``samples`` with at least ten samples beyond
    it, but never below the median, as (value, percentile)."""
    xs = sorted(samples)
    k = max(len(xs) - 11, len(xs) // 2)
    return xs[k], 100.0 * (k + 1) / len(xs)


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.out_dir = os.path.join(work, "out")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.diag: dict = {}
        self.spark = None

    # --- inputs -----------------------------------------------------------

    def make_inputs(self) -> None:
        import gen
        import workloads as wl

        self.landing, self.warmup_object = [], ""
        if self.args.workload == "ndjson_ingest":
            landing = os.path.join(self.work, "landing")
            self.landing = gen.write_landing(landing, self.args.seed, wl.NDJSON_OBJECTS,
                                             wl.NDJSON_MEDIAN_RECORDS)
            self.warmup_object = gen.write_landing(os.path.join(self.work, "warmup"),
                                                   self.args.seed, 1, 200)[0]
            self.diag["input_bytes"] = sum(os.path.getsize(p) for p in self.landing)
        else:
            self.diag["rows"] = gen.write_tables(self.data_dir, self.args.seed, wl.SCALE_FACTOR)

    # --- session ----------------------------------------------------------

    def start_session(self) -> float:
        """The set-up ``setup_s`` times after interpreter start and the
        engine import: a session from ``session_builder``, the registry, and
        the workload's fixed warm-up.  Returns the seconds ``getOrCreate``
        took."""
        import workloads as wl
        from etl_pipeline_aws_spark import registry
        from etl_pipeline_aws_spark.session import session_builder

        t = time.perf_counter()
        self.spark = session_builder("perfbench").getOrCreate()
        session_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.queries = registry.queries()
        if self.args.workload == "ndjson_ingest":
            self.pipeline(self.spark, self.warmup_object, os.path.join(self.out_dir, "warmup"))
        else:
            self.queries[wl.WARMUP_QUERY](self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
        return session_s

    def assert_worker_imports_checkout(self) -> None:
        """A Python worker must import the engine from this checkout."""
        where = (self.spark.sparkContext.parallelize([0], 1)
                 .map(lambda _: __import__("etl_pipeline_aws_spark").__file__).collect()[0])
        if not os.path.realpath(where).startswith(os.path.realpath(ROOT) + os.sep):
            raise RuntimeError(f"Python workers import the engine from {where}, not {ROOT}")
        self.diag["worker_engine_path"] = os.path.relpath(where, ROOT)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and every
        Python worker it started have exited."""
        from pyspark import SparkContext

        started = [pid for pid in probes.process_tree() if pid != os.getpid()]
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while any(probes.alive(pid) for pid in started):
            if time.monotonic() > deadline:
                raise RuntimeError(f"processes still running after shutdown: {started}")
            time.sleep(0.05)

    # --- operations -------------------------------------------------------

    def run_op(self, op: str, out_dir: str, tracer=None, recorder=None, label: str = ""):
        """One timed operation; returns seconds, or None if it raised."""
        from etl_pipeline_aws_spark.session import clear_caches

        ndjson = self.args.workload == "ndjson_ingest"
        try:
            if tracer is None:
                t0 = time.perf_counter()
                if ndjson:
                    self.pipeline(self.spark, op, out_dir)
                else:
                    self.queries[op](self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0
            return self._traced_op(op, out_dir, tracer, recorder, label)
        except Exception:
            self.failed += 1
            self.errors.append(f"{op}: {traceback.format_exc(limit=2)}")
            return None
        finally:
            clear_caches(self.spark)

    def _traced_op(self, op, out_dir, tracer, recorder, label):
        ndjson = self.args.workload == "ndjson_ingest"
        name = os.path.basename(op) if ndjson else op
        groups = {"build": f"{label}:{name}:build", "exec": f"{label}:{name}:exec"}
        t0 = time.perf_counter()
        with tracer.span(name, "op") as op_span:
            recorder.set_group(groups["build"])
            if ndjson:
                # run_pipeline reads and enriches (build), then calls the
                # wrapped write_ndjson, whose hook marks where exec begins.
                self._exec_group, self._exec_start = groups["exec"], None
                with tracer.span("build", "build") as build_span:
                    out = self.pipeline(self.spark, op, out_dir)
            else:
                with tracer.span("build", "build") as build_span:
                    df = self.queries[op](self.spark, self.data_dir)
                recorder.set_group(groups["exec"])
                with tracer.span("exec", "exec") as exec_span:
                    df.write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        io = None
        if ndjson:
            exec_span = tracer.split_span(build_span, self._exec_start, "exec", "exec")
            io = (os.path.getsize(op), sum(os.path.getsize(os.path.join(out, f))
                                           for f in os.listdir(out) if f.startswith("part-")))
        recorder.record_op(op_span, build_span, exec_span, groups, io)
        return elapsed

    def _on_ndjson_write(self, *args, **kwargs) -> None:
        """Inside run_pipeline the sink is about to run: the jobs from here
        on belong to the exec phase."""
        self._exec_start = time.time()
        self.spark.sparkContext.setJobGroup(self._exec_group, self._exec_group)

    def check_all(self, ops: list[str]) -> None:
        """Check every operation's output once, outside the timed region."""
        import oracle
        import workloads as wl
        from etl_pipeline_aws_spark import registry
        from etl_pipeline_aws_spark.session import clear_caches

        oracles = registry.oracle_sql() if self.args.workload != "ndjson_ingest" else {}
        con = oracle.duckdb_con(self.data_dir) if oracles else None
        for op in ops:
            self.attempted += 1
            try:
                if con is not None:
                    oracle.compare(self.queries[op](self.spark, self.data_dir), con, oracles[op])
                else:
                    out = self.pipeline(self.spark, op, os.path.join(self.out_dir, "check"))
                    wl.check_ndjson(op, out)
            except Exception:
                self.failed += 1
                self.errors.append(f"check {op}: {traceback.format_exc(limit=2)}")
            finally:
                clear_caches(self.spark)

    # --- the run ----------------------------------------------------------

    def execute(self) -> dict:
        import workloads as wl

        args = self.args
        # The benchmark's own work before the set-up is timed apart and
        # taken out of ``setup_s``.
        t = time.perf_counter()
        self.diag["calibration_s"] = probes.calibrate_host()
        host0 = probes.host_diagnostics()
        self.make_inputs()
        own_s = time.perf_counter() - t
        self.diag["input_gen_s"] = own_s - self.diag["calibration_s"]

        from etl_pipeline_aws_spark.pipeline import run_pipeline

        self.pipeline = run_pipeline
        session_start_s = self.start_session()
        setup_s = seconds_since_process_start() - own_s
        ops = wl.operations(args.workload, self.landing)
        missing = [op for op in ops if args.workload != "ndjson_ingest" and op not in self.queries]
        if missing:
            raise RuntimeError(f"operations not in the oracle-backed registry: {missing}")
        self.assert_worker_imports_checkout()
        self.diag["session_start_s"] = session_start_s
        t = time.perf_counter()
        self.check_all(ops)
        self.diag["check_s"] = time.perf_counter() - t

        passes = wl.passes_for(args.workload, args.seconds)
        warm = wl.WARM_PASSES
        orders = wl.pass_orders(ops, args.seed, warm + passes)
        for op in (op for order in orders[:warm] for op in order):
            self.attempted += 1
            self.run_op(op, os.path.join(self.out_dir, "warm"))
        orders = orders[warm:]
        shutil.rmtree(os.path.join(self.out_dir, "warm"), ignore_errors=True)
        tracer = recorder = None
        if args.trace:
            import layertrace

            tracer = layertrace.Tracer()
            recorder = layertrace.PassRecorder(self.spark, tracer)
            layertrace.install_wrappers(tracer, on_write=self._on_ndjson_write)

        # Memory (mem.peak_rss_mb) is measured per timed pass: a full GC
        # first returns the heap the cold checks grew, then each pass
        # restarts every process's peak.  G1 gives the freed heap back to
        # the OS in the background, so the first pass's peak may still hold
        # it; the median over the passes does not depend on it.
        self.spark.sparkContext._jvm.java.lang.System.gc()
        op_times: dict[str, list[float]] = {op: [] for op in ops}
        pass_s, pass_cpu, pass_rss, traced_pass_s, layer_passes = [], [], [], [], []
        for k, order in enumerate(orders):
            traced = bool(args.trace) and k % 2 == 1
            out = os.path.join(self.out_dir, f"pass{k}")
            if traced:
                tracer.active = True
                recorder.begin_pass()
            probes.reset_peak_rss()
            cpu0 = probes.tree_cpu_s()
            total = 0.0
            for op in order:
                self.attempted += 1
                dt = self.run_op(op, out, tracer if traced else None, recorder, f"p{k}")
                if dt is not None:
                    total += dt
                    op_times[op].append(dt)
            cpu = probes.tree_cpu_s() - cpu0
            peak_rss = probes.tree_peak_rss_mb()
            if traced:
                tracer.active = False
                layer_passes.append(recorder.end_pass())
                traced_pass_s.append(total)
            else:
                pass_s.append(total)
                pass_cpu.append(cpu)
                pass_rss.append(peak_rss)
            shutil.rmtree(out, ignore_errors=True)
        t = time.perf_counter()
        self.shutdown()
        self.diag["stop_s"] = time.perf_counter() - t

        host1 = probes.host_diagnostics()
        self.diag.update({
            "workload": args.workload, "seed": args.seed, "passes": passes,
            "pass_s": pass_s, "setup_s": setup_s,
            "steal_s": host1["steal_s"] - host0["steal_s"], "loadavg": host1["loadavg"],
            "errors": self.errors[:5], "pass_peak_rss_mb_by_process": pass_rss,
        })
        pool = [x for xs in op_times.values() for x in xs]
        if args.trace:
            metrics = self._layer_metrics(layer_passes, traced_pass_s, pass_s, pass_rss, session_start_s, tracer)
        else:
            tail_s, pct = tail(pool)
            self.diag.update({"op_samples": len(pool), "op_tail_s": tail_s, "op_tail_percentile": pct,
                              "op_median_s": {os.path.basename(op): statistics.median(xs)
                                              for op, xs in op_times.items() if xs}})
            medians = [statistics.median(xs) for xs in op_times.values() if xs]
            values = {
                "setup_s": setup_s,
                "pass_s": statistics.median(pass_s),
                "pass_cpu_s": statistics.median(pass_cpu),
                "op_p50_s": statistics.median(pool),
                "op_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def _layer_metrics(self, layer_passes, traced_pass_s, untraced_pass_s, untraced_pass_rss,
                       session_start_s, tracer):
        import layertrace

        values = {k: statistics.median(p[k] for p in layer_passes)
                  for k in layertrace.LAYER_METRICS if k in layer_passes[0]}
        values["session.start_s"] = session_start_s
        values["trace.overhead_s"] = statistics.median(traced_pass_s) - statistics.median(untraced_pass_s)
        values["mem.peak_rss_mb"] = statistics.median(sum(p.values()) for p in untraced_pass_rss)
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace-{self.args.workload}-seed{self.args.seed}.jsonl")
        tracer.write_jsonl(path)
        self.diag["spans"] = os.path.relpath(path, ROOT)
        self.diag["layer_passes"] = layer_passes
        return {k: {"value": values[k], "unit": u} for k, u in layertrace.LAYER_METRICS.items()}


def main(argv: list[str]) -> int:
    import workloads as wl

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = None
    try:
        pin_environment(work)
        # The output checks use the repository's own oracle comparison.
        sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
        import etl_pipeline_aws_spark

        engine = os.path.realpath(etl_pipeline_aws_spark.__file__)
        if not engine.startswith(os.path.realpath(ROOT) + os.sep):
            raise RuntimeError(f"engine imported from {engine}, not from {ROOT}")
        run = Run(args, work)
        result = run.execute()
    finally:
        if run is not None and run.spark is not None:
            run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"diagnostics": run.diag}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
