"""Readers that observe the engine from outside: ``/proc``, JVM MXBeans,
Spark's ``CodegenMetrics`` and Spark's status stores.

None of these change what the engine does; the status-store readers work
with ``spark.ui.enabled=false``, which is how ``session.session_builder``
configures every session.
"""

from __future__ import annotations

import os
import time

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- /proc: the whole process tree (Python driver, JVM, Python workers) ---

def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += _children(pid)
    return tree


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting reaping is not."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime of every live process in the tree, plus what each has
    reaped from its exited children (cutime + cstime)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Each live process's peak resident set (VmHWM) in MB, keyed by
    ``<pid>:<command>``; their sum is the tree's peak."""
    out = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[f"{pid}:{name}"] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def reset_peak_rss(root: int | None = None) -> None:
    """Reset every live process's VmHWM to its current resident set
    (``clear_refs`` value 5), so a later read covers only what follows."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def host_diagnostics() -> dict:
    """Host state for the record: load average and cumulative steal time.
    These are diagnostics, never metrics or gates."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) / _CLK_TCK if len(cpu) > 8 else 0.0
    return {"loadavg": load, "steal_s": steal}


def calibrate_host(n: int = 300_000) -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += (i * 7) % 13
    return time.perf_counter() - t0


# --- JVM: MXBeans and the codegen compile counter ---

class Jvm:
    """Cumulative JVM counters read through py4j."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._compilation = mf.getCompilationMXBean()
        self._memory = mf.getMemoryMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiles = cm.METRIC_COMPILATION_TIME()

    def counters(self) -> dict:
        snap = self._compiles.getSnapshot()
        return {
            "codegen_compiles": self._compiles.getCount(),
            # Histogram snapshot sum is not exposed; mean x count gives ms.
            "codegen_ms": snap.getMean() * self._compiles.getCount(),
            "jit_ms": self._compilation.getTotalCompilationTime(),
            "gc_ms": sum(gc.getCollectionTime() for gc in self._gcs),
            "heap_used_mb": self._memory.getHeapMemoryUsage().getUsed() / 2**20,
        }


# --- Spark status stores ---

class StatusStore:
    """Per-job, per-stage and per-SQL-node numbers from the status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc.statusTracker()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores reflect all finished jobs."""
        self._bus.waitUntilEmpty(30_000)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[dict]:
        out = []
        seen = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                durations = self._task_durations(sid, st.attemptId())
                out.append({
                    "stage": sid,
                    "tasks": st.numCompleteTasks(),
                    "run_ms": st.executorRunTime(),
                    "cpu_ms": st.executorCpuTime() / 1e6,
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "input_bytes": st.inputBytes(),
                    "task_ms": durations,
                    "start": _epoch_s(st.submissionTime()),
                    "end": _epoch_s(st.completionTime()),
                })
        return out

    def _task_durations(self, sid: int, attempt: int) -> list[float]:
        tasks = self._store.taskList(sid, attempt, 100_000)
        return [float(tasks.apply(i).taskMetrics().get().executorRunTime())
                for i in range(tasks.size()) if tasks.apply(i).taskMetrics().isDefined()]

    def last_execution_id(self) -> int:
        """Id of the newest SQL execution in the store (they are sorted)."""
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def python_node_metrics(self, after_id: int) -> dict:
        """Sum the Python-worker SQL metrics of every execution after
        ``after_id``: bytes to and from workers, and worker start, init and
        run time.  The store renders each metric as text; the totals are
        parsed back into bytes and milliseconds."""
        totals = {key: 0.0 for key in _PYTHON_METRICS.values()}
        eid = after_id + 1
        while self._sql.execution(eid).isDefined():
            nodes = self._sql.planGraph(eid).allNodes()
            accum = {}
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    key = _PYTHON_METRICS.get(m.name())
                    if key:
                        accum[m.accumulatorId()] = key
            if accum:
                values = self._sql.executionMetrics(eid)
                for acc_id, key in accum.items():
                    text = values.get(acc_id)
                    if text.isDefined():
                        totals[key] += _parse_metric_total(text.get())
            eid += 1
        return totals


_PYTHON_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
}


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def _parse_metric_total(text: str) -> float:
    """Parse the total out of a rendered SQL metric ("total (min, med,
    max ...)\\n12.3 MiB (...)" or a bare number) into bytes or ms."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    head = line.split("(")[0].strip()
    parts = head.split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    return value * _UNITS.get(unit, 1)


def _epoch_s(opt_date) -> float | None:
    if opt_date is None or not opt_date.isDefined():
        return None
    return opt_date.get().getTime() / 1000.0
