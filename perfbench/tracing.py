"""Tracing for the benchmark: spans, Spark plan metrics and job counts.

Everything here lives in the benchmark's own files and reads what Spark
already exposes; nothing is hooked into ``datasketches_spark``.

* :class:`Tracer` records spans (name, start, end, parent, operation id)
  around calls into each layer and sums counters; spans stay in memory
  and are aggregated per name when the run ends.
* :func:`plan_metrics` walks ``queryExecution.executedPlan`` after an
  action and sums every SQL metric by node name.
* :func:`job_counts` counts jobs, stages and tasks of one job group from
  the status tracker.
* :class:`RssSampler` samples the resident memory, and :func:`tree_cpu_s`
  reads the CPU time, of the benchmark's process tree (driver, JVM,
  Python workers) from ``/proc``.  The CPU both of them spend in the
  driver is left out of :func:`tree_cpu_s` (:func:`_charge`).
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# SQL metric types whose values are durations, and their unit in seconds
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


class Tracer:
    """In-memory spans and counters; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None, int]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op_id = 0
        self.group = ""  # Spark job group of the running operation

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, op = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, op)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def totals(self) -> dict[str, float]:
        """Total duration per span name, in seconds."""
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, _, _ in self.spans:
            out[name] += t1 - t0
        return out


def _node_name(node) -> str:
    # "WholeStageCodegen (3)" -> "WholeStageCodegen"; "Scan parquet x" -> "Scan parquet"
    name = re.sub(r"\s*\(\d+\)$", "", str(node.nodeName()))
    return "Scan parquet" if name.startswith("Scan parquet") else name


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def plan_metrics(df) -> dict[str, dict[str, float]]:
    """Sum the SQL metrics of ``df``'s executed plan by node name.

    Call after an action that ran ``df`` itself (``collect``), so the
    metrics are filled.  Unwraps ``AdaptiveSparkPlanExec``, walks
    children and subqueries, and skips the children of reused exchanges
    so a shared exchange counts once.  Durations are in seconds; other
    metrics keep their unit (bytes, rows).
    """
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    seen: set[int] = set()

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        ident = node.id()
        if ident in seen:
            return
        seen.add(ident)
        name = _node_name(node)
        node_metrics = out[name]  # nodes without metrics are still listed
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            scale = _TIME_UNITS.get(str(metric.metricType()), 1.0)
            node_metrics[str(kv._1())] += float(metric.value()) * scale
        if cls == "ReusedExchangeExec":
            return
        for child in _seq(node.children()):
            walk(child)
        for sub in _seq(node.subqueries()):
            walk(sub)

    walk(df._jdf.queryExecution().executedPlan())
    return {k: dict(v) for k, v in out.items()}


# display names in the SQL status store -> metric keys of the executed plan
_DISPLAY_KEYS = {
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "time to initialize Python workers": "pythonInitTime",
    "data sent to Python workers": "pythonDataSent",
    "number of output rows": "numOutputRows",
    "shuffle bytes written": "shuffleBytesWritten",
    "shuffle write time": "shuffleWriteTime",
    "shuffle records written": "shuffleRecordsWritten",
    "scan time": "scanTime",
    "duration": "pipelineTime",
    "time in aggregation build": "aggTime",
}
_DISPLAY_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
}


def _display_value(text: str) -> float:
    # "1,234" | "17 ms" | "total (min, med, max ...)\n10.2 s (2.2 s, ...)"
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text.split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _DISPLAY_UNITS.get(m.group(2), 1.0)


def execution_metrics(spark, group: str) -> dict[str, dict[str, float]]:
    """Sum the SQL metrics of every execution that ran a job of ``group``.

    Reads Spark's SQL status store, which also holds executions whose
    plan the caller never sees, such as a ``DataFrameWriter`` command.
    Metric keys follow :func:`plan_metrics`; durations are in seconds.
    """
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    if not jobs:
        return {}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        if not jobs & {int(j) for j in _seq(ex.jobs().keys().toSeq())}:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for node in _seq(nodes):
            name = re.sub(r"\s*\(\d+\)$", "", str(node.name())).strip()
            name = "Scan parquet" if name.startswith("Scan parquet") else name
            for metric in _seq(node.metrics()):
                key = _DISPLAY_KEYS.get(str(metric.name()))
                text = values.get(metric.accumulatorId())
                if key is not None and text.isDefined():
                    out[name][key] += _display_value(str(text.get()))
    return {k: dict(v) for k, v in out.items()}


_PASS_THROUGH = {"Project", "InputAdapter", "WholeStageCodegen", "ColumnarToRow"}


def filter_input_rows(df) -> float | None:
    """Rows entering the topmost ``Filter`` of ``df``'s executed plan.

    Read from the first node under the filter that counts its output
    rows, passing through projections and codegen wrappers.
    """

    def find(node):
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            return find(node.executedPlan())
        if _node_name(node) == "Filter":
            return node
        for child in _seq(node.children()):
            hit = find(child)
            if hit is not None:
                return hit
        return None

    node = find(df._jdf.queryExecution().executedPlan())
    if node is None:
        return None
    while True:
        children = _seq(node.children())
        if not children:
            return None
        node = children[0]
        metric = node.metrics().get("numOutputRows")
        if metric.isDefined() and _node_name(node) not in _PASS_THROUGH:
            return float(metric.get().value())


def job_seconds(sc, group: str) -> float:
    """Wall time covered by the jobs of one job group (union of intervals)."""
    store = sc._jsc.sc().statusStore()
    spans = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        try:
            job = store.job(job_id)
        except Py4JJavaError:  # the store has already dropped the job
            continue
        start, end = job.submissionTime(), job.completionTime()
        if start.isDefined() and end.isDefined():
            spans.append((start.get().getTime(), end.get().getTime()))
    total, last = 0, None
    for t0, t1 in sorted(spans):
        if last is not None and t0 < last:
            t0 = last
        if t1 > t0:
            total += t1 - t0
        last = t1 if last is None else max(last, t1)
    return total / 1000.0


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group.

    ``getJobInfo``/``getStageInfo`` return ``None`` once the tracker has
    dropped the entry; those are skipped.  Stages skipped because their
    shuffle output was reused never report tasks, so they are not
    counted.
    """
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` and its descendants, in MB.

    Summed as PSS (``/proc/<pid>/smaps_rollup``): a page shared by the
    forked python workers counts once, not once per worker.
    """
    total_kb = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


_TICKS_PER_S = os.sysconf("SC_CLK_TCK")
# CPU seconds the driver spent reading /proc for the harness itself
_harness_s = 0.0
_harness_lock = threading.Lock()


def _charge(thread_cpu_start: float) -> float:
    """Add the calling thread's CPU since ``thread_cpu_start`` to the
    harness total, and return the total."""
    global _harness_s
    spent = time.thread_time() - thread_cpu_start
    with _harness_lock:
        _harness_s += spent
        return _harness_s

# the JVM's JIT compiler threads, by their (truncated) thread names
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str) -> tuple[str, list[int]]:
    """(command name, [utime, stime, cutime, cstime]) from a ``stat`` file."""
    with open(path) as fh:
        text = fh.read()
    name = text[text.index("(") + 1 : text.rindex(")")]
    fields = text.rsplit(")", 1)[1].split()
    return name, [int(f) for f in fields[11:15]]


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` and its descendants.

    Includes the reaped children of each process (``cutime``/``cstime``),
    so a python worker that exits still counts.  Excludes the JVM's JIT
    compiler threads: compilation is the JVM warming up, not work an
    operation asked for, and its timing differs from run to run.  Also
    excludes the CPU the harness spends reading ``/proc`` (this function
    and :class:`RssSampler`).  Time stolen by the hypervisor is not CPU
    time and does not count.
    """
    start = time.thread_time()
    ticks = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            name, t = _stat_ticks(f"/proc/{pid}/stat")
            ticks += sum(t)
            if name != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                tname, tt = _stat_ticks(f"/proc/{pid}/task/{tid}/stat")
                if tname.startswith(_JIT_THREADS):
                    ticks -= tt[0] + tt[1]
        except (OSError, ValueError):
            continue
    return ticks / _TICKS_PER_S - _charge(start)


class RssSampler:
    """Background thread keeping the peak of :func:`tree_rss_mb` while the
    ``with`` block runs; its CPU is charged to the harness."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            start = time.thread_time()
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            _charge(start)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        start = time.thread_time()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        _charge(start)


def busy_steal_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the host summed over all CPUs, from the
    ``cpu`` line of ``/proc/stat``; busy is user + nice + system + irq +
    softirq."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]
