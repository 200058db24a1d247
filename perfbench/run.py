"""Seeded closed-loop benchmark for datasketches_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload scan_build --seed 1 --seconds 10 --trace 0

One client runs the workload's operations back to back: the next
operation starts when the previous one has returned its answer, the way
batch jobs and dashboards call the library.  Every answer is checked
against the generator's truth; an operation that raises or returns a
wrong answer counts as failed.

* ``--trace 0`` measures the end-to-end metrics (``BENCHMARK.json``);
  their times are CPU seconds of the process tree, or wall seconds
  without the hypervisor's steal (see ``E2E_UNITS``), and the report
  prints the raw wall-clock figures beside them.
* ``--trace 1`` measures the same loop twice, untraced and traced, with
  their cycles interleaved (ABBA), and prints the per-layer metrics plus
  the tracing overhead.  Operations outside the timed loop
  (``Workload.trace_ops``) then run once each, traced, after an untraced
  first call.

Set-up is session start plus ``datasketches_spark.register`` plus a
warm-up pass: each of the workload's operations once, unrecorded, a few
at a time on concurrent threads (``warm_up``).  The session is started
three times (the JVM stays up after the first) and ``setup_s`` adds the
median start to the warm-up time.
The loop then runs whole cycles of the workload's operations, as many as
fill ``--seconds`` at the workload's nominal cycle time, so every run
with the same ``--seconds`` times the same operations.

Everything the run writes (generated inputs cached by seed, Spark's
local dirs, the sketch store) goes under ``.perfbench/`` at the
repository root.  The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it are a readable report and an audit record (seed, cpus, steal
ticks, sample counts).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIN_FREE_BYTES = 1 << 30  # stop issuing operations below 1 GiB free disk
SETUPS = 3
KEEP_SEEDS = 2  # generated input sets kept per workload
WARMUP_THREADS = 3

# BENCHMARK.json's end-to-end metrics.  Most times are CPU seconds of
# the whole process tree (driver, JVM, python workers; tracing.tree_cpu_s):
# on a host whose virtual CPUs are oversubscribed, steal time moved
# wall-clock figures by 40% between consecutive runs, and CPU time does
# not count it.  CPU time misses time spent waiting (jobs, scheduling),
# so query_s_p50 is wall time with the stolen share taken out (since).
# The raw wall-clock figures are printed in the report.
E2E_UNITS = {
    "setup_s": "s",
    "rows_per_cpu_s": "rows/cpu_s",
    "query_cpu_s_p50": "s",
    "query_cpu_s_p90": "s",
    "query_s_p50": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_session(cpus: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("datasketches-spark-perfbench")
        # the package's memoized python worker daemon (fastworker layer)
        .config("spark.python.daemon.module", "datasketches_spark.fastworker")
        # a fixed, pre-touched heap, left out of peak_rss_mb (heap_mb), so
        # that figure tracks the program's variable memory (python
        # workers, driver, JVM off-heap) instead of GC timing
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed set of JIT compiler threads, whose CPU tree_cpu_s leaves out
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        )
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        # static plans: the same operation runs the same stages every time
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.locality.wait", "0")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "2147483647b")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def heap_mb(spark) -> float:
    """Committed size of the driver JVM's heap, in MB."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getCommitted() / 2**20


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def prepare_inputs(name: str, seed: int) -> str:
    import gen

    # inputs are keyed by the generator's source too, so a changed
    # generator never reuses inputs (or truth) an older one wrote
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    data_root = os.path.join(WORK, "data", version)
    if not os.path.isdir(data_root):  # drop inputs of other generator versions
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    os.makedirs(data_root, exist_ok=True)
    path = gen.GENERATORS[name](data_root, seed)
    os.utime(path)
    # bounded cache: keep the most recently used seeds of this workload
    mine = sorted(
        (os.path.join(data_root, d) for d in os.listdir(data_root)
         if d.startswith(name + "-s") and not d.endswith(".tmp")),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in mine[KEEP_SEEDS:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


class Runner:
    """Runs operations in a closed loop and records latencies and failures."""

    def __init__(self, spark, workload, tracer, attribute: bool = True):
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.tracer = tracer
        self.attribute = attribute  # fold traced ops into the per-operation sums
        self.attempted = 0
        self.failed = 0
        self.ops: list[tuple[str, float, float]] = []  # (kind, wall s, cpu s) per op that succeeded
        # (wall s, cpu s, wall s without steal) of recorded latency ops
        self.latencies: list[tuple[float, float, float]] = []
        self.rows = 0
        self.row_seconds = 0.0
        self.row_cpu_seconds = 0.0

    def run_op(self, op, record: bool = True, clear_cache: bool = True) -> None:
        from workloads import CheckFailed

        tr = self.tracer
        tr.op_id += 1
        group = f"op{tr.op_id}"
        tr.group = group
        self.sc.setJobGroup(group, op.kind)
        self.wl.executed.clear()
        if record:
            self.attempted += 1
        if shutil.disk_usage(WORK).free < MIN_FREE_BYTES:
            print(f"perfbench: low disk, skipping {op.kind}", file=sys.stderr)
            self.failed += 1
            raise DiskFull
        t0 = clock()
        try:
            result = op.run()
            dt, cpu, unstolen = since(t0)
            op.check(result)
        except CheckFailed as exc:
            print(f"perfbench: wrong answer from {op.kind}: {exc}", file=sys.stderr)
            self.failed += 1
            return
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            print(f"perfbench: {op.kind} raised:", file=sys.stderr)
            traceback.print_exc()
            self.failed += 1
            if shutil.disk_usage(WORK).free < MIN_FREE_BYTES:
                raise DiskFull from None
            return
        finally:
            if clear_cache:
                self.spark.catalog.clearCache()
        self.ops.append((op.kind, dt, cpu))
        if not record:
            return
        if op.latency:
            self.latencies.append((dt, cpu, unstolen))
        if op.throughput:
            self.rows += op.rows
            self.row_seconds += dt
            self.row_cpu_seconds += cpu
        tr.add(f"calls.{op.kind}", 1.0)
        if tr.enabled and self.attribute:
            import layers

            layers.attribute(self, op, group, dt)

    def run_cycle(self) -> None:
        for op in self.wl.cycle():
            self.run_op(op)


def warm_up(spark, wl, tracer, groups) -> list[Runner]:
    """Untimed first calls of ``groups`` of operations, checked like any other.

    Groups run in order; the operations of a group run on concurrent
    threads, so their one-time costs (python worker start, imports, plan
    compilation) overlap.
    """
    runners: list[Runner] = []
    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        for group in groups:
            batch = [(Runner(spark, wl, tracer), op) for op in group]
            list(pool.map(lambda ro: ro[0].run_op(ro[1], record=False, clear_cache=False), batch))
            spark.catalog.clearCache()
            runners += [r for r, _ in batch]
    return runners


def cycle_count(wl, seconds: float) -> int:
    """Whole cycles: as many as fill ``seconds`` at the nominal cycle time.

    The count depends only on ``seconds``, so every run with the same
    ``--seconds`` times the same operations, however fast the host is.
    """
    return max(1, round(seconds / wl.cycle_seconds))


class DiskFull(Exception):
    """Free disk fell below the reserve; the loop stops issuing operations."""


def clock() -> tuple[float, float, int, int]:
    """(wall seconds, CPU seconds of the benchmark's process tree, busy
    and stolen CPU ticks of the host)."""
    busy, steal = tracing.busy_steal_ticks()
    return time.perf_counter(), tracing.tree_cpu_s(), busy, steal


def since(start: tuple[float, float, int, int]) -> tuple[float, float, float]:
    """(wall s, CPU s, wall s without steal) since ``start``.

    The last scales the wall time by the share of the host's non-idle
    CPU ticks in the interval that the hypervisor did not steal.
    """
    wall, cpu, busy, steal = clock()
    dt, busy, steal = wall - start[0], busy - start[2], steal - start[3]
    return dt, cpu - start[1], dt * busy / (busy + steal) if busy + steal else dt


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import datasketches_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    import layers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    if shutil.disk_usage(WORK).free < 2 * MIN_FREE_BYTES:
        print("perfbench: less than 2 GiB free disk, not starting", file=sys.stderr)
        return 3
    # python workers import the package from the checkout; spill and
    # temp files stay under the benchmark's work directory
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONHASHSEED"] = "0"  # python workers iterate sets/dicts alike every run
    cpus = len(os.sched_getaffinity(0))
    steal0 = tracing.busy_steal_ticks()[1]

    data_dir = prepare_inputs(args.workload, args.seed)
    work_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)

    import datasketches_spark as ds

    tracer = tracing.Tracer(enabled=False)
    wl = WORKLOADS[args.workload](data_dir, work_dir, tracer)
    if args.trace:
        wl.trace_dirs = {name: prepare_inputs(name, args.seed) for name in wl.trace_inputs}
    spark = None
    rss = tracing.RssSampler()  # peak memory of the timed loop only
    try:
        # set-up = session start + register (three times, median) + the
        # warm-up pass in the final session; (wall s, cpu s) each
        starts = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()  # the JVM stays up: later starts are warm
            t0 = clock()
            spark = build_session(cpus)
            ds.register(spark)
            starts.append(since(t0))
        heap = heap_mb(spark)
        t0 = clock()
        wl.bind(spark)
        warm: list[Runner] = []
        runner = Runner(spark, wl, tracer)
        traced = Runner(spark, wl, tracer)
        probe = Runner(spark, wl, tracer, attribute=False)
        cycles = cycle_count(wl, args.seconds)
        disk_full = False
        warmup = None
        try:
            warm += warm_up(spark, wl, tracer, wl.warmup_groups())
            warmup = since(t0)
            with rss:
                if not args.trace:
                    for _ in range(cycles):
                        runner.run_cycle()
                else:
                    # ABBA order: warm-up drift falls on both loops alike
                    for i in range(cycles):
                        for r in (runner, traced) if i % 2 == 0 else (traced, runner):
                            tracer.enabled = r is traced
                            r.run_cycle()
            if args.trace:
                trace_ops = wl.trace_ops()
                tracer.enabled = False  # untraced first calls compile the plans
                warm += warm_up(spark, wl, tracer, [trace_ops])
                tracer.enabled = True
                for op in trace_ops:
                    probe.run_op(op)
        except DiskFull:
            if warmup is None:
                warmup = since(t0)
            disk_full = True
        extra = {}
        if args.trace and not disk_full:
            extra = layers.microbench(spark, wl, traced)
        quality = wl.finish()
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
    warm_failed = sum(r.failed for r in warm)
    steal1 = tracing.busy_steal_ticks()[1]

    # warm-up operations are checked too; a failed one counts as failed
    runs = [runner, traced, probe]
    attempted = sum(r.attempted for r in runs) + warm_failed
    failed = sum(r.failed for r in runs) + warm_failed
    if attempted == 0:  # stopped before any operation ran (disk reserve)
        attempted = failed = 1
    lat_wall, lat_cpu, lat_unstolen = ([x[i] for x in runner.latencies] for i in range(3))

    def setup(i: int) -> float:
        return statistics.median(s[i] for s in starts) + warmup[i]

    e2e = {
        "setup_s": setup(1),
        "rows_per_cpu_s": runner.rows / runner.row_cpu_seconds if runner.row_cpu_seconds else 0.0,
        "query_cpu_s_p50": percentile(lat_cpu, 0.5) if lat_cpu else 0.0,
        "query_cpu_s_p90": percentile(lat_cpu, 0.9) if lat_cpu else 0.0,
        "query_s_p50": percentile(lat_unstolen, 0.5) if lat_unstolen else 0.0,
        "peak_rss_mb": max(0.0, rss.peak_mb - heap),
    }
    report = dict(e2e)
    report.update({
        "setup_wall_s": setup(0),
        "rows_per_s": runner.rows / runner.row_seconds if runner.row_seconds else 0.0,
        "query_wall_s_p50": percentile(lat_wall, 0.5) if lat_wall else 0.0,
        "query_wall_s_p90": percentile(lat_wall, 0.9) if lat_wall else 0.0,
    })
    report.update(quality)
    report["ops_failed_frac"] = failed / attempted
    units = dict(E2E_UNITS, setup_wall_s="s", rows_per_s="rows/s", query_wall_s_p50="s",
                 query_wall_s_p90="s", distinct_rel_err="ratio",
                 stored_bytes_per_sketch="bytes", ops_failed_frac="ratio")
    for name, value in report.items():
        print(f"{args.workload} {name} = {value:.6g} {units.get(name, '')}")
    audit = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "steal_ticks_delta": steal1 - steal0,
        "session_start_s": [[round(w, 4), round(c, 2)] for w, c, _ in starts],
        "warmup_s": [round(warmup[0], 4), round(warmup[1], 2)],
        "cycles": cycles,
        "query_samples": len(lat_cpu),
        "warmup_ops": [[k, round(w, 4), round(c, 2)] for r in warm for k, w, c in r.ops],
        "ops": [[k, round(w, 4), round(c, 2)] for k, w, c in runner.ops],
        "warmup_failed": warm_failed,
    }
    if args.trace:
        per_layer = layers.per_layer(runner, traced, extra)
        for name, value in per_layer.items():
            print(f"{args.workload} {name} = {value['value']:.6g} {value['unit']}")
        metrics = per_layer
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print("audit " + json.dumps(audit))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
