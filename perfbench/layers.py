"""Per-layer metrics of the traced run.

Layer names follow the package modules.  Three sources feed them:

* plan metrics of every DataFrame an operation collected
  (:func:`tracing.plan_metrics`), attributed by node name and by the
  layer the operation exercises (:func:`attribute`);
* job, stage and task counts and job wall time per operation from the
  status tracker, which also cover the jobs the library runs internally;
* spans the workloads record around library calls, and in-process
  micro-timings of the sketch cores on samples of the workload's own
  data (:func:`microbench`).

Sums over the traced loop are reported per operation (divided by the
number of traced operations), so runs with different cycle counts
compare; ``aggregation.fold_*``, ``.merge_*`` and ``shuffle.*`` are per operation that
ran that phase, and named spans are per call.  A layer the workload does
not exercise reports 0.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

import tracing
from datasketches_spark.families import (
    FAMILY_CLASSES,
    build_params,
    coerce_value_batch,
    create_sketch,
    update_sketch,
)

FAMILIES = ("theta", "hll", "cpc", "kll", "quantiles", "req", "tdigest", "frequent_items")
PIPELINE_OPS = ("exact_dedup", "near_duplicates", "fuzzy_dedup", "decontaminate", "strip_repeats")
PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython")
SINGLE_BUILDS = tuple(f"build.{f}" for f in FAMILIES)

# every per-layer metric with its unit, in report order (BENCHMARK.json
# lists the same names with the direction that is better)
METRICS: list[tuple[str, str]] = [
    ("aggregation.fold_python_s", "s"),
    ("aggregation.fold_rows", "rows"),
    ("aggregation.fold_groups", "count"),
    ("aggregation.merge_python_s", "s"),
    ("aggregation.merge_groups", "count"),
    ("aggregation.over_floor_ratio", "ratio"),
    ("arrow.bytes_to_python", "bytes"),
    ("arrow.bytes_per_row", "bytes"),
    ("arrow.floor_s", "s"),
    ("families.coerce_ns_per_row", "ns"),
]
for _f in FAMILIES:
    METRICS += [
        (f"sketches.{_f}.update_ns_per_row", "ns"),
        (f"sketches.{_f}.serialize_us", "us"),
        (f"sketches.{_f}.deserialize_us", "us"),
        (f"sketches.{_f}.merge_us", "us"),
        (f"sketches.{_f}.blob_bytes", "bytes"),
    ]
METRICS += [
    ("shuffle.bytes_written", "bytes"),
    ("shuffle.write_s", "s"),
    ("shuffle.records", "count"),
    ("scan.parquet_s", "s"),
    ("codegen.pipeline_s", "s"),
    ("hll_native.agg_s", "s"),
    ("scalars.python_s", "s"),
    ("scalars.sketches_evaluated", "count"),
    ("io.write_s", "s"),
    ("io.bytes_written", "bytes"),
    ("io.read_s", "s"),
    ("io.read_validate_s", "s"),
    ("fastworker.boot_s", "s"),
    ("fastworker.init_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("driver.plan_s", "s"),
    ("driver.residual_s", "s"),
]
METRICS += [(f"pipeline.{op}_s", "s") for op in PIPELINE_OPS]
METRICS += [
    ("pipeline.candidate_pairs", "count"),
    ("pipeline.verified_pairs", "count"),
    ("pipeline.candidate_precision", "ratio"),
    ("runtime_filter.build_s", "s"),
    ("runtime_filter.probe_s", "s"),
    ("runtime_filter.prune_ratio", "ratio"),
    ("runtime_filter.false_positive_rate", "ratio"),
    ("runtime_filter.pruned_route_taken", "ratio"),
    ("trace.untraced_op_s", "s"),
    ("trace.traced_op_s", "s"),
    ("trace.overhead_frac", "ratio"),
]

# per-operation sums: counter name -> metric name
_PER_OP = {
    "fold_python_s": "aggregation.fold_python_s",
    "fold_rows": "aggregation.fold_rows",
    "fold_groups": "aggregation.fold_groups",
    "merge_python_s": "aggregation.merge_python_s",
    "merge_groups": "aggregation.merge_groups",
    "bytes_to_python": "arrow.bytes_to_python",
    "shuffle_bytes": "shuffle.bytes_written",
    "shuffle_write_s": "shuffle.write_s",
    "shuffle_records": "shuffle.records",
    "scan_s": "scan.parquet_s",
    "pipeline_s": "codegen.pipeline_s",
    "hll_native_agg_s": "hll_native.agg_s",
    "scalars_python_s": "scalars.python_s",
    "scalars_rows": "scalars.sketches_evaluated",
    "io.bytes_written": "io.bytes_written",
    "boot_s": "fastworker.boot_s",
    "init_s": "fastworker.init_s",
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "tasks": "spark.tasks",
    "failed_tasks": "spark.failed_tasks",
    "plan_s": "driver.plan_s",
    "residual_s": "driver.residual_s",
    "read_validate_s": "io.read_validate_s",
}


def attribute(runner, op, group: str, latency: float) -> None:
    """Fold one traced operation's plan metrics and job counts into counters."""
    tr = runner.tracer
    sc = runner.sc
    add = tr.add
    # collected DataFrames expose their executed plan; an operation that
    # only writes (ingest) is read from the SQL status store instead
    plans = [tracing.plan_metrics(df) for df in runner.wl.executed]
    if not plans:
        plans = [tracing.execution_metrics(runner.spark, group)]
    for m in plans:
        for node in PYTHON_NODES:
            vals = m.get(node, {})
            add("bytes_to_python", vals.get("pythonDataSent", 0.0))
            add("boot_s", vals.get("pythonBootTime", 0.0))
            add("init_s", vals.get("pythonInitTime", 0.0))
        ex = m.get("Exchange", {})
        if ex.get("shuffleRecordsWritten"):
            add("shuffle_ops", 1.0)
        add("shuffle_bytes", ex.get("shuffleBytesWritten", 0.0))
        add("shuffle_write_s", ex.get("shuffleWriteTime", 0.0))
        add("shuffle_records", ex.get("shuffleRecordsWritten", 0.0))
        add("scan_s", m.get("Scan parquet", {}).get("scanTime", 0.0))
        add("pipeline_s", m.get("WholeStageCodegen", {}).get("pipelineTime", 0.0))
        if op.layer in ("aggregation", "scalars"):
            fold = m.get("MapInPandas", {})
            if fold:
                add("fold_ops", 1.0)
                add("fold_python_s", fold.get("pythonTotalTime", 0.0))
                add("fold_groups", fold.get("pythonNumRowsReceived", fold.get("numOutputRows", 0.0)))
                add("fold_bytes", fold.get("pythonDataSent", 0.0))
                add("fold_rows", m.get("Scan parquet", {}).get("numOutputRows", 0.0))
            merge = m.get("FlatMapGroupsInPandas", {})
            add("merge_ops", 1.0 if merge else 0.0)
            add("merge_python_s", merge.get("pythonTotalTime", 0.0))
            add("merge_groups", merge.get("pythonNumRowsReceived", merge.get("numOutputRows", 0.0)))
            ev = m.get("ArrowEvalPython", {})
            add("scalars_python_s", ev.get("pythonTotalTime", 0.0))
            add("scalars_rows", ev.get("pythonNumRowsReceived", 0.0))
        if op.layer == "hll_native":
            add("hll_native_agg_s", m.get("ObjectHashAggregate", {}).get("aggTime", 0.0))
    read_group = group + ".read"
    for key, n in tracing.job_counts(sc, group).items():
        add(key, n)
    for key, n in tracing.job_counts(sc, read_group).items():
        add(key, n)
    validate_s = tracing.job_seconds(sc, read_group)
    jobs_s = tracing.job_seconds(sc, group) + validate_s
    plan_s = sum(t1 - t0 for name, t0, t1, _, op_id in tr.spans
                 if name == "driver.plan" and op_id == tr.op_id)
    add("read_validate_s", validate_s)
    add("plan_s", plan_s)
    add("residual_s", max(0.0, latency - plan_s - jobs_s))
    add("ops", 1.0)


def _median_time(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _sketch_costs(family: str, a: pd.Series, b: pd.Series, k: int) -> dict[str, float]:
    params = build_params(family, k, a)
    cls = FAMILY_CLASSES[family]

    def build(series):
        sk = create_sketch(family, params)
        update_sketch(family, sk, series)
        return sk

    update_s = _median_time(lambda: build(a))
    sk_a, sk_b = build(a), build(b)
    blob_a, blob_b = sk_a.serialize(), sk_b.serialize()
    serialize_s = _median_time(sk_a.serialize)
    deserialize_s = _median_time(lambda: cls.deserialize(blob_a))
    merge_times = []
    for _ in range(3):
        x, y = cls.deserialize(blob_a), cls.deserialize(blob_b)
        t0 = time.perf_counter()
        x.merge(y)
        merge_times.append(time.perf_counter() - t0)
    return {
        f"sketches.{family}.update_ns_per_row": update_s / len(a) * 1e9,
        f"sketches.{family}.serialize_us": serialize_s * 1e6,
        f"sketches.{family}.deserialize_us": deserialize_s * 1e6,
        f"sketches.{family}.merge_us": statistics.median(merge_times) * 1e6,
        f"sketches.{family}.blob_bytes": float(len(blob_a)),
    }


def microbench(spark, wl, traced) -> dict[str, float]:
    """In-process timings of the layers the loop cannot isolate."""
    out: dict[str, float] = {}
    for family, (a, b, k) in wl.sketch_samples().items():
        out.update(_sketch_costs(family, a, b, k))
    if hasattr(wl, "null_bearing_keys"):
        keys = wl.null_bearing_keys()
        out["families.coerce_ns_per_row"] = (
            _median_time(lambda: coerce_value_batch(keys, "int64"), reps=5) / len(keys) * 1e9
        )
        # the transfer floor: a no-op mapInPandas over the same columns
        floor = wl.fact.mapInPandas(lambda it: (p.iloc[:0] for p in it), wl.fact.schema)
        out["arrow.floor_s"] = _median_time(floor.collect)
        builds = [wall for kind, wall, _ in traced.ops if kind in SINGLE_BUILDS]
        if builds:
            out["aggregation.over_floor_ratio"] = statistics.median(builds) / out["arrow.floor_s"]
    return out


def per_layer(untraced, traced, extra: dict[str, float]) -> dict[str, dict]:
    """Every metric of :data:`METRICS` as ``{name: {"value", "unit"}}``."""
    c = traced.tracer.counters
    totals = traced.tracer.totals()
    n_ops = max(1.0, c.get("ops", 0.0))
    values: dict[str, float] = {name: 0.0 for name, _ in METRICS}
    for key, name in _PER_OP.items():
        values[name] = c.get(key, 0.0) / n_ops
    # fold, merge and shuffle figures are per operation that ran that phase
    phases = {
        "fold_ops": ("fold_python_s", "fold_rows", "fold_groups"),
        "merge_ops": ("merge_python_s", "merge_groups"),
        "shuffle_ops": ("shuffle_bytes", "shuffle_write_s", "shuffle_records"),
    }
    for ops_key, keys in phases.items():
        ops = c.get(ops_key, 0.0)
        for key in keys:
            values[_PER_OP[key]] = c.get(key, 0.0) / ops if ops else 0.0
    values.update(extra)
    if c.get("fold_rows"):
        values["arrow.bytes_per_row"] = c.get("fold_bytes", 0.0) / c["fold_rows"]

    def per_call(span: str, kind: str) -> float:
        calls = c.get(f"calls.{kind}", 0.0)
        return totals.get(span, 0.0) / calls if calls else 0.0

    values["io.write_s"] = per_call("io.write", "ingest.day")
    reads = sum(1 for s in traced.tracer.spans if s[0] == "io.read")
    values["io.read_s"] = totals.get("io.read", 0.0) / reads if reads else 0.0
    for op in PIPELINE_OPS:
        values[f"pipeline.{op}_s"] = per_call(f"pipeline.{op}", f"pipeline.{op}")
    near_calls = c.get("calls.pipeline.near_duplicates", 0.0)
    if near_calls:
        values["pipeline.candidate_pairs"] = c.get("candidate_pairs", 0.0) / near_calls
        values["pipeline.verified_pairs"] = c.get("pipeline.verified_pairs", 0.0) / near_calls
    if c.get("candidate_pairs"):
        values["pipeline.candidate_precision"] = (
            c.get("pipeline.verified_pairs", 0.0) / c["candidate_pairs"]
        )
    values["runtime_filter.build_s"] = per_call("runtime_filter.build", "pipeline.bloom_prune")
    values["runtime_filter.probe_s"] = per_call("runtime_filter.probe", "pipeline.bloom_prune")
    if c.get("runtime_filter.rows_probed"):
        values["runtime_filter.prune_ratio"] = 1.0 - (
            c["runtime_filter.rows_kept"] / c["runtime_filter.rows_probed"]
        )
        values["runtime_filter.false_positive_rate"] = (
            c["runtime_filter.false_positives"] / c["runtime_filter.negatives"]
        )
    if c.get("runtime_filter.anti_joins"):
        values["runtime_filter.pruned_route_taken"] = (
            c.get("runtime_filter.pruned_routes", 0.0) / c["runtime_filter.anti_joins"]
        )
    base = statistics.mean(w for _, w, _ in untraced.ops) if untraced.ops else 0.0
    with_trace = statistics.mean(w for _, w, _ in traced.ops) if traced.ops else 0.0
    values["trace.untraced_op_s"] = base
    values["trace.traced_op_s"] = with_trace
    values["trace.overhead_frac"] = with_trace / base - 1.0 if base else 0.0
    units = dict(METRICS)
    return {name: {"value": values[name], "unit": units[name]} for name, _ in METRICS}
