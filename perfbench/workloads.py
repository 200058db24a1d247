"""The benchmark workloads: their operations and output checks.

A workload turns the generated inputs into a list of :class:`Op` per
cycle.  The runner times ``Op.run`` (library calls plus the action that
returns the answer to the client) and then calls ``Op.check`` untimed;
a check raises :class:`CheckFailed` when an answer is wrong.

Calls into the library sit inside ``self.tracer.span(...)`` so the
traced run can attribute time to layers; with tracing off the spans
record nothing.  DataFrames whose action ran are passed to
``self.executed`` so the runner can read their plan metrics after the
timed section.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
import tracing
from datasketches_spark import approx, io, runtime_filter
from datasketches_spark.aggregation import sketch_agg, sketch_agg_multi, sketch_merge
from datasketches_spark.families import (
    FAMILY_CLASSES,
    coerce_value_batch,
    create_sketch,
    update_sketch,
)
from datasketches_spark.functions import hll_native
from datasketches_spark.sketches import KllSketch, ThetaSketch


class CheckFailed(Exception):
    """An operation returned a wrong answer."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Op:
    kind: str  # "<layer>.<name>", e.g. "build.theta", "query.rollup"
    layer: str  # layer the op's Python/JVM nodes are attributed to
    rows: int  # input rows (documents) the op processes
    latency: bool  # counts toward the query latency percentiles
    throughput: bool  # counts toward rows_per_s
    run: Callable[[], Any]
    check: Callable[[Any], None] = field(default=lambda _: None)


class Workload:
    name = ""
    cycle_seconds = 5.0  # nominal duration of one cycle on a 4-core host
    trace_inputs: tuple[str, ...] = ()  # other workloads' inputs its trace_ops read

    def __init__(self, data_dir: str, work_dir: str, tracer):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.executed: list = []  # DataFrames whose action ran in this op
        self.spark = None
        self.trace_dirs: dict[str, str] = {}  # workload name -> its input dir

    def bind(self, spark) -> None:
        """Attach a (new) session: build the input DataFrames, reset state."""
        self.spark = spark
        self.reset()

    def collect(self, df, name: str = "collect") -> list:
        """Run ``df`` to the client; in traced runs split plan time off."""
        if self.tracer.enabled:
            with self.tracer.span("driver.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span(name):
            rows = df.collect()
        self.executed.append(df)
        return rows

    def warmup_groups(self) -> list[list[Op]]:
        """The warm-up pass over the real inputs, as groups of operations
        that may run concurrently; groups run in order."""
        return [self.cycle()]

    def cycle(self) -> list[Op]:
        raise NotImplementedError

    def trace_ops(self) -> list[Op]:
        """Operations outside the timed loop, run once each in traced runs."""
        return []

    def reset(self) -> None:
        """Drop state an earlier set-up left behind."""

    def finish(self) -> dict[str, float]:
        """Workload-specific quality figures for the report."""
        return {}

    def sketch_samples(self) -> dict:
        """family -> (two halves of a sample of this workload's values, k)."""
        return {}


# ---------------------------------------------------------------- scan_build


SCAN_LG_K = 11  # theta/HLL/CPC nominal size: blobs stay small, so little shuffles
SCAN_SPECS = (  # family, column, k
    ("theta", "key", SCAN_LG_K),
    ("hll", "key", SCAN_LG_K),
    ("cpc", "key", SCAN_LG_K),
    ("kll", "value", 200),
    ("quantiles", "value", 128),
    ("req", "value", 12),
    ("tdigest", "value", 100),
    ("frequent_items", "item", 10),
)
RANK_POINTS = (0.1, 0.5, 0.9, 0.99)
REQ_RANK_TOL = 0.03  # REQ exposes no rank-error bound; 3% is ~2x its observed error


def check_distinct(sk, truth: int, family: str) -> float:
    """Exact mode must equal truth; estimation mode must hold it in bounds."""
    est = sk.get_estimate()
    if family == "theta":
        lo, hi = sk.get_bound(3, False), sk.get_bound(3, True)
        expect(lo <= truth <= hi, f"theta: {truth} outside [{lo}, {hi}]")
        if not sk.is_estimation_mode:
            expect(est == truth, f"theta exact mode: {est} != {truth}")
    else:
        rse = type(sk).RSE_COEFF / np.sqrt(2.0**sk.lg_config_k)
        expect(
            abs(est - truth) <= 3 * rse * truth,
            f"{family}: {est} not within 3 RSE of {truth}",
        )
    return abs(est - truth) / truth


def check_ranks(sk, values: np.ndarray, family: str) -> None:
    """Rank error of returned quantiles against the sorted true values."""
    expect(sk.n == values.size, f"{family}: n {sk.n} != {values.size}")
    tol = REQ_RANK_TOL if family == "req" else sk.normalized_rank_error(False)
    for q in RANK_POINTS:
        x = sk.get_quantile(q)
        lo = np.searchsorted(values, x, "left") / values.size
        hi = np.searchsorted(values, x, "right") / values.size
        err = max(0.0, lo - q, q - hi)
        expect(err <= tol, f"{family}: rank error {err:.4f} at q={q} > {tol:.4f}")


class ScanBuild(Workload):
    """Grouped builds of every reference family over one fact table."""

    name = "scan_build"

    def __init__(self, *args):
        super().__init__(*args)
        self.fact_dir = os.path.join(self.data_dir, "fact")
        t = np.load(os.path.join(self.data_dir, "truth.npz"))
        self.distinct = t["distinct"]
        self.group_rows = t["rows"]
        off = t["value_offsets"]
        self.values = [t["values"][off[i] : off[i + 1]] for i in range(off.size - 1)]
        self.top_items = t["top_items"]
        self.top_counts = t["top_counts"]
        self.rel_err: dict[str, float] = {}

    def bind(self, spark) -> None:
        super().bind(spark)
        self.fact = spark.read.parquet(self.fact_dir)
        # warm-up input: one file with NULL keys and one without, so the
        # warm-up runs every code path at a quarter of the rows
        self.warm_fact = spark.read.parquet(
            *(os.path.join(self.fact_dir, f"part-{f:02d}.parquet") for f in (0, gen.SCAN_FILES - 1))
        )

    def null_bearing_keys(self) -> pd.Series:
        """The key column of a file with NULLs, as pandas renders it (float64)."""
        return pd.read_parquet(os.path.join(self.fact_dir, "part-00.parquet"), columns=["key"])["key"]

    def sketch_samples(self) -> dict:
        pdf = pd.read_parquet(os.path.join(self.fact_dir, "part-01.parquet")).iloc[:200_000]
        out = {}
        for fam, col, k in SCAN_SPECS:
            s = pdf[col]
            if col == "key":  # the NULL-bearing int column arrives as float64
                s = coerce_value_batch(s, "int64")
            out[fam] = (s.iloc[::2].reset_index(drop=True), s.iloc[1::2].reset_index(drop=True), k)
        return out

    def _check_family(self, family: str, rows: list) -> None:
        expect(len(rows) == self.distinct.size, f"{family}: {len(rows)} groups")
        for g, blob in rows:
            sk = FAMILY_CLASSES[family].deserialize(bytes(blob))
            if family in ("theta", "hll", "cpc"):
                err = check_distinct(sk, int(self.distinct[g]), family)
                self.rel_err[f"{family}/{g}"] = err
            elif family == "tdigest":
                expect(
                    sk.total_weight() == self.group_rows[g],
                    f"tdigest: weight {sk.total_weight()} != {self.group_rows[g]}",
                )
            elif family == "frequent_items":
                found = {r[0]: r for r in sk.get_frequent_items()}
                for item, count in zip(self.top_items[g], self.top_counts[g]):
                    name = f"item{item:05d}"
                    expect(name in found, f"frequent_items: {name} missing in group {g}")
                    _, _, lb, ub = found[name]
                    expect(lb <= count <= ub, f"frequent_items: {count} outside [{lb}, {ub}]")
            else:
                check_ranks(sk, self.values[g], family)

    def _build(self, src, family: str, col: str, k: int) -> Op:
        def run():
            with self.tracer.span("aggregation.sketch_agg"):
                out = sketch_agg(src, col, family, ["g"], k)
            return self.collect(out)

        def check(rows):
            self._check_family(family, rows)

        return Op(f"build.{family}", "aggregation", gen.SCAN_ROWS, True, True, run, check)

    def _multi(self, src) -> Op:
        specs = [("key", "theta", SCAN_LG_K, "theta"), ("value", "kll", 200, "kll"),
                 ("value", "tdigest", 100, "tdigest")]

        def run():
            with self.tracer.span("aggregation.sketch_agg_multi"):
                out = sketch_agg_multi(src, specs, ["g"])
            return self.collect(out)

        def check(rows):
            for fam, i in (("theta", 1), ("kll", 2), ("tdigest", 3)):
                self._check_family(fam, [(r[0], r[i]) for r in rows])

        return Op("build.multi_profile", "aggregation", gen.SCAN_ROWS, True, True, run, check)

    def _native(self, src) -> Op:
        def run():
            with self.tracer.span("hll_native.build"):
                out = src.groupBy("g").agg(
                    hll_native.hll_estimate(hll_native.hll_build("key", 12)).alias("est")
                )
            return self.collect(out)

        def check(rows):
            rse = 1.04 / 64.0
            for g, est in rows:
                truth = int(self.distinct[g])
                expect(abs(est - truth) <= 3 * rse * truth, f"hll_native: {est} vs {truth}")

        return Op("build.hll_native", "hll_native", gen.SCAN_ROWS, True, True, run, check)

    # traced runs also run the curation operators once each, over the
    # dedup_pipeline corpus of the same seed, so the pipeline and
    # runtime_filter layers are measured
    trace_inputs = ("dedup_pipeline",)

    def trace_ops(self) -> list[Op]:
        cur = DedupPipeline(self.trace_dirs["dedup_pipeline"], self.work_dir, self.tracer)
        cur.bind(self.spark)
        cur.executed = self.executed
        return cur.ops()

    def _ops(self, src) -> list[Op]:
        ops = [self._build(src, fam, col, k) for fam, col, k in SCAN_SPECS]
        return ops + [self._multi(src), self._native(src)]

    def cycle(self) -> list[Op]:
        return self._ops(self.fact)

    def warmup_groups(self) -> list[list[Op]]:
        # the truth covers the whole table, so warm-up answers go unchecked;
        # an operation that raises still counts as failed
        ops = self._ops(self.warm_fact)
        for op in ops:
            op.check = lambda _: None
        return [ops]

    def finish(self) -> dict[str, float]:
        return {"distinct_rel_err": max(self.rel_err.values(), default=float("nan"))}


# -------------------------------------------------------------- sketch_store

STORE_LG_K = 12
STORE_KLL_K = 200
TOP_SEGMENTS = 16  # segments paired for set operations


@dataclass
class _Store:
    """One sketch table on disk and the days ingested into it."""

    path: str
    last_day: int = -1
    rows: int = 0  # stored (day, segment) rows


class SketchStore(Workload):
    """Ingest per-day theta+KLL sketches and query them as stored data."""

    name = "sketch_store"

    def __init__(self, *args):
        super().__init__(*args)
        self.main = _Store(os.path.join(self.work_dir, "store"))
        t = np.load(os.path.join(self.data_dir, "truth.npz"))
        self.seg_rows = t["rows"]
        self.seg_off = np.concatenate([[0], np.cumsum(self.seg_rows)])
        self.pairs = [t[f"pairs{d}"] for d in range(gen.STORE_INPUT_DAYS)]
        self.values = [t[f"values{d}"] for d in range(gen.STORE_INPUT_DAYS)]
        self.file_distinct = [
            np.bincount(p >> 32, minlength=gen.STORE_SEGMENTS) for p in self.pairs
        ]
        self.day_rows = int(self.seg_rows.sum())
        self._union_cache: dict[tuple, np.ndarray] = {}

    def bind(self, spark) -> None:
        super().bind(spark)
        self.inputs = [
            spark.read.parquet(os.path.join(self.data_dir, f"day{d}"))
            for d in range(gen.STORE_INPUT_DAYS)
        ]

    def sketch_samples(self) -> dict:
        pdf = pd.read_parquet(os.path.join(self.data_dir, "day0")).iloc[:100_000]
        out = {}
        for fam, col, k in (("theta", "user_id", STORE_LG_K), ("kll", "value", STORE_KLL_K)):
            s = pdf[col]
            out[fam] = (s.iloc[::2].reset_index(drop=True), s.iloc[1::2].reset_index(drop=True), k)
        return out

    def reset(self) -> None:
        shutil.rmtree(self.main.path, ignore_errors=True)
        self.main.last_day, self.main.rows = -1, 0

    # -- truth helpers
    def _files(self, lo: int, hi: int) -> tuple:
        return tuple(sorted({d % gen.STORE_INPUT_DAYS for d in range(lo, hi + 1)}))

    def _union_pairs(self, files: tuple) -> np.ndarray:
        if files not in self._union_cache:
            self._union_cache[files] = np.unique(np.concatenate([self.pairs[f] for f in files]))
        return self._union_cache[files]

    def _distinct_per_segment(self, files: tuple) -> np.ndarray:
        return np.bincount(self._union_pairs(files) >> 32, minlength=gen.STORE_SEGMENTS)

    def _users(self, files: tuple, seg: int) -> np.ndarray:
        p = self._union_pairs(files)
        sel = p[(p >> 32) == seg]
        return sel - (np.int64(seg) << 32)

    # -- operations
    def _ingest(self, st: _Store) -> Op:
        specs = [("user_id", "theta", STORE_LG_K, "theta"), ("value", "kll", STORE_KLL_K, "kll")]
        def run():
            day = st.last_day + 1
            src = self.inputs[day % gen.STORE_INPUT_DAYS].withColumn("day", F.lit(day))
            with self.tracer.span("aggregation.sketch_agg_multi"):
                built = sketch_agg_multi(src, specs, ["day", "segment"])
                built = io.with_sketch_metadata(built, "kll", "kll", STORE_KLL_K)
            before = _dir_bytes(st.path)
            with self.tracer.span("io.write"):
                io.write_sketch_table(
                    built, st.path, "theta", "theta", k=STORE_LG_K,
                    mode="append", partition_by=["day"],
                )
            self.tracer.add("io.bytes_written", _dir_bytes(st.path) - before)
            st.last_day = day
            st.rows += gen.STORE_SEGMENTS
            return day

        return Op("ingest.day", "aggregation", self.day_rows, False, True, run)

    def _read(self, st: _Store, lo: int, hi: int):
        tr = self.tracer
        sc = self.spark.sparkContext
        if tr.enabled:  # the validation job gets its own job group
            sc.setJobGroup(tr.group + ".read", "io.read")
        with tr.span("io.read"):
            df = io.read_sketch_table(self.spark, st.path, "theta")
        if tr.enabled:
            sc.setJobGroup(tr.group, "query")
        return df.where(F.col("day").between(lo, hi))

    def _scalar(self, st: _Store) -> Op:
        def run():
            hi = st.last_day
            lo = max(0, hi - 1)
            out = self._read(st, lo, hi).select(
                "day", "segment",
                F.expr("datasketch_theta_estimate(theta)"),
                F.expr("datasketch_theta_lower_bound(theta, 3)"),
                F.expr("datasketch_theta_upper_bound(theta, 3)"),
                F.expr("datasketch_kll_n(kll)"),
                F.expr("datasketch_kll_quantile(kll, 0.5)"),
            )
            return lo, hi, self.collect(out, "scalars.query")

        def check(res):
            lo, hi, rows = res
            expect(len(rows) == gen.STORE_SEGMENTS * (hi - lo + 1), f"scalar: {len(rows)} rows")
            nre = KllSketch(STORE_KLL_K).normalized_rank_error(False)
            for day, seg, est, lb, ub, n, med in rows:
                f = day % gen.STORE_INPUT_DAYS
                truth = self.file_distinct[f][seg]
                expect(lb <= truth <= ub, f"scalar: day {day} seg {seg}: {truth} not in [{lb}, {ub}]")
                expect(n == self.seg_rows[seg], f"scalar: kll n {n} != {self.seg_rows[seg]}")
                vals = self.values[f][self.seg_off[seg] : self.seg_off[seg + 1]]
                r_lo = np.searchsorted(vals, med, "left") / n
                r_hi = np.searchsorted(vals, med, "right") / n
                tol = nre if n > STORE_KLL_K else 1.0 / n
                expect(max(0.0, r_lo - 0.5, 0.5 - r_hi) <= tol, f"scalar: kll median seg {seg}")

        return Op("query.scalars", "scalars", 0, True, False, run, check)

    def _rollup(self, st: _Store) -> Op:
        def run():
            hi = st.last_day
            lo = max(0, hi - 3)
            with self.tracer.span("aggregation.sketch_merge"):
                merged = sketch_merge(
                    self._read(st, lo, hi).select("segment", "theta"), "theta", ["segment"],
                    STORE_LG_K, sketch_col="theta",
                )
            out = merged.select(
                "segment", "theta",
                F.expr("datasketch_theta_lower_bound(theta, 3)"),
                F.expr("datasketch_theta_upper_bound(theta, 3)"),
            )
            return lo, hi, self.collect(out, "aggregation.query")

        def check(res):
            lo, hi, rows = res
            files = self._files(lo, hi)
            truth = self._distinct_per_segment(files)
            expect(len(rows) == gen.STORE_SEGMENTS, f"rollup: {len(rows)} segments")
            by_seg = {}
            for seg, blob, lb, ub in rows:
                expect(lb <= truth[seg] <= ub, f"rollup: seg {seg}: {truth[seg]} not in [{lb}, {ub}]")
                by_seg[seg] = blob
            # a stored-sketch merge equals a fresh build over the same rows
            for seg in (0, 7, gen.STORE_SEGMENTS // 3, gen.STORE_SEGMENTS - 1):
                fresh = create_sketch("theta", {"lg_k": STORE_LG_K})
                update_sketch("theta", fresh, pd.Series(self._users(files, seg)))
                merged = ThetaSketch.deserialize(bytes(by_seg[seg]))
                expect(
                    merged.get_estimate() == fresh.get_estimate(),
                    f"rollup: seg {seg} merge {merged.get_estimate()} != fresh {fresh.get_estimate()}",
                )

        return Op("query.rollup", "aggregation", 0, True, False, run, check)

    def _setops(self, st: _Store) -> Op:
        def run():
            hi = st.last_day
            lo = max(0, hi - 1)
            top = self._read(st, lo, hi).where(F.col("segment") < TOP_SEGMENTS)
            with self.tracer.span("aggregation.sketch_merge"):
                merged = sketch_merge(
                    top.select("segment", "theta"), "theta", ["segment"], STORE_LG_K,
                    sketch_col="theta",
                )
            a = merged.select(F.col("segment").alias("sa"), F.col("theta").alias("a"))
            b = merged.select(F.col("segment").alias("sb"), F.col("theta").alias("b"))
            out = (
                a.join(b, F.col("sb") == F.col("sa") + 1)
                .withColumn("i", F.expr("datasketch_theta_intersect(a, b)"))
                .withColumn("d", F.expr("datasketch_theta_a_not_b(a, b)"))
                .select(
                    "sa",
                    F.expr("datasketch_theta_lower_bound(i, 3)"),
                    F.expr("datasketch_theta_upper_bound(i, 3)"),
                    F.expr("datasketch_theta_lower_bound(d, 3)"),
                    F.expr("datasketch_theta_upper_bound(d, 3)"),
                )
            )
            return lo, hi, self.collect(out, "scalars.setops")

        def check(res):
            lo, hi, rows = res
            files = self._files(lo, hi)
            expect(len(rows) == TOP_SEGMENTS - 1, f"setops: {len(rows)} pairs")
            for s, ilb, iub, dlb, dub in rows:
                ua, ub_ = self._users(files, s), self._users(files, s + 1)
                inter = np.intersect1d(ua, ub_).size
                diff = ua.size - inter
                expect(ilb <= inter <= iub, f"setops: |{s}&{s + 1}| {inter} not in [{ilb}, {iub}]")
                expect(dlb <= diff <= dub, f"setops: |{s}-{s + 1}| {diff} not in [{dlb}, {dub}]")

        return Op("query.setops", "scalars", 0, True, False, run, check)

    def warmup_groups(self) -> list[list[Op]]:
        # two days, so the warm-up queries span days, then each query once
        st = self.main
        return [[self._ingest(st)], [self._ingest(st)],
                [self._scalar(st), self._setops(st), self._rollup(st)] * 2]

    def cycle(self) -> list[Op]:
        # 1 ingest : 7 queries; dashboard reads are the common query, so
        # the median falls among them and p90 among the rollups
        st = self.main
        return [self._ingest(st), self._scalar(st), self._scalar(st), self._setops(st),
                self._scalar(st), self._rollup(st), self._scalar(st), self._scalar(st)]

    def finish(self) -> dict[str, float]:
        sketches = 2 * self.main.rows  # theta + KLL per stored row
        return {"stored_bytes_per_sketch": _dir_bytes(self.main.path) / max(1, sketches)}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, name))
    return total


# ------------------------------------------------------------ dedup_pipeline

DEDUP_THRESHOLD = 0.8
DECONTAM_N = 8  # word n-gram length; see gen.py for why 5 is too short here
STRIP_N = 10


class DedupPipeline(Workload):
    """Training-data curation operators over a planted-duplicate corpus.

    Not a timed workload: :meth:`ScanBuild.trace_ops` runs :meth:`ops`
    once each in traced runs.
    """

    name = "dedup_pipeline"

    def __init__(self, *args):
        super().__init__(*args)
        t = np.load(os.path.join(self.data_dir, "truth.npz"))
        self.ids = set(int(i) for i in t["ids"])
        self.n_docs = len(self.ids)
        copies, sources, exact = t["copy_ids"], t["source_ids"], t["exact"]
        planted = [tuple(sorted((int(a), int(b)))) for a, b in zip(copies, sources)]
        self.pairs = set(planted)
        self.exact_pairs = {p for p, e in zip(planted, exact) if e}
        self.related = {i for p in self.pairs for i in p}
        self.leaked = set(int(i) for i in t["leaked_ids"])
        # exact dedup keeps the min id of each planted exact pair
        self.exact_drop = {p[1] for p in self.exact_pairs}
        self.flagged = sorted(int(c) for c in copies)
        texts = pd.read_parquet(os.path.join(self.data_dir, "corpus.parquet"))
        self.texts = dict(zip(texts["doc_id"].astype(int), texts["text"]))

    def bind(self, spark) -> None:
        super().bind(spark)
        self.corpus = spark.read.parquet(os.path.join(self.data_dir, "corpus.parquet"))
        self.bench = spark.read.parquet(os.path.join(self.data_dir, "bench.parquet"))
        self.dim = spark.createDataFrame([(i,) for i in self.flagged], "doc_id long")

    def _op(self, name: str, run, check) -> Op:
        return Op(f"pipeline.{name}", "pipeline", self.n_docs, True, True, run, check)

    def _exact(self) -> Op:
        src = self.corpus

        def run():
            with self.tracer.span("pipeline.exact_dedup"):
                out = approx.dedup(src, "text", "doc_id").select("doc_id")
                return self.collect(out)

        def check(rows):
            kept = {r[0] for r in rows}
            expect(kept == self.ids - self.exact_drop, f"exact_dedup: kept {len(kept)}")

        return self._op("exact_dedup", run, check)

    def _near(self) -> Op:
        src = self.corpus

        def run():
            with self.tracer.span("pipeline.near_duplicates"):
                out = approx.near_duplicates(src, "doc_id", "text", DEDUP_THRESHOLD)
                return self.collect(out)

        def check(rows):
            found = {(min(a, b), max(a, b)) for a, b, _ in rows}
            stray = found - self.pairs
            expect(not stray, f"near_duplicates: {len(stray)} pairs without a planted partner")
            expect(self.exact_pairs <= found, "near_duplicates: missed an exact duplicate")
            self.tracer.add("pipeline.verified_pairs", len(rows))
            if self.tracer.enabled:
                candidates = tracing.filter_input_rows(self.executed[-1])
                self.tracer.add("candidate_pairs", candidates or 0.0)

        return self._op("near_duplicates", run, check)

    def _fuzzy(self) -> Op:
        src = self.corpus

        def run():
            with self.tracer.span("pipeline.fuzzy_dedup"):
                out = approx.fuzzy_dedup(src, "doc_id", "text", DEDUP_THRESHOLD,
                                         keep_cols=["doc_id"])
                return self.collect(out)

        def check(rows):
            dropped = self.ids - {r[0] for r in rows}
            expect(self.exact_drop <= dropped, "fuzzy_dedup: kept an exact duplicate")
            stray = dropped - {p[1] for p in self.pairs}
            expect(not stray, f"fuzzy_dedup: dropped {len(stray)} documents it should keep")
            if self.tracer.enabled:
                # the Bloom-split anti-join shows as a Union in the executed plan
                pruned = "Union" in tracing.plan_metrics(self.executed[-1])
                self.tracer.add("runtime_filter.anti_joins", 1.0)
                self.tracer.add("runtime_filter.pruned_routes", float(pruned))

        return self._op("fuzzy_dedup", run, check)

    def _decontam(self) -> Op:
        src = self.corpus

        def run():
            with self.tracer.span("pipeline.decontaminate"):
                out = approx.decontaminate(src, self.bench, "doc_id", "text", n=DECONTAM_N)
                return self.collect(out.select("doc_id"))

        def check(rows):
            kept = {r[0] for r in rows}
            expect(kept == self.ids - self.leaked, f"decontaminate: kept {len(kept)}")

        return self._op("decontaminate", run, check)

    def _strip(self) -> Op:
        src = self.corpus

        def run():
            with self.tracer.span("pipeline.strip_repeats"):
                out = approx.strip_repeats(src, "doc_id", "text", n=STRIP_N)
                return self.collect(out.select("doc_id", "text"))

        def check(rows):
            out = dict((r[0], r[1]) for r in rows)
            expect(out.keys() == self.ids, "strip_repeats: lost documents")
            for i in self.ids - self.related:
                expect(out[i] == " ".join(self.texts[i].split()), f"strip_repeats: changed doc {i}")
            for a, b in self.exact_pairs:
                expect(len(out[a].split()) < STRIP_N, f"strip_repeats: kept repeat in {a}")

        return self._op("strip_repeats", run, check)

    def _bloom(self) -> Op:
        src = self.corpus

        def run():
            with self.tracer.span("runtime_filter.build"):
                out = runtime_filter.bloom_prune(src, "doc_id", self.dim, "doc_id")
            with self.tracer.span("runtime_filter.probe"):
                return self.collect(out.select("doc_id"), "runtime_filter.collect")

        def check(rows):
            kept = {r[0] for r in rows}
            expect(set(self.flagged) <= kept, "bloom_prune: false negative")
            negatives = self.n_docs - len(self.flagged)
            self.tracer.add("runtime_filter.rows_probed", self.n_docs)
            self.tracer.add("runtime_filter.rows_kept", len(kept))
            self.tracer.add("runtime_filter.false_positives", len(kept - set(self.flagged)))
            self.tracer.add("runtime_filter.negatives", negatives)

        return Op("pipeline.bloom_prune", "runtime_filter", self.n_docs, True, True, run, check)

    def ops(self) -> list[Op]:
        return [self._exact(), self._near(), self._decontam(), self._strip(), self._bloom(),
                self._fuzzy()]


WORKLOADS = {w.name: w for w in (ScanBuild, SketchStore)}
