"""Reproduce the docs/BASELINE_LOCAL.md scaling measurement.

Times the Python two-phase theta/kll path, the JVM-native HLL and
theta paths, and a no-op mapInPandas (the Arrow transfer floor) on
synthetic 6M and 60M-row inputs, interleaved best-of-N so JVM warmup
and machine drift don't bias any one variant (first runs are warmup,
excluded).

Usage: python scripts/bench_scaling.py  → one JSON line per size.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import datasketches_spark as dss
from datasketches_spark.aggregation import (
    salted_sketch_agg,
    sketch_agg,
    theta_agg_hybrid,
)
from datasketches_spark.pipeline.sampling import weighted_sample


def _noop(batches):
    c = 0
    for b in batches:
        c += len(b)
    yield pd.DataFrame({"n": [c]})


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    dss.register(spark)

    for n in (6_000_000, 60_000_000):
        df = spark.range(n, numPartitions=32).select(
            (F.col("id") % (n // 4)).alias("k")
        )
        dfd = spark.range(n, numPartitions=32).select(
            (F.col("id") % 100_000).cast("double").alias("x")
        )
        variants = {
            "theta_two_phase": lambda: sketch_agg(df, "k", "theta", k=16)
            .select(F.expr("datasketch_theta_estimate(sketch)"))
            .collect(),
            "kll_two_phase": lambda: sketch_agg(dfd, "x", "kll", k=200)
            .select(F.expr("datasketch_kll_quantile(sketch, 0.5D, true)"))
            .collect(),
            "hll_native_jvm": lambda: df.agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("k", 12))
            ).collect(),
            # theta estimate on Spark's own theta_sketch_agg (JVM
            # build and merge, one Python estimate per group)
            "theta_hybrid": lambda: theta_agg_hybrid(df, "k", lg_k=16).collect(),
            "noop_transfer_floor": lambda: df.mapInPandas(_noop, "n long").collect(),
            # A-ES weighted top-k: pure-JVM path; WindowGroupLimit's
            # partial pushdown keeps the shuffle at k rows per
            # (group, map task) regardless of n
            "weighted_topk": lambda: weighted_sample(
                spark.range(n, numPartitions=32).select(
                    F.col("id"),
                    (F.col("id") % 3).alias("g"),
                    (F.col("id") % 997 + 1).alias("w"),
                ),
                "id",
                "w",
                k=5,
                by=["g"],
            ).collect(),
            # grouped: 1k groups through the blob two-phase path (one
            # partial blob per (group, partition) crosses the shuffle)
            "theta_grouped_1k": lambda: sketch_agg(
                spark.range(n, numPartitions=32).select(
                    (F.col("id") % 1000).alias("g"),
                    (F.col("id") % (n // 4)).alias("k"),
                ),
                "k",
                "theta",
                group_cols=["g"],
                k=12,
                finalize=lambda sk: {"est": sk.get_estimate()},
                finalize_schema="est double",
            ).collect(),
        }
        # skew: one group holds 50% of all rows (g=0), the rest spread
        # over 3 more groups — compares the single-reducer merge against
        # the salted pre-merge that flattens the straggler.  256 input
        # partitions make each group's merge see 256 partial states (the
        # local analog of a wide cluster): unsalted, ONE task per group
        # folds all 256 while 31 cores idle; salted, 8 pre-merge tasks
        # per group run in parallel first.
        skew_df = spark.range(n, numPartitions=256).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise((F.col("id") % 2 + F.col("id") % 3).cast("int"))
            .alias("g"),
            (F.col("id") % (n // 4)).alias("k"),
        )
        variants.update(
            {
                # sparse-partial regime: k=18 (262k cap) over ~117k
                # distinct keys per partition in the hot group — partials
                # are UNSATURATED, so the same total hashes cross the
                # shuffle either way and salting genuinely splits the hot
                # group's 256-partial merge 8 ways.  The k=16 scenario
                # below is the saturated regime where every partial is
                # capped and salting multiplies shuffled partials instead.
                "blob_skew_sparse_unsalted": lambda: sketch_agg(
                    skew_df, "k", "theta", group_cols=["g"], k=18,
                    finalize=lambda sk: {"est": sk.get_estimate()},
                    finalize_schema="est double",
                ).collect(),
                "blob_skew_sparse_salted8": lambda: salted_sketch_agg(
                    skew_df, "k", "theta", group_cols=["g"], k=18,
                    num_salts=8,
                ).select(
                    "g", F.expr("datasketch_theta_estimate(sketch)")
                ).collect(),
                "blob_skew_unsalted": lambda: sketch_agg(
                    skew_df, "k", "theta", group_cols=["g"], k=16,
                    finalize=lambda sk: {"est": sk.get_estimate()},
                    finalize_schema="est double",
                ).collect(),
                "blob_skew_salted8": lambda: salted_sketch_agg(
                    skew_df, "k", "theta", group_cols=["g"], k=16, num_salts=8
                ).select(
                    "g", F.expr("datasketch_theta_estimate(sketch)")
                ).collect(),
                # Spark's union buffer holds O(2^lg_k) entries, so
                # the hot group needs no salt on this path
                "hybrid_skew": lambda: theta_agg_hybrid(
                    skew_df, "k", group_cols=["g"], lg_k=16
                ).collect(),
            }
        )
        best = {name: float("inf") for name in variants}
        for it in range(3):  # interleaved; iteration 0 is warmup
            for name, fn in variants.items():
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                if it > 0:
                    best[name] = min(best[name], dt)
        print(
            json.dumps(
                {
                    "rows": n,
                    "seconds": {k: round(v, 3) for k, v in best.items()},
                    "m_rows_per_sec": {
                        k: round(n / v / 1e6, 1) for k, v in best.items()
                    },
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
