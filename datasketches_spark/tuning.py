"""Measured session-conf recommendations for sketch-heavy pipelines.

Everything here was established empirically on this engine's bench
harness (local[32], pyspark 4.1) and is annotated with where it does
and does not transfer to a real cluster.  Apply at session build time:

    from datasketches_spark.tuning import recommended_confs
    b = SparkSession.builder
    for k, v in recommended_confs().items():
        b = b.config(k, v)

The one setting that matters on ANY deployment
----------------------------------------------

``spark.sql.execution.arrow.maxBytesPerBatch = 2147483647b``

With any FINITE byte limit (the default is 64 MB), Spark's
``BatchedPythonArrowInput.writeSizedBatch`` calls
``ArrowWriter.sizeInBytes()`` once per ROW while filling every Arrow
batch bound for a Python worker (``underBatchSizeLimit`` in
PythonArrowInput.scala short-circuits only on the Int.MaxValue
sentinel).  ``sizeInBytes`` walks the struct vector's children per
call; once JIT-compiled and inlined it is survivable, but the FIRST
grouped-map (``applyInPandas``) stage the executor runs adds new
receiver types at that call site, the inline cache goes megamorphic,
and the per-row check degrades ~6x AND STAYS DEGRADED for the JVM's
lifetime.  Measured on a 60M-row ``mapInPandas`` pass (local[32]):
1.4 s -> 8.2 s wall, 24 -> 237 CPU-seconds, with identical results,
flipping reproducibly with this one conf.  Long-lived executors that
mix ``applyInPandas`` and ``mapInPandas`` stages hit this.

Setting the sentinel disables the per-row size check entirely; batch
memory then has to be bounded the other way, by
``spark.sql.execution.arrow.maxRecordsPerBatch``.  At the default
10k records that is ~80 KB per numeric column per batch; for
wide-text pipelines (multi-KB documents) size records-per-batch so
rows x max-row-bytes stays inside your executor's headroom — e.g.
8192 rows of 32 KB documents is 256 MB of Arrow buffer per in-flight
batch.

Everything else is local-harness tuning
---------------------------------------

The remaining entries reproduce this repo's bench session and are
marked local-only where the 100 TB answer differs; see
docs/BASELINE_LOCAL.md for the measurements behind each.
"""

from __future__ import annotations

# Spark's Int.MaxValue sentinel: the only value for which
# BatchedPythonArrowInput skips the per-row ArrowWriter.sizeInBytes().
# Spark-upgrade canary: tests/test_arrow_sentinel_canary.py asserts the
# sentinel survives into a live session AND disassembles the installed
# spark-sql jar's underBatchSizeLimit to verify the Int.MaxValue
# short-circuit still precedes the sizeInBytes call — an upstream
# change fails the suite loudly instead of silently costing 6x.
ARROW_BYTE_LIMIT_OFF = "2147483647b"


def dir_bytes(path: str) -> int:
    """Total on-disk bytes under a data directory — the cheap,
    Spark-free input to :func:`scale_confs` for whole-directory
    workloads (the bench harness uses it)."""
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def plan_bytes(df) -> int:
    """Catalyst's size estimate for a DataFrame's optimized plan —
    the per-query input to :func:`scale_confs` (same statistic the
    engine's broadcast/fan-out gates key on; see
    pipeline/decontam.py's plan-bytes gate for why row/partition
    counts lie and bytes don't).  Raises under Spark Connect (no
    planner-stat surface) — pass ``data_bytes`` to
    :func:`scale_confs` directly there (e.g. summed file sizes)."""
    from . import compat

    size = compat.plan_size_bytes(df)
    if size is None:
        raise RuntimeError(
            "planner statistics unavailable (Spark Connect session); "
            "pass scale_confs(data_bytes=...) explicitly"
        )
    return size


def scale_confs(
    data_bytes: int | None = None,
    cores: int | None = None,
    df=None,
) -> dict[str, str]:
    """SIZE-DERIVED session confs: one continuous rule instead of the
    sf0.1-tuned constants on one end and a "cluster mode" toggle on
    the other (round-10 verdict item: fixed harness confs measured
    saturating at 180 M rows — skew_join slope 1.70 under
    shuffle.partitions=2 — while size-appropriate confs scale the same
    queries sub-linear).

    Pass ``data_bytes`` (e.g. :func:`dir_bytes` of the dataset) or
    ``df`` (bytes read from the optimized plan via :func:`plan_bytes`).
    Anchors, all measured on this harness (docs/BASELINE_LOCAL.md):

    - shuffle partitions ≈ bytes / 64 MB, floored at 2 (the measured
      local[32] sweet spot for KB-scale blob shuffles at sf0.1 — 4/8/32
      lose ~0.1 s/query) and capped at 4×cores (waves bound per-task
      memory; at 1.8 GB this lands on ~32 = the measured sf10 fix for
      the row-heavy skew_join shuffle, 28.9 s -> 5.9 s).
    - AQE off below 512 MB (re-planning toy shuffles costs
      ~0.1-0.15 s/query), on above (skew joins and real shuffle sizes
      need it; AQE+32 confirmed the sf10 skew_join fix at 7.3 s).
    - scan splits ≈ bytes / (3·cores) clamped to [8 MB, 128 MB] —
      8 MB is the measured sf0.1 optimum (beats 16 MB by ~0.65 s
      across the 20 heads; 4 MB loses it back to task overhead),
      128 MB is the cluster default for file-rich inputs.
    - openCostInBytes follows the split size regime (65536 small —
      keeps tiny dimension files from merging into one split — 4 MB
      large, where phantom-split accounting matters more; the r9
      hollow-split diagnosis showed this term flips split counts).
    """
    import os

    if df is not None:
        data_bytes = plan_bytes(df)
    if data_bytes is None:
        raise ValueError("pass data_bytes (or df) — see dir_bytes()")
    if cores is None:
        cores = os.cpu_count() or 8
    parts = max(2, min(data_bytes // (64 << 20), 4 * cores))
    small = data_bytes < (512 << 20)
    split = max(8 << 20, min(data_bytes // (3 * cores), 128 << 20))
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.enabled": "false" if small else "true",
        "spark.sql.files.maxPartitionBytes": str(split),
        "spark.sql.files.openCostInBytes": (
            "65536" if small else str(4 << 20)
        ),
    }


def recommended_confs(local: bool = False) -> dict[str, str]:
    """Session confs for sketch-heavy python-stage pipelines.

    ``local=False`` (default) returns only the settings that transfer
    to a real multi-executor cluster.  ``local=True`` adds the
    local[32] harness settings (small shuffle fan-out, small scan
    splits, AQE off) that are WRONG on a real cluster — they exist so
    the bench session is reproducible from one call.
    """
    confs = {
        # See module docstring: disables the per-row Arrow batch byte
        # check whose JIT profile decays after the first grouped-map
        # stage.  Pair with an explicit records-per-batch bound.
        "spark.sql.execution.arrow.maxBytesPerBatch": ARROW_BYTE_LIMIT_OFF,
        # Larger Arrow batches through the python sketch path:
        # per-batch pandas/numpy setup is the overhead, not the bytes
        # (measured: 10k/65k/256k identical transfer floor, fewer
        # batches = fewer per-batch python setups).  This is also the
        # byte-bound substitute for the disabled size check above.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # Python-worker daemon whose per-task spark-files setup skips
        # the zip re-reads (~0.13 s saved per python stage, and ~14 MB
        # of memory per fresh worker) and freezes its heap
        # before forking, so a reused worker's post-task gc.collect()
        # skips the ~74k inherited objects (~39 ms per task; see
        # fastworker.py).  Workers must be able to import this package
        # (--py-files or image on a cluster).
        "spark.python.daemon.module": "datasketches_spark.fastworker",
    }
    if local:
        confs.update({
            # Blob-only shuffles carry KBs; 2 reduce partitions beat
            # 4/8/32 at local[32].  On a real cluster size this to the
            # cluster, not to 2.
            "spark.sql.shuffle.partitions": "2",
            # Split the single-file sf0.1 tables across cores.  On a
            # real cluster files outnumber cores; keep the 128m
            # default there.
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "65536",
            # AQE costs ~0.1-0.15 s/query re-planning toy shuffle
            # sizes; keep it ON for real clusters (skew joins, big
            # shuffles need it).
            "spark.sql.adaptive.enabled": "false",
        })
    return confs
