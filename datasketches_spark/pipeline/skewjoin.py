"""Skew-aware equi-join: sketch-detected hot keys go through a
broadcast join, the cold tail through the normal shuffle join.

A shuffle join hashes both sides on the key; one hot key (the null
user, the default account, the viral document) lands every matching
row on ONE reducer and the stage runs at the speed of that straggler.
AQE's skew-join splits oversized *partitions* after the fact; this
operator removes the skew from the plan up front, and works for the
patterns AQE doesn't rewrite (e.g. when the skewed side feeds a
further aggregation that pins the partitioning).

Mechanics:
1. detect hot keys on a seeded sample of the fact side with the JVM
   ``approx_top_k`` (a Frequent Items sketch — same family the
   reference exposes as ``datasketch_frequent_items``,
   src/frequent_items_sketch.cpp:35-141) — or take an explicit list;
2. split both sides by key-set membership (a literal IN over at most
   ``max_hot`` keys — Catalyst folds it to a hash-set probe);
3. hot slice: broadcast the dimension slice (<= max_hot keys' worth of
   dimension rows — small by construction) so hot fact rows never
   shuffle; cold slice: ordinary equi-join, now skew-free;
4. union the two results (disjoint by key, so no dedup needed).

Result is row-identical to ``left.join(right, on, how)`` for inner
and left joins regardless of which keys are flagged hot — detection
affects only the physical plan, so the correctness gate can hash-match
against a plain SQL join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import compat


def detect_hot_keys(
    df: DataFrame,
    key: str,
    max_hot: int = 64,
    min_share: float = 0.001,
    sample_fraction: float | None = 0.05,
    seed: int = 42,
) -> list:
    """Heavy-hitter join keys: approx_top_k over a seeded sample.

    Returns keys whose sampled share exceeds ``min_share`` (estimate
    relative to sampled rows), at most ``max_hot`` of them.  The
    sample + sketch never shuffles more than one row of state per
    partition.
    """
    s = df.select(key)
    if sample_fraction is not None and sample_fraction < 1.0:
        s = s.sample(fraction=sample_fraction, seed=seed)
    row = s.agg(
        F.expr(f"approx_top_k({key}, {int(max_hot)})").alias("tk"),
        F.count("*").alias("n"),
    ).first()
    n = max(row["n"], 1)
    return [
        r["item"] for r in (row["tk"] or []) if r["count"] / n >= min_share
    ]


def skew_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    hot_keys: list | None = None,
    max_hot: int = 64,
    min_share: float = 0.001,
    seed: int = 42,
) -> DataFrame:
    """Join ``left`` (large, possibly skewed) with ``right`` on the
    equality key ``on``; hot keys detected from ``left`` unless given
    explicitly.  ``how`` must be 'inner' or 'left' (the splits are
    disjoint by key, so their union is exact for these).

    Fast path: when Catalyst's size estimate says ``right`` fits the
    session's broadcast threshold, the plain join is returned -- the
    planner broadcasts it, the left side never shuffles, and a
    broadcast join has no skew problem to solve (every left partition
    probes locally).  The hot/cold split only earns its extra scan +
    detection job when the right side is too big to broadcast -- the
    regime this operator exists for at 100 TB."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if hot_keys is None:
        # auto mode only: an explicit hot_keys list forces the split
        # (callers use it to pin the plan; tests exercise it)
        thr = compat.auto_broadcast_threshold(left.sparkSession)
        # None: stats unavailable (Connect), so no broadcast fast path;
        # the hot/cold split below is exact and scale-safe regardless
        # of the right side's size
        right_bytes = compat.plan_size_bytes(right)
        if right_bytes is not None and 0 < thr and right_bytes <= thr:
            return left.join(right, on, how)
        hot_keys = detect_hot_keys(
            left, on, max_hot=max_hot, min_share=min_share, seed=seed
        )
    if not hot_keys:
        return left.join(right, on, how)
    is_hot = F.col(on).isin(hot_keys)
    # NULL keys never match; route them cold so left-join keeps them
    hot = left.filter(is_hot).join(
        F.broadcast(right.filter(is_hot)), on, how
    )
    cold = left.filter(~is_hot | F.col(on).isNull()).join(
        right.filter(~is_hot), on, how
    )
    return hot.unionByName(cold)
