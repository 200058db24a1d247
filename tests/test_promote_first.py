"""HLL / CPC: a sparse batch certain to go dense skips the exact dedup.

A sparse-mode update whose keys cover more distinct slots than the
sparse limit folds every row straight into the registers (HLL, max) or
the coupon bitmap (CPC, OR).  Both are idempotent, so the blob must be
the one the exact dedup-then-promote path gives: one big batch
serializes to the same bytes as the same rows fed in batches smaller
than the limit, at the limit and one past it, and after a wire-imported
(coupon-keyed) sparse HLL."""

import numpy as np
import pandas as pd
import pytest

from datasketches_spark.murmur import murmur3_values
from datasketches_spark.sketches import CpcSketch, HllSketch
from datasketches_spark.sketches.cpc import _bound_dense

LG_KS = [4, 8, 11, 14]


def _hashes(distinct: int, rows: int, seed: int):
    """``rows`` values drawn over exactly ``distinct`` keys, shuffled."""
    rng = np.random.default_rng(seed)
    vals = np.concatenate([np.arange(distinct), rng.integers(0, distinct, rows - distinct)])
    return murmur3_values(pd.Series(rng.permutation(vals) * 7919 + 3))


def _build(cls, lg_k, h1, h2, batch, sk=None):
    sk = cls(lg_k) if sk is None else sk
    for i in range(0, h1.size, batch):
        if cls is HllSketch:
            sk.update_coupons(h1[i : i + batch], HllSketch.coupon_values(h2[i : i + batch]))
        else:
            sk.update_hashes(h1[i : i + batch], h2[i : i + batch])
    return sk


def _cases(lg_k):
    limit = HllSketch(lg_k)._sparse_limit
    return limit, {
        # raw rows past the limit, distinct keys not: stays sparse
        "repeats": (limit // 2, 3 * limit),
        "at_limit": (limit, 2 * limit),
        "one_past": (limit + 1, 2 * limit),
        "dense": (4 << lg_k, 6 << lg_k),
    }


@pytest.mark.parametrize("cls", [HllSketch, CpcSketch], ids=["hll", "cpc"])
@pytest.mark.parametrize("lg_k", LG_KS)
def test_one_batch_equals_small_batches(cls, lg_k):
    limit, cases = _cases(lg_k)
    assert cls(lg_k)._sparse_limit == limit
    for i, (name, (distinct, rows)) in enumerate(cases.items()):
        h1, h2 = _hashes(distinct, rows, seed=lg_k * 10 + i)
        # the skip is taken only where the distinct count must pass
        # the limit, and it is taken by the dense case
        bound = _bound_dense(cls(lg_k), h1)
        assert not bound or distinct > limit, name
        assert bound or name != "dense" or lg_k == 4, name
        one = _build(cls, lg_k, h1, h2, rows)
        small = _build(cls, lg_k, h1, h2, max(1, limit // 3))
        assert one.serialize() == small.serialize(), name
        assert one.mode == (0 if distinct <= limit else 1), name
        if distinct <= limit:
            assert one.get_estimate() == distinct, name


@pytest.mark.parametrize("lg_k", LG_KS)
def test_coupon_keyed_sparse_then_large_batch(lg_k):
    limit = HllSketch(lg_k)._sparse_limit
    seed = HllSketch(lg_k)
    h1, h2 = _hashes(min(limit, 7), 7, seed=lg_k)
    seed.update_coupons(h1, HllSketch.coupon_values(h2))
    wire = seed.to_wire()
    h1, h2 = _hashes(3 * limit, 4 * limit, seed=lg_k + 1)
    blobs = set()
    for batch in (h1.size, max(1, limit // 3)):
        sk = HllSketch.from_wire(wire)
        assert sk.sparse_is_coupons
        blobs.add(_build(HllSketch, lg_k, h1, h2, batch, sk).serialize())
    assert len(blobs) == 1
