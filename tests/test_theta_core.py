"""The bottom-k core shared by the theta-like families.

ThetaSketch, AodSketch (tuple sketch with double summaries) and
FdtSketch (distinct string tuples) all keep the k smallest distinct
63-bit hashes below theta.  Fed the same hashes, in the same batches
and merges, they must retain the same sorted keys at the same theta and
answer the same estimate and bounds -- whatever payload rides along.
Core-level, no Spark session."""

from __future__ import annotations

import numpy as np
import pytest

from datasketches_spark.sketches.fdt import FdtSketch, tuple_hashes
from datasketches_spark.sketches.theta import (
    ThetaSketch,
    theta_a_not_b,
    theta_intersect,
)
from datasketches_spark.sketches.tuple_aod import (
    AodSketch,
    aod_a_not_b,
    aod_intersect,
    aod_to_theta,
)

LG_KS = (4, 6, 9)
SPLITS = (1, 2, 3)


def _batches(seed: int, n_distinct: int, n_rows: int, parts: int):
    """Seeded hash batches with repeats inside and across batches."""
    rng = np.random.default_rng(seed)
    pool = rng.integers(1, 1 << 63, size=n_distinct, dtype=np.uint64)
    rows = pool[rng.integers(0, n_distinct, size=n_rows)]
    return np.array_split(rows, parts)


def _build(make, feed, batches):
    """One sketch per batch, merged into the first: mixes the pending
    buffer (several updates on one sketch) with merges."""
    head, *rest = batches
    out = make()
    for chunk in np.array_split(head, 2):
        feed(out, chunk)
    for b in rest:
        other = make()
        feed(other, b)
        out.merge(other)
    return out


def _theta(lg_k, batches):
    return _build(lambda: ThetaSketch(lg_k), lambda s, h: s.update_hashes(h), batches)


def _aod(lg_k, batches):
    return _build(
        lambda: AodSketch(lg_k, 2),
        lambda s, h: s.update_hashes(h, np.zeros((h.size, 2))),
        batches,
    )


def _keys(sk):
    return sk.hashes if isinstance(sk, ThetaSketch) else sk.keys


def _same_answers(a, b):
    assert a.get_estimate() == b.get_estimate()  # consolidates both
    assert a.theta == b.theta
    assert np.array_equal(_keys(a), _keys(b))
    for nsd in (1, 2, 3):
        for upper in (False, True):
            assert a.get_bound(nsd, upper) == b.get_bound(nsd, upper)


@pytest.mark.parametrize("parts", SPLITS)
@pytest.mark.parametrize("lg_k", LG_KS)
@pytest.mark.parametrize("n_distinct", [40, 3000])
def test_theta_and_aod_retain_the_same_keys(lg_k, parts, n_distinct):
    batches = _batches(lg_k * 100 + parts, n_distinct, 2 * n_distinct, parts)
    th = _theta(lg_k, batches)
    proj = aod_to_theta(_aod(lg_k, batches))
    assert isinstance(proj, ThetaSketch)
    assert th.num_retained == proj.num_retained
    assert np.all(np.diff(th.hashes.astype(np.float64)) > 0)
    assert th.hashes.size <= 1 << lg_k
    _same_answers(th, proj)
    # one sketch over every row retains the same, whatever the batching
    _same_answers(th, _theta(lg_k, [np.concatenate(batches)]))


@pytest.mark.parametrize("parts", SPLITS)
@pytest.mark.parametrize("lg_k", LG_KS)
def test_fdt_retains_its_tuple_hashes(lg_k, parts):
    rng = np.random.default_rng(7 * lg_k + parts)
    idx = rng.integers(0, 2500, size=5000)
    tups = [(f"u{i}", f"d{i % 7}") for i in idx.tolist()]
    cuts = np.array_split(np.arange(len(tups)), parts)
    chunks = [[tups[i] for i in c.tolist()] for c in cuts]

    fdt = FdtSketch(lg_k)
    fdt.update_tuples(chunks[0])
    for c in chunks[1:]:
        other = FdtSketch(lg_k)
        other.update_tuples(c)
        fdt.merge(other)

    def hashes(c):
        h = tuple_hashes(c)
        return h[h != 0]

    twin = _theta(lg_k, [hashes(c) for c in chunks])
    _same_answers(fdt, twin)
    # each retained tuple is the one its key hashes from
    assert np.array_equal(tuple_hashes(fdt.tuples), fdt.keys)


@pytest.mark.parametrize("lg_k", LG_KS)
@pytest.mark.parametrize("n_distinct", [40, 3000])
def test_set_algebra_keys_agree(lg_k, n_distinct):
    a_b = _batches(lg_k, n_distinct, n_distinct, 2)
    b_b = _batches(lg_k, n_distinct, n_distinct, 3)  # same pool, other rows
    b_b = [np.concatenate([b_b[0], _batches(lg_k + 1, 50, 50, 1)[0]]), *b_b[1:]]
    ta, tb = _theta(lg_k, a_b), _theta(lg_k, b_b)
    aa, ab = _aod(lg_k, a_b), _aod(lg_k, b_b)
    for t_out, a_out in (
        (theta_intersect(ta, tb), aod_intersect(aa, ab)),
        (theta_a_not_b(ta, tb), aod_a_not_b(aa, ab)),
    ):
        _same_answers(t_out, aod_to_theta(a_out))
        assert a_out.values.shape == (t_out.hashes.size, 2)


def test_theta_queries_see_pending_updates():
    """``is_estimation_mode`` and ``get_theta`` answer for every update
    so far, however much of it still waits in the pending buffer."""
    h = _batches(5, 100_000, 100_000, 1)[0]
    sketches = [ThetaSketch(8), AodSketch(8, 1)]
    sketches[0].update_hashes(h)
    sketches[1].update_hashes(h, np.zeros(h.size))
    for sk in sketches:
        assert sk.is_estimation_mode and sk.get_theta() < 1.0
    fdt = FdtSketch(8)
    fdt.update_tuples([("d", str(i)) for i in range(100_000)])
    assert fdt.get_theta() < 1.0
