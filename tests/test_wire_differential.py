"""Randomized differential wire fuzz vs LIVE datasketches-java.

The per-family wire tests are golden + targeted; this suite sweeps the
long tail: 100 seeded cases per family with random k, input size
(exact AND estimation regimes), duplication profile, chunking, and
merge order, asserting for every case

  1. merge-order independence of OUR estimates (counting families —
     quantile-family merge is legitimately order-sensitive in state),
  2. datasketches-java answers the SAME question from OUR wire blob
     (heapify/wrap of ``to_wire()``),
  3. the full both-directions round trip ours → java reader → java
     writer → our reader preserves OUR query surface exactly (the
     grammar claim: both writers and both readers agree).

The bundled datasketches-java jar in pyspark is the oracle (CLAUDE.md:
use spark._jvm.org.apache.datasketches as a live oracle).  Reference
wire behavior: the DuckDB extension stores exactly these Apache blobs
(/root/reference/src/generated.cpp serialize/deserialize paths).
"""

from __future__ import annotations

import numpy as np
import pytest

from datasketches_spark.sketches.compactor import (
    KllSketch,
    QuantilesSketch,
    ReqSketch,
)
from datasketches_spark.sketches.cpc import CpcSketch
from datasketches_spark.sketches.frequent_items import FrequentItemsSketch
from datasketches_spark.sketches.hll import HllSketch
from datasketches_spark.sketches.tdigest import TDigestSketch
from datasketches_spark.sketches.theta import ThetaSketch

N_CASES = 100


@pytest.fixture(scope="module")
def jvm(spark):
    return spark.sparkContext._jvm


def _mem(jvm, blob: bytes):
    return jvm.org.apache.datasketches.memory.Memory.wrap(blob)


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    """int64 values with a random duplication profile (distinct-heavy,
    dup-heavy, or zipf-ish skew)."""
    if n == 0:
        return np.empty(0, dtype=np.int64)
    style = int(rng.integers(0, 3))
    if style == 0:  # mostly distinct
        return rng.integers(0, 1 << 40, size=n)
    if style == 1:  # heavy duplication over a small domain
        return rng.integers(0, max(n // 8, 2), size=n)
    # skew: a few hot keys + a long tail
    hot = rng.integers(0, 8, size=n)
    tail = rng.integers(0, 1 << 30, size=n)
    pick = rng.random(n) < 0.7
    return np.where(pick, hot, tail)


def _chunk_merge(make, update, values, rng):
    """Build via 1-4 chunks merged in one random order; return
    (merged, parts, a second merge in a different random order)."""
    n_chunks = int(rng.integers(1, 5))
    parts_vals = np.array_split(values, n_chunks)
    parts = []
    for pv in parts_vals:
        sk = make()
        if len(pv):
            update(sk, pv)
        parts.append(sk)
    order_a = rng.permutation(n_chunks)
    order_b = rng.permutation(n_chunks)
    merged_a = make()
    for i in order_a:
        merged_a.merge(parts[i])
    merged_b = make()
    for i in order_b:
        merged_b.merge(parts[i])
    return merged_a, parts, merged_b


# ------------------------------------------------------------------ theta


def test_theta_differential(jvm):
    rng = np.random.default_rng(9001)
    Compact = jvm.org.apache.datasketches.theta.CompactSketch
    SetOp = jvm.org.apache.datasketches.theta.SetOperation
    for case in range(N_CASES):
        lg_k = int(rng.integers(4, 11))
        n = int(rng.integers(0, 3000))
        vals = _values(rng, n)
        merged, parts, merged2 = _chunk_merge(
            lambda: ThetaSketch(lg_k),
            lambda sk, v: sk.update_values(v),
            vals, rng,
        )
        est = merged.get_estimate()
        assert merged2.get_estimate() == est  # merge-order independence
        jsk = Compact.wrap(_mem(jvm, merged.to_wire()))
        assert jsk.getEstimate() == pytest.approx(est, rel=1e-9, abs=1e-9)
        back = ThetaSketch.from_wire(bytes(jsk.toByteArray()))
        assert back.get_estimate() == est
        assert back.theta == merged.theta
        # java's compressed writer (serial version 4, what Spark's
        # theta_sketch_agg stores) reads back to the same state
        packed = ThetaSketch.from_wire(bytes(jsk.toByteArrayCompressed()))
        assert packed.theta == back.theta
        assert np.array_equal(packed.hashes, back.hashes)
        if case % 10 == 0 and len(parts) >= 2:
            # java unions OUR part blobs; same KMV math → same estimate
            u = SetOp.builder().setNominalEntries(1 << lg_k).buildUnion()
            for p in parts:
                u.union(Compact.wrap(_mem(jvm, p.to_wire())))
            assert u.getResult().getEstimate() == pytest.approx(
                est, rel=1e-9, abs=1e-9
            )


# -------------------------------------------------------------------- hll


def test_hll_differential(jvm):
    rng = np.random.default_rng(9002)
    Hll = jvm.org.apache.datasketches.hll.HllSketch
    for case in range(N_CASES):
        lg_k = int(rng.integers(4, 13))
        n = int(rng.integers(0, 3000))
        vals = _values(rng, n)
        merged, parts, merged2 = _chunk_merge(
            lambda: HllSketch(lg_k),
            lambda sk, v: sk.update_values(v),
            vals, rng,
        )
        est = merged.get_estimate()
        assert merged2.get_estimate() == est
        wire = merged.to_wire()
        jsk = Hll.heapify(_mem(jvm, wire))
        dense_wire = (wire[7] & 3) == 2  # curMode bits: 0 LIST 1 SET 2 HLL
        if not dense_wire:
            # coupon modes: both engines count coupons; java adds the
            # coupon-collector log correction (~n^2/2^27 relative)
            assert jsk.getEstimate() == pytest.approx(est, rel=1e-4, abs=1e-4)
        else:
            # dense: java's composite estimator (piecewise: low-range
            # interpolation table, then raw-HLL) vs our Ertl estimator
            # on the SAME registers legitimately differ by a few
            # percent (plus a systematic ~1.15/m gap at small m).
            # This is a SANITY band — a misparse (endianness, slot
            # mapping, value offset) lands orders of magnitude away;
            # exact state preservation is asserted below instead.
            same_regs = HllSketch.from_wire(wire)
            assert jsk.getEstimate() == pytest.approx(
                same_regs.get_estimate(), rel=0.10 + 1.5 / (1 << lg_k)
            )
        back = HllSketch.from_wire(bytes(jsk.toCompactByteArray()))
        if not dense_wire:
            assert back.get_estimate() == pytest.approx(est, rel=1e-9, abs=1e-9)
        else:
            # register-state preservation both directions: our reader
            # of java's re-export answers exactly like our reader of
            # the original blob, and java answers IDENTICALLY from our
            # re-export of its own blob
            assert back.get_estimate() == HllSketch.from_wire(wire).get_estimate()
            jsk2 = Hll.heapify(_mem(jvm, back.to_wire()))
            assert jsk2.getEstimate() == jsk.getEstimate()


# -------------------------------------------------------------------- cpc


def test_cpc_differential(jvm):
    rng = np.random.default_rng(9003)
    Cpc = jvm.org.apache.datasketches.cpc.CpcSketch
    CpcUnion = jvm.org.apache.datasketches.cpc.CpcUnion
    for case in range(N_CASES):
        lg_k = int(rng.integers(4, 12))
        n = int(rng.integers(0, 3000))
        vals = _values(rng, n)
        merged, parts, merged2 = _chunk_merge(
            lambda: CpcSketch(lg_k),
            lambda sk, v: sk.update_values(v),
            vals, rng,
        )
        est = merged.get_estimate()
        assert merged2.get_estimate() == est
        wire = merged.to_wire()
        jsk = Cpc.heapify(_mem(jvm, wire))
        # the live builder may still be coupon-exact where the wire
        # state is ICON-estimated; compare java against OUR reader of
        # the same blob (measured parity ~2e-4 worst case)
        wire_est = CpcSketch.from_wire(wire).get_estimate()
        assert jsk.getEstimate() == pytest.approx(wire_est, rel=1e-3, abs=1e-3)
        back = CpcSketch.from_wire(bytes(jsk.toByteArray()))
        assert back.get_estimate() == pytest.approx(wire_est, rel=1e-9, abs=1e-9)
        if case % 10 == 0 and len(parts) >= 2:
            # java unions OUR part blobs; same coupon-set merge → same
            # ICON answer as java's read of our merged blob
            u = CpcUnion(lg_k)
            for p in parts:
                u.update(Cpc.heapify(_mem(jvm, p.to_wire())))
            assert u.getResult().getEstimate() == pytest.approx(
                jsk.getEstimate(), rel=1e-6, abs=1e-6
            )


# --------------------------------------------------- quantile families


def _rank_probes(vals: np.ndarray, rng) -> np.ndarray:
    qs = np.quantile(vals.astype(np.float64), [0.1, 0.3, 0.5, 0.7, 0.9])
    return np.unique(qs)


def _quantile_family_case(
    jvm, rng, make, jheapify, jget_rank, n_max=2000, cast=np.float64
):
    n = int(rng.integers(1, n_max))
    vals = _values(rng, n).astype(cast)
    merged, _parts, _m2 = _chunk_merge(
        make, lambda sk, v: sk.update(v), vals, rng
    )
    wire = merged.to_wire()
    # compare against OUR reader of the same blob: the wire projection
    # may legally compact an over-capacity state into Apache's exact
    # capacity envelope (KLL writer), so the blob can be a coarser —
    # still valid — summary than the live builder
    wire_view = type(merged).from_wire(wire)
    assert wire_view.n == merged.n
    assert wire_view.min_item == merged.min_item
    assert wire_view.max_item == merged.max_item
    jsk = jheapify(wire)
    tol = 3.0 / n + 1e-12
    for v in _rank_probes(vals, rng):
        # java's sorted view docks unretained min/max at weight 1, so
        # ranks can shift by ~1/n vs a raw-state reader (CLAUDE.md)
        assert jget_rank(jsk, float(v)) == pytest.approx(
            wire_view.get_rank(float(v)), abs=tol
        )
    back = type(merged).from_wire(bytes(jsk.toByteArray()))
    assert back.n == merged.n
    assert back.min_item == merged.min_item
    assert back.max_item == merged.max_item
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        assert back.get_quantile(q) == wire_view.get_quantile(q)
    for v in _rank_probes(vals, rng):
        assert back.get_rank(float(v)) == wire_view.get_rank(float(v))


def test_kll_differential(jvm):
    rng = np.random.default_rng(9004)
    Kll = jvm.org.apache.datasketches.kll.KllDoublesSketch

    for _case in range(N_CASES):
        k = int(rng.integers(8, 201))
        _quantile_family_case(
            jvm, rng,
            lambda: KllSketch(k),
            lambda blob: Kll.heapify(_mem(jvm, blob)),
            lambda jsk, v: jsk.getRank(v),
        )


def test_quantiles_differential(jvm):
    rng = np.random.default_rng(9005)
    Doubles = jvm.org.apache.datasketches.quantiles.DoublesSketch

    for _case in range(N_CASES):
        k = int(2 ** rng.integers(1, 8))  # classic k: power of two
        _quantile_family_case(
            jvm, rng,
            lambda: QuantilesSketch(k),
            lambda blob: Doubles.heapify(_mem(jvm, blob)),
            lambda jsk, v: jsk.getRank(v),
        )


def test_req_differential(jvm):
    rng = np.random.default_rng(9006)
    Req = jvm.org.apache.datasketches.req.ReqSketch

    for _case in range(N_CASES):
        k = int(2 * rng.integers(2, 33))  # REQ k: even, 4..64 here
        # float32: datasketches-java's ReqSketch is FLOAT-ONLY — a
        # float64 REQ blob is the C++ double layout (the reference's
        # sketch_req width) and java cannot read it at any k
        _quantile_family_case(
            jvm, rng,
            lambda: ReqSketch(k, "float32"),
            lambda blob: Req.heapify(_mem(jvm, blob)),
            lambda jsk, v: jsk.getRank(v),
            cast=np.float32,
        )


# ---------------------------------------------------------------- tdigest


def test_tdigest_differential(jvm):
    rng = np.random.default_rng(9007)
    Td = jvm.org.apache.datasketches.tdigest.TDigestDouble
    for _case in range(N_CASES):
        k = int(rng.integers(10, 201))
        n = int(rng.integers(1, 2000))
        vals = _values(rng, n).astype(np.float64)
        merged, _parts, _m2 = _chunk_merge(
            lambda: TDigestSketch(k),
            lambda sk, v: sk.update(v),
            vals, rng,
        )
        jtd = Td.heapify(_mem(jvm, merged.to_wire()))
        assert jtd.getTotalWeight() == merged.total_weight() == n
        assert jtd.getMinValue() == merged.min_item
        assert jtd.getMaxValue() == merged.max_item
        for v in _rank_probes(vals, rng):
            # same centroid state; engines differ only in rank
            # convention AT a centroid (java midpoint vs our
            # inclusive): the gap is half the probe value's weight
            mult = float(np.count_nonzero(vals == v)) / n
            assert jtd.getRank(float(v)) == pytest.approx(
                merged.get_rank(float(v)), abs=0.03 + 0.5 * mult
            )
        back = TDigestSketch.from_wire(bytes(jtd.toByteArray()))
        assert back.total_weight() == n
        assert back.min_item == merged.min_item
        assert back.max_item == merged.max_item
        for q in (0.1, 0.5, 0.9):
            assert back.get_quantile(q) == pytest.approx(
                merged.get_quantile(q), rel=1e-9, abs=1e-9
            )


# ----------------------------------------------------- frequent items


def test_frequent_items_differential(jvm):
    rng = np.random.default_rng(9008)
    Items = jvm.org.apache.datasketches.frequencies.ItemsSketch
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    pool = np.array([f"item_{i}" for i in range(64)], dtype=object)
    for _case in range(N_CASES):
        lg_max_k = int(rng.integers(3, 9))
        n = int(rng.integers(0, 1500))
        # zipf-ish item stream over a small pool
        idx = np.minimum(
            rng.geometric(0.15, size=n) - 1, len(pool) - 1
        )
        items = pool[idx]
        merged, _parts, _m2 = _chunk_merge(
            lambda: FrequentItemsSketch(lg_max_k),
            lambda sk, v: sk.update_counts(
                v, np.ones(len(v), dtype=np.int64)
            ),
            items, rng,
        )
        jsk = Items.getInstance(_mem(jvm, merged.to_wire()), serde)
        assert jsk.getStreamLength() == merged.total_weight() == n
        for item, cnt in list(merged.counts.items())[:8]:
            # stored counts are lower bounds in BOTH engines; the blob
            # carries them verbatim, so estimates map across exactly
            assert jsk.getEstimate(item) == merged.get_estimate(item)
        back = FrequentItemsSketch.from_wire(bytes(jsk.toByteArray(serde)))
        assert back.counts == merged.counts
        assert back.offset == merged.offset
        assert back.total_weight() == merged.total_weight()


# --------------------------------------------- dtype matrix (round 10)
# The rows above fuzz int64 item streams (plus REQ float32 and plain
# ASCII FI strings).  These rows cover the remaining item dtypes the
# wire surface claims: KLL float32 (java KllFloatsSketch), FI strings
# across the UTF-8 long tail, and tdigest float64 edge profiles
# (±inf, denormals, extreme magnitudes).


def test_kll_float32_differential(jvm):
    rng = np.random.default_rng(9104)
    KllF = jvm.org.apache.datasketches.kll.KllFloatsSketch

    for _case in range(N_CASES // 2):
        k = int(rng.integers(8, 201))
        _quantile_family_case(
            jvm, rng,
            lambda: KllSketch(k, "float32"),
            lambda blob: KllF.heapify(_mem(jvm, blob)),
            lambda jsk, v: jsk.getRank(float(v)),
            cast=np.float32,
        )


def _edge_strings(rng: np.random.Generator, n: int) -> np.ndarray:
    """Item stream over the UTF-8 long tail: empty, 1-byte, multi-KB,
    2/3/4-byte code points, combining marks, whitespace/control-ish."""
    pool = np.array(
        [
            "",
            " ",
            "\t",
            "a",
            "é",            # 2-byte
            "中文",  # 3-byte CJK
            "\U0001f600",    # 4-byte emoji
            "é",       # combining acute
            "line\nbreak",
            "null\x00byte" if False else "nul-free",  # serde is len-prefixed but keep printable
            "x" * 2000,
            "ßæø" * 7,
        ],
        dtype=object,
    )
    idx = np.minimum(rng.geometric(0.3, size=n) - 1, len(pool) - 1)
    return pool[idx]


def test_frequent_items_unicode_differential(jvm):
    rng = np.random.default_rng(9108)
    Items = jvm.org.apache.datasketches.frequencies.ItemsSketch
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    for _case in range(N_CASES // 2):
        lg_max_k = int(rng.integers(3, 8))
        n = int(rng.integers(0, 600))
        items = _edge_strings(rng, n)
        merged, _parts, _m2 = _chunk_merge(
            lambda: FrequentItemsSketch(lg_max_k),
            lambda sk, v: sk.update_counts(v, np.ones(len(v), dtype=np.int64)),
            items, rng,
        )
        jsk = Items.getInstance(_mem(jvm, merged.to_wire()), serde)
        assert jsk.getStreamLength() == merged.total_weight() == n
        for item, cnt in list(merged.counts.items()):
            assert jsk.getEstimate(item) == merged.get_estimate(item), repr(item)
        back = FrequentItemsSketch.from_wire(bytes(jsk.toByteArray(serde)))
        assert back.counts == merged.counts
        assert back.total_weight() == merged.total_weight()


def _edge_doubles(rng: np.random.Generator, n: int) -> np.ndarray:
    """float64 stream stressing the serialized-item long tail: ±inf,
    ±0.0, denormals, and extreme-magnitude normals mixed with a bulk of
    ordinary values."""
    pool = np.array(
        [
            np.inf, -np.inf, 0.0, -0.0,
            5e-324, -5e-324, 1e-308, -1e-308,   # denormal territory
            1.7e308, -1.7e308, 1e-300, 1.0, -1.0,
        ],
        dtype=np.float64,
    )
    bulk = rng.normal(0.0, 1e3, size=n)
    take_edge = rng.random(n) < 0.3
    edges = pool[rng.integers(0, len(pool), size=n)]
    return np.where(take_edge, edges, bulk)


def test_tdigest_edge_profile_differential(jvm):
    rng = np.random.default_rng(9107)
    Td = jvm.org.apache.datasketches.tdigest.TDigestDouble
    for _case in range(N_CASES // 2):
        k = int(rng.integers(10, 201))
        n = int(rng.integers(1, 1200))
        vals = _edge_doubles(rng, n)
        merged, _parts, _m2 = _chunk_merge(
            lambda: TDigestSketch(k),
            lambda sk, v: sk.update(v),
            vals, rng,
        )
        jtd = Td.heapify(_mem(jvm, merged.to_wire()))
        assert jtd.getTotalWeight() == merged.total_weight() == n
        assert jtd.getMinValue() == merged.min_item
        assert jtd.getMaxValue() == merged.max_item
        back = TDigestSketch.from_wire(bytes(jtd.toByteArray()))
        assert back.total_weight() == n
        assert back.min_item == merged.min_item
        assert back.max_item == merged.max_item
        # finite probes only: rank AT ±inf is convention-defined
        finite = vals[np.isfinite(vals)]
        if finite.size:
            for v in np.unique(
                np.quantile(finite, [0.1, 0.5, 0.9])
            ):
                mult = float(np.count_nonzero(vals == v)) / n
                jrank = jtd.getRank(float(v))
                ours = merged.get_rank(float(v))
                assert 0.0 <= ours <= 1.0  # ours is always defined
                if not np.isfinite(jrank):
                    # java's rank interpolation does raw arithmetic
                    # across infinite centroid means and yields NaN
                    # there; our reader defines those segments as
                    # steps (tdigest.py get_rank) — nothing to compare
                    continue
                assert jrank == pytest.approx(ours, abs=0.03 + 0.5 * mult)
        for q in (0.1, 0.5, 0.9):
            assert back.get_quantile(q) == pytest.approx(
                merged.get_quantile(q), rel=1e-9, abs=1e-12
            )


# ------------------------------------------------------- tuple (AoD)


def test_tuple_aod_differential(jvm):
    """ArrayOfDoubles sweep: random lg_k / num_values / size /
    duplication / chunking; merge-order independence of the FULL state
    (keys AND summed summaries), java answers from our wire, and the
    both-directions round trip."""
    import pandas as pd

    from datasketches_spark.sketches.tuple_aod import AodSketch

    AODS = jvm.org.apache.datasketches.tuple.arrayofdoubles.ArrayOfDoublesSketches
    rng = np.random.default_rng(777)
    for case in range(N_CASES):
        lg_k = int(rng.integers(4, 10))
        m = int(rng.integers(1, 4))
        n = int(rng.integers(0, 3000))
        keys = _values(rng, n)
        vals = rng.normal(size=(n, m))
        # chunked build in two different orders
        bounds = sorted(rng.integers(0, n + 1, size=2)) if n else [0, 0]
        chunks = [
            (keys[: bounds[0]], vals[: bounds[0]]),
            (keys[bounds[0]: bounds[1]], vals[bounds[0]: bounds[1]]),
            (keys[bounds[1]:], vals[bounds[1]:]),
        ]
        def build(order):
            parts = []
            for ck, cv in chunks:
                p = AodSketch(lg_k, m)
                p.update_batch(pd.Series(ck), cv)
                parts.append(p)
            out = AodSketch(lg_k, m)
            for i in order:
                out.merge(parts[i])
            return out
        a = build([0, 1, 2])
        b = build([2, 0, 1])
        a._consolidate(); b._consolidate()
        assert np.array_equal(a.keys, b.keys)
        assert np.allclose(a.values, b.values, rtol=1e-12, atol=0)
        assert a.theta == b.theta
        # java reads our wire and answers identically
        jsk = AODS.heapifySketch(_mem(jvm, a.to_wire()))
        assert jsk.getRetainedEntries() == a.num_retained
        assert jsk.getEstimate() == pytest.approx(
            a.get_estimate(), rel=1e-12, abs=1e-12
        )
        if a.num_retained and case % 5 == 0:
            jsums = [0.0] * m
            for row in jsk.getValues():
                for j in range(m):
                    jsums[j] += row[j]
            assert jsums == pytest.approx(
                a.column_sums_retained(), rel=1e-9, abs=1e-9
            )
        # both-directions round trip preserves the full state
        back = AodSketch.from_wire(bytes(jsk.compact().toByteArray()))
        assert back.theta == a.theta
        assert np.array_equal(back.keys, a.keys)
        assert np.allclose(back.values, a.values, rtol=1e-12, atol=0)


# ------------------------------------------------------- bloomfilter


def test_bloomfilter_differential(jvm):
    """Geometry sweep for the Apache BloomFilter: random num_bits /
    num_hashes / seed / input; java must round-trip our wire
    BYTE-IDENTICALLY (deterministic bits) and answer the same
    membership probes."""
    import pandas as pd

    from datasketches_spark.sketches.bloom_apache import ApacheBloomFilter

    BF = jvm.org.apache.datasketches.filters.bloomfilter.BloomFilter
    rng = np.random.default_rng(778)
    for case in range(N_CASES // 2):
        num_bits = int(rng.integers(64, 1 << 14))
        num_hashes = int(rng.integers(1, 10))
        seed = int(rng.integers(0, 1 << 62))
        n = int(rng.integers(0, 600))
        keys = _values(rng, n)
        sk = ApacheBloomFilter(num_bits, num_hashes, seed)
        sk.update_series(pd.Series(keys))
        jf = BF.heapify(_mem(jvm, sk.to_wire()))
        assert bytes(jf.toByteArray()) == sk.to_wire()
        probes = list(keys[:3]) + [int(rng.integers(1 << 41, 1 << 42)) for _ in range(3)]
        jq = [jf.query(int(p)) for p in probes]
        oq = sk.query_series(pd.Series(probes, dtype=np.int64))
        assert jq == [bool(x) for x in oq]


def test_kll_items_differential(jvm):
    """String-items KLL (sketches/kll_items.py): seeded random
    (k, n, duplication profile, chunked merge order) — our wire must
    heapify in java's KllItemsSketch<String>, answer identically to
    our reader of the same blob, and survive java's re-serialization.
    Item strings are fixed-width renders of the shared int64 value
    generator, so every duplication profile carries over and
    lexicographic == numeric order."""
    from datasketches_spark.sketches import KllItemsSketch

    rng = np.random.default_rng(9024)
    K = jvm.org.apache.datasketches.kll.KllItemsSketch
    comp = jvm.java.util.Comparator.naturalOrder()
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()

    for _case in range(N_CASES):
        k = int(rng.integers(8, 201))
        n = int(rng.integers(1, 2000))
        vals = np.array(
            [f"s{int(v):012d}" for v in _values(rng, n)], dtype=object
        )
        merged, _parts, _m2 = _chunk_merge(
            lambda: KllItemsSketch(k), lambda sk, v: sk.update(v), vals, rng
        )
        wire = merged.to_wire()
        view = KllItemsSketch.from_wire(wire)
        assert view.n == merged.n
        assert view.min_item == merged.min_item
        assert view.max_item == merged.max_item
        jsk = K.heapify(_mem(jvm, wire), comp, serde)
        assert jsk.getN() == merged.n
        tol = 3.0 / n + 1e-12
        probes = np.unique(vals[rng.integers(0, n, size=5)])
        for p in probes:
            # java's sorted view docks unretained min/max at weight 1
            # (~1/n at the extremes); 3/n covers it uniformly
            assert jsk.getRank(str(p)) == pytest.approx(
                view.get_rank(str(p)), abs=tol
            )
        back = KllItemsSketch.from_wire(bytes(jsk.toByteArray()))
        assert back.n == merged.n
        assert back.min_item == merged.min_item
        assert back.max_item == merged.max_item
        for q in (0.1, 0.25, 0.5, 0.75, 0.9):
            assert back.get_quantile(q) == view.get_quantile(q)
        for p in probes:
            assert back.get_rank(str(p)) == view.get_rank(str(p))
