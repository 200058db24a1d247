"""String-items KLL (sketches/kll_items.py): core semantics + the
Apache KllItemsSketch/ArrayOfStringsSerDe wire, differentially tested
against the live datasketches-java twin in the bundled jar."""

from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from datasketches_spark.families import prepare, update_prepared, update_sketch
from datasketches_spark.sketches import KllItemsSketch, KllSketch
from datasketches_spark.sketches.base import SketchDeserializeError

WORDS = ["apple", "banana", "cherry", "date"]


# ------------------------------------------------------------- core


def test_exact_mode_queries():
    sk = KllItemsSketch(20)
    sk.update(WORDS)
    assert sk.n == 4 and not sk.is_estimation_mode
    assert sk.get_min_item() == "apple" and sk.get_max_item() == "date"
    assert sk.get_quantile(0.5) == "banana"
    assert sk.get_rank("banana") == 0.5
    assert sk.get_rank("banana", inclusive=False) == 0.25
    assert sk.get_cdf(["b", "c"]) == [0.25, 0.5, 1.0]
    assert sk.get_pmf(["b", "c"]) == [0.25, 0.25, 0.5]


def test_none_and_nan_dropped_numeric_rejected():
    sk = KllItemsSketch(20)
    sk.update(["x", None, float("nan"), "y"])
    assert sk.n == 2
    with pytest.raises(ValueError, match="VARCHAR"):
        sk.update([1])
    with pytest.raises(ValueError, match="split points must be strings"):
        sk.get_cdf([1.0])
    with pytest.raises(ValueError, match="must be a string"):
        sk.get_rank(3.5)


NON_STRING_NULLS = [None, float("nan"), pd.NA, pd.NaT, np.datetime64("NaT")]


def _feed(path, sk, values):
    series = pd.Series(values, dtype=object)
    if path == "update":
        sk.update(values)
    elif path == "update_sketch":
        update_sketch("kll_items", sk, series)
    else:  # the fold kernel's per-batch prepare, then one slice
        values, _keep = prepare("kll_items", series)
        update_prepared("kll_items", sk, values)


@pytest.mark.parametrize("path", ["update", "update_sketch", "prepare"])
def test_null_semantics_pinned(path):
    # every pandas-missing scalar is a NULL and is dropped...
    sk = KllItemsSketch(20)
    _feed(path, sk, ["b", *NON_STRING_NULLS, "", "a"])
    assert sk.n == 3
    assert (sk.get_min_item(), sk.get_max_item()) == ("", "b")
    # ...every other non-string value raises, NULLs alongside or not
    for bad in (5, np.int64(5), 1.5, -0.0, True, b"x", Decimal("1.5")):
        with pytest.raises(ValueError, match="VARCHAR values only"):
            _feed(path, KllItemsSketch(20), ["a", None, bad])


def test_dsks_roundtrip_exact_and_estimation():
    for n in (0, 1, 4, 500):
        sk = KllItemsSketch(20)
        sk.update([f"v{i:04d}" for i in range(n)])
        rt = KllItemsSketch.deserialize(sk.serialize())
        assert rt.n == sk.n and rt.k == sk.k
        assert rt.get_min_item() == sk.get_min_item()
        assert rt.get_max_item() == sk.get_max_item()
        if n:
            for q in (0.1, 0.5, 0.9):
                assert rt.get_quantile(q) == sk.get_quantile(q)


def test_merge_mixed_k_and_empty_adoption():
    a = KllItemsSketch(32)
    a.update([f"a{i:03d}" for i in range(100)])
    b = KllItemsSketch(64)
    b.update([f"b{i:03d}" for i in range(100)])
    acc = KllItemsSketch(200)
    acc.merge(a)
    acc.merge(b)
    assert acc.n == 200 and acc.k == 32  # coarser-K degradation
    assert acc.get_min_item() == "a000" and acc.get_max_item() == "b099"


def test_numeric_string_merges_refused_both_ways():
    s = KllItemsSketch(20)
    s.update(["x"])
    d = KllSketch(20)
    d.update(np.asarray([1.0]))
    with pytest.raises(ValueError, match="numeric"):
        s.merge(d)
    with pytest.raises(ValueError, match="string-items and numeric"):
        d.merge(s)


def test_ks_distance_unsupported():
    a = KllItemsSketch(20)
    a.update(WORDS)
    with pytest.raises(ValueError, match="numeric"):
        a.ks_distance(a)


def test_plain_kll_rejects_str_dtype():
    with pytest.raises(ValueError, match="unsupported sketch dtype"):
        KllSketch(20, "str")


def test_corrupt_raises_items_message():
    with pytest.raises(SketchDeserializeError, match="KLL items"):
        KllItemsSketch.deserialize(b"\x00\x01\x02")
    with pytest.raises(SketchDeserializeError, match="KLL items"):
        KllItemsSketch.from_wire(b"\xde\xad\xbe\xef\xde\xad\xbe\xef\x01")


# ------------------------------------------------ live JVM differential


@pytest.fixture(scope="module")
def jkll(spark):
    jvm = spark.sparkContext._jvm
    comp = jvm.java.util.Comparator.naturalOrder()
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    K = jvm.org.apache.datasketches.kll.KllItemsSketch
    Mem = jvm.org.apache.datasketches.memory.Memory

    def build(values, k=20):
        sk = K.newHeapInstance(k, comp, serde)
        for v in values:
            sk.update(v)
        return sk

    def heapify(blob: bytes):
        return K.heapify(Mem.wrap(blob), comp, serde)

    return build, heapify


def test_java_reads_our_exact_blob(jkll):
    _, heapify = jkll
    sk = KllItemsSketch(20)
    sk.update(WORDS)
    j = heapify(sk.to_wire())
    assert j.getN() == 4
    assert j.getMinItem() == "apple" and j.getMaxItem() == "date"
    assert j.getQuantile(0.5) == "banana"


def test_we_read_java_exact_blob(jkll):
    build, _ = jkll
    j = build(WORDS)
    sk = KllItemsSketch.from_wire(bytes(j.toByteArray()))
    assert sk.n == 4 and sk.get_quantile(0.5) == "banana"
    assert sk.get_min_item() == "apple" and sk.get_max_item() == "date"


def test_empty_and_single_short_forms(jkll):
    build, heapify = jkll
    assert heapify(KllItemsSketch(30).to_wire()).isEmpty()
    s1 = KllItemsSketch(30)
    s1.update(["only"])
    js = heapify(s1.to_wire())
    assert js.getN() == 1 and js.getMinItem() == "only"
    # java's own short forms parse back
    assert KllItemsSketch.from_wire(bytes(build([]).toByteArray())).is_empty
    one = KllItemsSketch.from_wire(bytes(build(["z"]).toByteArray()))
    assert one.n == 1 and one.get_max_item() == "z"


def test_unicode_and_empty_string_items(jkll):
    _, heapify = jkll
    sk = KllItemsSketch(40)
    sk.update(["héllo", "Ωmega", "中文", "abc", ""])
    j = heapify(sk.to_wire())
    assert j.getN() == 5
    assert j.getMinItem() == "" and j.getMaxItem() == sk.get_max_item()
    back = KllItemsSketch.from_wire(bytes(j.toByteArray()))
    assert back.get_max_item() == sk.get_max_item() and back.n == 5


def test_estimation_state_identical_answers(jkll):
    """java heapify of our estimation-mode blob answers rank/quantile
    identically (identical state); extremes may shift 1/n — java's
    sorted view docks unretained min/max at weight 1 (CLAUDE.md)."""
    _, heapify = jkll
    vals = ["w%04d" % (i * 7 % 997) for i in range(500)]
    sk = KllItemsSketch(20)
    sk.update(vals)
    j = heapify(sk.to_wire())
    view = KllItemsSketch.from_wire(sk.to_wire())  # wire projection
    for p in ["w0100", "w0400", "w0500", "w0800"]:
        assert j.getRank(p) == pytest.approx(view.get_rank(p), abs=1e-12)
    for p in (min(vals), max(vals)):
        assert j.getRank(p) == pytest.approx(
            view.get_rank(p), abs=1.0 / 500 + 1e-12
        )
    for q in (0.1, 0.25, 0.5, 0.9):
        assert j.getQuantile(q) == view.get_quantile(q)


def test_java_merge_of_our_blobs_round_trips(jkll):
    _, heapify = jkll
    a = KllItemsSketch(32)
    a.update([f"a{i:03d}" for i in range(300)])
    b = KllItemsSketch(64)
    b.update([f"b{i:03d}" for i in range(300)])
    ja = heapify(a.to_wire())
    ja.merge(heapify(b.to_wire()))
    m = KllItemsSketch.from_wire(bytes(ja.toByteArray()))
    assert m.n == 600
    assert m.get_min_item() == "a000" and m.get_max_item() == "b299"
    ours = KllItemsSketch(32)
    ours.merge(a)
    ours.merge(b)
    for p in ["a150", "b000", "b150"]:
        assert ours.get_rank(p) == pytest.approx(ja.getRank(p), abs=0.05)


def test_fuzz_differential(jkll):
    """Seeded random (k, n, values, chunked merges): our wire always
    heapifies in java, java's re-serialization parses back, and both
    views answer identically (the envelope fold may legally coarsen
    an over-capacity state — compare views of the same blob)."""
    build, heapify = jkll
    rng = np.random.default_rng(9014)
    for _case in range(12):
        k = int(rng.integers(8, 101))
        n = int(rng.integers(1, 1500))
        vals = [f"s{int(v):07d}" for v in rng.integers(0, 10**6, n)]
        sk = KllItemsSketch(k)
        # random chunking exercises intermediate compaction states
        parts = np.array_split(np.asarray(vals, dtype=object),
                               max(1, int(rng.integers(1, 6))))
        for part in parts:
            p = KllItemsSketch(k)
            p.update(part)
            sk.merge(p)
        wire = sk.to_wire()
        view = KllItemsSketch.from_wire(wire)
        assert view.n == sk.n
        assert view.get_min_item() == sk.get_min_item()
        assert view.get_max_item() == sk.get_max_item()
        j = heapify(wire)
        assert j.getN() == sk.n
        probes = sorted({vals[int(i)] for i in rng.integers(0, n, 5)})
        tol = 3.0 / n + 1e-12
        for p in probes:
            assert j.getRank(p) == pytest.approx(view.get_rank(p), abs=tol)
        back = KllItemsSketch.from_wire(bytes(j.toByteArray()))
        assert back.n == sk.n
        for q in (0.1, 0.5, 0.9):
            assert back.get_quantile(q) == view.get_quantile(q)
        for p in probes:
            assert back.get_rank(p) == view.get_rank(p)


# --------------------------------------------------------- rangepart


def test_string_partition_bounds_and_assignment(spark):
    from datasketches_spark.pipeline.rangepart import (
        assign_range_partition,
        partition_bounds,
    )

    df = spark.createDataFrame(
        [(f"key{i:04d}",) for i in range(400)] + [(None,)], "s string"
    )
    bounds = partition_bounds(df, "s", 4, k=1024)
    # exact mode: perfect quartile cuts (inclusive convention)
    assert bounds == ["key0099", "key0199", "key0299"]
    out = assign_range_partition(df, "s", bounds, "pid")
    rows = out.groupBy("pid").count().collect()
    got = {r.pid: r["count"] for r in rows}
    # b <= v counting: key0099 itself lands in pid 1
    assert got[None] == 1
    assert sum(v for k_, v in got.items() if k_ is not None) == 400
    # Arrow path (past the codegen chain cap) agrees with the chain
    import datasketches_spark.pipeline.rangepart as rp

    old = rp._CASE_CHAIN_MAX
    try:
        rp._CASE_CHAIN_MAX = 0
        out2 = assign_range_partition(df, "s", bounds, "pid")
        key = lambda t: (t[0] is None, t[0] or "")  # noqa: E731
        assert sorted(
            ((r.s, r.pid) for r in out.collect()), key=key
        ) == sorted(((r.s, r.pid) for r in out2.collect()), key=key)
    finally:
        rp._CASE_CHAIN_MAX = old
