"""MurmurHash3 + Apache DataSketches theta wire-format verification.

Three layers of ground truth, strongest first:

1. Golden blobs captured from datasketches-java 6.2.0 (the library
   Spark itself bundles — the reference's DuckDB extension builds on
   the C++ port of the same code, /root/reference/vcpkg.json).  The
   hex literals below are ``UpdateSketch.compact().toByteArray()``
   outputs for the given inputs; our ``to_wire()`` must match them
   byte for byte.
2. The reference's own golden test blobs: the CPC blob at
   test/sql/datasketch_cpc.test:17 pins compute_seed_hash(9001) ==
   0x93CC (bytes 6-7), and the HLL blob at
   test/sql/datasketch_hll.test:17 pins the full 128-bit hash of
   int 5 under the default seed via its stored coupon 0x08E6657B.
3. The public SMHasher VerificationTest constant for
   MurmurHash3_x64_128 (0x6384BA69), which sweeps every tail length.

A live cross-check against the session JVM's datasketches-java runs
in test_spark JVM tests (build there, byte-compare here) so drift
from the bundled library is caught on every run.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from datasketches_spark.murmur import (
    DEFAULT_SEED_HASH,
    compute_seed_hash,
    murmur3_bytes,
    murmur3_one,
    murmur3_u64,
    smhasher_verification,
    theta_hash_values,
)
from datasketches_spark.hashing import MAX_HASH
from datasketches_spark.sketches.base import SketchDeserializeError
from datasketches_spark.sketches.theta import ThetaSketch


# ---------------------------------------------------------------- hash core


def test_smhasher_verification():
    assert smhasher_verification() == 0x6384BA69


def test_seed_hash_golden():
    # reference golden CPC blob bytes 6-7 = \xCC\x93 (LE 0x93CC)
    assert compute_seed_hash(9001) == 0x93CC == DEFAULT_SEED_HASH


def test_hll_coupon_golden():
    # reference test/sql/datasketch_hll.test:17: datasketch_hll(8, 5)
    # stores coupon bytes 8-11 = {e\xE6\x08 = 0x08E6657B; coupon =
    # (min(nlz(h2),62)+1) << 26 | (h1 & (2^26-1))
    h1, h2 = murmur3_u64(np.array([5], dtype=np.uint64), 9001)
    h1, h2 = int(h1[0]), int(h2[0])
    nlz = 64 - h2.bit_length() if h2 else 64
    coupon = ((min(nlz, 62) + 1) << 26) | (h1 & ((1 << 26) - 1))
    assert coupon == 0x08E6657B
    # full 128-bit lanes (captured from datasketches-java 6.2.0)
    assert h1 == 0x2999228CE4E6657B
    assert h2 == 0x735FD1816FC2AD0B


def test_batch_matches_scalar_all_tail_lengths():
    rng = np.random.default_rng(3)
    rows = [
        bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
        for n in list(range(1, 36)) + [63, 64, 65, 127, 128, 129, 1000]
    ]
    flat = np.frombuffer(b"".join(rows), dtype=np.uint8)
    off = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=off[1:])
    h1, h2 = murmur3_bytes(flat, off, 9001)
    for i, r in enumerate(rows):
        assert murmur3_one(r, 9001) == (int(h1[i]), int(h2[i]))


def test_theta_hash_skips_empty_strings_and_zeros():
    h = theta_hash_values(pd.Series(["a", "", "b", ""], dtype=object))
    assert h.size == 2  # Apache update(std::string) skips empty
    assert (h != 0).all() and (h < np.uint64(1 << 63)).all()


def test_canonical_double_matches_int64_never():
    # 5 (int) and 5.0 (double) hash differently — Apache semantics
    hi = theta_hash_values(np.array([5], dtype=np.int64))
    hf = theta_hash_values(np.array([5.0], dtype=np.float64))
    assert hi[0] != hf[0]
    # but -0.0 and 0.0 collapse
    hz = theta_hash_values(np.array([0.0, -0.0], dtype=np.float64))
    assert hz[0] == hz[1]


# ------------------------------------------------- golden wire blobs (java)

# captured from datasketches-java 6.2.0:
#   UpdateSketch.builder().setLogNominalEntries(12).build();
#   update(each value); compact().toByteArray().hex()
_GOLDEN = {
    "empty": ([], "01030300001e0000"),
    "single_int": ([1], "01030300003acc9315f97dcbbd86a105"),
    "simple_items": (
        [1, 2, 3, 3, 4, 5],
        "02030300001acc93050000000000803f15f97dcbbd86a10540de2ee1c9db3d08"
        "bd3273724691cc14c397fc1281709d1eba40b3c1da06695d",
    ),
    "strings": (
        ["apple", "banana", "cherry", "apple"],
        "02030300001acc93030000000000803fd39e236e7a66b557dfa76b755f6e3d67"
        "420a5b1693f0aa79",
    ),
    "doubles": (
        [1.5, 2.5, -0.0, 0.0, 3.25],
        "02030300001acc93040000000000803f114115368e63790fa5541412e7b6831c"
        "e56b61eec8804420518b4f6a3f9f1d50",
    ),
}


def _build(values) -> ThetaSketch:
    sk = ThetaSketch(12)
    if values:
        if isinstance(values[0], str):
            sk.update_values(pd.Series(values, dtype=object))
        elif isinstance(values[0], float):
            sk.update_values(np.array(values, dtype=np.float64))
        else:
            sk.update_values(np.array(values, dtype=np.int64))
    return sk


@pytest.mark.parametrize("name", list(_GOLDEN))
def test_theta_wire_golden(name):
    values, hexblob = _GOLDEN[name]
    assert _build(values).to_wire().hex() == hexblob


@pytest.mark.parametrize("name", list(_GOLDEN))
def test_theta_wire_reads_apache_blob(name):
    values, hexblob = _GOLDEN[name]
    sk = ThetaSketch.from_wire(bytes.fromhex(hexblob))
    assert sk.get_estimate() == float(len(set(values)))
    # deserialize() sniffs wire blobs too (no DSKS frame required)
    sk2 = ThetaSketch.deserialize(bytes.fromhex(hexblob))
    assert sk2.get_estimate() == sk.get_estimate()


def test_wire_roundtrip_estimation_mode():
    sk = _build(list(range(100_000)))
    rt = ThetaSketch.from_wire(sk.to_wire())
    assert rt.theta == sk.theta
    assert np.array_equal(rt.hashes, sk.hashes)
    assert rt.get_estimate() == sk.get_estimate()
    assert rt.is_estimation_mode
    blob = sk.to_wire()
    assert blob[0] == 3 and blob[1] == 3 and blob[2] == 3  # preLongs/ser/fam


def test_wire_cross_merge_with_apache_blob():
    # merge an Apache-built sketch (golden blob) with a locally built
    # one over overlapping values: exact-mode set union must be exact
    apache = ThetaSketch.deserialize(bytes.fromhex(_GOLDEN["simple_items"][1]))
    local = _build([4, 5, 6, 7])
    local.merge(apache)
    assert local.get_estimate() == 7.0  # {1..7}


def test_wire_unordered_blob_sorted_on_read():
    values, hexblob = _GOLDEN["simple_items"]
    raw = bytearray(bytes.fromhex(hexblob))
    raw[5] &= ~(1 << 4)  # clear ORDERED flag
    hashes = np.frombuffer(bytes(raw[16:]), dtype=np.uint64)
    shuffled = hashes[::-1].tobytes()
    blob = bytes(raw[:16]) + shuffled
    sk = ThetaSketch.from_wire(blob)
    assert (np.diff(sk.hashes.astype(np.int64)) > 0).all()
    assert sk.get_estimate() == 5.0


def test_wire_seed_hash_mismatch_raises():
    raw = bytearray(bytes.fromhex(_GOLDEN["single_int"][1]))
    raw[6] ^= 0xFF
    with pytest.raises(SketchDeserializeError, match="seed hash mismatch"):
        ThetaSketch.from_wire(bytes(raw))


def test_wire_corrupt_raises_reference_message():
    with pytest.raises(SketchDeserializeError, match="Failed to deserialize Theta"):
        ThetaSketch.from_wire(b"\xde\xad\xbe\xef\xde\xad\xbe\xef\x01")
    with pytest.raises(SketchDeserializeError, match="Failed to deserialize Theta"):
        ThetaSketch.deserialize(b"\x00\x01\x02")


def _v4_blob(hashes, theta=None, entry_bits=None, count_bytes=None) -> bytes:
    """A serial-version-4 (compressed) compact theta blob: the preamble,
    theta in estimation mode, the entry count little-endian, then the
    deltas between ordered hashes packed most significant bit first.
    The width fields default to the ones datasketches-java computes."""
    deltas = np.diff(np.asarray(hashes, dtype=np.uint64), prepend=np.uint64(0))
    n = len(deltas)
    if entry_bits is None:
        entry_bits = int(np.bitwise_or.reduce(deltas)).bit_length()
    if count_bytes is None:
        count_bytes = (n.bit_length() + 7) // 8
    head = bytes([1 if theta is None else 2, 4, 3, entry_bits, count_bytes, 0x1A])
    head += struct.pack("<H", DEFAULT_SEED_HASH)
    if theta is not None:
        head += struct.pack("<Q", theta)
    bits = "".join(format(int(d), f"0{entry_bits}b")[-entry_bits:] for d in deltas)
    bits += "0" * (-len(bits) % 8)
    return head + n.to_bytes(count_bytes, "little") + int(bits, 2).to_bytes(len(bits) // 8, "big")


def test_compressed_wire_reads_exact_and_estimation():
    for values in (list(range(1, 40)), list(range(60_000))):
        sk = ThetaSketch.from_wire(_build(values).to_wire())
        theta = None if sk.theta == MAX_HASH else sk.theta
        back = ThetaSketch.from_wire(_v4_blob(sk.hashes, theta))
        assert back.theta == sk.theta
        assert np.array_equal(back.hashes, sk.hashes)
        assert back.get_estimate() == sk.get_estimate()
    # more entries than one unpacking step, entries straddling bytes
    rng = np.random.default_rng(4)
    hashes = np.unique(rng.integers(1, 1 << 62, size=70_001, dtype=np.uint64))
    blob = _v4_blob(hashes)
    assert blob[3] % 8
    assert np.array_equal(ThetaSketch.from_wire(blob).hashes, hashes)


def test_compressed_wire_corrupt_raises():
    """The corrupt-blob screens hold for the compressed layout: a
    repeated hash, a sum past 2^64, an entry at or above theta, a
    truncated body and out-of-range width fields all fail loudly."""
    good = [5, 900, 1 << 40, (1 << 62) + 7]
    assert ThetaSketch.from_wire(_v4_blob(good)).num_retained == 4
    blob = bytearray(_v4_blob(good))
    blob[1] = 5  # unknown serial version
    corrupt = [
        _v4_blob([5, 5, 900]),  # zero delta: a repeated hash
        # deltas 2^62, 2^63-1, 2^63-1: the third sum wraps past 2^64
        _v4_blob([1 << 62, (1 << 62) + (1 << 63) - 1, (1 << 62) - 2]),
        _v4_blob(good, theta=1 << 40),  # entries at and above theta
        _v4_blob(good)[:-1],  # truncated body
        _v4_blob(good, count_bytes=5),
        _v4_blob(good, entry_bits=64),
        bytes(blob),
    ]
    zero = bytearray(_v4_blob(good))
    zero[4] = 0  # no count bytes
    corrupt.append(bytes(zero))
    empty = bytearray(_v4_blob(good)[:9])
    empty[8] = 0  # a count of zero
    corrupt.append(bytes(empty))
    for blob in corrupt:
        with pytest.raises(SketchDeserializeError, match="Failed to deserialize Theta"):
            ThetaSketch.from_wire(blob)


# ------------------------------------------------ live JVM cross-validation


@pytest.fixture(scope="module")
def jvm_theta(spark):
    jvm = spark.sparkContext._jvm

    def build(values, lg_k=12):
        b = jvm.org.apache.datasketches.theta.UpdateSketch.builder()
        b.setLogNominalEntries(lg_k)
        sk = b.build()
        for v in values:
            if isinstance(v, str):
                sk.update(v)
            elif isinstance(v, float):
                sk.update(float(v))
            else:
                sk.update(int(v))
        return bytes(sk.compact().toByteArray())

    return jvm, build


def test_live_jvm_byte_parity(jvm_theta):
    """Exact-mode wire bytes match datasketches-java for fresh inputs
    (not just the captured goldens) — catches bundled-library drift."""
    _, build = jvm_theta
    cases = [
        list(range(17, 500, 3)),
        ["w%d" % i for i in range(257)],
        [float(x) * 0.5 for x in range(99)],
    ]
    for values in cases:
        assert _build(values).to_wire() == build(values)


def test_live_jvm_compressed_blob(jvm_theta):
    """datasketches-java's compressed writer (serial version 4, what
    Spark's theta_sketch_agg stores) in exact and estimation mode: our
    reader gets the state of the uncompressed blob, and the layout
    ``_v4_blob`` forges for the corruption cases is byte-identical."""
    jvm, _ = jvm_theta
    for lg_k, n in ((10, 300), (6, 2000)):
        upd = jvm.org.apache.datasketches.theta.UpdateSketch.builder()
        upd = upd.setLogNominalEntries(lg_k).build()
        for v in range(n):
            upd.update(v)
        compact = upd.compact(True, None)
        packed = bytes(compact.toByteArrayCompressed())
        assert packed[1] == 4
        plain = ThetaSketch.from_wire(bytes(compact.toByteArray()))
        back = ThetaSketch.from_wire(packed)
        assert back.theta == plain.theta
        assert np.array_equal(back.hashes, plain.hashes)
        assert back.is_estimation_mode == (n > 1 << lg_k)
        theta = None if plain.theta == MAX_HASH else plain.theta
        assert _v4_blob(plain.hashes, theta) == packed


def test_live_jvm_reads_our_estimation_blob(jvm_theta):
    """datasketches-java must accept and correctly union an
    estimation-mode blob we wrote (policies differ; formats must not).
    Our side is the full-scale 60k estimation blob (vectorized python
    build); the java-authored side stays small because java updates
    are one py4j round trip EACH (60k updates cost ~60s of suite
    time) — the property under test is java READING our estimation
    blob, not java's own build throughput.  The overlap range still
    exercises cross-sketch hash dedup below our theta."""
    jvm, build = jvm_theta
    ours = _build(list(range(60_000))).to_wire()
    mem = jvm.org.apache.datasketches.memory.Memory.wrap(ours)
    u = jvm.org.apache.datasketches.theta.SetOperation.builder().buildUnion()
    u.union(jvm.org.apache.datasketches.theta.CompactSketch.wrap(mem))
    other = build(list(range(59_000, 61_000)))
    omem = jvm.org.apache.datasketches.memory.Memory.wrap(other)
    u.union(jvm.org.apache.datasketches.theta.CompactSketch.wrap(omem))
    est = u.getResult().getEstimate()
    assert est == pytest.approx(61_000, rel=0.05)


@pytest.fixture(scope="module")
def jvm_small_estimation_blob(jvm_theta):
    """A java-built theta at lg_k=6 over 2k values: estimation mode with
    a theta (~0.03) below our lg_k=12 sketch's over 60k values (~0.07).
    Built once: every java update is one py4j round trip."""
    _, build = jvm_theta
    return build(list(range(59_000, 61_000)), lg_k=6)


def test_estimation_mode_union_takes_java_min_theta(jvm_theta, jvm_small_estimation_blob):
    """Both union sides in estimation mode: java's smaller theta wins
    the min, and our merge keeps exactly the hashes java's union keeps."""
    jvm, _ = jvm_theta
    ours = ThetaSketch.from_wire(_build(list(range(60_000))).to_wire())
    theirs = ThetaSketch.from_wire(jvm_small_estimation_blob)
    assert ours.is_estimation_mode and theirs.is_estimation_mode
    assert theirs.theta < ours.theta

    u = jvm.org.apache.datasketches.theta.SetOperation.builder().buildUnion()
    for blob in (ours.to_wire(), jvm_small_estimation_blob):
        mem = jvm.org.apache.datasketches.memory.Memory.wrap(blob)
        u.union(jvm.org.apache.datasketches.theta.CompactSketch.wrap(mem))
    java = ThetaSketch.from_wire(bytes(u.getResult().toByteArray()))

    ours.merge(theirs)
    assert ours.theta == theirs.theta == java.theta
    assert np.array_equal(ours.hashes, java.hashes)
    assert ours.get_estimate() == java.get_estimate()
    assert ours.get_estimate() == pytest.approx(61_000, rel=0.15)


def test_decimal_objects_hash_as_doubles():
    """Spark DecimalType arrives as object-dtype decimal.Decimal; DuckDB
    implicitly casts DECIMAL to DOUBLE for the double-typed sketch
    functions, so the hash must equal the DOUBLE hash (regression:
    this path used to crash in pa.array with ArrowTypeError)."""
    from decimal import Decimal

    hd = theta_hash_values(pd.Series([Decimal("1.5"), Decimal("2.25")], dtype=object))
    hf = theta_hash_values(np.array([1.5, 2.25], dtype=np.float64))
    assert np.array_equal(np.sort(hd), np.sort(hf))


def test_unhashable_object_type_raises_cleanly():
    with pytest.raises(TypeError, match="unsupported value type"):
        theta_hash_values(pd.Series([object(), object()], dtype=object))


def test_pre_rehash_theta_blob_fails_loudly():
    """Theta frame v2: a v1 blob (splitmix64 hash space) must raise,
    not parse into the murmur3 hash space and merge silently wrong."""
    sk = ThetaSketch(12)
    sk.update_values(np.arange(100, dtype=np.int64))
    blob = bytearray(sk.serialize())
    assert blob[5] == 2  # current theta frame version
    blob[5] = 1  # forge a pre-rehash blob
    with pytest.raises(SketchDeserializeError, match="Failed to deserialize Theta"):
        ThetaSketch.deserialize(bytes(blob))
