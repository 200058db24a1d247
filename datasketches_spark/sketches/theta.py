"""Theta sketch: distinct counting with set algebra (union / intersect / A\\B).

Re-implements the semantics of the reference's hand-written Theta support
(/root/reference/src/theta_sketch.cpp) as a bottom-k ("KMV with theta")
sketch over the positive 63-bit hash space:

- exact mode while the number of retained unique hashes <= 2^lg_k
  (theta == 1.0, estimate is exact -- reference
  test/sql/datasketch_theta.test:26-29 relies on this);
- estimation mode keeps the k smallest unique hashes and
  theta = (k+1)-th smallest hash / 2^63; estimate = retained / theta
  (the standard theta-sketch estimator);
- union / intersection / a_not_b operate on (theta, hash-set) pairs with
  theta = min over the inputs, so exact-mode inputs give exact set
  algebra (reference test/sql/datasketch_theta.test:73-104);
- aggregation state is mergeable in any order (NOT_ORDER_DEPENDENT,
  reference codegen/generated.cpp.j2:745).

Default lg_k = 12 (4096 nominal entries) matching
/root/reference/src/theta_sketch.cpp:22,59.
"""

from __future__ import annotations

import struct

import numpy as np

from ..hashing import MAX_HASH
from ..murmur import DEFAULT_SEED_HASH, theta_hash_values
from .base import FAMILY_THETA, SketchDeserializeError, frame, is_framed, unframe

DEFAULT_LG_K = 12
# constructor bound AND the reachability guarantee for jaccard_bounds'
# 2^26 union clamp — the import-time check below (not a strippable
# per-call assert) forces whoever bumps this to revisit that clamp
MAX_LG_K = 26
if (1 << MAX_LG_K) > (1 << 26):  # pragma: no cover
    raise AssertionError("raise jaccard_bounds' union clamp with MAX_LG_K")

_FLAG_EMPTY = 1

# Apache DataSketches compact theta wire format, serial version 3
# (public format spec; the reference emits it from every Finalize via
# datasketches::compact_theta_sketch::serialize()).  Byte-for-byte
# parity is golden-tested against datasketches-java in
# tests/test_murmur_wire.py.
_WIRE_SERVER = 3
# serial version 4: the compressed compact layout (see _compressed_entries)
_WIRE_SERVER_COMPRESSED = 4
_WIRE_FAMILY_COMPACT = 3
_WIRE_FLAG_READONLY = 1 << 1
_WIRE_FLAG_EMPTY = 1 << 2
_WIRE_FLAG_COMPACT = 1 << 3
_WIRE_FLAG_ORDERED = 1 << 4
_WIRE_FLAG_SINGLE = 1 << 5
_WIRE_FLAGS = _WIRE_FLAG_READONLY | _WIRE_FLAG_COMPACT | _WIRE_FLAG_ORDERED


class ThetaSketch:
    __slots__ = ("lg_k", "theta", "hashes", "_pending", "_pending_n")

    def __init__(self, lg_k: int = DEFAULT_LG_K):
        if not (4 <= lg_k <= MAX_LG_K):
            raise ValueError(f"Invalid lg_k for theta sketch: {lg_k}")
        self.lg_k = lg_k
        self.theta = MAX_HASH  # exclusive threshold; MAX_HASH == "theta = 1.0"
        self.hashes = np.empty(0, dtype=np.uint64)
        # update buffer: incoming batches accumulate un-deduplicated and are
        # consolidated lazily, so building over many Arrow batches is
        # amortized O(n log n) instead of a sort per batch
        self._pending: list[np.ndarray] = []
        self._pending_n = 0

    # ---- building ----
    def update_hashes(self, h: np.ndarray) -> None:
        if h.size == 0:
            return
        if self.theta < MAX_HASH:
            h = h[h < np.uint64(self.theta)]
        self._pending.append(h)
        self._pending_n += h.size
        if self._pending_n > max(4 << self.lg_k, 1 << 17):
            self._consolidate()

    def update_values(self, values) -> None:
        # Apache-compatible hashing (murmur3 x64-128, seed 9001,
        # h1 >> 1): the same input values retain the same hashes as
        # DuckDB/Druid/Hive theta sketches, so wire blobs genuinely
        # merge across systems rather than merely parsing.
        self.update_hashes(theta_hash_values(values))

    def _consolidate(self) -> None:
        if self._pending:
            self.hashes = np.unique(np.concatenate([self.hashes, *self._pending]))
            self._pending = []
            self._pending_n = 0
            self._purge()

    def _purge(self) -> None:
        k = 1 << self.lg_k
        if self.hashes.size > k:
            # hashes are sorted unique; keep the k smallest, theta = (k+1)-th
            self.theta = int(self.hashes[k])
            self.hashes = self.hashes[:k]

    def merge(self, other: "ThetaSketch") -> None:
        self._consolidate()
        other._consolidate()
        self.theta = min(self.theta, other.theta)
        combined = np.concatenate([self.hashes, other.hashes])
        combined = combined[combined < np.uint64(self.theta)]
        self.hashes = np.unique(combined)
        self._purge()

    # ---- queries ----
    @property
    def is_empty(self) -> bool:
        self._consolidate()
        return self.hashes.size == 0 and self.theta == MAX_HASH

    @property
    def is_estimation_mode(self) -> bool:
        return self.theta < MAX_HASH

    @property
    def num_retained(self) -> int:
        self._consolidate()
        return int(self.hashes.size)

    def get_theta(self) -> float:
        return self.theta / MAX_HASH

    def get_estimate(self) -> float:
        self._consolidate()
        if self.theta == MAX_HASH:
            return float(self.hashes.size)
        return self.hashes.size / (self.theta / MAX_HASH)

    def get_bound(self, num_std_devs: int, upper: bool) -> float:
        if not (1 <= num_std_devs <= 3):
            raise ValueError("num_std_devs must be 1..3")
        self._consolidate()
        if not self.is_estimation_mode:
            return self.get_estimate()
        # the REAL Apache BinomialBoundsN (round 12) — exact double
        # parity with datasketches-java and hence with the reference's
        # datasketch_theta_lower/upper_bound (same C++ math;
        # differential matrix in tests/test_binomial_bounds.py)
        from .binomial_bounds import lower_bound, upper_bound  # noqa: PLC0415

        f = upper_bound if upper else lower_bound
        return f(int(self.hashes.size), self.theta / MAX_HASH, num_std_devs)

    def describe(self) -> str:
        return (
            "### Theta sketch summary:\n"
            f"   lg nominal size      : {self.lg_k}\n"
            f"   num retained entries : {self.num_retained}\n"
            f"   seed hash            : {DEFAULT_SEED_HASH}\n"
            f"   empty?               : {self.is_empty}\n"
            f"   estimation mode?     : {self.is_estimation_mode}\n"
            f"   theta (fraction)     : {self.get_theta():.6f}\n"
            f"   estimate             : {self.get_estimate():.3f}\n"
        )

    # ---- serialization ----
    def serialize(self) -> bytes:
        self._consolidate()
        flags = _FLAG_EMPTY if self.is_empty else 0
        payload = struct.pack("<BBQI", self.lg_k, flags, self.theta, self.hashes.size)
        payload += np.ascontiguousarray(self.hashes).tobytes()
        return frame(FAMILY_THETA, payload)

    @classmethod
    def deserialize(cls, blob: bytes) -> "ThetaSketch":
        """Accepts the engine-local DSKS frame OR an Apache
        DataSketches compact theta blob (sniffed on the frame magic),
        so Apache wire blobs work everywhere a theta blob does —
        scalars, union aggregates, sketch stores."""
        if not is_framed(blob):
            return cls.from_wire(blob)
        payload = unframe(blob, FAMILY_THETA)
        try:
            lg_k, _flags, theta, count = struct.unpack_from("<BBQI", payload, 0)
            hashes = np.frombuffer(payload, dtype=np.uint64, count=count, offset=14)
            sk = cls(lg_k)  # a corrupt lg_k byte is a deserialize error
        except (struct.error, ValueError) as exc:
            raise SketchDeserializeError("Failed to deserialize Theta sketch") from exc
        sk.theta = theta
        sk.hashes = hashes.copy()
        return sk

    # ---- Apache DataSketches wire format (compact theta, serVer 3) ----

    def to_wire(self) -> bytes:
        """Serialize as an Apache DataSketches compact ordered theta
        sketch — readable by DuckDB/Druid/Hive/datasketches-java, and
        (because update hashing is murmur3-compatible) *mergeable*
        with sketches those systems built over the same values.
        Golden-tested byte-for-byte against datasketches-java.
        """
        self._consolidate()
        head = bytearray(8)
        head[1] = _WIRE_SERVER
        head[2] = _WIRE_FAMILY_COMPACT
        n = int(self.hashes.size)
        if self.is_empty:
            # datasketches-java writes seed hash 0 for the empty sketch
            head[0] = 1
            head[5] = _WIRE_FLAGS | _WIRE_FLAG_EMPTY
            return bytes(head)
        head[6:8] = struct.pack("<H", DEFAULT_SEED_HASH)
        head[5] = _WIRE_FLAGS
        body = np.ascontiguousarray(self.hashes).tobytes()
        if self.theta == MAX_HASH:
            if n == 1:  # single-item short form (flag bit 5)
                head[0] = 1
                head[5] |= _WIRE_FLAG_SINGLE
                return bytes(head) + body
            head[0] = 2
            # bytes 12-15 carry the sampling probability p as float 1.0
            return bytes(head) + struct.pack("<If", n, 1.0) + body
        head[0] = 3
        return bytes(head) + struct.pack("<IfQ", n, 1.0, self.theta) + body

    @classmethod
    def from_wire(cls, blob: bytes, lg_k: int = DEFAULT_LG_K) -> "ThetaSketch":
        """Parse an Apache compact theta blob: serial version 3, or the
        compressed serial version 4 that datasketches-java's
        ``CompactSketch.toByteArrayCompressed()`` writes (and with it
        Spark's ``theta_sketch_agg``).

        The compact format does not carry a nominal K; ``lg_k`` only
        affects later merges into this object (same as loading into an
        Apache union with that lg_k).  Unordered compact input is
        sorted on read.  Non-default seed hashes are rejected, like
        the Apache readers do.
        """
        err = SketchDeserializeError("Failed to deserialize Theta sketch")
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 8:
            raise err
        blob = bytes(blob)
        pre_longs = blob[0] & 0x3F
        ser_ver, family, flags = blob[1], blob[2], blob[5]
        (seed_hash,) = struct.unpack_from("<H", blob, 6)
        if family != _WIRE_FAMILY_COMPACT:
            raise err
        if ser_ver not in (_WIRE_SERVER, _WIRE_SERVER_COMPRESSED):
            raise err
        if pre_longs not in (1, 2, 3) or len(blob) < 8 * pre_longs:
            raise err
        sk = cls(lg_k)
        if flags & _WIRE_FLAG_EMPTY:
            return sk
        if seed_hash != DEFAULT_SEED_HASH:
            raise SketchDeserializeError(
                "Failed to deserialize Theta sketch: seed hash mismatch"
            )
        if ser_ver == _WIRE_SERVER_COMPRESSED:
            theta, raw = _compressed_entries(blob, pre_longs, err)
            count = raw.size
        else:
            theta = MAX_HASH
            if pre_longs == 1:
                count = 1
                off = 8
            else:
                # bytes 12-15 are the sampling probability p — ignored
                (count,) = struct.unpack_from("<I", blob, 8)
                off = 16
                if pre_longs == 3:
                    (theta,) = struct.unpack_from("<Q", blob, 16)
                    off = 24
            if len(blob) < off + 8 * count:
                raise err
            raw = np.frombuffer(blob, dtype=np.uint64, count=count, offset=off)
        # Screen corrupt blobs: the compact-theta invariant is DISTINCT
        # hashes in (0, theta).  np.unique sorts (covering the
        # unordered-flag case) and collapses duplicates; if anything was
        # dropped -- zeros, duplicates, >= theta entries -- the blob is
        # corrupt, and every family's contract is to fail loud rather
        # than return a quietly skewed estimate.
        hashes = np.unique(raw[(raw > np.uint64(0)) & (raw < np.uint64(theta))])
        if hashes.size != count:
            raise err
        sk.theta = int(theta)
        sk.hashes = hashes
        return sk


def _compressed_entries(blob: bytes, pre_longs: int, err: Exception) -> tuple[int, np.ndarray]:
    """Theta and the hashes of a serial-version-4 compact theta blob.

    Byte 3 is the bits per entry and byte 4 the width in bytes of the
    entry count.  The preamble is one long, or two when the second
    carries theta (estimation mode).  The entry count follows it,
    little-endian, and then the entries: the deltas between consecutive
    ordered hashes (the first from 0), each ``entry_bits`` wide, packed
    most significant bit first without padding (datasketches-java
    ``CompactSketch.toByteArrayV4`` / ``BitPacking``).
    """
    entry_bits, count_bytes = blob[3], blob[4]
    if pre_longs > 2 or not 1 <= entry_bits <= 63 or not 1 <= count_bytes <= 4:
        raise err
    theta = struct.unpack_from("<Q", blob, 8)[0] if pre_longs == 2 else MAX_HASH
    off = 8 * pre_longs + count_bytes
    count = int.from_bytes(blob[off - count_bytes:off], "little")
    if count == 0 or len(blob) < off + (count * entry_bits + 7) // 8:
        raise err
    deltas = np.empty(count, dtype=np.uint64)
    # unpacked bits take 64 bytes per entry: unpack 2^16 entries at a
    # time (a multiple of 8 entries, so each step starts on a byte)
    step = 1 << 16
    for lo in range(0, count, step):
        m = min(step, count - lo)
        at = off + lo * entry_bits // 8
        bits = np.unpackbits(np.frombuffer(blob, np.uint8, offset=at), count=m * entry_bits)
        padded = np.zeros((m, 64), dtype=np.uint8)
        padded[:, 64 - entry_bits:] = bits.reshape(m, entry_bits)
        deltas[lo:lo + m] = np.packbits(padded, axis=1).view(">u8").ravel()
    # a zero delta repeats a hash, which from_wire's screen rejects; a
    # sum can only wrap past 2^64 after one at or above 2^63 > theta,
    # which the screen rejects too
    return theta, np.cumsum(deltas, dtype=np.uint64)


# ---- scalar set algebra (reference src/theta_sketch.cpp:221-270) ----

def theta_union(a: ThetaSketch, b: ThetaSketch, lg_k: int = DEFAULT_LG_K) -> ThetaSketch:
    out = ThetaSketch(lg_k)
    out.merge(a)
    out.merge(b)
    return out


def theta_intersect(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    a._consolidate()
    b._consolidate()
    out = ThetaSketch(max(a.lg_k, b.lg_k))
    theta = min(a.theta, b.theta)
    ah = a.hashes[a.hashes < np.uint64(theta)]
    bh = b.hashes[b.hashes < np.uint64(theta)]
    out.theta = theta
    out.hashes = np.intersect1d(ah, bh)
    return out


def theta_a_not_b(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    a._consolidate()
    b._consolidate()
    out = ThetaSketch(max(a.lg_k, b.lg_k))
    theta = min(a.theta, b.theta)
    ah = a.hashes[a.hashes < np.uint64(theta)]
    bh = b.hashes[b.hashes < np.uint64(theta)]
    out.theta = theta
    out.hashes = np.setdiff1d(ah, bh)
    return out


def jaccard_bounds(a: ThetaSketch, b: ThetaSketch) -> tuple[float, float, float]:
    """java-exact JaccardSimilarity.jaccard triple ``(lb, est, ub)``.

    Mirrors org.apache.datasketches.theta.JaccardSimilarity (6.2.0
    bytecode): union at ceilingPowerOf2(cA+cB) nominal (clamped to
    2^26 — large enough that the union never downsamples below
    min(thetaA, thetaB) for any reachable sketch), intersection
    theta-aligned with the union, and the B-over-A ratio bounds from
    BoundsOnRatiosInThetaSketchedSets (binomial-proportion bounds at
    2*hackyAdjuster(theta) std devs).  Differential vs live java in
    tests/test_binomial_bounds.py."""
    from .binomial_bounds import (  # noqa: PLC0415
        ratio_estimate,
        ratio_lower_bound,
        ratio_upper_bound,
    )

    a._consolidate()
    b._consolidate()
    if a.is_empty and b.is_empty:
        return (1.0, 1.0, 1.0)
    if a.is_empty or b.is_empty:
        return (0.0, 0.0, 0.0)
    theta_u = min(a.theta, b.theta)
    th = np.uint64(theta_u)
    uh = np.unique(np.concatenate([a.hashes, b.hashes]))
    uh = uh[uh < th]
    # java's union nominal clamp at 2^26: slicing the SORTED-unique
    # array to the 2^26 smallest with theta = the (2^26+1)-th IS java's
    # QuickSelect purge at the cap, and below the cap java never purges
    # either (retained <= ceilPow2(cA+cB) = the nominal, by
    # construction).  The paths could only diverge if a single sketch
    # retained more than 2^26 — MAX_LG_K pins that impossible (checked
    # at import time next to its definition, survives python -O).
    if uh.size > (1 << 26):
        theta_u = int(uh[1 << 26])
        uh = uh[: 1 << 26]
        th = np.uint64(theta_u)
    cu = int(uh.size)
    # java's exactly-equal early-out: identical retained sets at one theta
    if (
        cu == int(a.hashes.size) == int(b.hashes.size)
        and a.theta == b.theta == theta_u
    ):
        return (1.0, 1.0, 1.0)
    ih = np.intersect1d(a.hashes, b.hashes)
    ci = int(ih[ih < th].size)
    if cu <= 0:  # BoundsOnRatiosInThetaSketchedSets countA<=0 paths
        return (0.0, 0.5, 1.0)
    f = theta_u / MAX_HASH
    return (
        ratio_lower_bound(cu, ci, f),
        ratio_estimate(cu, ci),
        ratio_upper_bound(cu, ci, f),
    )


def theta_exactly_equal(a: ThetaSketch, b: ThetaSketch) -> bool:
    """java JaccardSimilarity.exactlyEqual: true iff the two sketches
    provably retain the SAME hash set at the same theta (both empty is
    equal; the union adding nothing to either side is equal)."""
    a._consolidate()
    b._consolidate()
    if a.is_empty and b.is_empty:
        return True
    if a.is_empty or b.is_empty:
        return False
    theta_u = min(a.theta, b.theta)
    uh = np.unique(np.concatenate([a.hashes, b.hashes]))
    cu = int(uh[uh < np.uint64(theta_u)].size)
    return (
        cu == int(a.hashes.size) == int(b.hashes.size)
        and a.theta == b.theta == theta_u
    )


def theta_similarity_test(a: ThetaSketch, b: ThetaSketch, threshold: float) -> bool:
    """java JaccardSimilarity.similarityTest: jaccard LOWER bound >=
    threshold (a pass means similarity is proven at ~2 std devs)."""
    return jaccard_bounds(a, b)[0] >= threshold


def theta_dissimilarity_test(a: ThetaSketch, b: ThetaSketch, threshold: float) -> bool:
    """java JaccardSimilarity.dissimilarityTest: jaccard UPPER bound <=
    threshold (a pass means dissimilarity is proven)."""
    return jaccard_bounds(a, b)[2] <= threshold
