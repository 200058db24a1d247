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


class BottomKSketch:
    """The bottom-k core of the theta-like families (theta, tuple/aod,
    fdt): the ``k = 2^lg_k`` smallest distinct 63-bit hashes below the
    exclusive threshold ``theta``, each with an optional payload row.

    ``keys`` is sorted and unique.  ``rows`` -- ``None`` when there is
    no payload -- stays aligned with it through every consolidate,
    merge, purge and set operation.  A family with a payload supplies
    the hooks: ``_dedup`` (sort the keys unique and say how the rows of
    equal keys combine), ``_take`` (rows at a mask or an index array)
    and, for rows other than numpy arrays, ``_cat``.  Which keys are
    retained does not depend on when pending batches are consolidated.
    """

    __slots__ = ("lg_k", "theta", "keys", "rows", "_pk", "_pr", "_pn", "_adopt_k")
    _KIND = "theta"  # names the family in the lg_k error

    def __init__(self, lg_k: int = DEFAULT_LG_K):
        if not (4 <= lg_k <= MAX_LG_K):
            raise ValueError(f"Invalid lg_k for {self._KIND} sketch: {lg_k}")
        self.lg_k = lg_k
        self.theta = MAX_HASH  # exclusive threshold; MAX_HASH == "theta = 1.0"
        self.keys = np.empty(0, dtype=np.uint64)
        self.rows = None
        # update buffer: incoming batches accumulate un-deduplicated and are
        # consolidated lazily, so building over many Arrow batches is
        # amortized O(n log n) instead of a sort per batch
        self._pk: list[np.ndarray] = []
        self._pr: list = []
        self._pn = 0
        # a k-less merge accumulator adopts the first merged lg_k
        # (set by the families that offer one)
        self._adopt_k = False

    # ---- payload hooks (defaults: no payload, or numpy rows) ----
    def _blank(self, lg_k: int) -> "BottomKSketch":
        return type(self)(lg_k)

    @staticmethod
    def _dedup(keys: np.ndarray, rows):
        return np.unique(keys), None

    @staticmethod
    def _take(rows, idx):
        return rows[idx]

    @staticmethod
    def _cat(parts: list):
        return np.concatenate(parts)

    # ---- building ----
    def _below_theta(self, keys: np.ndarray, rows):
        live = keys < np.uint64(self.theta)
        if rows is None:
            return keys[live], None
        if live.all():
            return keys, rows
        return keys[live], self._take(rows, live)

    def _add(self, keys: np.ndarray, rows=None) -> None:
        """Buffer a batch of keys (and their payload rows)."""
        if self.theta < MAX_HASH:
            keys, rows = self._below_theta(keys, rows)
        self._pk.append(keys)
        if rows is not None:
            self._pr.append(rows)
        self._pn += keys.size
        if self._pn > max(4 << self.lg_k, 1 << 17):
            self._consolidate()

    def _consolidate(self) -> None:
        if self._pk:
            keys = np.concatenate([self.keys, *self._pk])
            rows = None if self.rows is None else self._cat([self.rows, *self._pr])
            self._pk, self._pr, self._pn = [], [], 0
            self.keys, self.rows = self._dedup(keys, rows)
            self._purge()

    def _purge(self) -> None:
        k = 1 << self.lg_k
        if self.keys.size > k:
            # keys are sorted unique; keep the k smallest, theta = (k+1)-th
            self.theta = int(self.keys[k])
            self.keys = self.keys[:k]
            if self.rows is not None:
                self.rows = self.rows[:k]

    def merge(self, other: "BottomKSketch") -> None:
        self._consolidate()
        if self._adopt_k and self.is_empty:
            self.lg_k = other.lg_k
            self._adopt_k = False
        other._consolidate()
        self.theta = min(self.theta, other.theta)
        keys = np.concatenate([self.keys, other.keys])
        rows = None if self.rows is None else self._cat([self.rows, other.rows])
        self.keys, self.rows = self._dedup(*self._below_theta(keys, rows))
        self._purge()

    def _load(self, theta: int, keys: np.ndarray, err: Exception, rows=None, grow=False) -> None:
        """Install entries decoded from a blob.

        They must be distinct hashes in (0, theta): np.unique sorts
        (covering unordered input) and collapses duplicates, and if
        anything was dropped -- zeros, duplicates, entries >= theta --
        the blob is corrupt; every family's contract is to fail loud
        rather than return a quietly skewed estimate.  With ``grow``,
        lg_k is raised to hold them: a format that carries no K must
        not purge an exact blob to the default on the next merge."""
        live = keys[(keys > 0) & (keys < np.uint64(theta))]
        if rows is None:
            uniq = np.unique(live)
        else:
            uniq, first = np.unique(live, return_index=True)
        if uniq.size != keys.size:
            raise err
        if grow and uniq.size > (1 << self.lg_k):
            self.lg_k = min(MAX_LG_K, max(4, int(uniq.size - 1).bit_length()))
        self.theta = int(theta)
        self.keys = uniq
        if rows is not None:
            self.rows = self._take(rows, first)

    def _copy_keys(self, out: "BottomKSketch") -> "BottomKSketch":
        """``out`` given this sketch's theta and a copy of its keys."""
        self._consolidate()
        out.theta = self.theta
        out.keys = self.keys.copy()
        return out

    # ---- set algebra (reference src/theta_sketch.cpp:221-270) ----
    def _union(self, other: "BottomKSketch", lg_k: int | None) -> "BottomKSketch":
        out = self._blank(max(self.lg_k, other.lg_k) if lg_k is None else lg_k)
        out.merge(self)
        out.merge(other)
        return out

    def _aligned(self, other: "BottomKSketch"):
        """A blank result at the common theta, and each side's mask of
        the keys below it."""
        self._consolidate()
        other._consolidate()
        out = self._blank(max(self.lg_k, other.lg_k))
        out.theta = min(self.theta, other.theta)
        th = np.uint64(out.theta)
        return out, self.keys < th, other.keys < th

    def _intersect(self, other: "BottomKSketch", combine=None) -> "BottomKSketch":
        """Keys retained by both; with ``combine``, a common key's row
        is ``combine(this side's row, the other's)``."""
        out, am, bm = self._aligned(other)
        if combine is None:
            out.keys = np.intersect1d(self.keys[am], other.keys[bm])
            return out
        out.keys, ia, ib = np.intersect1d(
            self.keys[am], other.keys[bm], return_indices=True
        )
        out.rows = combine(
            self._take(self._take(self.rows, am), ia),
            other._take(other._take(other.rows, bm), ib),
        )
        return out

    def _a_not_b(self, other: "BottomKSketch") -> "BottomKSketch":
        """This side's keys not retained by the other; rows unchanged."""
        out, am, bm = self._aligned(other)
        keys = self.keys[am]
        if self.rows is None:
            out.keys = np.setdiff1d(keys, other.keys[bm])
            return out
        keep = ~np.isin(keys, other.keys[bm])
        out.keys, out.rows = keys[keep], self._take(self._take(self.rows, am), keep)
        return out

    # ---- queries ----
    @property
    def is_empty(self) -> bool:
        self._consolidate()
        return self.keys.size == 0 and self.theta == MAX_HASH

    @property
    def is_estimation_mode(self) -> bool:
        self._consolidate()
        return self.theta < MAX_HASH

    @property
    def num_retained(self) -> int:
        self._consolidate()
        return int(self.keys.size)

    def get_theta(self) -> float:
        self._consolidate()
        return self.theta / MAX_HASH

    def get_estimate(self) -> float:
        self._consolidate()
        if self.theta == MAX_HASH:
            return float(self.keys.size)
        return self.keys.size / (self.theta / MAX_HASH)

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
        return f(int(self.keys.size), self.theta / MAX_HASH, num_std_devs)


class ThetaSketch(BottomKSketch):
    __slots__ = ()

    @property
    def hashes(self) -> np.ndarray:
        """The retained hashes, sorted (the core's ``keys``)."""
        return self.keys

    # ---- building ----
    def update_hashes(self, h: np.ndarray) -> None:
        if h.size:
            self._add(h)

    def update_values(self, values) -> None:
        # Apache-compatible hashing (murmur3 x64-128, seed 9001,
        # h1 >> 1): the same input values retain the same hashes as
        # DuckDB/Druid/Hive theta sketches, so wire blobs genuinely
        # merge across systems rather than merely parsing.
        self.update_hashes(theta_hash_values(values))

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
        payload = struct.pack("<BBQI", self.lg_k, flags, self.theta, self.keys.size)
        payload += np.ascontiguousarray(self.keys).tobytes()
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
        sk.keys = hashes.copy()
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
        n = int(self.keys.size)
        if self.is_empty:
            # datasketches-java writes seed hash 0 for the empty sketch
            head[0] = 1
            head[5] = _WIRE_FLAGS | _WIRE_FLAG_EMPTY
            return bytes(head)
        head[6:8] = struct.pack("<H", DEFAULT_SEED_HASH)
        head[5] = _WIRE_FLAGS
        body = np.ascontiguousarray(self.keys).tobytes()
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
        sk._load(theta, raw, err)
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


# ---- scalar set algebra ----

def theta_union(a: ThetaSketch, b: ThetaSketch, lg_k: int = DEFAULT_LG_K) -> ThetaSketch:
    return a._union(b, lg_k)


def theta_intersect(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    return a._intersect(b)


def theta_a_not_b(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    return a._a_not_b(b)


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
    uh = np.unique(np.concatenate([a.keys, b.keys]))
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
        cu == int(a.keys.size) == int(b.keys.size)
        and a.theta == b.theta == theta_u
    ):
        return (1.0, 1.0, 1.0)
    ih = np.intersect1d(a.keys, b.keys)
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
    uh = np.unique(np.concatenate([a.keys, b.keys]))
    cu = int(uh[uh < np.uint64(theta_u)].size)
    return (
        cu == int(a.keys.size) == int(b.keys.size)
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
