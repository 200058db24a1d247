"""ArrayOfDoubles tuple sketch: distinct keys + per-key double summaries.

Beyond-reference family (the reference registers no tuple functions),
but the same cross-system pitch as the other wire families
(/root/reference/docs/README.md:9): the serialized form is Apache
DataSketches' ``ArrayOfDoublesSketch`` — the tuple family that rides a
theta sketch and attaches a fixed-width ``double[num_values]`` summary
to every retained key.  Repeated updates of the same key SUM the
summary element-wise (datasketches-java
``ArrayOfDoublesUpdatableSketch`` semantics), so over a sampled set of
distinct keys the sketch answers, in one bounded blob:

- ``estimate()``            — distinct keys (theta estimator);
- ``column_sums()``         — estimated SUM(v_j) over *distinct* keys
                              (retained sums / theta, the standard
                              tuple-sketch summary estimator);
- union / intersect / a-not-b with summaries carried through.

Exact mode (retained <= nominal k, theta == 1) makes every one of
those answers exact, which is the oracle surface.

Internals: a ``theta.BottomKSketch`` -- the bottom-k ("KMV with
theta") core shared with theta and fdt -- whose payload is a
``(n, num_values)`` float64 matrix: retained keys are the k smallest
Apache-compatible murmur hashes, theta is the (k+1)-th smallest.  This
module supplies only the payload hook (duplicate keys sum their rows),
``describe``, the DSKS frame and the Apache codec.

Wire format (Apache tuple serial version 1, Family.TUPLE = 9,
recovered from the bundled datasketches-java 6.2.0 bytecode —
``HeapArrayOfDoublesCompactSketch.toByteArray`` /
``HeapArrayOfDoublesQuickSelectSketch(Memory,long)``; differential
tests drive the live jar in tests/test_tuple_aod_wire.py):

  compact (SketchType ordinal 3)::

    byte 0   preamble longs (1)
    byte 1   serial version (1)
    byte 2   family id (9, TUPLE)
    byte 3   sketch type ordinal (3 = ArrayOfDoublesCompactSketch)
    byte 4   flags: bit0 big-endian, bit1 sampling-mode,
             bit2 EMPTY, bit3 HAS_ENTRIES
    byte 5   num_values
    bytes 6-7   seed hash (LE u16)
    bytes 8-15  theta (LE i64)
    [retained > 0:]
    bytes 16-19 retained count (LE i32), 4 pad bytes
    @24         keys   i64[retained]
    @24+8r      values f64[retained * num_values]

  updatable / QuickSelect (SketchType ordinal 2), read-only here::

    bytes 0-15 as above (type 2); byte 16 lgNomEntries,
    byte 17 lgCurrentCapacity, byte 18 lgResizeFactor,
    bytes 20-23 sampling probability (f32),
    bytes 24-27 count (when HAS_ENTRIES); @32 the FULL hash table
    keys i64[2^lgCurCap] (zeros = empty slots) then the full
    values f64[2^lgCurCap * num_values].
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from ..hashing import MAX_HASH
from ..murmur import DEFAULT_SEED_HASH, theta_hash_rows
from .base import FAMILY_AOD, SketchDeserializeError, frame, is_framed, unframe
from .theta import DEFAULT_LG_K, BottomKSketch, ThetaSketch

MAX_NUM_VALUES = 127

_FLAG_EMPTY = 1

_WIRE_SERVER = 1
_WIRE_FAMILY_TUPLE = 9
_WIRE_TYPE_QS = 2
_WIRE_TYPE_COMPACT = 3
_WIRE_FLAG_BIG_ENDIAN = 1 << 0
_WIRE_FLAG_EMPTY = 1 << 2
_WIRE_FLAG_HAS_ENTRIES = 1 << 3


def _copy_widened(sk: "AodSketch", m: int) -> "AodSketch":
    out = sk._copy_keys(AodSketch(sk.lg_k, sk.num_values))
    out.rows = sk.rows
    out._widen_to(m)
    return out


class AodSketch(BottomKSketch):
    """ArrayOfDoubles tuple sketch (Apache-wire-compatible)."""

    __slots__ = ("num_values",)
    _KIND = "tuple"

    def __init__(self, lg_k: int | None = DEFAULT_LG_K, num_values: int = 1):
        # lg_k=None: a generic merge ACCUMULATOR with no declared K —
        # it adopts the first merged blob's lg_k, so same-k blob
        # tables merge losslessly through k-less entry points
        # (datasketch_aod_union_agg, io.rollup_sketch_table) instead
        # of silently purging to the 4096 default.  An EXPLICIT lg_k
        # is respected (Apache mixed-K degradation).
        super().__init__(DEFAULT_LG_K if lg_k is None else lg_k)
        self._adopt_k = lg_k is None
        if not (1 <= num_values <= MAX_NUM_VALUES):
            raise ValueError(f"Invalid num_values for tuple sketch: {num_values}")
        self.num_values = num_values
        self.rows = np.empty((0, num_values), dtype=np.float64)

    @property
    def values(self) -> np.ndarray:
        """The ``(retained, num_values)`` summary matrix, row-aligned
        with ``keys``."""
        return self.rows

    def _blank(self, lg_k: int) -> "AodSketch":
        return AodSketch(lg_k, self.num_values)

    @staticmethod
    def _dedup(keys: np.ndarray, values: np.ndarray):
        """Sorted unique keys, summing the summary rows of duplicates."""
        uniq, inv = np.unique(keys, return_inverse=True)
        if uniq.size == keys.size:
            order = np.argsort(keys)
            return keys[order], values[order]
        acc = np.zeros((uniq.size, values.shape[1]), dtype=np.float64)
        np.add.at(acc, inv, values)
        return uniq, acc

    # ---- building ----
    def update_hashes(self, h: np.ndarray, vals: np.ndarray) -> None:
        if h.size:
            self._add(h, np.ascontiguousarray(vals, dtype=np.float64).reshape(
                h.size, self.num_values
            ))

    def update_batch(self, keys, vals) -> None:
        """Feed aligned (key, summary-row) batches.

        ``vals`` is ``(n, num_values)`` (or ``(n,)`` when
        num_values == 1); rows whose key is NULL/empty are skipped.
        NaNs in ``vals`` propagate like java doubles at THIS layer;
        note the Spark entry points normalize NULL summary values to
        0.0 (SQL SUM semantics) before reaching here, and the Arrow
        float transfer conflates NULL with NaN — avoid NaN summaries
        in DataFrame inputs."""
        ser = keys if isinstance(keys, pd.Series) else pd.Series(keys)
        keep = ser.notna().to_numpy(copy=True)
        # theta_hash_rows also skips empty strings/bytes (Apache update()
        # no-ops) and the measure-zero ``h >> 1 == 0`` case
        h, sub = theta_hash_rows(ser if keep.all() else ser[keep])
        if h.size == 0:
            return
        if sub is not None:
            keep[keep] = sub
        v = np.asarray(vals, dtype=np.float64)
        if v.ndim == 1:
            v = v.reshape(-1, 1)
        self.update_hashes(h, v[keep])

    def _widen_to(self, m: int) -> None:
        """Grow the summary width — legal only while every retained
        summary is zero (an all-NULL-summaries group: its keys carried
        no column mass, so zero-padding is exact)."""
        self._consolidate()
        if self.rows.size and self.rows.any():
            raise ValueError(
                "Cannot merge tuple sketches with different num_values: "
                f"{self.num_values} vs {m}"
            )
        self.num_values = m
        self.rows = np.zeros((self.keys.size, m), dtype=np.float64)

    def merge(self, other: "AodSketch") -> None:
        if other.num_values != self.num_values:
            if self.is_empty:
                # a fresh accumulator adopts the first input's width
                # (the generic merge path can't know num_values before
                # it sees a blob)
                self.num_values = other.num_values
                self.rows = np.empty((0, other.num_values), dtype=np.float64)
            elif other.num_values > self.num_values:
                self._widen_to(other.num_values)
            else:
                other = _copy_widened(other, self.num_values)
        super().merge(other)

    # ---- queries ----
    def column_sums_retained(self) -> list[float]:
        """Raw per-column sums over the retained entries."""
        self._consolidate()
        return [float(x) for x in self.values.sum(axis=0)]

    def column_sums(self) -> list[float]:
        """Estimated per-column SUM over all distinct keys: retained
        sums / theta (the standard tuple-summary estimator; exact when
        theta == 1)."""
        self._consolidate()
        t = self.theta / MAX_HASH
        return [float(x / t) for x in self.values.sum(axis=0)]

    def column_means(self) -> list[float]:
        """Per-distinct-key mean of each summary column (retained sums
        / retained count — the theta factors cancel)."""
        self._consolidate()
        if self.keys.size == 0:
            return [float("nan")] * self.num_values
        return [float(x / self.keys.size) for x in self.values.sum(axis=0)]

    def describe(self) -> str:
        return (
            "### ArrayOfDoubles tuple sketch summary:\n"
            f"   lg nominal size      : {self.lg_k}\n"
            f"   num values           : {self.num_values}\n"
            f"   num retained entries : {self.num_retained}\n"
            f"   seed hash            : {DEFAULT_SEED_HASH}\n"
            f"   empty?               : {self.is_empty}\n"
            f"   estimation mode?     : {self.is_estimation_mode}\n"
            f"   theta (fraction)     : {self.get_theta():.6f}\n"
            f"   estimate             : {self.get_estimate():.3f}\n"
        )

    # ---- engine-local DSKS frame ----
    def serialize(self) -> bytes:
        self._consolidate()
        flags = _FLAG_EMPTY if self.is_empty else 0
        payload = struct.pack(
            "<BBBQI", self.lg_k, flags, self.num_values, self.theta, self.keys.size
        )
        payload += np.ascontiguousarray(self.keys).tobytes()
        payload += np.ascontiguousarray(self.values).tobytes()
        return frame(FAMILY_AOD, payload)

    @classmethod
    def deserialize(cls, blob: bytes) -> "AodSketch":
        """DSKS frame OR an Apache ArrayOfDoubles blob (sniffed)."""
        if not is_framed(blob):
            return cls.from_wire(blob)
        payload = unframe(blob, FAMILY_AOD)
        err = SketchDeserializeError("Failed to deserialize Tuple sketch")
        try:
            lg_k, _flags, num_values, theta, count = struct.unpack_from(
                "<BBBQI", payload, 0
            )
            sk = cls(lg_k, num_values)
            off = 15
            keys = np.frombuffer(payload, dtype=np.uint64, count=count, offset=off)
            vals = np.frombuffer(
                payload,
                dtype=np.float64,
                count=count * num_values,
                offset=off + 8 * count,
            )
        except (struct.error, ValueError) as exc:
            raise err from exc
        if not (theta == MAX_HASH or 0 < theta < MAX_HASH):
            raise err
        sk._load(theta, keys, err, vals.reshape(count, num_values))
        return sk

    # ---- Apache wire ----
    @staticmethod
    def sniff_wire(blob: bytes) -> bool:
        return (
            len(blob) >= 16
            and blob[1] == _WIRE_SERVER
            and blob[2] == _WIRE_FAMILY_TUPLE
            and blob[3] in (_WIRE_TYPE_QS, _WIRE_TYPE_COMPACT)
        )

    def to_wire(self) -> bytes:
        """Apache ArrayOfDoublesCompactSketch bytes (serVer 1) —
        heapify-able and union-able by datasketches-java and every
        other Apache tuple reader.  Keys are emitted sorted (the
        format carries no order flag; java reads any order)."""
        self._consolidate()
        n = int(self.keys.size)
        flags = (_WIRE_FLAG_EMPTY if self.is_empty else 0) | (
            _WIRE_FLAG_HAS_ENTRIES if n > 0 else 0
        )
        # thetaLong is a SIGNED java long; theta == 1.0 is stored as
        # Long.MAX_VALUE (2^63 - 1; our exclusive MAX_HASH is 2^63 and
        # screened hashes never reach 2^63 - 1, so the clamp is lossless)
        head = struct.pack(
            "<BBBBBBHq",
            1,
            _WIRE_SERVER,
            _WIRE_FAMILY_TUPLE,
            _WIRE_TYPE_COMPACT,
            flags,
            self.num_values,
            DEFAULT_SEED_HASH,
            min(self.theta, MAX_HASH - 1),
        )
        if n == 0:
            return head
        return (
            head
            + struct.pack("<i4x", n)
            + np.ascontiguousarray(self.keys.view(np.int64)).tobytes()
            + np.ascontiguousarray(self.values).tobytes()
        )

    @classmethod
    def from_wire(cls, blob: bytes, lg_k: int = DEFAULT_LG_K) -> "AodSketch":
        """Parse Apache ArrayOfDoubles bytes — compact (type 3) or the
        updatable QuickSelect image (type 2, full hash table).

        Nominal size of the result: the QS image CARRIES lgNomEntries
        (byte 16) and the import adopts it; the compact format carries
        no K, so ``lg_k`` applies but is raised to hold the retained
        set — an exact 50k-key compact blob must not silently purge to
        the default 4096 on the next merge."""
        err = SketchDeserializeError("Failed to deserialize Tuple sketch")
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 16:
            raise err
        blob = bytes(blob)
        ser_ver, family, stype, flags, num_values = (
            blob[1],
            blob[2],
            blob[3],
            blob[4],
            blob[5],
        )
        if (
            ser_ver != _WIRE_SERVER
            or family != _WIRE_FAMILY_TUPLE
            or stype not in (_WIRE_TYPE_QS, _WIRE_TYPE_COMPACT)
            or flags & _WIRE_FLAG_BIG_ENDIAN
            or num_values < 1
        ):
            raise err
        (seed_hash,) = struct.unpack_from("<H", blob, 6)
        (theta_long,) = struct.unpack_from("<q", blob, 8)
        empty = bool(flags & _WIRE_FLAG_EMPTY)
        has_entries = bool(flags & _WIRE_FLAG_HAS_ENTRIES)
        if not empty and seed_hash != DEFAULT_SEED_HASH:
            raise SketchDeserializeError(
                "Failed to deserialize Tuple sketch: seed hash mismatch"
            )
        try:
            sk = cls(lg_k, num_values)
        except ValueError as exc:
            raise err from exc
        theta = MAX_HASH if theta_long >= MAX_HASH - 1 else theta_long
        if theta <= 0:
            raise err
        if empty or not has_entries:
            sk.theta = int(theta)
            return sk
        if stype == _WIRE_TYPE_COMPACT:
            if len(blob) < 24:
                raise err
            (count,) = struct.unpack_from("<i", blob, 16)
            need = 24 + 8 * count * (1 + num_values)
            if count < 0 or len(blob) < need:
                raise err
            keys = np.frombuffer(blob, dtype=np.int64, count=count, offset=24)
            vals = np.frombuffer(
                blob, dtype=np.float64, count=count * num_values, offset=24 + 8 * count
            ).reshape(count, num_values)
        else:  # QuickSelect image: full table, zero keys = empty slots
            if len(blob) < 32:
                raise err
            if 4 <= blob[16] <= 26:  # adopt the carried lgNomEntries
                sk.lg_k = blob[16]
            cap = 1 << blob[17]
            need = 32 + 8 * cap * (1 + num_values)
            if len(blob) < need:
                raise err
            tk = np.frombuffer(blob, dtype=np.int64, count=cap, offset=32)
            tv = np.frombuffer(
                blob, dtype=np.float64, count=cap * num_values, offset=32 + 8 * cap
            ).reshape(cap, num_values)
            (count,) = struct.unpack_from("<i", blob, 24)
            live = tk != 0
            keys, vals = tk[live], tv[live]
            if keys.size != count:
                raise err
        sk._load(
            theta, keys.view(np.uint64), err, vals, grow=stype == _WIRE_TYPE_COMPACT
        )
        return sk


def aod_to_theta(sk: AodSketch) -> ThetaSketch:
    """Project the key set to a plain theta sketch — the tuple
    family's hash space IS theta's, so the projection is lossless
    (same theta, same retained hashes) and composes with every theta
    scalar/set-op/wire path (mirrors java's
    ArrayOfDoublesSketch.compact() ancestry in the tuple hierarchy)."""
    return sk._copy_keys(ThetaSketch(sk.lg_k))


# ---- scalar set algebra (summaries carried through) ----

def aod_union(a: AodSketch, b: AodSketch, lg_k: int | None = None) -> AodSketch:
    return a._union(b, lg_k)


def aod_intersect(a: AodSketch, b: AodSketch) -> AodSketch:
    """Keys present in both; summaries combined by element-wise SUM
    (the canonical ArrayOfDoublesCombiner)."""
    if a.num_values != b.num_values:
        raise ValueError(
            "Cannot intersect tuple sketches with different num_values: "
            f"{a.num_values} vs {b.num_values}"
        )
    return a._intersect(b, np.add)


def aod_a_not_b(a: AodSketch, b: AodSketch) -> AodSketch:
    """Keys in A and not in B; A's summaries survive unchanged."""
    return a._a_not_b(b)
