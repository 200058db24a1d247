"""Frequent Distinct Tuples (FDT) sketch — "which dimension-value
groups contain the most distinct tuples", from one bounded blob.

Beyond-reference family with Apache wire (the 13th):
datasketches-java's ``FdtSketch`` (org.apache.datasketches.fdt,
bundled jar = live oracle) is a generic Tuple sketch whose theta key
is the WHOLE string tuple and whose summary is the tuple itself, so
the retained set is a uniform-ish (theta) sample of DISTINCT tuples.
Post-processing groups the sample by any dimension subset and scales
counts by 1/theta — answering "top groups by distinct count" where
the exact GROUP BY COUNT(DISTINCT ...) would shuffle the world.

Internals: a ``theta.BottomKSketch`` (the bottom-k core shared with
theta and the tuple family) whose payload is the list of retained
tuples -- the first entry of a key wins.  This module supplies the
payload hooks, the tuple hashing, ``describe``, the DSKS frame and the
Apache codec.

Semantics recovered from the 6.2.0 bytecode and differentially tested
against the live jar (tests/test_fdt_wire.py):

- key hash: the tuple joins with ',' (Util.stringConcat, bipush 44),
  pre-hashes via XXH64 over the UTF-16 code units with seed
  2050804337 (Util.stringArrHash -> XxHash.hashCharArr), and that
  long then takes the standard theta murmur3/9001 ``h1 >>> 1`` path
  (UpdatableSketch.update(long, U) wraps it in a long[1]).
- wire (generic tuple CompactSketch, serial version 3, family 9,
  SketchType ordinal 1)::

    [0] preamble longs: 1 (empty or single-item exact), 2 (exact),
        3 (estimation)
    [1] serVer 3; [2] family 9; [3] sketch type 1; [4] unused
    [5] flags: bit1 IS_READ_ONLY, bit2 IS_EMPTY, bit3 IS_COMPACT
    [6:8] seed hash (0x93CC)
    [exact/estimation, not single:] [8:12] retained i32, [12:16] pad
    [estimation only:] [16:24] thetaLong
    entries: per entry, hash u64 LE then the summary bytes —
    ArrayOfStringsSummary: i32 total bytes, u8 num nodes, then per
    node i32 UTF-8 length + bytes.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from ..hashing import MAX_HASH
from ..murmur import DEFAULT_SEED_HASH, murmur3_u64
from ..xxhash import xxh64_bytes
from .base import FAMILY_FDT, SketchDeserializeError, frame, is_framed, unframe
from .theta import DEFAULT_LG_K, BottomKSketch

_STR_ARR_HASH_SEED = 2050804337  # Util.stringArrHash's XxHash seed
_THETA_SEED = 9001

_WIRE_SERVER = 3
_WIRE_FAMILY_TUPLE = 9
_WIRE_TYPE_COMPACT = 1
_WIRE_FLAG_READ_ONLY = 1 << 1
_WIRE_FLAG_EMPTY = 1 << 2
_WIRE_FLAG_COMPACT = 1 << 3

_FLAG_EMPTY = 1


def tuple_hashes(tuples: list[tuple[str, ...]]) -> np.ndarray:
    """java-parity theta hashes of string tuples (rows align with the
    input; the caller screens zeros)."""
    if not tuples:
        return np.empty(0, dtype=np.uint64)
    # Util.stringConcat: ','.join, then XXH64 over the UTF-16 units
    bufs = [",".join(t).encode("utf-16-le") for t in tuples]
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    offs = np.cumsum([0] + [len(b) for b in bufs])
    pre = xxh64_bytes(flat, offs, _STR_ARR_HASH_SEED)
    h1, _ = murmur3_u64(pre, _THETA_SEED)
    return h1 >> np.uint64(1)


def _summary_bytes(t: tuple[str, ...]) -> bytes:
    nodes = [s.encode("utf-8") for s in t]
    total = 5 + sum(4 + len(b) for b in nodes)
    out = struct.pack("<iB", total, len(nodes))
    for b in nodes:
        out += struct.pack("<i", len(b)) + b
    return out


class FdtSketch(BottomKSketch):
    """Distinct-tuple sample with per-group post-processing."""

    __slots__ = ()
    _KIND = "fdt"

    def __init__(self, lg_k: int | None = DEFAULT_LG_K):
        # lg_k=None: a k-less merge ACCUMULATOR that adopts the first
        # merged blob's lg_k (same contract as AodSketch — k-less
        # union/rollup/store paths stay lossless)
        super().__init__(DEFAULT_LG_K if lg_k is None else lg_k)
        self._adopt_k = lg_k is None
        self.rows: list[tuple[str, ...]] = []

    @property
    def tuples(self) -> list[tuple[str, ...]]:
        """The retained tuples, aligned with ``keys``."""
        return self.rows

    @staticmethod
    def _take(rows: list, idx: np.ndarray) -> list:
        if idx.dtype == bool:
            idx = np.flatnonzero(idx)
        return [rows[i] for i in idx.tolist()]

    @staticmethod
    def _cat(parts: list) -> list:
        return [t for part in parts for t in part]

    @staticmethod
    def _dedup(keys: np.ndarray, rows: list):
        uniq, first = np.unique(keys, return_index=True)  # first entry wins
        return uniq, FdtSketch._take(rows, first)

    # ---- building ----
    def update_series(self, series: pd.Series) -> None:
        """Series of list/tuple-of-string rows; NULL rows skipped.

        NULL *elements* render as the string ``"null"`` — java parity:
        Util.stringConcat goes through StringBuilder.append, and
        java's string conversion of a null reference is ``"null"``, so
        tuples with null dimensions hash identically cross-system.
        """
        if not len(series) or self._update_arrow(series):
            return
        tups = [
            tuple("null" if x is None else str(x) for x in v)
            for v in series
            if v is not None
        ]
        self.update_tuples(tups)

    def _update_arrow(self, series) -> bool:
        """Vectorized batch path: the ','-join, UTF-16 encode and both
        hashes run columnar in Arrow/numpy, and Python tuples
        materialize ONLY for rows that survive the theta filter and the
        in-batch dedup.  Returns False for inputs the Arrow path cannot
        type (non-string elements etc.) — the caller falls back."""
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        try:
            arr = pa.array(series, from_pandas=True)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
            # mixed element types, or Python ints past int64
            return False
        t = arr.type
        if not (pa.types.is_list(t) or pa.types.is_large_list(t)):
            return False
        vt = t.value_type
        if not (pa.types.is_string(vt) or pa.types.is_large_string(vt)):
            return False
        # positional map back into the ORIGINAL rows: survivors are
        # materialized from the pandas object arrays directly (tuple()
        # over a small ndarray is ~5x cheaper than Arrow take+to_pylist
        # at typical survivor rates)
        rows_np = np.asarray(series, dtype=object)
        if arr.null_count:
            rows_np = rows_np[~pd.isna(series).to_numpy()]
            arr = arr.drop_null()
        if not len(arr):
            return True
        null_elems = bool(arr.values.null_count)
        if null_elems:  # java String.valueOf(null) == "null"
            arr = type(arr).from_arrays(
                arr.offsets, pc.fill_null(arr.values, "null")
            )
        joined = pc.binary_join(arr, ",").cast(pa.large_string())
        from ..murmur import arrow_byte_buffers  # noqa: PLC0415

        data, off = arrow_byte_buffers(joined)
        used = data[off[0] : off[-1]] if data.size else data
        if used.size == 0 or int(used.max()) < 128:
            # ASCII: UTF-16LE code units are the bytes zero-interleaved
            u16 = np.zeros(data.size * 2, dtype=np.uint8)
            u16[0::2] = data
            pre = xxh64_bytes(u16, off * 2, _STR_ARR_HASH_SEED)
        else:  # non-BMP/surrogate-correct per-row encode
            bufs = [s.encode("utf-16-le") for s in joined.to_pylist()]
            flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            pre = xxh64_bytes(
                flat, np.cumsum([0] + [len(b) for b in bufs]), _STR_ARR_HASH_SEED
            )
        h1, _ = murmur3_u64(pre, _THETA_SEED)
        mk = (
            (lambda v: tuple("null" if x is None else x for x in v))
            if null_elems
            else tuple
        )
        self._add_hashed(h1 >> np.uint64(1), rows_np, mk)
        return True

    def update_tuples(self, tups: list[tuple[str, ...]]) -> None:
        if tups:
            self._add_hashed(tuple_hashes(tups), tups, tuple)

    def _add_hashed(self, hs: np.ndarray, rows, mk) -> None:
        """Buffer ``mk(rows[i])`` under ``hs[i]``, 2^16 rows at a time:
        a consolidation between chunks drops theta early, so later
        chunks theta-filter (and dedup) BEFORE paying the per-row
        tuple cost -- Python work only for retained rows."""
        for pos in range(0, hs.size, 1 << 16):
            hc = hs[pos : pos + (1 << 16)]
            keep = np.flatnonzero((hc != 0) & (hc < np.uint64(self.theta)))
            if keep.size:
                keep += pos
                uniq, first = np.unique(hs[keep], return_index=True)
                self._add(uniq, [mk(rows[i]) for i in keep[first].tolist()])

    # ---- queries ----
    def get_result(
        self,
        dims: list[int],
        limit: int = 0,
        num_std_dev: int = 2,
        sep: str = ",",
    ) -> list[dict]:
        """Top groups over the chosen dimension positions, by
        estimated distinct-tuple count (java FdtSketch.getResult /
        PostProcessor.populateList semantics: group the retained
        sample, scale by 1/theta; per-group bounds are
        tuple.Sketch.getLower/UpperBound(numStdDev, count) — the real
        BinomialBoundsN, exact-double-parity port in
        sketches/binomial_bounds.py)."""
        self._consolidate()
        dims = [int(d) for d in dims]
        if any(d < 0 for d in dims):
            raise ValueError(f"dimension indices must be >= 0, got {dims}")
        groups: dict[str, int] = {}
        for t in self.tuples:
            if any(d >= len(t) for d in dims):
                raise ValueError(
                    f"dimension index out of range: dims {dims} vs a "
                    f"retained tuple of arity {len(t)}"
                )
            g = sep.join(t[d] for d in dims)
            groups[g] = groups.get(g, 0) + 1
        from .binomial_bounds import lower_bound, upper_bound  # noqa: PLC0415

        th = self.theta / MAX_HASH
        out = []
        for g, cnt in groups.items():
            est = cnt / th
            if self.is_estimation_mode:
                lb = lower_bound(cnt, th, num_std_dev)
                ub = upper_bound(cnt, th, num_std_dev)
            else:
                lb = ub = est
            out.append(
                {
                    "group": g,
                    "count": cnt,
                    "estimate": float(est),
                    "lower_bound": float(lb),
                    "upper_bound": float(ub),
                }
            )
        out.sort(key=lambda r: (-r["count"], r["group"]))
        return out[:limit] if limit else out

    def describe(self) -> str:
        return (
            "### FDT sketch summary:\n"
            f"   lg nominal size      : {self.lg_k}\n"
            f"   num retained tuples  : {self.num_retained}\n"
            f"   empty?               : {self.is_empty}\n"
            f"   estimation mode?     : {self.is_estimation_mode}\n"
            f"   theta (fraction)     : {self.get_theta():.6f}\n"
            f"   estimate             : {self.get_estimate():.3f}\n"
        )

    # ---- engine-local DSKS frame (payload == the Apache wire, which
    # is self-describing; only lg_k rides in the frame header) ----
    def serialize(self) -> bytes:
        self._consolidate()
        flags = _FLAG_EMPTY if self.is_empty else 0
        return frame(
            FAMILY_FDT, struct.pack("<BB", self.lg_k, flags) + self.to_wire()
        )

    @classmethod
    def deserialize(cls, blob: bytes) -> "FdtSketch":
        if not is_framed(blob):
            return cls.from_wire(blob)
        payload = unframe(blob, FAMILY_FDT)
        err = SketchDeserializeError("Failed to deserialize FDT sketch")
        try:
            lg_k, _flags = struct.unpack_from("<BB", payload, 0)
            return cls.from_wire(bytes(payload[2:]), lg_k=lg_k)
        except (struct.error, ValueError) as exc:
            raise err from exc

    # ---- Apache wire ----
    @staticmethod
    def sniff_wire(blob: bytes) -> bool:
        return (
            len(blob) >= 8
            and blob[1] == _WIRE_SERVER
            and blob[2] == _WIRE_FAMILY_TUPLE
            and blob[3] == _WIRE_TYPE_COMPACT
        )

    def to_wire(self) -> bytes:
        """Apache generic-tuple CompactSketch bytes (serVer 3, strings
        summary) — heapify-able by datasketches-java's
        ArrayOfStringsSummaryDeserializer and FDT post-processors."""
        self._consolidate()
        n = int(self.keys.size)
        single = n == 1 and not self.is_estimation_mode
        flags = _WIRE_FLAG_COMPACT | _WIRE_FLAG_READ_ONLY
        if self.is_empty:
            flags |= _WIRE_FLAG_EMPTY
        pre = 1 if (self.is_empty or single) else (3 if self.is_estimation_mode else 2)
        head = struct.pack(
            "<BBBBBBH",
            pre,
            _WIRE_SERVER,
            _WIRE_FAMILY_TUPLE,
            _WIRE_TYPE_COMPACT,
            0,
            flags,
            DEFAULT_SEED_HASH,
        )
        parts = [head]
        if not self.is_empty and not single:
            parts.append(struct.pack("<i4x", n))
            if self.is_estimation_mode:
                parts.append(struct.pack("<q", min(self.theta, MAX_HASH - 1)))
        for h, t in zip(self.keys.tolist(), self.tuples):
            parts.append(struct.pack("<Q", h))
            parts.append(_summary_bytes(t))
        return b"".join(parts)

    @classmethod
    def from_wire(cls, blob: bytes, lg_k: int = DEFAULT_LG_K) -> "FdtSketch":
        err = SketchDeserializeError("Failed to deserialize FDT sketch")
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 8:
            raise err
        blob = bytes(blob)
        pre, ser_ver, family, stype, flags = (
            blob[0], blob[1], blob[2], blob[3], blob[5],
        )
        (seed_hash,) = struct.unpack_from("<H", blob, 6)
        if (
            ser_ver != _WIRE_SERVER
            or family != _WIRE_FAMILY_TUPLE
            or stype != _WIRE_TYPE_COMPACT
            or pre not in (1, 2, 3)
        ):
            raise err
        empty = bool(flags & _WIRE_FLAG_EMPTY)
        sk = cls(lg_k)
        if empty:
            return sk
        if seed_hash != DEFAULT_SEED_HASH:
            raise SketchDeserializeError(
                "Failed to deserialize FDT sketch: seed hash mismatch"
            )
        theta = MAX_HASH
        if pre == 1:  # single-item exact
            n, off = 1, 8
        else:
            if len(blob) < 16:
                raise err
            (n,) = struct.unpack_from("<i", blob, 8)
            off = 16
            if pre == 3:
                if len(blob) < 24:
                    raise err
                (tl,) = struct.unpack_from("<q", blob, 16)
                theta = MAX_HASH if tl >= MAX_HASH - 1 else tl
                if theta <= 0:
                    raise err
                off = 24
        # every entry needs >= 13 bytes (hash + summary header): a
        # corrupt count cannot force a giant allocation
        if n < 0 or off + 13 * n > len(blob):
            raise err
        try:
            keys = np.empty(n, dtype=np.uint64)
            tuples: list[tuple[str, ...]] = []
            for i in range(n):
                (keys[i],) = struct.unpack_from("<Q", blob, off)
                off += 8
                total, nn = struct.unpack_from("<iB", blob, off)
                if total < 5 or off + total > len(blob):
                    raise err
                p = off + 5
                node = []
                for _ in range(nn):
                    (ln,) = struct.unpack_from("<i", blob, p)
                    if ln < 0 or p + 4 + ln > off + total:
                        raise err
                    node.append(blob[p + 4 : p + 4 + ln].decode("utf-8"))
                    p += 4 + ln
                tuples.append(tuple(node))
                off += total
        except (struct.error, IndexError, UnicodeDecodeError) as exc:
            raise err from exc
        sk._load(theta, keys, err, tuples, grow=True)
        return sk


def fdt_union(a: FdtSketch, b: FdtSketch, lg_k: int | None = None) -> FdtSketch:
    return a._union(b, lg_k)
