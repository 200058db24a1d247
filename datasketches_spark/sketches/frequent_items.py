"""Frequent Items (heavy hitters) sketch.

Reference: hand-written /root/reference/src/frequent_items_sketch.cpp
(564 LoC) wrapping ``frequent_items_sketch<std::string>`` -- all
numeric inputs are canonicalized to strings via ``std::to_string``
(:88-100).  Re-implemented here as the standard Misra-Gries /
space-saving map with a global error offset (the same algorithm family
Apache DataSketches uses):

- counts map holds at most ``0.75 * 2^lg_max_k`` active items;
- on overflow, the median of the active counts is subtracted from every
  item, items falling to <= 0 are evicted, and the subtracted amount
  accumulates in ``offset`` (the max over-estimation error);
- estimate(item) = stored + offset (upper bound), lower bound = stored;
- epsilon = 3.5 / 2^lg_max_k, matching the published
  0.00341796875 @ lg_max_k=10 (docs/README.md:1408-1410);
- merge adds counts and offsets, then re-purges -- mergeable in any
  order;
- exact mode (offset == 0) returns exact counts, the surface the
  oracle corpus uses (reference test/sql/datasketch_frequent.test:26-45).

Numeric canonicalization mirrors std::to_string: integers -> str(int),
floats -> 6-decimal fixed notation.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from .base import FAMILY_FREQUENT_ITEMS, SketchDeserializeError, frame, has_nulls, unframe

DEFAULT_LG_MAX_K = 10  # src/frequent_items_sketch.cpp:25,38
_LOAD_FACTOR = 0.75

# Apache DataSketches frequent-items wire format (family 10, serVer 1)
# with ArrayOfStringsSerDe items — the reference's FI blobs ARE this
# format (its Finalize serializes frequent_items_sketch<std::string>,
# src/frequent_items_sketch.cpp:193-348).  Layout verified against
# datasketches-java 6.2 dumps; cross-validated live in
# tests/test_fi_wire.py.
_FI_WIRE_FAMILY = 10
_FI_WIRE_SERVER = 1
_FI_FLAG_EMPTY = 4
_FI_LG_MIN_MAP = 3

ERROR_TYPE_NO_FALSE_POSITIVES = "NO_FALSE_POSITIVES"
ERROR_TYPE_NO_FALSE_NEGATIVES = "NO_FALSE_NEGATIVES"


def canonicalize_item(value) -> str:
    """std::to_string-compatible canonicalization (reference :88-100)."""
    if isinstance(value, str):
        return value
    if isinstance(value, (bool, np.bool_)):
        return str(int(value))
    if isinstance(value, (int, np.integer)):
        return str(int(value))
    if isinstance(value, (float, np.floating)):
        return f"{float(value):.6f}"
    return str(value)


def canonicalize_series(s: pd.Series) -> pd.Series:
    if s.dtype.kind in "iu":
        return s.astype(np.int64).astype(str)
    if s.dtype.kind == "f":
        return s.map(lambda v: f"{v:.6f}")
    if s.dtype.kind == "b":
        return s.astype(np.int64).astype(str)
    return s.astype(str)


class FrequentItemsSketch:
    __slots__ = ("lg_max_k", "counts", "offset", "stream_weight")

    def __init__(self, lg_max_k: int = DEFAULT_LG_MAX_K):
        if not (3 <= lg_max_k <= 21):
            raise ValueError(f"Invalid lg_max_k for frequent items sketch: {lg_max_k}")
        self.lg_max_k = int(lg_max_k)
        self.counts: dict[str, int] = {}
        self.offset = 0
        self.stream_weight = 0

    @property
    def max_map_size(self) -> int:
        return 1 << self.lg_max_k

    @property
    def _capacity(self) -> int:
        return max(1, int(self.max_map_size * _LOAD_FACTOR))

    # -- building -------------------------------------------------------
    def update_counts(self, items: np.ndarray, weights: np.ndarray) -> None:
        for item, w in zip(items, weights):
            w = int(w)
            self.counts[item] = self.counts.get(item, 0) + w
            self.stream_weight += w
        if len(self.counts) > self._capacity:
            self._purge()

    def update_series(self, s: pd.Series) -> None:
        # the fold's prepare has already dropped the NULLs
        s = canonicalize_series(s.dropna() if has_nulls(s) else s)
        if s.empty:
            return
        vc = s.value_counts()
        self.update_counts(vc.index.to_numpy(), vc.to_numpy())

    def _purge(self) -> None:
        while len(self.counts) > self._capacity:
            vals = np.fromiter(self.counts.values(), dtype=np.int64)
            med = max(1, int(np.median(vals)))
            self.offset += med
            self.counts = {k: c - med for k, c in self.counts.items() if c > med}

    def merge(self, other: "FrequentItemsSketch") -> None:
        for item, c in other.counts.items():
            self.counts[item] = self.counts.get(item, 0) + c
        self.offset += other.offset
        self.stream_weight += other.stream_weight
        self._purge()

    # -- queries --------------------------------------------------------
    @property
    def is_empty(self) -> bool:
        return self.stream_weight == 0

    @property
    def num_active(self) -> int:
        return len(self.counts)

    @property
    def epsilon(self) -> float:
        return 3.5 / self.max_map_size

    def total_weight(self) -> int:
        return self.stream_weight

    def get_estimate(self, item) -> int:
        c = self.counts.get(canonicalize_item(item))
        return 0 if c is None else c + self.offset

    def get_lower_bound(self, item) -> int:
        c = self.counts.get(canonicalize_item(item))
        return 0 if c is None else c

    def get_upper_bound(self, item) -> int:
        c = self.counts.get(canonicalize_item(item))
        return 0 if c is None else c + self.offset

    def get_frequent_items(self, error_type: str = ERROR_TYPE_NO_FALSE_POSITIVES):
        """Rows of (item, estimate, lower_bound, upper_bound), estimate-desc
        then item-asc for determinism (order unspecified in the reference)."""
        et = error_type.upper()
        if et not in (ERROR_TYPE_NO_FALSE_POSITIVES, ERROR_TYPE_NO_FALSE_NEGATIVES):
            raise ValueError(
                "error_type must be NO_FALSE_POSITIVES or NO_FALSE_NEGATIVES"
            )
        rows = []
        for item, c in self.counts.items():
            lb, ub = c, c + self.offset
            keep = lb > self.offset if et == ERROR_TYPE_NO_FALSE_POSITIVES else ub > self.offset
            if keep:
                rows.append((item, ub, lb, ub))
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows

    def describe(self) -> str:
        return (
            "### Frequent items sketch summary:\n"
            f"   lg max map size : {self.lg_max_k}\n"
            f"   num active      : {self.num_active}\n"
            f"   total weight    : {self.stream_weight}\n"
            f"   max error (off) : {self.offset}\n"
            f"   epsilon         : {self.epsilon}\n"
            f"   empty?          : {self.is_empty}\n"
        )

    # -- serialization --------------------------------------------------
    def serialize(self) -> bytes:
        parts = [
            struct.pack("<BQQI", self.lg_max_k, self.offset, self.stream_weight, len(self.counts))
        ]
        for item, c in self.counts.items():
            b = item.encode("utf-8")
            parts.append(struct.pack("<Iq", len(b), c))
            parts.append(b)
        return frame(FAMILY_FREQUENT_ITEMS, b"".join(parts))

    # ---- Apache DataSketches wire format (items sketch, strings) ----

    def to_wire(self) -> bytes:
        """Serialize as an Apache DataSketches frequent-items sketch
        over strings (``ArrayOfStringsSerDe``) — readable by
        DuckDB/Druid/Hive/datasketches-java.  Empty form is
        byte-identical to datasketches-java; the full form is
        semantically identical (hash-map iteration order is not
        canonical in Apache's own writer either) and verified by
        loading into datasketches-java live.
        """
        lg_max = self.lg_max_k
        if self.is_empty:
            # java writes flags 0x05 (EMPTY | bit0) for the empty form
            return struct.pack(
                "<BBBBBBH", 1, _FI_WIRE_SERVER, _FI_WIRE_FAMILY,
                lg_max, _FI_LG_MIN_MAP, _FI_FLAG_EMPTY | 1, 0,
            )
        # smallest current-map size that holds numActive at 0.75 load,
        # clamped to [LG_MIN_MAP, lg_max] — java allocates from this
        lg_cur = _FI_LG_MIN_MAP
        while (1 << lg_cur) * _LOAD_FACTOR < len(self.counts) and lg_cur < lg_max:
            lg_cur += 1
        head = struct.pack(
            "<BBBBBBH", 4, _FI_WIRE_SERVER, _FI_WIRE_FAMILY, lg_max, lg_cur, 0, 0
        )
        head += struct.pack("<IIQQ", len(self.counts), 0, self.stream_weight, self.offset)
        items = list(self.counts.items())
        counts = b"".join(struct.pack("<Q", c) for _, c in items)
        serde = b"".join(
            struct.pack("<I", len(e)) + e
            for e in (item.encode("utf-8") for item, _ in items)
        )
        return head + counts + serde

    @classmethod
    def from_wire(cls, blob: bytes) -> "FrequentItemsSketch":
        """Parse an Apache frequent-items blob (strings serde).

        Stored per-item counts are lower bounds in both engines (the
        purge subtracts the accrued offset before eviction), so counts
        map across directly; ``offset`` is Apache's maximum error.
        """
        err = SketchDeserializeError("Failed to deserialize Frequent Items sketch")
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 8:
            raise err
        blob = bytes(blob)
        pre_longs, ser_ver, family, lg_max, _lg_cur, flags, _ = struct.unpack_from(
            "<BBBBBBH", blob, 0
        )
        if ser_ver != _FI_WIRE_SERVER or family != _FI_WIRE_FAMILY:
            raise err
        sk = cls(min(max(lg_max, 3), 21))
        if flags & _FI_FLAG_EMPTY:
            return sk
        if pre_longs != 4 or len(blob) < 32:
            raise err
        num_active, _, stream_len, offset = struct.unpack_from("<IIQQ", blob, 8)
        off = 32
        if len(blob) < off + 8 * num_active:
            raise err
        counts = struct.unpack_from(f"<{num_active}Q", blob, off)
        off += 8 * num_active
        try:
            for c in counts:
                (blen,) = struct.unpack_from("<I", blob, off)
                off += 4
                if len(blob) < off + blen:
                    raise err
                item = blob[off : off + blen].decode("utf-8")
                off += blen
                sk.counts[item] = int(c)
        except (struct.error, UnicodeDecodeError) as exc:
            raise err from exc
        sk.offset = int(offset)
        sk.stream_weight = int(stream_len)
        # A java blob with lgMaxK beyond our SQL bind-time cap (21) may
        # carry more active items than the clamped map's capacity
        # invariant allows; purge down now (offset stays consistent)
        # rather than letting the first update trigger an oversized
        # purge with a surprise offset jump.
        if len(sk.counts) > sk._capacity:
            sk._purge()
        return sk

    @classmethod
    def deserialize(cls, blob: bytes) -> "FrequentItemsSketch":
        from .base import is_framed

        if not is_framed(blob):
            # Apache wire blob (no DSKS frame) — sniffed like theta/KLL
            return cls.from_wire(blob)
        payload = unframe(blob, FAMILY_FREQUENT_ITEMS)
        try:
            lg_max_k, offset, stream_weight, count = struct.unpack_from("<BQQI", payload, 0)
            off = struct.calcsize("<BQQI")
            sk = cls(lg_max_k)
            sk.offset = offset
            sk.stream_weight = stream_weight
            for _ in range(count):
                blen, c = struct.unpack_from("<Iq", payload, off)
                off += struct.calcsize("<Iq")
                item = payload[off : off + blen].decode("utf-8")
                off += blen
                sk.counts[item] = c
            return sk
        except (struct.error, ValueError, UnicodeDecodeError) as exc:
            raise SketchDeserializeError(
                "Failed to deserialize Frequent Items sketch"
            ) from exc
