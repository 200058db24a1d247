"""String-items KLL quantile sketch + Apache ``KllItemsSketch`` wire.

Quantiles over ORDERED STRINGS (URLs, ids, paths) — the missing piece
for range-partition planning on string sort keys
(pipeline/rangepart).  Beyond the reference's surface (its quantile
functions bind numeric overloads only, codegen/generator.py:46-60);
modeled on Apache DataSketches' ``KllItemsSketch<String>`` with the
``ArrayOfStringsSerDe``, whose live twin in the bundled
datasketches-java jar is the differential oracle
(tests/test_kll_items_wire.py).

The compactor core (compactor.py) is comparison-only, so the whole
level machinery is inherited unchanged over object arrays of ``str``;
this class overrides item validation, the float-casting queries, and
both serializations.

Wire layout (recovered from live datasketches-java 6.2 dumps — the
r8 doubles-KLL facts all carry over):

- same preamble as the doubles KLL: family 15, serVer 1 full / 2
  single, preLongs 2/5, k u16, m=8; the preamble carries NO item
  type — like every Apache items reader, the consumer names the
  serde.
- full form: n u64, minK u16, numLevels u8, pad; numLevels u32 level
  offsets TOP-ALIGNED into the item-array capacity derived from
  (k, m=8, numLevels) with round-half-up (capacity - offsets[0] =
  retained); then the min item, the max item, and each level's items
  ascending — every item ``ArrayOfStringsSerDe``-encoded (u32 LE
  byte length + UTF-8 bytes).
"""

from __future__ import annotations

import struct

import numpy as np

from .base import (
    FAMILY_KLL_ITEMS,
    SketchDeserializeError,
    frame,
    is_framed,
    unframe,
)
from .compactor import (
    _KLL_FLAG_EMPTY,
    _KLL_FLAG_L0_SORTED,
    _KLL_FLAG_SINGLE,
    _KLL_WIRE_FAMILY,
    _KLL_WIRE_M,
    _kll_wire_level_capacity,
    KllSketch,
)


def _serde_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack("<I", len(b)) + b


class KllItemsSketch(KllSketch):
    """KLL over string items (lexicographic UTF-8/code-point order —
    Spark's UTF8String, DuckDB's binary collation and Python ``str``
    all agree on it)."""

    FAMILY = FAMILY_KLL_ITEMS
    NAME = "KLL items"
    ITEMS_DTYPE_OK = True

    def __init__(self, k: int = 200, dtype: str = "str"):
        if dtype != "str":
            raise ValueError("KllItemsSketch holds string items only")
        super().__init__(k, "str")

    # -- building -------------------------------------------------------
    def update(self, values) -> None:
        """NULLs (whatever ``pandas.isna`` calls missing: None, NaN,
        pd.NA, NaT) are dropped; any other non-``str`` value raises."""
        arr = np.asarray(values, dtype=object).ravel()
        if not arr.size:
            return
        # vectorized null-drop + type gate (r15): the old per-value
        # Python loop (isinstance + list.append per row) was the
        # table_profile_strings per-batch serde constant.  pd.isna and
        # infer_dtype are C loops over the object array; the all-string
        # common case never touches per-element Python.  The explicit
        # loop survives only on the error path, to name the offender.
        import pandas as pd  # noqa: PLC0415

        mask = pd.isna(arr)
        if mask.any():
            arr = arr[~mask]
        if not arr.size:
            return
        if pd.api.types.infer_dtype(arr, skipna=False) != "string":
            for v in arr:
                if not isinstance(v, str):
                    raise ValueError(
                        "datasketch_kll_items accepts VARCHAR values only — "
                        f"got {type(v).__name__}; cast explicitly to build "
                        "string quantiles"
                    )
        super().update(arr)

    def update_series(self, series) -> None:
        self.update(series)

    def merge(self, other) -> None:
        if other.n and getattr(other, "dtype", None) != "str":
            raise ValueError(
                "cannot merge a numeric quantile sketch into a KLL "
                "items sketch"
            )
        super().merge(other)

    # -- queries (float-casting base impls overridden) ------------------
    def get_cdf(self, split_points, inclusive: bool = True) -> list[float]:
        if self.n == 0:
            return []
        sp = list(split_points)
        if any(not isinstance(s, str) for s in sp):
            raise ValueError("split points must be strings")
        if any(a >= b for a, b in zip(sp, sp[1:])):
            raise ValueError(
                "split points must be unique and monotonically increasing"
            )
        items, weights = self._sorted_items_weights()
        cum = np.concatenate([[0], np.cumsum(weights)]).astype(np.float64)
        side = "right" if inclusive else "left"
        idx = np.searchsorted(items, np.asarray(sp, dtype=object), side=side)
        out = (cum[idx] / float(self.n)).tolist()
        out.append(1.0)
        return out

    def get_rank(self, item, inclusive: bool = True) -> float:
        if not isinstance(item, str):
            raise ValueError("rank probe must be a string")
        return super().get_rank(item, inclusive)

    def ks_distance(self, other) -> float:
        raise ValueError(
            "ks_distance is defined for numeric quantile sketches only"
        )

    def _pyval(self, v):
        return None if v is None else str(v)

    # -- engine (DSKS) serialization ------------------------------------
    def serialize(self) -> bytes:
        head = struct.pack("<IBQ", self.k, 1 if self.compacted else 0, self.n)
        mm = b""
        if self.n:
            mm = _serde_str(str(self.min_item)) + _serde_str(str(self.max_item))
        body = struct.pack("<B", len(self.levels))
        for lv in self.levels:
            body += struct.pack("<I", lv.size)
            body += b"".join(_serde_str(str(x)) for x in lv)
        return frame(self.FAMILY, head + mm + body)

    @staticmethod
    def _read_item(blob: bytes, off: int) -> tuple[str, int]:
        (ln,) = struct.unpack_from("<I", blob, off)
        off += 4
        if off + ln > len(blob):
            raise ValueError("truncated string item")
        return blob[off : off + ln].decode("utf-8"), off + ln

    @classmethod
    def deserialize(cls, blob: bytes) -> "KllItemsSketch":
        if not is_framed(blob):
            return cls.from_wire(blob)
        err = SketchDeserializeError("Failed to deserialize KLL items sketch")
        try:
            payload = unframe(blob, cls.FAMILY)
            k, compacted, n = struct.unpack_from("<IBQ", payload, 0)
            off = 13
            sk = cls(min(max(k, cls.K_MIN), cls.K_MAX))
            sk.k = int(k)
            if n:
                sk.min_item, off = cls._read_item(payload, off)
                sk.max_item, off = cls._read_item(payload, off)
            (num_levels,) = struct.unpack_from("<B", payload, off)
            off += 1
            sk.n = int(n)
            sk.compacted = bool(compacted)
            sk.levels = []
            for _ in range(num_levels):
                (count,) = struct.unpack_from("<I", payload, off)
                off += 4
                items = []
                for _ in range(count):
                    item, off = cls._read_item(payload, off)
                    items.append(item)
                sk.levels.append(np.asarray(items, dtype=object))
            if not sk.levels:
                sk.levels = [np.empty(0, dtype=object)]
            return sk
        except SketchDeserializeError:
            raise
        except (struct.error, ValueError, IndexError, UnicodeDecodeError) as exc:
            raise err from exc

    # -- Apache DataSketches wire (KllItemsSketch + ArrayOfStringsSerDe)
    def to_wire(self) -> bytes:
        """Serialize as an Apache ``KllItemsSketch<String>`` blob —
        ``KllItemsSketch.heapify(mem, Comparator.naturalOrder(),
        new ArrayOfStringsSerDe())`` reads it live (differential
        tests).  Every level is written sorted ascending (java's
        invariant above level 0; the L0_SORTED flag declares it for
        level 0)."""
        k = int(self.k)
        if self.n == 0:
            return struct.pack(
                "<BBBBHBB", 2, 1, _KLL_WIRE_FAMILY, _KLL_FLAG_EMPTY,
                k, _KLL_WIRE_M, 0,
            )
        if self.n == 1:
            item = next(lv[0] for lv in self.levels if lv.size)
            return struct.pack(
                "<BBBBHBB", 2, 2, _KLL_WIRE_FAMILY, _KLL_FLAG_SINGLE,
                k, _KLL_WIRE_M, 0,
            ) + _serde_str(str(item))
        levels = list(self.levels)
        while len(levels) > 1 and levels[-1].size == 0:
            levels.pop()
        num_levels = len(levels)
        retained = sum(int(lv.size) for lv in levels)
        capacity = sum(
            _kll_wire_level_capacity(k, num_levels, lvl)
            for lvl in range(num_levels)
        )
        if retained > capacity:
            # same envelope fold as the numeric KLL (r8): our ceil
            # capacity policy can retain slightly more than Apache's
            # round-half-up allows — compact until the blob fits
            tmp = self.__class__(self.k)
            tmp.merge(self)
            while sum(lv.size for lv in tmp.levels) > capacity:
                target = max(
                    (i for i, lv in enumerate(tmp.levels) if lv.size >= 2),
                    key=lambda i: tmp.levels[i].size,
                )
                tmp._compact_level(target)
            return tmp.to_wire()
        offsets, acc = [], capacity - retained
        for lv in levels:
            offsets.append(acc)
            acc += int(lv.size)
        head = struct.pack(
            "<BBBBHBB", 5, 1, _KLL_WIRE_FAMILY, _KLL_FLAG_L0_SORTED,
            k, _KLL_WIRE_M, 0,
        )
        head += struct.pack("<QHBB", self.n, k, num_levels, 0)
        head += struct.pack(f"<{num_levels}I", *offsets)
        head += _serde_str(str(self.min_item)) + _serde_str(str(self.max_item))
        body = b"".join(
            b"".join(_serde_str(str(x)) for x in np.sort(lv)) for lv in levels
        )
        return head + body

    @classmethod
    def from_wire(cls, blob: bytes, dtype: str = "str") -> "KllItemsSketch":
        """Parse an Apache ``KllItemsSketch`` blob written with the
        ``ArrayOfStringsSerDe``.  Compact forms only (serVer 1/2),
        like Apache's compact readers."""
        err = SketchDeserializeError("Failed to deserialize KLL items sketch")
        if dtype != "str":
            raise err
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 8:
            raise err
        blob = bytes(blob)
        pre_ints, ser_ver, family, flags, k, m, _ = struct.unpack_from(
            "<BBBBHBB", blob, 0
        )
        if family != _KLL_WIRE_FAMILY or m != _KLL_WIRE_M or k < 1:
            raise err
        sk = cls(min(max(k, cls.K_MIN), cls.K_MAX))
        sk.k = int(k)
        if flags & _KLL_FLAG_EMPTY:
            return sk
        try:
            if ser_ver == 2 or (flags & _KLL_FLAG_SINGLE):
                item, _ = cls._read_item(blob, 8)
                sk.update(np.asarray([item], dtype=object))
                return sk
            if ser_ver != 1 or pre_ints != 5 or len(blob) < 20:
                raise err
            n, min_k, num_levels, _ = struct.unpack_from("<QHBB", blob, 8)
            if num_levels < 1 or len(blob) < 20 + 4 * num_levels:
                raise err
            offsets = list(struct.unpack_from(f"<{num_levels}I", blob, 20))
            off = 20 + 4 * num_levels
            capacity = sum(
                _kll_wire_level_capacity(k, num_levels, lvl)
                for lvl in range(num_levels)
            )
            retained = capacity - offsets[0]
            base = offsets[0]
            bounds = [o - base for o in offsets] + [retained]
            if (
                retained < 1
                or any(b < 0 or b > retained for b in bounds)
                or any(a > b for a, b in zip(bounds, bounds[1:]))
            ):
                raise err
            sk.min_item, off = cls._read_item(blob, off)
            sk.max_item, off = cls._read_item(blob, off)
            items = []
            for _ in range(retained):
                item, off = cls._read_item(blob, off)
                items.append(item)
            arr = np.asarray(items, dtype=object)
            sk.n = int(n)
            sk.k = max(int(min_k), cls.K_MIN)
            sk.levels = [
                arr[bounds[i] : bounds[i + 1]].copy()
                for i in range(num_levels)
            ]
            sk.compacted = num_levels > 1 or sk.n > retained
            sk._sorted_cache = None
            return sk
        except SketchDeserializeError:
            raise
        except (struct.error, ValueError, IndexError, UnicodeDecodeError) as exc:
            raise err from exc
