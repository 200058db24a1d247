"""Exact summary-statistics "sketch": mergeable (n, nonnull, min, max, sum).

Not an approximate structure — the point is the SHAPE: constant-size,
mergeable partial state with the same create/update/merge/serialize
surface as the probabilistic families, so `sketch_agg_multi` can fold
exact table-profile statistics in the SAME single scan that builds the
Theta/KLL sketches (profile.py).  The reference reaches the same
metadata with per-column host aggregates (one query per column per
metric over DuckDB's own MIN/MAX/COUNT); here the whole profile is one
pass regardless of column count.

Unlike every other family, update feeds the FULL value series
*including* NULLs — n counts all rows, nonnull only the non-NULL ones
(that difference is the profiler's null-count).  min/max for numeric
input are tracked as float64 (the profiler surfaces doubles); string
input keeps exact strings (UTF-8 code-point order — matches Spark's
binary UTF8String ordering for valid UTF-8).
"""

from __future__ import annotations

import struct

import pandas as pd

from .base import FAMILY_STATS, SketchDeserializeError, frame, unframe

_KIND_UNSET = 0
_KIND_NUM = 1
_KIND_STR = 2


class StatsSketch:
    __slots__ = ("n", "nonnull", "kind", "vmin", "vmax", "total")

    def __init__(self) -> None:
        self.n = 0
        self.nonnull = 0
        self.kind = _KIND_UNSET
        self.vmin = None
        self.vmax = None
        self.total = 0.0

    # ------------------------------------------------------------ update

    def update_series(self, series: pd.Series) -> None:
        """Fold one batch; NULLs count toward n but not nonnull/min/max.

        NaN contract: float NaN is treated as NULL.  Spark's
        Arrow-to-pandas conversion folds SQL NULLs into NaN for float
        columns, so true-null and NaN are indistinguishable by the time
        a batch reaches this method; we document the coarser behavior
        (NaN -> null-count) rather than pretend to a distinction the
        transport has already erased.  DuckDB's count() counts NaN as
        non-null -- the profiler's nonnull may differ on NaN-bearing
        float columns.
        """
        self.n += int(len(series))
        v = series.dropna()
        if v.empty:
            return
        self.nonnull += int(len(v))
        if v.dtype.kind in "iufb":
            self._fold_num(float(v.min()), float(v.max()), float(v.sum()))
        else:
            # C-speed dtype inference instead of a per-element Python
            # isinstance loop (~4x cheaper per Arrow batch on the hot
            # string path) — still catches bytes hidden mid-batch in a
            # mixed object series, which a first-element check misses
            kind = pd.api.types.infer_dtype(v, skipna=True)
            if "bytes" in kind or (
                kind.startswith("mixed")
                and any(isinstance(x, (bytes, bytearray)) for x in v)
            ):
                raise TypeError(
                    "unsupported input type for stats sketch: binary "
                    "(feed sketch blobs through the merge path)"
                )
            sv = v.astype(str) if not isinstance(v.iloc[0], str) else v
            self._fold_str(str(sv.min()), str(sv.max()))

    def _fold_num(self, lo: float, hi: float, s: float) -> None:
        if self.kind == _KIND_STR:
            raise ValueError("stats sketch: mixed string/numeric input")
        self.kind = _KIND_NUM
        self.vmin = lo if self.vmin is None else min(self.vmin, lo)
        self.vmax = hi if self.vmax is None else max(self.vmax, hi)
        self.total += s

    def _fold_str(self, lo: str, hi: str) -> None:
        if self.kind == _KIND_NUM:
            raise ValueError("stats sketch: mixed string/numeric input")
        self.kind = _KIND_STR
        self.vmin = lo if self.vmin is None else min(self.vmin, lo)
        self.vmax = hi if self.vmax is None else max(self.vmax, hi)

    # ------------------------------------------------------------- merge

    def merge(self, other: "StatsSketch") -> None:
        self.n += other.n
        self.nonnull += other.nonnull
        if other.kind == _KIND_NUM:
            self._fold_num(other.vmin, other.vmax, other.total)
        elif other.kind == _KIND_STR:
            self._fold_str(other.vmin, other.vmax)

    # -------------------------------------------------------- accessors

    @property
    def is_empty(self) -> bool:
        return self.n == 0

    def get_n(self) -> int:
        return self.n

    def get_nonnull(self) -> int:
        return self.nonnull

    def get_min(self):
        return self.vmin

    def get_max(self):
        return self.vmax

    def get_sum(self) -> float | None:
        return self.total if self.kind == _KIND_NUM else None

    def describe(self) -> str:
        return (
            "### Stats sketch summary:\n"
            f"   n        : {self.n}\n"
            f"   nonnull  : {self.nonnull}\n"
            f"   min      : {self.vmin}\n"
            f"   max      : {self.vmax}\n"
        )

    # ---------------------------------------------------------- serde

    def serialize(self) -> bytes:
        head = struct.pack("<qqBd", self.n, self.nonnull, self.kind, self.total)
        if self.kind == _KIND_NUM:
            body = struct.pack("<dd", self.vmin, self.vmax)
        elif self.kind == _KIND_STR:
            mb = self.vmin.encode("utf-8")
            xb = self.vmax.encode("utf-8")
            body = struct.pack("<q", len(mb)) + mb + struct.pack("<q", len(xb)) + xb
        else:
            body = b""
        return frame(FAMILY_STATS, head + body)

    @classmethod
    def deserialize(cls, blob: bytes) -> "StatsSketch":
        payload = unframe(blob, FAMILY_STATS)
        try:
            n, nonnull, kind, total = struct.unpack_from("<qqBd", payload, 0)
            off = struct.calcsize("<qqBd")
            sk = cls()
            sk.n, sk.nonnull, sk.kind, sk.total = n, nonnull, kind, total
            if kind == _KIND_NUM:
                sk.vmin, sk.vmax = struct.unpack_from("<dd", payload, off)
            elif kind == _KIND_STR:
                (lm,) = struct.unpack_from("<q", payload, off)
                off += 8
                sk.vmin = payload[off : off + lm].decode("utf-8")
                off += lm
                (lx,) = struct.unpack_from("<q", payload, off)
                off += 8
                sk.vmax = payload[off : off + lx].decode("utf-8")
            return sk
        except (struct.error, UnicodeDecodeError) as exc:
            raise SketchDeserializeError(
                "Failed to deserialize Stats sketch"
            ) from exc
