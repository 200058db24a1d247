"""Shared compactor-stack core for the mergeable quantile families.

The reference ships three rank-error quantile sketches -- classic
Quantiles, KLL, REQ -- all generated from the same aggregate template
(/root/reference/codegen/generated.cpp.j2, spec codegen/generator.py).
They share one structure: a stack of levels of items where level *i*
items carry weight 2^i, and an over-full level is compacted by sorting
and promoting a random half (even/odd offset) to the next level.  The
families differ only in their level-capacity policy:

- KLL: capacity k * (2/3)^(depth-from-top), floor 8 (near-optimal size,
  KLL paper: Karnin, Lang, Liberty, FOCS'16);
- classic Quantiles: constant capacity k per level, 2k base
  (Manku-Rajagopalan-Lindsay style low-discrepancy design);
- REQ: constant capacity with *tail protection* -- the highest items of
  a level are exempt from compaction, which concentrates accuracy in
  high ranks (relative-error behavior, HRA mode; simplified from the
  REQ paper: Cormode et al., 2021).

Exactness contract (relied on by the oracle test corpus, FIXTURES.md):
until the first compaction, the sketch holds every item, so n / min /
max / rank / quantile / cdf / pmf are EXACT and deterministic.  After a
compaction the estimates are randomized (reference docs/README.md:240-247).
All query-time semantics use *inclusive* ranks by default, matching the
reference's default ``inclusive := true`` arguments.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import (
    DTYPE_CODES,
    DTYPE_FROM_CODE,
    FAMILY_KLL,
    FAMILY_QUANTILES,
    FAMILY_REQ,
    SketchDeserializeError,
    frame,
    unframe,
)

_NP_DTYPES = {
    "float64": np.float64,
    "float32": np.float32,
    "int64": np.int64,
    # generic-items state (KllItemsSketch): object arrays of str —
    # every level/sort/searchsorted op below is comparison-only, so
    # the core is item-type-agnostic; only (de)serialization and the
    # float-casting queries are overridden by the items subclass
    "str": np.object_,
}

# largest magnitude float64 represents exactly for integers
_F64_EXACT = float(1 << 53)


def _guard_f64_promotable(sk) -> None:
    """Raise if an int64 sketch holds magnitudes float64 cannot
    represent exactly (> 2^53) — the one case where promotion would
    silently corrupt values."""
    if sk.dtype != "int64":
        return
    for lv in sk.levels:
        if lv.size and float(np.abs(lv).max()) > _F64_EXACT:
            raise ValueError(
                "cannot merge int64 and float64 sketch state: a retained "
                "|value| exceeds 2^53, so float64 promotion would lose "
                "precision — filter NULLs before sketching to keep the "
                "batches int64-typed"
            )
    for m in (sk.min_item, sk.max_item):
        if m is not None and abs(float(m)) > _F64_EXACT:
            raise ValueError(
                "cannot merge int64 and float64 sketch state: |min/max| "
                "exceeds 2^53, so float64 promotion would lose precision"
            )


class CompactorSketch:
    """Base compactor stack; subclasses define capacity policy + family."""

    FAMILY: int = 0
    K_MIN = 1
    K_MAX = 32768
    NAME = "compactor"

    __slots__ = (
        "k", "dtype", "levels", "n", "min_item", "max_item", "compacted",
        "_coin", "_sorted_cache",
    )

    ITEMS_DTYPE_OK = False  # only the items subclass takes dtype="str"

    def __init__(self, k: int, dtype: str = "float64"):
        self.validate_k(k)
        if dtype not in _NP_DTYPES or (
            dtype == "str" and not self.ITEMS_DTYPE_OK
        ):
            raise ValueError(f"unsupported sketch dtype: {dtype}")
        self.k = int(k)
        self.dtype = dtype
        self.levels: list[np.ndarray] = [np.empty(0, dtype=_NP_DTYPES[dtype])]
        self.n = 0
        self.min_item = None
        self.max_item = None
        self.compacted = False
        self._coin = 0  # deterministic counter-based coin for compaction offsets
        self._sorted_cache = None  # (items, weights); invalidated on mutation

    # -- capacity policy ------------------------------------------------
    @classmethod
    def validate_k(cls, k: int) -> None:
        # message text mirrors the reference's bind-time validation
        # (codegen/generated.cpp.j2:65-90)
        if not (cls.K_MIN <= k <= cls.K_MAX):
            raise ValueError(
                f"{cls.NAME} K value must be between {cls.K_MIN} and "
                f"{cls.K_MAX}, got: {k}"
            )

    def _capacity(self, level: int, num_levels: int) -> int:
        raise NotImplementedError

    def _protect_high(self, level: int) -> int:
        return 0

    def _total_capacity(self) -> int:
        L = len(self.levels)
        return sum(self._capacity(i, L) for i in range(L))

    # -- building -------------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        arr = np.asarray(values, dtype=_NP_DTYPES[self.dtype])
        if arr.dtype.kind == "f":
            arr = arr[~np.isnan(arr)]
        if arr.size == 0:
            return
        lo, hi = arr.min(), arr.max()
        self.min_item = lo if self.min_item is None else min(self.min_item, lo)
        self.max_item = hi if self.max_item is None else max(self.max_item, hi)
        self.n += int(arr.size)
        self.levels[0] = np.concatenate([self.levels[0], arr])
        self._sorted_cache = None
        self._compress()

    def merge(self, other: "CompactorSketch") -> None:
        if other.n == 0:
            # an empty partial carries no values and its (default)
            # dtype is meaningless -- an all-NULL partition must not
            # poison a typed merge (found by the quantile_clip
            # bigint-with-nulls test)
            return
        if other.dtype != self.dtype:
            if "str" in (self.dtype, other.dtype):
                # string items never promote to/from numerics
                raise ValueError(
                    "cannot merge string-items and numeric quantile "
                    "sketch state"
                )
            if self.n == 0:
                # an empty accumulator adopts the dtype of its first input
                # (phase-2 merges start from a default-constructed sketch)
                self.dtype = other.dtype
                self.levels = [np.empty(0, dtype=_NP_DTYPES[self.dtype])]
            else:
                # pandas renders a nullable int batch as float64, so
                # same-column partials can legally disagree on dtype:
                # promote to float64 (exact below 2^53) instead of
                # failing the merge; numpy upcasts the other side's
                # arrays during concatenation
                _guard_f64_promotable(self)
                _guard_f64_promotable(other)
                self._promote_to_float64()
        if other.n == 0:
            return
        # merging different K degrades to the coarser resolution, like the
        # reference's mixed-K unions (test/sql/datasketch_hll.test:224-234)
        self.k = min(self.k, other.k)
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=_NP_DTYPES[self.dtype]))
        for i, lv in enumerate(other.levels):
            if lv.size:
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self._sorted_cache = None
        self.compacted = self.compacted or other.compacted
        if self.min_item is None:
            self.min_item, self.max_item = other.min_item, other.max_item
        else:
            self.min_item = min(self.min_item, other.min_item)
            self.max_item = max(self.max_item, other.max_item)
        self._compress()

    def _promote_to_float64(self) -> None:
        """Convert int64/float32 state to float64 in place (callers
        guard 2^53 exactness first via _guard_f64_promotable)."""
        if self.dtype == "float64":
            return
        self.levels = [lv.astype(np.float64) for lv in self.levels]
        if self.min_item is not None:
            self.min_item = float(self.min_item)
            self.max_item = float(self.max_item)
        self.dtype = "float64"
        self._sorted_cache = None

    def _retained(self) -> int:
        return sum(lv.size for lv in self.levels)

    def _compress(self) -> None:
        while self._retained() > self._total_capacity():
            L = len(self.levels)
            target = None
            for i in range(L):
                if self.levels[i].size >= self._capacity(i, L):
                    target = i
                    break
            if target is None:
                break
            self._compact_level(target)

    def _compact_level(self, i: int) -> None:
        if i + 1 >= len(self.levels):
            self.levels.append(np.empty(0, dtype=_NP_DTYPES[self.dtype]))
        lv = np.sort(self.levels[i])
        hi = min(self._protect_high(i), max(lv.size - 2, 0))
        body, keep = (lv[: lv.size - hi], lv[lv.size - hi :]) if hi else (lv, lv[:0])
        if body.size < 2:
            # nothing compactable; force-keep to avoid infinite loops
            self.levels[i] = lv
            self.levels.append(np.empty(0, dtype=_NP_DTYPES[self.dtype]))
            return
        if body.size % 2 == 1:
            # odd item stays at this level (standard KLL handling)
            keep = np.concatenate([body[-1:], keep])
            body = body[:-1]
        offset = self._next_coin()
        promoted = body[offset::2]
        self.levels[i] = keep
        self.levels[i + 1] = np.concatenate([self.levels[i + 1], promoted])
        self.compacted = True

    def _next_coin(self) -> int:
        # counter-based deterministic pseudo-random bit: reproducible for a
        # given operation order while still alternating irregularly
        self._coin += 1
        x = (self._coin * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        return (x >> 61) & 1

    # -- queries --------------------------------------------------------
    @property
    def is_empty(self) -> bool:
        return self.n == 0

    @property
    def is_estimation_mode(self) -> bool:
        return self.compacted

    @property
    def num_retained(self) -> int:
        return self._retained()

    def _sorted_items_weights(self):
        # cached: exact-mode sketches retain up to n items, and scalar
        # passes call rank/quantile/cdf repeatedly -- re-sorting 100k+
        # items per call dominated the query wall time
        if self._sorted_cache is not None:
            return self._sorted_cache
        arrs, ws = [], []
        for i, lv in enumerate(self.levels):
            if lv.size:
                arrs.append(lv)
                ws.append(np.full(lv.size, 1 << i, dtype=np.int64))
        if not arrs:
            out = (
                np.empty(0, dtype=_NP_DTYPES[self.dtype]),
                np.empty(0, dtype=np.int64),
            )
        else:
            items = np.concatenate(arrs)
            weights = np.concatenate(ws)
            order = np.argsort(items, kind="stable")
            out = (items[order], weights[order])
        self._sorted_cache = out
        return out

    def get_rank(self, item, inclusive: bool = True) -> float:
        if self.n == 0:
            return float("nan")
        items, weights = self._sorted_items_weights()
        side = "right" if inclusive else "left"
        idx = int(np.searchsorted(items, _NP_DTYPES[self.dtype](item), side=side))
        return float(weights[:idx].sum()) / float(self.n)

    def get_quantile(self, q: float, inclusive: bool = True):
        if self.n == 0:
            return None
        if q <= 0.0:
            return self._pyval(self.min_item)
        if q >= 1.0:
            return self._pyval(self.max_item)
        items, weights = self._sorted_items_weights()
        ranks = np.cumsum(weights).astype(np.float64) / float(self.n)
        side = "left" if inclusive else "right"
        idx = int(np.searchsorted(ranks, q, side=side))
        idx = min(idx, items.size - 1)
        return self._pyval(items[idx])

    def get_cdf(self, split_points, inclusive: bool = True) -> list[float]:
        if self.n == 0:
            return []
        sp = np.asarray(split_points, dtype=np.float64)
        if sp.size and np.any(np.diff(sp) <= 0):
            raise ValueError("split points must be unique and monotonically increasing")
        items, weights = self._sorted_items_weights()
        cum = np.concatenate([[0], np.cumsum(weights)]).astype(np.float64)
        side = "right" if inclusive else "left"
        idx = np.searchsorted(items.astype(np.float64), sp, side=side)
        out = (cum[idx] / float(self.n)).tolist()
        out.append(1.0)
        return out

    def ks_distance(self, other: "CompactorSketch") -> float:
        """Two-sample Kolmogorov-Smirnov statistic between the
        distributions summarized by two sketches: max |F_a(x) - F_b(x)|
        over the union of retained values.  Exact (equals the classical
        two-sample KS on the raw data) while both sketches are in exact
        mode; otherwise approximate with each sketch's rank error.
        Beyond-reference drift/data-quality surface built on the same
        retained-item machinery as get_cdf."""
        if self.n == 0 or other.n == 0:
            return float("nan")
        ia, wa = self._sorted_items_weights()
        ib, wb = other._sorted_items_weights()
        fa64, fb64 = ia.astype(np.float64), ib.astype(np.float64)
        xs = np.union1d(fa64, fb64)
        ca = np.concatenate([[0], np.cumsum(wa)]).astype(np.float64) / float(self.n)
        cb = np.concatenate([[0], np.cumsum(wb)]).astype(np.float64) / float(other.n)
        fa = ca[np.searchsorted(fa64, xs, side="right")]
        fb = cb[np.searchsorted(fb64, xs, side="right")]
        return float(np.max(np.abs(fa - fb)))

    def get_pmf(self, split_points, inclusive: bool = True) -> list[float]:
        cdf = self.get_cdf(split_points, inclusive)
        if not cdf:
            return []
        return [cdf[0]] + [cdf[i] - cdf[i - 1] for i in range(1, len(cdf))]

    def psi(self, other: "CompactorSketch", split_points,
            inclusive: bool = True) -> float:
        """Population Stability Index between the two summarized
        distributions over the bins induced by ``split_points``:
        sum_i (p_a,i - p_b,i) * ln(p_a,i / p_b,i).  Exact in exact
        mode.  A bin empty on both sides contributes 0; a bin empty
        on one side yields inf (no smoothing is applied — choose split
        points that cover both populations, or pre-clamp upstream).
        Companion to :meth:`ks_distance`; PSI is the binned drift
        metric model monitoring conventionally thresholds at 0.1/0.25."""
        pa = np.asarray(self.get_pmf(split_points, inclusive), dtype=np.float64)
        pb = np.asarray(other.get_pmf(split_points, inclusive), dtype=np.float64)
        if pa.size == 0 or pb.size == 0:
            return float("nan")
        both = (pa > 0) | (pb > 0)
        pa, pb = pa[both], pb[both]
        with np.errstate(divide="ignore"):
            terms = (pa - pb) * np.log(pa / pb)
        return float(np.sum(terms))

    def _pyval(self, v):
        return None if v is None else (int(v) if self.dtype == "int64" else float(v))

    def get_min_item(self):
        return self._pyval(self.min_item)

    def get_max_item(self):
        return self._pyval(self.max_item)

    def describe(self, include_levels: bool = False, include_items: bool = False) -> str:
        lines = [
            f"### {self.NAME} sketch summary:",
            f"   K              : {self.k}",
            f"   N              : {self.n}",
            f"   retained items : {self.num_retained}",
            f"   levels         : {len(self.levels)}",
            f"   empty?         : {self.is_empty}",
            f"   estimation?    : {self.is_estimation_mode}",
            f"   min item       : {self.get_min_item()}",
            f"   max item       : {self.get_max_item()}",
        ]
        if include_levels:
            for i, lv in enumerate(self.levels):
                lines.append(f"   level {i}: {lv.size} items (weight {1 << i})")
        if include_items:
            items, weights = self._sorted_items_weights()
            lines.append("   items: " + ", ".join(f"{v}x{w}" for v, w in zip(items, weights)))
        return "\n".join(lines) + "\n"

    # -- serialization --------------------------------------------------
    def serialize(self) -> bytes:
        dt = _NP_DTYPES[self.dtype]
        if self.dtype == "int64":
            mn = struct.pack("<q", int(self.min_item) if self.min_item is not None else 0)
            mx = struct.pack("<q", int(self.max_item) if self.max_item is not None else 0)
        else:
            mn = struct.pack("<d", float(self.min_item) if self.min_item is not None else 0.0)
            mx = struct.pack("<d", float(self.max_item) if self.max_item is not None else 0.0)
        head = struct.pack(
            "<IBBQ", self.k, DTYPE_CODES[self.dtype], 1 if self.compacted else 0, self.n
        )
        body = struct.pack("<B", len(self.levels))
        for lv in self.levels:
            body += struct.pack("<I", lv.size)
            body += np.ascontiguousarray(lv, dtype=dt).tobytes()
        return frame(self.FAMILY, head + mn + mx + body)

    @classmethod
    def deserialize(cls, blob: bytes) -> "CompactorSketch":
        payload = unframe(blob, cls.FAMILY)
        try:
            k, dcode, compacted, n = struct.unpack_from("<IBBQ", payload, 0)
            dtype = DTYPE_FROM_CODE[dcode]
            off = 14
            if dtype == "int64":
                mn = struct.unpack_from("<q", payload, off)[0]
                mx = struct.unpack_from("<q", payload, off + 8)[0]
            else:
                mn = struct.unpack_from("<d", payload, off)[0]
                mx = struct.unpack_from("<d", payload, off + 8)[0]
            off += 16
            (num_levels,) = struct.unpack_from("<B", payload, off)
            off += 1
            sk = cls(k, dtype)
            sk.n = n
            sk.compacted = bool(compacted)
            sk.min_item = None if n == 0 else _NP_DTYPES[dtype](mn)
            sk.max_item = None if n == 0 else _NP_DTYPES[dtype](mx)
            sk.levels = []
            itemsize = np.dtype(_NP_DTYPES[dtype]).itemsize
            for _ in range(num_levels):
                (count,) = struct.unpack_from("<I", payload, off)
                off += 4
                lv = np.frombuffer(payload, dtype=_NP_DTYPES[dtype], count=count, offset=off)
                off += count * itemsize
                sk.levels.append(lv.copy())
            if not sk.levels:
                sk.levels = [np.empty(0, dtype=_NP_DTYPES[dtype])]
            return sk
        except (struct.error, ValueError, KeyError, IndexError) as exc:
            raise SketchDeserializeError(f"Failed to deserialize {cls.NAME} sketch") from exc


# Apache DataSketches KLL wire format (family 15).  Serial version 1 =
# empty/full compact, 2 = single-item short form.  The reference's KLL
# blobs ARE this format (its Finalize serializes the datasketches-cpp
# kll_sketch, src/generated.cpp:3108-4485); layout verified against
# datasketches-java 6.2 dumps and cross-checked live in
# tests/test_murmur_wire.py.
_KLL_WIRE_FAMILY = 15
_KLL_WIRE_M = 8  # min level width; java rejects anything else
_KLL_FLAG_EMPTY = 1
_KLL_FLAG_L0_SORTED = 2
_KLL_FLAG_SINGLE = 4

# Apache DataSketches classic quantiles wire format (family 8, serVer
# 3).  The reference's datasketch_quantiles blobs ARE this format (its
# Finalize serializes the datasketches-cpp quantiles_sketch,
# src/generated.cpp:1695-3107; golden single-value blob at
# test/sql/datasketch_quantiles.test:14-17).  Compact layout: 8-byte
# preamble (preLongs, serVer, family, flags, k u16, pad) + n u64 +
# min + max + sorted base buffer (n mod 2k items) + one exact-k sorted
# block per set bit of bitPattern = n div 2k, ascending.
_Q_WIRE_FAMILY = 8
_Q_WIRE_SER_VER = 3
_Q_FLAG_EMPTY = 4
_Q_FLAG_COMPACT = 8
_Q_FLAG_ORDERED = 16

# Apache DataSketches REQ wire format (family 17, serVer 1).  The
# reference's datasketch_req blobs ARE this format (golden
# single-value blob at test/sql/datasketch_req.test:14-17).  Preamble:
# (preInts, serVer, family, flags, k u16, numLevels, numRawItems);
# formats EMPTY / RAW (n<=4, bare sorted items) / EXACT (one
# compactor) / ESTIMATION (n u64 + min + max + compactors).  Each
# compactor block: state u64, sectionSize f32, lgWeight u8,
# numSections u8, 2 pad, count u32, sorted items.
_REQ_WIRE_FAMILY = 17
_REQ_WIRE_SER_VER = 1
_REQ_FLAG_EMPTY = 4
_REQ_FLAG_HRA = 8
_REQ_FLAG_RAW = 16
_REQ_FLAG_SORTED = 32


def _kll_wire_level_capacity(k: int, num_levels: int, level: int) -> int:
    """Apache's level capacity: max(m, round-half-up(k * (2/3)^depth)),
    in exact integer arithmetic — readers re-derive the total array
    capacity from (k, m, numLevels), so the writer must agree exactly."""
    depth = num_levels - 1 - level
    pow3 = 3**depth
    return max(_KLL_WIRE_M, ((k << depth) * 2 + pow3) // (2 * pow3))


class KllSketch(CompactorSketch):
    """KLL quantile sketch (reference src/generated.cpp:3108-4485)."""

    FAMILY = FAMILY_KLL
    K_MIN, K_MAX = 1, 32768  # bind validation, codegen/generated.cpp.j2:65-69
    NAME = "KLL"

    def _capacity(self, level: int, num_levels: int) -> int:
        depth = num_levels - 1 - level
        return max(8, int(np.ceil(self.k * (2.0 / 3.0) ** depth)))

    def normalized_rank_error(self, pmf: bool) -> float:
        # calibrated to the reference's published numbers: ~1.33%
        # single-sided / ~1.65% double-sided at K=200 (docs/README.md:532)
        return (2.443 if pmf else 1.970) / self.k**0.9433

    # ---- Apache DataSketches wire format (KLL doubles/floats/ints) ----

    _WIRE_WIDTHS = {
        "float64": ("<d", 8),
        "float32": ("<f", 4),
        "int64": ("<q", 8),
        "int32": ("<i", 4),
    }

    @classmethod
    def deserialize(cls, blob: bytes) -> "KllSketch":
        """Accepts the engine-local DSKS frame OR an Apache
        DataSketches KLL blob (sniffed on the frame magic), so blobs
        written by the reference / datasketches-{java,cpp} work
        everywhere a KLL blob does — scalars, union aggregates,
        sketch stores."""
        from .base import is_framed

        if not is_framed(blob):
            return cls.from_wire(blob)
        return super().deserialize(blob)

    def to_wire(self) -> bytes:
        """Serialize as an Apache DataSketches KLL sketch — readable by
        DuckDB/Druid/Hive/datasketches-java.  Empty and single-item
        short forms are byte-identical to datasketches-java; the full
        form is semantically identical (level offsets top-aligned,
        every level sorted) and verified by heapifying into
        datasketches-java live.

        An int64 sketch serializes 8-byte integer items — the
        reference's ``sketch_kll_bigint`` layout
        (codegen/generator.py:49-60 instantiates ``kll_sketch<T>`` per
        DuckDB type; the C++ serde writes sizeof(T)-byte items).  The
        preamble carries NO item type: like every Apache reader, the
        consumer must pick the typed reader (here
        ``from_wire(blob, 'int64')`` / SQL
        ``datasketch_kll_from_wire_bigint``).
        """
        if self.dtype not in self._WIRE_WIDTHS:
            raise ValueError(
                f"KLL dtype {self.dtype} has no Apache wire form"
            )
        fmt, width = self._WIRE_WIDTHS[self.dtype]
        k = int(self.k)
        if self.n == 0:
            return struct.pack(
                "<BBBBHBB", 2, 1, _KLL_WIRE_FAMILY, _KLL_FLAG_EMPTY, k, _KLL_WIRE_M, 0
            )
        if self.n == 1:
            item = next(lv[0] for lv in self.levels if lv.size)
            return (
                struct.pack(
                    "<BBBBHBB", 2, 2, _KLL_WIRE_FAMILY, _KLL_FLAG_SINGLE,
                    k, _KLL_WIRE_M, 0,
                )
                + struct.pack(fmt, item)
            )
        levels = list(self.levels)
        while len(levels) > 1 and levels[-1].size == 0:
            levels.pop()
        num_levels = len(levels)
        # compact layout: the levels array carries numLevels in-memory
        # offsets; Apache readers re-derive the full array capacity from
        # (k, m, numLevels) and require the valid region to be
        # TOP-ALIGNED — offsets[0] = capacity - retained — so emit
        # offsets on that base, not 0
        retained = sum(int(lv.size) for lv in levels)
        capacity = sum(
            _kll_wire_level_capacity(k, num_levels, lvl) for lvl in range(num_levels)
        )
        if retained > capacity:
            # our capacity policy (ceil) can retain slightly more than
            # Apache's (round-half-up) allows; fold the overflow by
            # compacting until the blob fits the Apache envelope
            tmp = self.__class__(self.k, self.dtype)
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
        # minK: our k degrades in place on mixed-K merges, so it plays
        # both the capacity and the error role — emit it for both fields
        head += struct.pack("<QHBB", self.n, k, num_levels, 0)
        head += struct.pack(f"<{num_levels}I", *offsets)
        head += struct.pack(fmt, self.min_item) + struct.pack(fmt, self.max_item)
        body = b"".join(
            np.ascontiguousarray(np.sort(lv)).tobytes() for lv in levels
        )
        return head + body

    @classmethod
    def from_wire(cls, blob: bytes, dtype: str = "float64") -> "KllSketch":
        """Parse an Apache KLL doubles blob (or floats with
        ``dtype='float32'``, or the reference's integer-typed variants
        with ``dtype='int64'``/``'int32'`` — ``sketch_kll_bigint`` /
        ``sketch_kll_integer``, codegen/generator.py:49-60).  The
        preamble does not carry the item type — like the Apache
        readers, the caller picks the typed reader; a 4-byte-item
        FLOAT blob is auto-detected from the length identity, but an
        integer blob is width-indistinguishable and MUST be named.
        int32 items are widened to the engine's int64 representation
        (lossless).  Compact forms only (serVer 1/2); the rare
        updatable form (serVer 3) is rejected like Apache's compact
        readers do.
        """
        err = SketchDeserializeError("Failed to deserialize KLL sketch")
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 8:
            raise err
        blob = bytes(blob)
        pre_ints, ser_ver, family, flags, k, m, _ = struct.unpack_from("<BBBBHBB", blob, 0)
        if family != _KLL_WIRE_FAMILY or m != _KLL_WIRE_M or k < 1:
            raise err
        # Apache allows k up to the u16 range (65535) — wider than the
        # reference's bind-time cap this engine mirrors for SQL-built
        # sketches (32768); accept the full wire range on import by
        # assigning k past validate_k (capacity math is k-agnostic)
        engine_dtype = "int64" if dtype == "int32" else dtype
        sk = cls(min(max(k, cls.K_MIN), cls.K_MAX), engine_dtype)
        sk.k = int(k)
        if flags & _KLL_FLAG_EMPTY:
            return sk
        fmt, width = cls._WIRE_WIDTHS[dtype]
        if ser_ver == 2 or (flags & _KLL_FLAG_SINGLE):
            if len(blob) < 8 + width:
                raise err
            (item,) = struct.unpack_from(fmt, blob, 8)
            sk.update(np.asarray([item]))
            return sk
        if ser_ver != 1 or pre_ints != 5 or len(blob) < 20:
            raise err
        n, min_k, num_levels, _ = struct.unpack_from("<QHBB", blob, 8)
        if num_levels < 1 or len(blob) < 20 + 4 * num_levels:
            raise err
        offsets = list(struct.unpack_from(f"<{num_levels}I", blob, 20))
        off = 20 + 4 * num_levels
        capacity = sum(
            _kll_wire_level_capacity(k, num_levels, lvl) for lvl in range(num_levels)
        )

        def _width_ok(w: int, exact: bool) -> bool:
            body = len(blob) - off - 2 * w
            if body < 0 or body % w:
                return False
            return not exact or capacity - offsets[0] == body // w

        # the preamble carries no item type; writers top-align offsets so
        # capacity(k, m, numLevels) - offsets[0] == retained — use that
        # identity to tell a doubles body from a floats body, falling
        # back to byte alignment for blobs that rebased their offsets
        if dtype == "float64" and not _width_ok(8, exact=True) and _width_ok(4, exact=True):
            return cls.from_wire(blob, "float32")
        if not _width_ok(width, exact=False):
            if dtype == "float64" and _width_ok(4, exact=False):
                return cls.from_wire(blob, "float32")
            raise err
        body_bytes = len(blob) - off - 2 * width
        retained = body_bytes // width
        read_dt = np.int32 if dtype == "int32" else _NP_DTYPES[dtype]
        np_dt = _NP_DTYPES[engine_dtype]
        sk.min_item = np_dt(struct.unpack_from(fmt, blob, off)[0])
        sk.max_item = np_dt(struct.unpack_from(fmt, blob, off + width)[0])
        items = np.frombuffer(blob, dtype=read_dt, count=retained, offset=off + 2 * width)
        if read_dt is np.int32:
            items = items.astype(np.int64)
        base = offsets[0]
        bounds = [o - base for o in offsets] + [retained]
        if any(b < 0 or b > retained for b in bounds) or any(
            a > b for a, b in zip(bounds, bounds[1:])
        ):
            raise err
        sk.n = int(n)
        # a degraded java sketch reports its error via minK — adopt it as
        # our k so later merges keep the coarser-resolution contract
        sk.k = max(int(min_k), cls.K_MIN)
        sk.levels = [items[bounds[i] : bounds[i + 1]].copy() for i in range(num_levels)]
        sk.compacted = num_levels > 1 or sk.n > retained
        sk._sorted_cache = None
        return sk


class QuantilesSketch(CompactorSketch):
    """Classic quantiles sketch (reference src/generated.cpp:1695-3107).

    Round 5: restructured from the flexible compactor stack to the
    exact Apache/MRL state — ``levels[0]`` is a 2k base buffer
    (weight-1 items) and every ``levels[j>=1]`` holds EXACTLY k items
    at weight 2^j, full iff bit j-1 of ``n // 2k`` is set (binary
    carry, Manku-Rajagopalan-Lindsay).  With that invariant the Apache
    DoublesSketch wire layout (serVer 3, family 8) is a LOSSLESS
    projection of the state, so blobs cross to/from the reference /
    Druid / Hive / datasketches-java (``to_wire``/``from_wire``).  The
    query surfaces and the exact-mode contract (every item retained
    until n reaches 2k) are unchanged; the engine-local frame is
    version-bumped so pre-restructure blobs fail loudly rather than
    merging with broken level invariants.
    """

    FAMILY = FAMILY_QUANTILES
    K_MIN, K_MAX = 1, 32768
    NAME = "Quantiles"

    def _capacity(self, level: int, num_levels: int) -> int:
        return 2 * self.k if level == 0 else self.k

    def normalized_rank_error(self, pmf: bool) -> float:
        # empirical constants from the Apache DataSketches classic
        # quantiles analysis (docs/README.md:259-261 table shape)
        return (1.854 if pmf else 1.576) / self.k**0.9657

    # ---- MRL build path (overrides the flexible-compactor base) ----

    def _empty_arr(self) -> np.ndarray:
        return np.empty(0, dtype=_NP_DTYPES[self.dtype])

    def update(self, values: np.ndarray) -> None:
        arr = np.asarray(values, dtype=_NP_DTYPES[self.dtype])
        if arr.dtype.kind == "f":
            arr = arr[~np.isnan(arr)]
        if arr.size == 0:
            return
        lo, hi = arr.min(), arr.max()
        self.min_item = lo if self.min_item is None else min(self.min_item, lo)
        self.max_item = hi if self.max_item is None else max(self.max_item, hi)
        self.n += int(arr.size)
        self.levels[0] = np.concatenate([self.levels[0], arr])
        self._sorted_cache = None
        self._propagate_base()

    def _propagate_base(self) -> None:
        two_k = 2 * self.k
        while self.levels[0].size >= two_k:
            block = self.levels[0][:two_k]
            self.levels[0] = self.levels[0][two_k:]
            self._carry(np.sort(block), 1)

    def _carry(self, sorted_2k: np.ndarray, j: int) -> None:
        """Zip a sorted 2k block to k (random offset) and inject it at
        level j (Apache inPlacePropagateCarry)."""
        self._inject(sorted_2k[self._next_coin() :: 2].copy(), j)

    def _inject(self, s: np.ndarray, j: int) -> None:
        """Place an exact-k sorted set at level j, carrying up binary-
        addition style while the target level is occupied."""
        while True:
            while len(self.levels) <= j:
                self.levels.append(self._empty_arr())
            if self.levels[j].size == 0:
                self.levels[j] = s
                self.compacted = True
                return
            merged = np.sort(np.concatenate([self.levels[j], s]))
            self.levels[j] = self._empty_arr()
            s = merged[self._next_coin() :: 2].copy()
            j += 1

    def merge(self, other: "QuantilesSketch") -> None:
        if other.n == 0:
            # an empty partial carries no values and its (default)
            # dtype is meaningless -- an all-NULL partition must not
            # poison a typed merge (found by the quantile_clip
            # bigint-with-nulls test)
            return
        if other.dtype != self.dtype:
            if self.n == 0:
                self.dtype = other.dtype
                self.levels = [self._empty_arr()]
            else:
                # pandas renders a nullable int batch as float64, so
                # same-column partials can legally disagree on dtype:
                # promote to float64 (exact below 2^53) instead of
                # failing the merge; numpy upcasts the other side's
                # arrays during concatenation
                _guard_f64_promotable(self)
                _guard_f64_promotable(other)
                self._promote_to_float64()
        if other.n == 0:
            return
        if self.n == 0:
            # an empty accumulator adopts the other's k and state wholesale
            self.k = other.k
            self.levels = [lv.copy() for lv in other.levels]
            self.n = other.n
            self.min_item, self.max_item = other.min_item, other.max_item
            self.compacted = other.compacted
            self._sorted_cache = None
            return
        kc = min(self.k, other.k)
        if self.k > kc:
            self._downsample_to(kc)
        if other.k > kc:
            tmp = self.__class__(other.k, other.dtype)
            tmp.merge(other)  # cheap copy via the empty-adoption path
            tmp._downsample_to(kc)
            other = tmp
        self.n += other.n
        self.min_item = min(self.min_item, other.min_item)
        self.max_item = max(self.max_item, other.max_item)
        self.compacted = self.compacted or other.compacted
        for j in range(len(other.levels) - 1, 0, -1):
            if other.levels[j].size:
                self._inject(np.sort(other.levels[j]), j)
        if other.levels[0].size:
            self.levels[0] = np.concatenate([self.levels[0], other.levels[0]])
            self._propagate_base()
        self._sorted_cache = None

    def _downsample_to(self, kc: int) -> None:
        """Degrade to a coarser k, like the reference's mixed-K unions.

        Power-of-2 ratios use Apache's stride-zip (each full level's
        sorted items sampled every 2^r with a random phase, landing at
        level j+r — exact weight bookkeeping, O(retained)).  Non-pow2
        ratios (an extension — the reference's C++ quantiles require
        power-of-2 k outright) re-feed each level as weight-expanded
        base items in 2k-sized chunks: exact in distribution, O(n)."""
        if kc >= self.k:
            return
        ratio = self.k // kc
        pow2 = self.k % kc == 0 and (ratio & (ratio - 1)) == 0
        old_levels = self.levels[1:]
        self.levels = [self.levels[0]]
        self.k = kc
        self._sorted_cache = None
        if pow2:
            r = ratio.bit_length() - 1
            for j, lv in enumerate(old_levels, start=1):
                if lv.size:
                    phase = 0
                    for _ in range(r):
                        phase = (phase << 1) | self._next_coin()
                    self._inject(np.sort(lv)[phase::ratio].copy(), j + r)
            self._propagate_base()
            return
        # exact weight expansion costs O(n); cap it so a pathological
        # mixed-K merge of a huge sketch fails loudly instead of
        # stalling an executor for minutes (the reference's C++
        # rejects non-pow2 k at construction, so this path only exists
        # for this engine's extended k range)
        expanded = sum(int(lv.size) << j for j, lv in enumerate(old_levels, start=1))
        if expanded > (1 << 27):
            raise ValueError(
                "downsampling a Quantiles sketch across a non-power-of-2 "
                f"K ratio re-feeds its full weight ({expanded} items here) "
                "— beyond the 2^27 cap; use power-of-2 K values for "
                "mixed-K unions at scale"
            )
        for j, lv in enumerate(old_levels, start=1):
            if lv.size:
                reps = 1 << j
                chunk = max(1, (4 * kc) // reps + 1)
                for s in range(0, lv.size, chunk):
                    self.levels[0] = np.concatenate(
                        [self.levels[0], np.repeat(lv[s : s + chunk], reps)]
                    )
                    self._propagate_base()

    # ---- Apache DataSketches wire format (classic quantiles) ----

    _WIRE_WIDTHS = {
        "float64": ("<d", 8),
        "float32": ("<f", 4),
        "int64": ("<q", 8),
        "int32": ("<i", 4),
    }

    @classmethod
    def deserialize(cls, blob: bytes) -> "QuantilesSketch":
        """Engine DSKS frame OR an Apache classic-quantiles blob
        (sniffed on the frame magic), like the KLL/theta readers."""
        from .base import is_framed

        if not is_framed(blob):
            return cls.from_wire(blob)
        return super().deserialize(blob)

    def to_wire(self) -> bytes:
        """Serialize as an Apache DataSketches classic quantiles
        sketch (serVer 3, family 8, compact ordered) — readable by
        DuckDB/Druid/Hive/datasketches-java.  Because the restructured
        state IS the Apache state, the projection is lossless; the
        flags byte matches datasketches-cpp (the reference's writer,
        golden test/sql/datasketch_quantiles.test:14-17), which java
        reads but marks differently (java also sets READ_ONLY=2).

        An int64 sketch serializes 8-byte integer items — the
        reference's ``sketch_quantiles_bigint`` layout
        (codegen/generator.py:49-60; ``quantiles_sketch<T>`` writes
        sizeof(T)-byte items).  The preamble carries no item type, so
        the consumer must pick the typed reader
        (``from_wire(blob, 'int64')`` / SQL
        ``datasketch_quantiles_from_wire_bigint``).
        """
        fmt, width = self._WIRE_WIDTHS[self.dtype]
        k = int(self.k)
        if self.n == 0:
            return struct.pack(
                "<BBBBHH", 1, _Q_WIRE_SER_VER, _Q_WIRE_FAMILY,
                _Q_FLAG_EMPTY | _Q_FLAG_COMPACT | _Q_FLAG_ORDERED, k, 0,
            )
        head = struct.pack(
            "<BBBBHH", 2, _Q_WIRE_SER_VER, _Q_WIRE_FAMILY,
            _Q_FLAG_COMPACT | _Q_FLAG_ORDERED, k, 0,
        ) + struct.pack("<Q", self.n)
        parts = [struct.pack(fmt, self.min_item), struct.pack(fmt, self.max_item)]
        parts.append(np.ascontiguousarray(np.sort(self.levels[0])).tobytes())
        for lv in self.levels[1:]:
            if lv.size:
                parts.append(np.ascontiguousarray(np.sort(lv)).tobytes())
        return head + b"".join(parts)

    @classmethod
    def from_wire(cls, blob: bytes, dtype: str = "float64") -> "QuantilesSketch":
        """Parse an Apache classic-quantiles blob — both the compact
        form (what the reference and ``toByteArray(true)`` emit) and
        java's updatable form (base-buffer slack derived from the blob
        length; only valid levels are serialized in either form).  The
        preamble has no item type: the caller picks the typed reader
        (``dtype`` in float64/float32/int64/int32 — the int variants
        are the reference's ``sketch_quantiles_bigint``/``_integer``;
        int32 widens to the engine's int64) and a 4-byte-item FLOAT
        blob is auto-detected from the length identity, like the KLL
        reader."""
        err = SketchDeserializeError("Failed to deserialize Quantiles sketch")
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 8:
            raise err
        blob = bytes(blob)
        pre_longs, ser_ver, family, flags, k = struct.unpack_from("<BBBBH", blob, 0)
        if family != _Q_WIRE_FAMILY or ser_ver != _Q_WIRE_SER_VER:
            raise err
        # reject out-of-range k outright: the classic-quantiles u16 slot
        # can encode up to 65535, but no valid writer emits k outside
        # [K_MIN, K_MAX] (java requires a power of 2 <= 32768; this
        # engine's binder allows the reference's 1..32768 range) -- a
        # clamp-then-overwrite here would admit corrupt preambles past
        # validate_k and silently skew the level math
        if not (cls.K_MIN <= k <= cls.K_MAX):
            raise err
        engine_dtype = "int64" if dtype == "int32" else dtype
        sk = cls(int(k), engine_dtype)
        if flags & _Q_FLAG_EMPTY:
            return sk
        if pre_longs != 2 or len(blob) < 16:
            raise err
        (n,) = struct.unpack_from("<Q", blob, 8)
        if n == 0:
            raise err
        two_k = 2 * k
        bb_count = int(n % two_k)
        bit_pattern = n // two_k
        num_full = bin(bit_pattern).count("1")
        fmt, width = cls._WIRE_WIDTHS[dtype]

        is_compact = bool(flags & _Q_FLAG_COMPACT)

        def _layout(w: int):
            """(bb_alloc, level_stride_slotted) or None if the length
            identity fails at this item width.

            Compact: packed — bb_count items then num_full k-blocks.
            Updatable: the serialized combined buffer is SLOTTED — the
            full 2k base buffer (garbage past bb_count) then one
            k-slot per ALLOCATED level (garbage in invalid ones)."""
            body = len(blob) - 16
            if body % w:
                return None
            total = body // w
            if is_compact:
                return (bb_count, False) if total == 2 + bb_count + k * num_full else None
            if bit_pattern == 0:
                alloc = total - 2
                return (alloc, False) if bb_count <= alloc <= two_k else None
            extra = total - 2 - two_k
            if extra >= 0 and extra % k == 0 and extra // k >= bit_pattern.bit_length():
                return (two_k, True)
            return None

        layout = _layout(width)
        if layout is None and dtype == "float64" and _layout(4) is not None:
            return cls.from_wire(blob, "float32")
        if layout is None:
            raise err
        bb_alloc, slotted = layout
        read_dt = np.int32 if dtype == "int32" else _NP_DTYPES[dtype]
        np_dt = _NP_DTYPES[engine_dtype]

        def _read(count: int, at: int) -> np.ndarray:
            arr = np.frombuffer(blob, dtype=read_dt, count=count, offset=at)
            return arr.astype(np.int64) if read_dt is np.int32 else arr.copy()

        off = 16
        sk.min_item = np_dt(struct.unpack_from(fmt, blob, off)[0])
        sk.max_item = np_dt(struct.unpack_from(fmt, blob, off + width)[0])
        off += 2 * width
        bb = _read(bb_count, off)
        off += bb_alloc * width
        sk.levels = [bb if is_compact else np.sort(bb)]
        j, bp = 1, bit_pattern
        while bp:
            if bp & 1:
                lv = _read(k, off)
                while len(sk.levels) <= j:
                    sk.levels.append(sk._empty_arr())
                sk.levels[j] = lv
                off += k * width
            elif slotted:
                off += k * width  # skip the invalid level's slot
            j += 1
            bp >>= 1
        sk.n = int(n)
        sk.compacted = bit_pattern != 0
        sk._sorted_cache = None
        return sk


_SQRT2 = float(np.sqrt(2.0))


def _trailing_ones(v: int) -> int:
    return (((v + 1) & ~v)).bit_length() - 1


def _nearest_even(f: float) -> int:
    return int(round(f / 2.0)) << 1


class ReqSketch(CompactorSketch):
    """Relative-error quantiles, HRA mode (reference
    src/generated.cpp:4486-5673 wrapping datasketches-cpp req_sketch).

    Round 5: upgraded from a simplified tail-protected compactor to
    the REAL REQ algorithm (Cormode, Karnin, Liberty, Thaler,
    Vesely 2021), matching the Apache implementation rule for rule:
    every level is a compactor with (sectionSize, numSections, state);
    a compaction sorts the buffer and, in HRA mode, replaces only the
    LOWEST ``bufLen - (nomCap/2 + (numSections - s)*sectionSize)``
    items (s = trailing ones of state + 1) with an even/odd half at
    double weight — the top of every level is never touched, which is
    what yields RELATIVE (not additive) rank error at high ranks; each
    time state reaches 2^(numSections-1) the section size shrinks by
    sqrt(2) (nearest even, floor 4) and the section count doubles.
    Measured at K=12/N=100k over 60 trials the high-rank relative
    error is ~1-2% at 95% confidence (tests/test_accuracy_bands.py),
    matching the reference's published pitch (docs/README.md:682-685)
    that the simplified core missed by ~5x.

    Because every level now carries real (state, sectionSize,
    numSections), the Apache wire projection is faithful in both
    directions; the engine-local frame is version-bumped (v2) to carry
    the per-level compactor parameters.
    """

    FAMILY = FAMILY_REQ
    K_MIN, K_MAX = 4, 1024  # codegen/generated.cpp.j2:70-74
    NAME = "REQ"
    MIN_SEC = 4
    INIT_SECTIONS = 3

    __slots__ = ("sections",)

    def __init__(self, k: int = 12, dtype: str = "float64"):
        super().__init__(k, dtype)
        self.sections: list[dict] = [self._new_section()]

    def _new_section(self) -> dict:
        return {
            "sec": int(self.k),
            "secf": float(self.k),
            "nsec": self.INIT_SECTIONS,
            "state": 0,
            "coin": False,
        }

    @classmethod
    def validate_k(cls, k: int) -> None:
        super().validate_k(k)
        if k % 2 != 0:
            raise ValueError(f"Invalid k for REQ sketch: {k} (must be even)")

    def _nom_capacity(self, j: int) -> int:
        p = self.sections[j]
        return 2 * p["nsec"] * p["sec"]

    def _max_nom_size(self) -> int:
        return sum(self._nom_capacity(j) for j in range(len(self.levels)))

    def _grow(self) -> None:
        self.levels.append(self._empty_arr())
        self.sections.append(self._new_section())

    def _empty_arr(self) -> np.ndarray:
        return np.empty(0, dtype=_NP_DTYPES[self.dtype])

    # -- building (real REQ; overrides the generic compactor base) ----

    def update(self, values: np.ndarray) -> None:
        arr = np.asarray(values, dtype=_NP_DTYPES[self.dtype])
        if arr.dtype.kind == "f":
            arr = arr[~np.isnan(arr)]
        if arr.size == 0:
            return
        lo, hi = arr.min(), arr.max()
        self.min_item = lo if self.min_item is None else min(self.min_item, lo)
        self.max_item = hi if self.max_item is None else max(self.max_item, hi)
        self.n += int(arr.size)
        self.levels[0] = np.concatenate([self.levels[0], arr])
        self._sorted_cache = None
        self._maybe_compress()

    def _maybe_compress(self) -> None:
        # java compresses when retained reaches maxNomSize; batch
        # inserts may need several passes to restore the bound
        for _ in range(64):  # far beyond any real depth; loop guard
            if self._retained() < self._max_nom_size():
                return
            progressed = False
            j = 0
            while j < len(self.levels):
                if self.levels[j].size >= self._nom_capacity(j):
                    if j + 1 >= len(self.levels):
                        self._grow()
                    promoted = self._compact(j)
                    if promoted.size:
                        self.levels[j + 1] = np.concatenate(
                            [self.levels[j + 1], promoted]
                        )
                        progressed = True
                j += 1
            if not progressed:
                return

    def _compact(self, j: int) -> np.ndarray:
        """One HRA compaction of level j (ReqCompactor.compact)."""
        p = self.sections[j]
        buf = np.sort(self.levels[j])
        buf_len = int(buf.size)
        secs = min(_trailing_ones(p["state"]) + 1, p["nsec"])
        non_compact = self._nom_capacity(j) // 2 + (p["nsec"] - secs) * p["sec"]
        if (buf_len - non_compact) & 1:
            non_compact += 1
        end = buf_len - non_compact  # HRA: compact the LOW region [0, end)
        if end < 2:
            self.levels[j] = buf
            return self._empty_arr()
        if p["state"] & 1:
            p["coin"] = not p["coin"]  # deterministic alternation
        else:
            p["coin"] = self._next_coin() == 1
        promoted = buf[(1 if p["coin"] else 0) : end : 2].copy()
        self.levels[j] = buf[end:].copy()
        p["state"] += 1
        self._ensure_sections(p, once=True)
        self.compacted = True
        self._sorted_cache = None
        return promoted

    def _ensure_sections(self, p: dict, once: bool = False) -> None:
        while p["state"] >= (1 << (p["nsec"] - 1)) and p["sec"] > self.MIN_SEC:
            ne = _nearest_even(p["secf"] / _SQRT2)
            if ne < self.MIN_SEC:
                return
            p["secf"] = p["secf"] / _SQRT2
            p["sec"] = ne
            p["nsec"] <<= 1
            if once:
                return

    def merge(self, other: "ReqSketch") -> None:
        if other.n == 0:
            # an empty partial carries no values and its (default)
            # dtype is meaningless -- an all-NULL partition must not
            # poison a typed merge (found by the quantile_clip
            # bigint-with-nulls test)
            return
        if other.dtype != self.dtype:
            if self.n == 0:
                self.dtype = other.dtype
                self.levels = [self._empty_arr()]
            else:
                # pandas renders a nullable int batch as float64, so
                # same-column partials can legally disagree on dtype:
                # promote to float64 (exact below 2^53) instead of
                # failing the merge; numpy upcasts the other side's
                # arrays during concatenation
                _guard_f64_promotable(self)
                _guard_f64_promotable(other)
                self._promote_to_float64()
        if other.n == 0:
            return
        self.k = min(self.k, other.k)
        while len(self.levels) < len(other.levels):
            self._grow()
        for j, lv in enumerate(other.levels):
            if lv.size:
                self.levels[j] = np.concatenate([self.levels[j], lv])
            if j < len(other.sections):
                p = self.sections[j]
                op = other.sections[j]
                # java ReqCompactor.merge: state |= other.state, then
                # loop ensureEnoughSections until stable
                p["state"] |= op["state"]
                self._ensure_sections(p)
        self.n += other.n
        if self.min_item is None:
            self.min_item, self.max_item = other.min_item, other.max_item
        else:
            self.min_item = min(self.min_item, other.min_item)
            self.max_item = max(self.max_item, other.max_item)
        self.compacted = self.compacted or other.compacted
        self._sorted_cache = None
        self._maybe_compress()

    # -- engine frame v2 (per-level compactor parameters preserved) ---

    def serialize(self) -> bytes:
        dt = _NP_DTYPES[self.dtype]
        mn = struct.pack(
            "<d", float(self.min_item) if self.min_item is not None else 0.0
        )
        mx = struct.pack(
            "<d", float(self.max_item) if self.max_item is not None else 0.0
        )
        if self.dtype == "int64":
            mn = struct.pack("<q", int(self.min_item) if self.min_item is not None else 0)
            mx = struct.pack("<q", int(self.max_item) if self.max_item is not None else 0)
        head = struct.pack(
            "<IBBQ", self.k, DTYPE_CODES[self.dtype], 1 if self.compacted else 0, self.n
        )
        body = struct.pack("<B", len(self.levels))
        for j, lv in enumerate(self.levels):
            p = self.sections[j]
            body += struct.pack(
                "<IQIfBB", lv.size, p["state"], p["sec"], p["secf"],
                p["nsec"], 1 if p["coin"] else 0,
            )
            body += np.ascontiguousarray(lv, dtype=dt).tobytes()
        return frame(self.FAMILY, head + mn + mx + body)

    @classmethod
    def deserialize(cls, blob: bytes) -> "ReqSketch":
        from .base import is_framed

        if not is_framed(blob):
            return cls.from_wire(blob)
        payload = unframe(blob, cls.FAMILY)
        try:
            k, dcode, compacted, n = struct.unpack_from("<IBBQ", payload, 0)
            dtype = DTYPE_FROM_CODE[dcode]
            off = 14
            if dtype == "int64":
                mn = struct.unpack_from("<q", payload, off)[0]
                mx = struct.unpack_from("<q", payload, off + 8)[0]
            else:
                mn = struct.unpack_from("<d", payload, off)[0]
                mx = struct.unpack_from("<d", payload, off + 8)[0]
            off += 16
            (num_levels,) = struct.unpack_from("<B", payload, off)
            off += 1
            sk = cls(k, dtype)
            sk.n = n
            sk.compacted = bool(compacted)
            sk.min_item = None if n == 0 else _NP_DTYPES[dtype](mn)
            sk.max_item = None if n == 0 else _NP_DTYPES[dtype](mx)
            sk.levels, sk.sections = [], []
            itemsize = np.dtype(_NP_DTYPES[dtype]).itemsize
            for _ in range(num_levels):
                count, state, sec, secf, nsec, coin = struct.unpack_from(
                    "<IQIfBB", payload, off
                )
                off += struct.calcsize("<IQIfBB")
                lv = np.frombuffer(
                    payload, dtype=_NP_DTYPES[dtype], count=count, offset=off
                )
                off += count * itemsize
                sk.levels.append(lv.copy())
                sk.sections.append(
                    {"sec": sec, "secf": secf, "nsec": nsec,
                     "state": state, "coin": bool(coin)}
                )
            if not sk.levels:
                sk.levels = [sk._empty_arr()]
                sk.sections = [sk._new_section()]
            return sk
        except (struct.error, ValueError, KeyError, IndexError) as exc:
            raise SketchDeserializeError(
                f"Failed to deserialize {cls.NAME} sketch"
            ) from exc

    # ---- Apache DataSketches wire format (REQ) ----
    #
    # The REQ serialized state is a list of per-compactor buffers at
    # weight 2^lgWeight — structurally identical to this engine's
    # level stack — so the projection needs no restructuring: each
    # level exports as one compactor (state=0, sectionSize=k,
    # numSections=3: java's fresh-compactor fields, consistent with
    # its nominal-capacity invariant 2*3*k >= our 4k retained cap),
    # and each imported compactor's buffer becomes the level at its
    # lgWeight.  Rank/quantile/cdf answers are computed from
    # (items, weights) in both engines, so queries agree exactly on
    # crossed state.  float32 is the datasketches-java item type
    # (verified live); float64/int64 mirror the reference's templated
    # C++ variants with the same layout at their item widths.

    _WIRE_WIDTHS = {
        "float64": ("<d", 8),
        "float32": ("<f", 4),
        "int64": ("<q", 8),
        "int32": ("<i", 4),
    }

    def to_wire(self) -> bytes:
        """Serialize as an Apache DataSketches REQ sketch (serVer 1,
        family 17, HRA mode — the reference's only mode).  The empty
        and raw (n<=4) forms byte-match the reference's golden blobs
        (test/sql/datasketch_req.test:14-17).  An int64 sketch writes
        8-byte integer items — the reference's ``sketch_req_bigint``
        layout (codegen/generator.py:49-60); the preamble carries no
        item type, so the consumer must pick the typed reader
        (``from_wire(blob, 'int64')`` / SQL
        ``datasketch_req_from_wire_bigint``)."""
        fmt, width = self._WIRE_WIDTHS[self.dtype]
        k = int(self.k)
        if self.n == 0:
            return struct.pack(
                "<BBBBHBB", 2, _REQ_WIRE_SER_VER, _REQ_WIRE_FAMILY,
                _REQ_FLAG_EMPTY | _REQ_FLAG_HRA | _REQ_FLAG_RAW | _REQ_FLAG_SORTED,
                k, 0, 0,
            )
        levels = list(self.levels)
        while len(levels) > 1 and levels[-1].size == 0:
            levels.pop()
        if self.n <= 4:
            items = np.sort(levels[0])
            return (
                struct.pack(
                    "<BBBBHBB", 2, _REQ_WIRE_SER_VER, _REQ_WIRE_FAMILY,
                    _REQ_FLAG_HRA | _REQ_FLAG_RAW | _REQ_FLAG_SORTED,
                    k, 1, int(self.n),
                )
                + np.ascontiguousarray(items).tobytes()
            )

        def compactor(j: int, lv: np.ndarray) -> bytes:
            # real per-level compactor parameters (round-5 REQ core)
            p = self.sections[j] if j < len(self.sections) else self._new_section()
            return (
                struct.pack("<Qf", int(p["state"]), float(p["secf"]))
                + struct.pack("<BBH", j, int(p["nsec"]), 0)
                + struct.pack("<I", int(lv.size))
                + np.ascontiguousarray(np.sort(lv)).tobytes()
            )

        if len(levels) == 1:  # EXACT: one compactor, n == its count
            return (
                struct.pack(
                    "<BBBBHBB", 2, _REQ_WIRE_SER_VER, _REQ_WIRE_FAMILY,
                    _REQ_FLAG_HRA | _REQ_FLAG_SORTED, k, 1, 0,
                )
                + compactor(0, levels[0])
            )
        head = struct.pack(
            "<BBBBHBB", 4, _REQ_WIRE_SER_VER, _REQ_WIRE_FAMILY,
            _REQ_FLAG_HRA | _REQ_FLAG_SORTED, k, len(levels), 0,
        )
        head += struct.pack("<Q", self.n)
        head += struct.pack(fmt, self.min_item) + struct.pack(fmt, self.max_item)
        return head + b"".join(compactor(j, lv) for j, lv in enumerate(levels))

    @classmethod
    def from_wire(cls, blob: bytes, dtype: str | None = None) -> "ReqSketch":
        """Parse an Apache REQ blob (all four formats).  The preamble
        has no item type; with ``dtype=None`` the reader tries float32
        (the datasketches-java width) and falls back to float64 via
        the exact length identity of the compactor blocks.  Integer
        blobs (the reference's ``sketch_req_bigint``/``_integer``)
        are width-indistinguishable from the float ones and must be
        named: ``dtype='int64'``/``'int32'`` (int32 widens to the
        engine's int64)."""
        err = SketchDeserializeError("Failed to deserialize REQ sketch")
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 8:
            raise err
        blob = bytes(blob)
        if dtype is None:
            for dt in ("float32", "float64"):
                try:
                    return cls.from_wire(blob, dt)
                except SketchDeserializeError:
                    continue
            raise err
        pre_ints, ser_ver, family, flags, k, num_levels, raw_count = (
            struct.unpack_from("<BBBBHBB", blob, 0)
        )
        if family != _REQ_WIRE_FAMILY or ser_ver != _REQ_WIRE_SER_VER:
            raise err
        if k < cls.K_MIN or k > cls.K_MAX or k % 2:
            raise err
        fmt, width = cls._WIRE_WIDTHS[dtype]
        engine_dtype = "int64" if dtype == "int32" else dtype
        read_dt = np.int32 if dtype == "int32" else _NP_DTYPES[dtype]
        np_dt = _NP_DTYPES[engine_dtype]
        sk = cls(k, engine_dtype)
        if flags & _REQ_FLAG_EMPTY:
            if len(blob) != 8:
                raise err
            return sk
        if flags & _REQ_FLAG_RAW:
            if raw_count < 1 or len(blob) != 8 + raw_count * width:
                raise err
            items = np.frombuffer(blob, dtype=read_dt, count=raw_count, offset=8)
            sk.update(items.copy())
            return sk

        def read_compactor(off: int):
            if len(blob) < off + 20:
                raise err
            state, secf = struct.unpack_from("<Qf", blob, off)
            lg_weight, num_sec, _ = struct.unpack_from("<BBH", blob, off + 12)
            (count,) = struct.unpack_from("<I", blob, off + 16)
            end = off + 20 + count * width
            # count == 0 is legal: java's ReqSerDe serializes EVERY
            # compactor in the list, and a merged sketch can hold an
            # empty middle level -- rejecting it would refuse valid
            # Apache blobs (and our own gap-level re-exports)
            if count > 0xFFFFFF or len(blob) < end:
                raise err
            items = np.frombuffer(
                blob, dtype=read_dt, count=count, offset=off + 20
            )
            items = (
                items.astype(np.int64) if read_dt is np.int32 else items.copy()
            )
            params = {
                "sec": max(cls.MIN_SEC, _nearest_even(secf)),
                "secf": float(secf) if secf >= cls.MIN_SEC else float(k),
                "nsec": max(1, int(num_sec)),
                "state": int(state),
                "coin": False,
            }
            return lg_weight, items, params, end

        if pre_ints == 2:  # EXACT: single compactor
            lg_w, items, params, end = read_compactor(8)
            if lg_w != 0 or end != len(blob) or items.size < 1:
                raise err
            sk.levels = [np.sort(items)]
            sk.sections = [params]
            sk.n = int(items.size)
            sk.min_item = items.min()
            sk.max_item = items.max()
            sk._sorted_cache = None
            return sk
        if pre_ints != 4 or num_levels < 1 or len(blob) < 16 + 2 * width:
            raise err
        (n,) = struct.unpack_from("<Q", blob, 8)
        off = 16
        mn = np_dt(struct.unpack_from(fmt, blob, off)[0])
        mx = np_dt(struct.unpack_from(fmt, blob, off + width)[0])
        off += 2 * width
        levels: list[np.ndarray] = []
        sections: list[dict] = []
        for _ in range(num_levels):
            lg_w, items, params, off = read_compactor(off)
            while len(levels) <= lg_w:
                levels.append(np.empty(0, dtype=np_dt))
                sections.append(sk._new_section())
            levels[lg_w] = np.sort(items)
            sections[lg_w] = params
        if off != len(blob):
            raise err
        retained = sum(int(lv.size) for lv in levels)
        total_weight = sum(int(lv.size) << j for j, lv in enumerate(levels))
        if n < retained or total_weight != n:
            raise err
        sk.levels = levels
        sk.sections = sections
        sk.n = int(n)
        sk.min_item = mn
        sk.max_item = mx
        sk.compacted = len(levels) > 1 or n > retained
        sk._sorted_cache = None
        return sk
