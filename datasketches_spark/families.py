"""Family adapters: uniform create/update/merge over the 8 sketch cores.

This is the glue the Spark layer (aggregation.py, functions/) uses so
that every aggregate behaves like the reference's overload sets: fed
raw values it *builds*, fed sketch blobs it *merges* (reference
docs/README.md:346-348 -- "This same aggregate function can perform a
union of multiple sketches").  Dispatch is on the declared Spark/Arrow
type of the input (:func:`spark_value_kind`, :func:`from_arrow`):
binary -> merge, anything else -> build, through :func:`prepare` and
:func:`update_prepared` (composed by :func:`fold`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .murmur import murmur3_rows, theta_hash_rows
from .sketches.base import has_nulls, is_framed
from .sketches import (
    AodSketch,
    ApacheBloomFilter,
    BloomFilterSketch,
    FdtSketch,
    CountMinSketch,
    CpcSketch,
    EbppsSketch,
    FrequentItemsSketch,
    HllSketch,
    KllItemsSketch,
    KllSketch,
    QuantilesSketch,
    ReqSketch,
    ReservoirSampleSketch,
    StatsSketch,
    TDigestSketch,
    ThetaSketch,
)

QUANTILE_FAMILIES = {"quantiles": QuantilesSketch, "kll": KllSketch, "req": ReqSketch}

FAMILY_CLASSES = {
    "theta": ThetaSketch,
    "kll": KllSketch,
    "kll_items": KllItemsSketch,
    "quantiles": QuantilesSketch,
    "req": ReqSketch,
    "tdigest": TDigestSketch,
    "hll": HllSketch,
    "cpc": CpcSketch,
    "frequent_items": FrequentItemsSketch,
    "bloom": BloomFilterSketch,
    "reservoir": ReservoirSampleSketch,
    "cms": CountMinSketch,
    "stats": StatsSketch,
    "ebpps": EbppsSketch,
    "aod": AodSketch,
    "bloomfilter": ApacheBloomFilter,
    "fdt": FdtSketch,
}


def spark_value_kind(data_type) -> "str | None":
    """'int64' for integral Spark column types, else None — the hint
    :func:`coerce_value_batch` needs to undo pandas' nullable-int
    upcast in Arrow workers."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if isinstance(data_type, (ByteType, ShortType, IntegerType, LongType)):
        return "int64"
    return None


def coerce_value_batch(series: pd.Series, kind: "str | None", weights=None):
    """Undo pandas' nullable-int rendering before sketch updates.

    An integral Spark column whose Arrow batch contains NULLs arrives
    as float64-with-NaN, and sketch semantics are dtype-sensitive:
    5 (int) and 5.0 (double) murmur-hash DIFFERENTLY (reference
    parity), quantile sketches are typed, and sampling families
    stringify items.  Found live: with one null-bearing and one clean
    partition, sketch_agg's theta path double-counted every
    overlapping value (int-hashed in one partial, double-hashed in the
    other).  Drops the NULL rows (aligned with ``weights`` when
    given) and restores int64."""
    series, keep = _coerce_rows(series, kind)
    if weights is not None:
        return series, weights if keep is None else weights[keep]
    return series


def _coerce_rows(series: pd.Series, kind: "str | None"):
    """:func:`coerce_value_batch` as ``(series, keep)``: ``keep`` masks
    the surviving input rows (``None``: all of them)."""
    if kind == "int64" and series.dtype.kind == "f":
        keep = series.notna().to_numpy()
        return series[keep].astype(np.int64), keep
    return series, None


def _narrow(keep, sub):
    """Compose a row mask with a mask over its surviving rows."""
    if sub is None or sub.all():
        return keep
    if keep is None:
        return sub
    keep = keep.copy()
    keep[keep] = sub
    return keep


def infer_value_dtype(series) -> str:
    """Quantile sketch dtype of a value Series or numpy array."""
    dtype = series.dtype
    if dtype.kind in "iu" or dtype == object and len(series) and isinstance(
        series.iloc[0] if isinstance(series, pd.Series) else series[0],
        (int, np.integer),
    ):
        return "int64"
    if dtype == np.float32:
        return "float32"
    return "float64"


def create_sketch(family: str, params: dict):
    params = dict(params or {})
    if family == "theta":
        return ThetaSketch(int(params.get("lg_k", 12)))
    if family in QUANTILE_FAMILIES:
        return QUANTILE_FAMILIES[family](
            int(params.get("k", 200)), params.get("dtype", "float64")
        )
    if family == "kll_items":
        return KllItemsSketch(int(params.get("k", 200)))
    if family == "tdigest":
        return TDigestSketch(int(params.get("k", 100)))
    if family == "hll":
        return HllSketch(int(params.get("lg_k", 12)))
    if family == "cpc":
        return CpcSketch(int(params.get("lg_k", 12)))
    if family == "frequent_items":
        return FrequentItemsSketch(int(params.get("lg_max_k", 10)))
    if family == "bloom":
        return BloomFilterSketch(
            int(params.get("lg_m", 20)), int(params.get("num_hashes", 6))
        )
    if family == "reservoir":
        return ReservoirSampleSketch(int(params.get("k", 1024)))
    if family == "ebpps":
        return EbppsSketch(int(params.get("k", 1024)))
    if family == "aod":
        lgk = params.get("lg_k")
        # no declared K -> a merge accumulator that adopts the first
        # blob's lg_k (k-less union/rollup paths stay lossless)
        return AodSketch(
            None if lgk is None else int(lgk), int(params.get("num_values", 1))
        )
    if family == "fdt":
        lgk = params.get("lg_k")
        # no declared K -> adopt the first blob's lg_k on merge
        return FdtSketch(None if lgk is None else int(lgk))
    if family == "bloomfilter":
        return ApacheBloomFilter(
            1 << int(params.get("lg_m", 20)),
            int(params.get("num_hashes", 6)),
            int(params.get("seed", 9001)),
        )
    if family == "cms":
        return CountMinSketch(
            int(params.get("lg_w", 16)), int(params.get("depth", 5))
        )
    if family == "stats":
        return StatsSketch()
    raise ValueError(f"unknown sketch family: {family}")


def is_blob_series(series) -> bool:
    if series.dtype != object:
        return False
    for v in series:
        if v is None or (isinstance(v, float) and v != v):
            continue
        return isinstance(v, (bytes, bytearray))
    return False


def prepare(
    family: str,
    series: pd.Series,
    kind: "str | None" = None,
    blobs: bool = False,
    weights=None,
):
    """One batch's update input for ``family``, computed once per batch
    and sliced per group by the fold kernel: ``(values, keep)``.

    ``keep`` masks the input rows that reach the sketch (``None``: all
    of them) and ``values`` is aligned to those rows:

    - ``blobs``: the non-NULL blob cells (an object array);
    - otherwise the values coerced through :func:`coerce_value_batch`
      (``kind``), NULLs dropped -- except for ``stats``, which must see
      them -- and for theta / HLL / CPC already hashed, without the
      rows the hash skips (empty strings or bytes, zero theta hashes):
      theta hashes, HLL ``(h1, coupon values)``, CPC ``(h1, h2)``;
    - ``weights`` (reservoir / ebpps row weights, or the aod summary
      columns) ride along: ``(values, weights)`` for sampling (the
      sketch drops NULL and non-positive weights itself), ``(hashes,
      summary matrix)`` for aod.

    :func:`update_prepared` folds a slice of ``values`` into a sketch."""
    if blobs:
        keep = series.notna().to_numpy()
        return series.to_numpy()[keep], keep
    s, keep = _coerce_rows(series, kind)
    if family in ("reservoir", "ebpps") and weights is not None:
        return (s, weights if keep is None else weights[keep]), keep
    if family == "stats":
        # the one family that must SEE the NULLs: its null count is
        # n - nonnull, so the rows coercion dropped come back as <NA>
        if keep is not None:
            s = series.astype("Int64")
        return s, None
    if has_nulls(s):
        nn = s.notna().to_numpy()
        s = s[nn]
        keep = _narrow(keep, nn)
    if family in ("theta", "aod"):
        h, sub = theta_hash_rows(s)
        keep = _narrow(keep, sub)
        # theta; an aod batch without summary rows is rejected on update
        if weights is None:
            return h, keep
        vals = weights.to_numpy(dtype="float64", na_value=0.0)
        return (h, vals if keep is None else vals[keep]), keep
    if family in ("hll", "cpc"):
        h1, h2, sub = murmur3_rows(s)
        if family == "hll":
            h2 = HllSketch.coupon_values(h2)
        return (h1, h2), _narrow(keep, sub)
    if family in QUANTILE_FAMILIES or family == "tdigest":
        if s.dtype == object and isinstance(
            next((v for v in s if v is not None), None), str
        ):
            # The reference binds numeric overloads only for the
            # quantile families (codegen/generator.py:46-60); mirror
            # DuckDB's binder rejection instead of a numpy cast error.
            raise ValueError(
                "No function matches the given name and argument types "
                f"'datasketch_{family}(VARCHAR)': "
                f"{family} sketches accept numeric values only. "
                "You might need to add explicit type casts."
            )
        return s.to_numpy(), keep
    return s, keep


def update_prepared(family: str, sk, values, blobs: bool = False) -> None:
    """Fold a (slice of a) :func:`prepare` result into ``sk``."""
    if family in ("reservoir", "ebpps") and isinstance(values, tuple):
        sk.update_series(values[0], weights=values[1])
        return
    if family == "stats" and not blobs:
        sk.update_series(values)
        return
    if len(values[0] if isinstance(values, tuple) else values) == 0:
        return
    if blobs:
        cls = FAMILY_CLASSES[family]
        if family in ("hll", "cpc"):
            # Reference parity: HLL/CPC accept raw BLOB *values* in
            # addition to sketch blobs (generator.py:30-44 lists BLOB
            # among the allowed input types). Spark has no catalog type
            # alias to distinguish sketch_hll from plain BINARY, so
            # dispatch per value on the DSKS frame magic OR the Apache
            # wire preamble (serVer/family/lgK — the reference's typed
            # blobs ARE that format): sketch blobs merge, anything
            # else is hashed as a raw byte value.
            raw = []
            for blob in values:
                b = bytes(blob)
                if is_framed(b) or cls.sniff_wire(b):
                    sk.merge(cls.deserialize(b))
                else:
                    raw.append(b)
            if raw:
                sk.update_values(pd.Series(raw, dtype=object))
            return
        for blob in values:
            sk.merge(cls.deserialize(bytes(blob)))
        return
    if family == "theta":
        sk.update_hashes(values)
    elif family == "hll":
        sk.update_coupons(*values)
    elif family == "cpc":
        sk.update_hashes(*values)
    elif family == "bloom":
        sk.update_values(values)
    elif family in QUANTILE_FAMILIES or family == "tdigest":
        sk.update(values)
    elif family in (
        "bloomfilter", "frequent_items", "reservoir", "cms", "ebpps", "fdt",
        "kll_items",
    ):
        sk.update_series(values)
    elif family == "aod":
        if not isinstance(values, tuple):
            raise ValueError(
                "datasketch_aod builds from (key, values) pairs — use "
                "aggregation.tuple_sketch_agg or the datasketch_aod SQL "
                "aggregate; this path only merges tuple sketch blobs"
            )
        sk.update_hashes(*values)
    else:  # pragma: no cover
        raise ValueError(f"unknown sketch family: {family}")


def from_arrow(arr) -> "tuple[pd.Series, str | None, bool]":
    """``(series, kind, blobs)`` of an Arrow UDF argument: the Series a
    pandas UDF would see (pyspark converts with the same options), the
    :func:`coerce_value_batch` kind of its type and whether it carries
    sketch blobs (a BINARY column merges)."""
    import pyarrow as pa

    series = arr.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    if pa.types.is_timestamp(arr.type) and arr.type.tz is not None:
        series = series.dt.tz_localize(None)  # session-local wall time
    kind = "int64" if pa.types.is_integer(arr.type) else None
    blobs = pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type)
    return series, kind, blobs


def aod_summaries(arrays, width: "int | None" = None, name: str = "datasketch_aod"):
    """The aod summary matrix of an ``array<double>`` column (one row
    per input row, as a DataFrame :func:`prepare` takes for ``weights``)
    under SQL SUM rules: a NULL array or element counts as 0.0 and the
    key is still seen.  Every array must have the same length: that of
    the first non-NULL one, at least ``width``."""
    first = next((a for a in arrays if a is not None), None)
    m = max(1 if first is None else len(first), width or 0)
    mat = np.zeros((len(arrays), m), dtype=np.float64)
    for i, a in enumerate(arrays):
        if a is not None:
            if len(a) != m:
                raise ValueError(
                    f"{name}: summary arrays must have a constant length "
                    f"(got {len(a)}, expected {m})"
                )
            mat[i] = np.asarray(a, dtype=np.float64)
    return pd.DataFrame(mat)


def fold(sk, family: str, k, series: pd.Series, kind=None, blobs=False, weights=None):
    """Fold one batch into ``sk``, creating it on first sight
    (``sk is None``) from ``k`` and the prepared values' dtype;
    returns the sketch.  ``weights``: sampling weights, or the
    :func:`aod_summaries` of an aod build."""
    values = prepare(family, series, kind, blobs, weights)[0]
    if sk is None:
        params = build_params(family, k, None if blobs else values)
        if family == "aod" and weights is not None:
            from .sketches.tuple_aod import DEFAULT_LG_K

            params.setdefault("lg_k", DEFAULT_LG_K)
            params["num_values"] = weights.shape[1]
        sk = create_sketch(family, params)
    update_prepared(family, sk, values, blobs)
    return sk


def update_sketch(family: str, sk, series: pd.Series, merge: bool = False) -> None:
    """Feed one Arrow batch into a sketch: values build, blobs merge --
    :func:`prepare` and :func:`update_prepared` composed.

    ``merge=True`` declares the series is sketch blobs even when every
    value is NULL (an all-NULL series carries no type evidence).  Only
    the stats family needs the hint: every other family drops NULLs
    before doing anything, but stats counts NULLs on its *build* path,
    so an all-NULL blob series would otherwise be miscounted as rows.
    """
    blobs = merge or is_blob_series(series)
    update_prepared(family, sk, prepare(family, series, blobs=blobs)[0], blobs)


def build_params(family: str, k: int | None, series: pd.Series | None) -> dict:
    """Resolve constructor params from a constant-K argument plus the
    batch dtype (typed quantile sketches, SURVEY.md §1.2)."""
    params: dict = {}
    if family in ("theta", "aod", "fdt"):
        if k is not None:
            params["lg_k"] = k
    elif family in ("hll", "cpc"):
        if k is not None:
            params["lg_k"] = k
    elif family == "frequent_items":
        if k is not None:
            params["lg_max_k"] = k
    elif family in ("bloom", "bloomfilter"):
        if k is not None:
            params["lg_m"] = k
    elif family in ("reservoir", "ebpps"):
        if k is not None:
            params["k"] = k
    elif family == "cms":
        if k is not None:
            params["lg_w"] = k
    else:
        if k is not None:
            params["k"] = k
    if family in QUANTILE_FAMILIES and series is not None and not is_blob_series(series):
        params["dtype"] = infer_value_dtype(series)
    return params
