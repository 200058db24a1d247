"""Scalar sketch-query functions as Arrow-vectorized UDFs.

Queries of the sketch alone are pandas UDFs; the item probes are Arrow
UDFs, so the probed column's declared type reaches the coercion
(:func:`_item_probe`).

One UDF per reference scalar name (SURVEY.md §2.2 tables; generated
spec /root/reference/codegen/generator.py:132-528, hand-written Theta
src/theta_sketch.cpp:221-354 and Frequent Items
src/frequent_items_sketch.cpp:193-348).

Execution shape mirrors the reference's chunk-at-a-time executors
(generator.py:531-539) with one improvement it doesn't have: blob
deserialization is memoized per Arrow batch (SURVEY.md §3 noted this
easy win), so querying the same stored sketch across many rows decodes
it once per batch instead of per row.

SQL note: the optional ``inclusive`` / describe-verbosity arguments
DuckDB provides via arity overloads (codegen/generator.py:156-196)
work here too: Spark Python UDFs are not arity-checked at analysis
time, so one registration with defaulted trailing parameters serves
every arity -- ``datasketch_kll_quantile(sk, 0.5)`` and
``(sk, 0.5, true)`` both bind (default ``inclusive=true``, describe
flags default false except HLL/CPC summary=true, matching the Python
API defaults).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.functions import arrow_udf, pandas_udf

from ..families import coerce_value_batch, from_arrow
from ..murmur import DEFAULT_SEED_HASH
from ..sketches import (
    AodSketch,
    aod_a_not_b,
    aod_intersect,
    aod_to_theta,
    aod_union,
    ApacheBloomFilter,
    bloomfilter_intersect,
    bloomfilter_union,
    BloomFilterSketch,
    FdtSketch,
    fdt_union,
    CountMinSketch,
    CpcSketch,
    FrequentItemsSketch,
    HllSketch,
    KllItemsSketch,
    KllSketch,
    QuantilesSketch,
    ReqSketch,
    EbppsSketch,
    ReservoirSampleSketch,
    StatsSketch,
    TDigestSketch,
    ThetaSketch,
    bloom_intersect,
    bloom_union,
    theta_a_not_b,
    theta_intersect,
    theta_union,
)

_QUANTILE_FAMILIES = [
    ("quantiles", QuantilesSketch),
    ("kll", KllSketch),
    ("req", ReqSketch),
]


def _deser_batch(cls, s: pd.Series) -> list:
    cache: dict[bytes, object] = {}
    out = []
    for b in s:
        if b is None:
            out.append(None)
            continue
        key = bytes(b)
        sk = cache.get(key)
        if sk is None:
            sk = cache[key] = cls.deserialize(key)
        out.append(sk)
    return out


def _obj_series(values: list) -> pd.Series:
    return pd.Series(values, dtype=object)


def _unary(cls, fn: Callable, ret: str):
    @pandas_udf(ret)
    def udf(s: pd.Series) -> pd.Series:
        return _obj_series([None if sk is None else fn(sk) for sk in _deser_batch(cls, s)])

    return udf


def _with_args(cls, fn: Callable, ret: str, nargs: int, opt: tuple = ()):
    """UDF factory for ``fn(sketch, *args)`` with up to ``nargs`` extra
    args, the last ``len(opt)`` of which are OPTIONAL with the given
    defaults -- the arity-overload surface DuckDB's binder provides
    (reference codegen/generator.py:156-196: ``inclusive`` / describe
    verbosity).  Spark Python UDFs are not arity-checked at analysis
    time, so a single registration with defaulted trailing parameters
    serves every arity; an omitted (or NULL) trailing arg takes its
    default."""
    n_req = nargs - len(opt)

    def _fill(col, n: int, i: int):
        # omitted arg -> whole-column default; NULL cell -> default too
        if col is None:
            if i < n_req:
                raise TypeError(
                    f"missing required argument {i + 2} (sketch is argument 1)"
                )
            return [opt[i - n_req]] * n
        if i >= n_req:
            d = opt[i - n_req]
            return [d if v is None else v for v in col]
        return list(col)

    if nargs == 1:
        if opt:

            @pandas_udf(ret)
            def udf(s: pd.Series, a: pd.Series = None) -> pd.Series:
                sks = _deser_batch(cls, s)
                av = _fill(a, len(sks), 0)
                return _obj_series(
                    [None if sk is None else fn(sk, x) for sk, x in zip(sks, av)]
                )

        else:

            @pandas_udf(ret)
            def udf(s: pd.Series, a: pd.Series) -> pd.Series:
                sks = _deser_batch(cls, s)
                return _obj_series(
                    [
                        None if sk is None or x is None else fn(sk, x)
                        for sk, x in zip(sks, a)
                    ]
                )

    else:
        if opt:

            @pandas_udf(ret)
            def udf(
                s: pd.Series, a: pd.Series = None, b: pd.Series = None
            ) -> pd.Series:
                sks = _deser_batch(cls, s)
                av = _fill(a, len(sks), 0)
                bv = _fill(b, len(sks), 1)
                return _obj_series(
                    [
                        None
                        if sk is None or (0 < n_req and x is None)
                        else fn(sk, x, y)
                        for sk, x, y in zip(sks, av, bv)
                    ]
                )

        else:

            @pandas_udf(ret)
            def udf(s: pd.Series, a: pd.Series, b: pd.Series) -> pd.Series:
                sks = _deser_batch(cls, s)
                return _obj_series(
                    [
                        None if sk is None or x is None else fn(sk, x, y)
                        for sk, x, y in zip(sks, a, b)
                    ]
                )

    return udf


def _item_probe(cls, probe: Callable, ret: str):
    """UDF for ``probe(sketch, items) -> one result per item``: Bloom
    membership, Count-Min and frequent-items counts.

    Items are coerced with the kind of their declared type, so a NULL
    in a BIGINT batch does not turn 5 into 5.0 (which hashes as a
    double and misses).  Rows are grouped per distinct blob: the common
    case is one broadcast sketch probed by a whole column, which is
    deserialized once and probed in one pass.  A NULL blob or item
    gives NULL."""

    @arrow_udf(ret)
    def udf(s: pa.Array, items: pa.Array) -> pa.Array:
        series, kind, _ = from_arrow(items)
        out = np.full(len(s), None, dtype=object)
        enc = s.dictionary_encode()
        codes = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
        live = np.flatnonzero((codes >= 0) & series.notna().to_numpy())
        order = live[np.argsort(codes[live], kind="stable")]
        for idx in np.split(order, np.flatnonzero(np.diff(codes[order])) + 1):
            if idx.size:
                sk = cls.deserialize(enc.dictionary[codes[idx[0]]].as_py())
                out[idx] = list(probe(sk, coerce_value_batch(series.iloc[idx], kind)))
        return pa.array(out.tolist(), type=pa.bool_() if ret == "boolean" else pa.int64())

    return udf


def _pair_metric(cls, fn: Callable, ret: str):
    @pandas_udf(ret)
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        sa = _deser_batch(cls, a)
        sb = _deser_batch(cls, b)
        return _obj_series(
            [
                None if x is None or y is None else fn(x, y)
                for x, y in zip(sa, sb)
            ]
        )

    return udf


def _psi_udf(cls):
    @pandas_udf("double")
    def udf(a: pd.Series, b: pd.Series, splits: pd.Series) -> pd.Series:
        sa = _deser_batch(cls, a)
        sb = _deser_batch(cls, b)
        return _obj_series(
            [
                None if x is None or y is None or sp is None
                else float(x.psi(y, list(sp)))
                for x, y, sp in zip(sa, sb, splits)
            ]
        )

    return udf


def _sketch_pair(cls, fn: Callable):
    @pandas_udf("binary")
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        sa = _deser_batch(cls, a)
        sb = _deser_batch(cls, b)
        return _obj_series(
            [
                None if x is None or y is None else fn(x, y).serialize()
                for x, y in zip(sa, sb)
            ]
        )

    return udf


_FREQ_ROW_SCHEMA = (
    "array<struct<item: string, estimate: long, lower_bound: long, upper_bound: long>>"
)


def build_scalar_registry() -> dict[str, object]:
    """All scalar UDFs keyed by their SQL/reference name."""
    reg: dict[str, object] = {}

    # ---- quantile families: Quantiles, KLL, REQ ----
    for fam, cls in _QUANTILE_FAMILIES:
        p = f"datasketch_{fam}_"
        reg[p + "is_empty"] = _unary(cls, lambda sk: bool(sk.is_empty), "boolean")
        reg[p + "k"] = _unary(cls, lambda sk: int(sk.k), "int")
        reg[p + "n"] = _unary(cls, lambda sk: int(sk.n), "long")
        reg[p + "is_estimation_mode"] = _unary(
            cls, lambda sk: bool(sk.is_estimation_mode), "boolean"
        )
        reg[p + "num_retained"] = _unary(cls, lambda sk: int(sk.num_retained), "long")
        reg[p + "min_item"] = _unary(
            cls, lambda sk: None if sk.is_empty else float(sk.get_min_item()), "double"
        )
        reg[p + "max_item"] = _unary(
            cls, lambda sk: None if sk.is_empty else float(sk.get_max_item()), "double"
        )
        reg[p + "rank"] = _with_args(
            cls, lambda sk, v, inc: float(sk.get_rank(float(v), bool(inc))),
            "double", 2, opt=(True,),
        )
        reg[p + "quantile"] = _with_args(
            cls,
            lambda sk, q, inc: None
            if sk.is_empty
            else float(sk.get_quantile(float(q), bool(inc))),
            "double",
            2,
            opt=(True,),
        )
        reg[p + "cdf"] = _with_args(
            cls,
            lambda sk, sp, inc: sk.get_cdf(list(sp), bool(inc)),
            "array<double>",
            2,
            opt=(True,),
        )
        reg[p + "pmf"] = _with_args(
            cls,
            lambda sk, sp, inc: sk.get_pmf(list(sp), bool(inc)),
            "array<double>",
            2,
            opt=(True,),
        )
        reg[p + "describe"] = _with_args(
            cls, lambda sk, a, b: sk.describe(bool(a), bool(b)),
            "string", 2, opt=(False, False),
        )
        if fam in ("quantiles", "kll"):
            reg[p + "normalized_rank_error"] = _with_args(
                cls, lambda sk, pmf: float(sk.normalized_rank_error(bool(pmf))), "double", 1
            )
        # beyond-reference drift surface: two-sample KS distance and
        # binned PSI (exact in exact mode; see CompactorSketch)
        reg[p + "ks"] = _pair_metric(
            cls, lambda a, b: float(a.ks_distance(b)), "double"
        )
        reg[p + "psi"] = _psi_udf(cls)

    # Apache DataSketches wire interop for KLL (the reference's KLL
    # blobs ARE this format): export any KLL blob as an Apache
    # doubles/floats sketch, import Apache blobs into the engine frame.
    # Import is also implicit — every KLL reader sniffs wire blobs.
    p = "datasketch_kll_"
    reg[p + "to_wire"] = _unary(KllSketch, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(KllSketch, lambda sk: sk.serialize(), "binary")
    # ... and for classic Quantiles + REQ (round 5 — with these, all
    # eight reference families cross systems).  Quantiles blobs are the
    # Apache DoublesSketch layout (lossless: the engine state IS the
    # Apache MRL state); REQ blobs are the Apache REQ layout (levels
    # export as compactors).  Readers sniff both formats implicitly.
    p = "datasketch_quantiles_"
    reg[p + "to_wire"] = _unary(QuantilesSketch, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(
        QuantilesSketch, lambda sk: sk.serialize(), "binary"
    )
    p = "datasketch_req_"
    reg[p + "to_wire"] = _unary(ReqSketch, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(ReqSketch, lambda sk: sk.serialize(), "binary")

    # beyond-reference string-items KLL (sketches/kll_items.py):
    # quantiles over ORDERED STRINGS.  Same scalar surface as the
    # numeric quantile families with string-typed item positions;
    # to_wire/from_wire speak the Apache KllItemsSketch +
    # ArrayOfStringsSerDe format (live-java differential,
    # tests/test_kll_items_wire.py).
    p = "datasketch_kll_items_"
    ki = KllItemsSketch
    reg[p + "is_empty"] = _unary(ki, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "k"] = _unary(ki, lambda sk: int(sk.k), "int")
    reg[p + "n"] = _unary(ki, lambda sk: int(sk.n), "long")
    reg[p + "is_estimation_mode"] = _unary(
        ki, lambda sk: bool(sk.is_estimation_mode), "boolean"
    )
    reg[p + "num_retained"] = _unary(ki, lambda sk: int(sk.num_retained), "long")
    reg[p + "min_item"] = _unary(
        ki, lambda sk: None if sk.is_empty else sk.get_min_item(), "string"
    )
    reg[p + "max_item"] = _unary(
        ki, lambda sk: None if sk.is_empty else sk.get_max_item(), "string"
    )
    reg[p + "rank"] = _with_args(
        ki, lambda sk, v, inc: float(sk.get_rank(str(v), bool(inc))),
        "double", 2, opt=(True,),
    )
    reg[p + "quantile"] = _with_args(
        ki,
        lambda sk, q, inc: None
        if sk.is_empty
        else sk.get_quantile(float(q), bool(inc)),
        "string",
        2,
        opt=(True,),
    )
    reg[p + "cdf"] = _with_args(
        ki,
        lambda sk, sp, inc: sk.get_cdf([str(x) for x in sp], bool(inc)),
        "array<double>",
        2,
        opt=(True,),
    )
    reg[p + "pmf"] = _with_args(
        ki,
        lambda sk, sp, inc: sk.get_pmf([str(x) for x in sp], bool(inc)),
        "array<double>",
        2,
        opt=(True,),
    )
    reg[p + "describe"] = _with_args(
        ki, lambda sk, a, b: sk.describe(bool(a), bool(b)),
        "string", 2, opt=(False, False),
    )
    reg[p + "normalized_rank_error"] = _with_args(
        ki, lambda sk, pmf: float(sk.normalized_rank_error(bool(pmf))), "double", 1
    )
    reg[p + "to_wire"] = _unary(ki, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(ki, lambda sk: sk.serialize(), "binary")

    # Integer-typed wire import (round 8): the reference registers
    # sketch_kll_bigint / sketch_kll_integer etc. per DuckDB type
    # (codegen/generator.py:49-60) and its C++ serializes
    # kll_sketch<T> at sizeof(T)-byte items.  The Apache preamble
    # carries NO item type, so an integer blob is byte-ambiguous with
    # a float one of the same width — these typed readers are how the
    # caller names the type, exactly like Apache's typed heapify
    # entry points.  int32 items widen losslessly to the engine's
    # int64 representation.  DSKS-framed blobs pass through untouched
    # (idempotent import, any dtype).
    def _wire_import(cls, wire_dtype: str):
        from ..sketches.base import is_framed

        @pandas_udf("binary")
        def udf(s: pd.Series) -> pd.Series:
            # per-batch memo, like _deser_batch: a stored blob queried
            # across many rows converts once per Arrow batch
            cache: dict[bytes, bytes] = {}
            out = []
            for b in s:
                if b is None:
                    out.append(None)
                    continue
                key = bytes(b)
                v = cache.get(key)
                if v is None:
                    v = cache[key] = (
                        key
                        if is_framed(key)
                        else cls.from_wire(key, wire_dtype).serialize()
                    )
                out.append(v)
            return _obj_series(out)

        return udf

    for fam_cls, fam in (
        (KllSketch, "kll"), (QuantilesSketch, "quantiles"), (ReqSketch, "req")
    ):
        reg[f"datasketch_{fam}_from_wire_bigint"] = _wire_import(fam_cls, "int64")
        reg[f"datasketch_{fam}_from_wire_integer"] = _wire_import(fam_cls, "int32")

    # ---- TDigest (no `inclusive` args, generator.py:160-166) ----
    p = "datasketch_tdigest_"
    reg[p + "is_empty"] = _unary(TDigestSketch, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "k"] = _unary(TDigestSketch, lambda sk: int(sk.k), "int")
    reg[p + "total_weight"] = _unary(
        TDigestSketch, lambda sk: int(sk.total_weight()), "long"
    )
    reg[p + "rank"] = _with_args(
        TDigestSketch, lambda sk, v: float(sk.get_rank(float(v))), "double", 1
    )
    reg[p + "quantile"] = _with_args(
        TDigestSketch,
        lambda sk, q: None if sk.is_empty else float(sk.get_quantile(float(q))),
        "double",
        1,
    )
    reg[p + "cdf"] = _with_args(
        TDigestSketch, lambda sk, sp: sk.get_cdf(list(sp)), "array<double>", 1
    )
    reg[p + "pmf"] = _with_args(
        TDigestSketch, lambda sk, sp: sk.get_pmf(list(sp)), "array<double>", 1
    )
    reg[p + "describe"] = _with_args(
        TDigestSketch, lambda sk, a: sk.describe(bool(a)),
        "string", 1, opt=(False,),
    )
    # Apache DataSketches wire interop — the reference's tdigest blobs
    # ARE this format; every tdigest reader also sniffs wire blobs
    reg[p + "to_wire"] = _unary(TDigestSketch, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(TDigestSketch, lambda sk: sk.serialize(), "binary")

    # ---- Theta (src/theta_sketch.cpp:221-354) ----
    p = "datasketch_theta_"
    reg[p + "union"] = _sketch_pair(ThetaSketch, lambda a, b: theta_union(a, b))
    reg[p + "intersect"] = _sketch_pair(ThetaSketch, theta_intersect)
    reg[p + "a_not_b"] = _sketch_pair(ThetaSketch, theta_a_not_b)
    reg[p + "estimate"] = _unary(ThetaSketch, lambda sk: float(sk.get_estimate()), "double")
    reg[p + "lower_bound"] = _with_args(
        ThetaSketch, lambda sk, sd: float(sk.get_bound(int(sd), False)), "double", 1
    )
    reg[p + "upper_bound"] = _with_args(
        ThetaSketch, lambda sk, sd: float(sk.get_bound(int(sd), True)), "double", 1
    )
    reg[p + "describe"] = _unary(ThetaSketch, lambda sk: sk.describe(), "string")
    reg[p + "is_empty"] = _unary(ThetaSketch, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "is_estimation_mode"] = _unary(
        ThetaSketch, lambda sk: bool(sk.is_estimation_mode), "boolean"
    )
    reg[p + "get_theta"] = _unary(ThetaSketch, lambda sk: float(sk.get_theta()), "double")
    reg[p + "num_retained"] = _unary(
        ThetaSketch, lambda sk: int(sk.num_retained), "long"
    )
    # fixed default seed -> constant seed HASH (37836 = 0x93CC for the
    # default seed 9001), matching the reference's get_seed which
    # returns compact_theta_sketch::get_seed_hash()
    # (src/theta_sketch.cpp:346-354)
    reg[p + "get_seed"] = _unary(
        ThetaSketch, lambda sk: int(DEFAULT_SEED_HASH), "long"
    )

    # Apache DataSketches wire interop: export any theta blob as an
    # Apache compact ordered sketch, and import Apache blobs into the
    # engine frame.  (Import is also implicit: every theta reader
    # sniffs wire blobs — these make the conversion explicit/storable.)
    reg[p + "to_wire"] = _unary(ThetaSketch, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(
        ThetaSketch, lambda sk: sk.serialize(), "binary"
    )

    # beyond-reference convenience: Jaccard similarity from the set
    # algebra the reference already exposes (|A∩B| / |A∪B|); the
    # DataSketches ecosystem ships the same as jaccard_similarity
    @pandas_udf("double")
    def _theta_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
        # jaccard_bounds[1] IS java's JaccardSimilarity estimate
        # (retained-ratio at the union theta, no nominal-k purge of the
        # union) — in exact mode it equals |A∩B|/|A∪B| exactly
        from ..sketches.theta import jaccard_bounds  # noqa: PLC0415

        sa = _deser_batch(ThetaSketch, a)
        sb = _deser_batch(ThetaSketch, b)
        out = [
            None if x is None or y is None else float(jaccard_bounds(x, y)[1])
            for x, y in zip(sa, sb)
        ]
        return _obj_series(out)

    reg[p + "jaccard"] = _theta_jaccard

    # java-exact JaccardSimilarity.jaccard triple [lb, est, ub]
    # (sketches/theta.py jaccard_bounds — binomial-proportion ratio
    # bounds; differential vs live java in tests/test_binomial_bounds.py)
    @pandas_udf("array<double>")
    def _theta_jaccard_bounds(a: pd.Series, b: pd.Series) -> pd.Series:
        from ..sketches.theta import jaccard_bounds  # noqa: PLC0415

        sa = _deser_batch(ThetaSketch, a)
        sb = _deser_batch(ThetaSketch, b)
        out = []
        for x, y in zip(sa, sb):
            if x is None or y is None:
                out.append(None)
            else:
                out.append([float(v) for v in jaccard_bounds(x, y)])
        return _obj_series(out)

    reg[p + "jaccard_bounds"] = _theta_jaccard_bounds

    # the rest of java's JaccardSimilarity surface (sketches/theta.py;
    # same differential suite): provable-equality and the one-sided
    # similarity/dissimilarity hypothesis tests on the bound triple
    @pandas_udf("boolean")
    def _theta_exactly_equal(a: pd.Series, b: pd.Series) -> pd.Series:
        from ..sketches.theta import theta_exactly_equal  # noqa: PLC0415

        sa = _deser_batch(ThetaSketch, a)
        sb = _deser_batch(ThetaSketch, b)
        return _obj_series(
            [
                None if x is None or y is None else bool(theta_exactly_equal(x, y))
                for x, y in zip(sa, sb)
            ]
        )

    def _theta_threshold_test(fn):
        @pandas_udf("boolean")
        def _udf(a: pd.Series, b: pd.Series, thr: pd.Series) -> pd.Series:
            from ..sketches import theta as _t  # noqa: PLC0415

            f = getattr(_t, fn)
            sa = _deser_batch(ThetaSketch, a)
            sb = _deser_batch(ThetaSketch, b)
            out = []
            for x, y, t in zip(sa, sb, thr):
                if x is None or y is None or t is None or pd.isna(t):
                    out.append(None)
                else:
                    out.append(bool(f(x, y, float(t))))
            return _obj_series(out)

        return _udf

    reg[p + "exactly_equal"] = _theta_exactly_equal
    reg[p + "similarity_test"] = _theta_threshold_test("theta_similarity_test")
    reg[p + "dissimilarity_test"] = _theta_threshold_test(
        "theta_dissimilarity_test"
    )

    # ---- HLL / CPC ----
    for fam, cls in (("hll", HllSketch), ("cpc", CpcSketch)):
        p = f"datasketch_{fam}_"
        reg[p + "estimate"] = _unary(cls, lambda sk: float(sk.get_estimate()), "double")
        reg[p + "lower_bound"] = _with_args(
            cls, lambda sk, sd: float(sk.get_bound(int(sd), False)), "double", 1
        )
        reg[p + "upper_bound"] = _with_args(
            cls, lambda sk, sd: float(sk.get_bound(int(sd), True)), "double", 1
        )
        reg[p + "is_empty"] = _unary(cls, lambda sk: bool(sk.is_empty), "boolean")
        reg[p + "describe"] = _with_args(
            cls, lambda sk, a, b: sk.describe(bool(a), bool(b)),
            "string", 2, opt=(True, False),
        )
    reg["datasketch_hll_lg_config_k"] = _unary(
        HllSketch, lambda sk: int(sk.lg_config_k), "int"
    )
    reg["datasketch_hll_is_compact"] = _unary(
        HllSketch, lambda sk: bool(sk.is_compact), "boolean"
    )
    # Apache DataSketches wire interop — the Python HLL's registers are
    # byte-identical to datasketches-java's (same coupon scheme), so
    # wire blobs MERGE cross-system; every HLL reader sniffs them too
    reg["datasketch_hll_to_wire"] = _unary(
        HllSketch, lambda sk: sk.to_wire(), "binary"
    )
    reg["datasketch_hll_from_wire"] = _unary(
        HllSketch, lambda sk: sk.serialize(), "binary"
    )
    # Apache DataSketches CPC wire interop (round 5, the last interop
    # family): our blobs are byte-identical to java's MERGED
    # serialization per flavor; all eight formats import (HIP
    # accumulators skipped, like an Apache union does); readers sniff
    reg["datasketch_cpc_to_wire"] = _unary(
        CpcSketch, lambda sk: sk.to_wire(), "binary"
    )
    reg["datasketch_cpc_from_wire"] = _unary(
        CpcSketch, lambda sk: sk.serialize(), "binary"
    )

    # ---- Frequent Items ----
    p = "datasketch_frequent_items_"
    F = FrequentItemsSketch
    for q in ("estimate", "lower_bound", "upper_bound"):
        reg[p + q] = _item_probe(
            F, lambda sk, its, q=q: [int(getattr(sk, "get_" + q)(i)) for i in its], "long"
        )
    reg[p + "epsilon"] = _unary(F, lambda sk: float(sk.epsilon), "double")
    reg[p + "total_weight"] = _unary(F, lambda sk: int(sk.total_weight()), "long")
    reg[p + "is_empty"] = _unary(F, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "num_active"] = _unary(F, lambda sk: int(sk.num_active), "long")
    # Apache DataSketches wire interop (strings serde) — the
    # reference's FI blobs ARE this format; readers also sniff it
    reg[p + "to_wire"] = _unary(F, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(F, lambda sk: sk.serialize(), "binary")
    # ---- Bloom filter (beyond-reference family; see sketches/bloom.py) ----
    p = "datasketch_bloom_"
    B = BloomFilterSketch

    reg[p + "might_contain"] = _item_probe(
        B, lambda sk, its: sk.contains_values(its).tolist(), "boolean"
    )
    reg[p + "union"] = _sketch_pair(B, bloom_union)
    reg[p + "intersect"] = _sketch_pair(B, bloom_intersect)
    reg[p + "estimate"] = _unary(B, lambda sk: float(sk.get_estimate()), "double")
    reg[p + "is_empty"] = _unary(B, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "num_bits"] = _unary(B, lambda sk: int(sk.num_bits), "long")
    reg[p + "num_hashes"] = _unary(B, lambda sk: int(sk.num_hashes), "int")
    reg[p + "bits_set"] = _unary(B, lambda sk: int(sk.bits_set()), "long")
    reg[p + "current_fpp"] = _unary(B, lambda sk: float(sk.current_fpp()), "double")
    reg[p + "describe"] = _unary(B, lambda sk: sk.describe(), "string")

    # ---- Count-Min (beyond-reference; sketches/cms.py) ----
    p = "datasketch_cms_"
    C = CountMinSketch
    reg[p + "estimate"] = _item_probe(
        C, lambda sk, its: [int(sk.get_estimate(i)) for i in its], "long"
    )
    reg[p + "total_weight"] = _unary(C, lambda sk: int(sk.total_weight()), "long")
    reg[p + "epsilon"] = _unary(C, lambda sk: float(sk.epsilon), "double")
    reg[p + "width"] = _unary(C, lambda sk: int(sk.width), "long")
    reg[p + "depth"] = _unary(C, lambda sk: int(sk.depth), "int")
    reg[p + "is_empty"] = _unary(C, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "describe"] = _unary(C, lambda sk: sk.describe(), "string")

    # ---- Reservoir sample (beyond-reference; sketches/reservoir.py) ----
    p = "datasketch_reservoir_"
    R = ReservoirSampleSketch
    reg[p + "items"] = _unary(R, lambda sk: sk.get_items(), "array<string>")
    reg[p + "n"] = _unary(R, lambda sk: int(sk.n), "long")
    reg[p + "k"] = _unary(R, lambda sk: int(sk.k), "int")
    reg[p + "num_retained"] = _unary(R, lambda sk: int(sk.num_retained), "long")
    reg[p + "is_exact"] = _unary(R, lambda sk: bool(sk.is_exact), "boolean")
    reg[p + "is_empty"] = _unary(R, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "describe"] = _unary(R, lambda sk: sk.describe(), "string")
    # Apache ReservoirLongsSketch wire (round 10; longs-only — see
    # sketches/reservoir.py to_wire/from_wire for the interop contract)
    reg[p + "to_wire"] = _unary(R, lambda sk: sk.to_wire(), "binary")
    # generic ReservoirItemsSketch image (strings serde): any items
    reg[p + "to_wire_strings"] = _unary(
        R, lambda sk: sk.to_wire(serde="strings"), "binary"
    )
    reg[p + "from_wire"] = _unary(R, lambda sk: sk.serialize(), "binary")
    # weighted-sample estimation surface (round 11): HT weight per
    # sampled item and the total-stream-weight estimator they sum to
    reg[p + "sample_weights"] = _unary(
        R, lambda sk: [float(x) for x in sk.get_sample_weights()],
        "array<double>",
    )
    reg[p + "total_weight_estimate"] = _unary(
        R, lambda sk: float(sk.total_weight_estimate()), "double"
    )
    # Apache VarOptItemsSketch wire (round 11) — the ecosystem's
    # WEIGHTED sampling family; uniform states export too (a uniform
    # estimation-mode sample is a pure R region).  The wire carries no
    # serde marker, so longs vs strings is the caller's contract (same
    # story as the typed quantile families).
    reg["datasketch_varopt_to_wire"] = _unary(
        R, lambda sk: sk.to_varopt_wire(), "binary"
    )
    reg["datasketch_varopt_to_wire_strings"] = _unary(
        R, lambda sk: sk.to_varopt_wire(serde="strings"), "binary"
    )
    reg["datasketch_varopt_from_wire"] = _unary(
        R, lambda sk: sk.serialize(), "binary"
    )

    # ---- EBPPS exact-PPS sample (beyond-reference; sketches/ebpps.py) --
    p = "datasketch_ebpps_"
    E = EbppsSketch
    reg[p + "items"] = _unary(E, lambda sk: sk.get_full_items(), "array<string>")
    reg[p + "n"] = _unary(E, lambda sk: int(sk.n), "long")
    reg[p + "k"] = _unary(E, lambda sk: int(sk.k), "int")
    reg[p + "c"] = _unary(E, lambda sk: float(sk.c), "double")
    reg[p + "cumulative_weight"] = _unary(
        E, lambda sk: float(sk.cumulative_wt), "double"
    )
    reg[p + "num_retained"] = _unary(E, lambda sk: int(sk.num_retained), "long")
    reg[p + "has_partial"] = _unary(E, lambda sk: bool(sk.has_partial), "boolean")
    reg[p + "is_empty"] = _unary(E, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "describe"] = _unary(E, lambda sk: sk.describe(), "string")
    # Apache EbppsItemsSketch wire (serVer 1, family 19; differential
    # tests vs live datasketches-java in tests/test_ebpps.py)
    reg[p + "to_wire"] = _unary(E, lambda sk: sk.to_wire(), "binary")
    reg[p + "to_wire_strings"] = _unary(
        E, lambda sk: sk.to_wire(serde="strings"), "binary"
    )
    reg[p + "from_wire"] = _unary(E, lambda sk: sk.serialize(), "binary")

    # ---- Apache BloomFilter (filters.bloomfilter wire; XXH64 bits
    # byte-identical to datasketches-java — sketches/bloom_apache.py,
    # tests/test_bloomfilter_wire.py).  Distinct from datasketch_bloom_*
    # (Spark-parity bits): this family's state crosses systems.
    p = "datasketch_bloomfilter_"
    AB = ApacheBloomFilter

    reg[p + "might_contain"] = _item_probe(
        AB, lambda sk, its: sk.query_series(its).tolist(), "boolean"
    )
    reg[p + "union"] = _sketch_pair(AB, bloomfilter_union)
    reg[p + "intersect"] = _sketch_pair(AB, bloomfilter_intersect)
    reg[p + "is_empty"] = _unary(AB, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "num_bits"] = _unary(AB, lambda sk: int(sk.capacity), "long")
    reg[p + "num_hashes"] = _unary(AB, lambda sk: int(sk.num_hashes), "int")
    reg[p + "seed"] = _unary(AB, lambda sk: int(sk.seed), "long")
    reg[p + "bits_set"] = _unary(AB, lambda sk: int(sk.num_bits_set), "long")
    reg[p + "fill_percentage"] = _unary(
        AB, lambda sk: float(sk.fill_percentage()), "double"
    )
    reg[p + "describe"] = _unary(AB, lambda sk: sk.describe(), "string")
    # the blob IS the Apache wire (fully self-describing); the pair
    # exists for API uniformity with the other wire families
    reg[p + "to_wire"] = _unary(AB, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(AB, lambda sk: sk.serialize(), "binary")

    # ---- ArrayOfDoubles tuple family (beyond-reference; Apache tuple
    # wire serVer 1 family 9 — sketches/tuple_aod.py, differential
    # tests vs live datasketches-java in tests/test_tuple_aod_wire.py)
    p = "datasketch_aod_"
    A = AodSketch
    reg[p + "estimate"] = _unary(A, lambda sk: float(sk.get_estimate()), "double")
    reg[p + "lower_bound"] = _with_args(
        A, lambda sk, n: float(sk.get_bound(int(n), upper=False)), "double", 1, (2,)
    )
    reg[p + "upper_bound"] = _with_args(
        A, lambda sk, n: float(sk.get_bound(int(n), upper=True)), "double", 1, (2,)
    )
    reg[p + "is_empty"] = _unary(A, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "is_estimation_mode"] = _unary(
        A, lambda sk: bool(sk.is_estimation_mode), "boolean"
    )
    reg[p + "num_retained"] = _unary(A, lambda sk: int(sk.num_retained), "long")
    reg[p + "theta"] = _unary(A, lambda sk: float(sk.get_theta()), "double")
    reg[p + "num_values"] = _unary(A, lambda sk: int(sk.num_values), "int")
    reg[p + "column_sums"] = _unary(A, lambda sk: sk.column_sums(), "array<double>")
    reg[p + "column_sums_retained"] = _unary(
        A, lambda sk: sk.column_sums_retained(), "array<double>"
    )
    reg[p + "column_means"] = _unary(A, lambda sk: sk.column_means(), "array<double>")
    reg[p + "union"] = _sketch_pair(A, lambda a, b: aod_union(a, b))
    reg[p + "intersect"] = _sketch_pair(A, aod_intersect)
    reg[p + "a_not_b"] = _sketch_pair(A, aod_a_not_b)
    reg[p + "to_wire"] = _unary(A, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(A, lambda sk: sk.serialize(), "binary")
    reg[p + "describe"] = _unary(A, lambda sk: sk.describe(), "string")
    # key-set projection: tuple keys ARE theta hashes, so the result
    # composes with every theta scalar / set-op / wire path
    reg[p + "to_theta"] = _unary(
        A, lambda sk: aod_to_theta(sk).serialize(), "binary"
    )

    # ---- FDT frequent distinct tuples (beyond-reference; Apache
    # generic-tuple wire — sketches/fdt.py, differential vs live
    # datasketches-java FdtSketch in tests/test_fdt_wire.py)
    p = "datasketch_fdt_"
    FD = FdtSketch
    reg[p + "estimate"] = _unary(FD, lambda sk: float(sk.get_estimate()), "double")
    reg[p + "lower_bound"] = _with_args(
        FD, lambda sk, n: float(sk.get_bound(int(n), upper=False)), "double", 1, (2,)
    )
    reg[p + "upper_bound"] = _with_args(
        FD, lambda sk, n: float(sk.get_bound(int(n), upper=True)), "double", 1, (2,)
    )
    reg[p + "is_empty"] = _unary(FD, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "is_estimation_mode"] = _unary(
        FD, lambda sk: bool(sk.is_estimation_mode), "boolean"
    )
    reg[p + "num_retained"] = _unary(FD, lambda sk: int(sk.num_retained), "long")
    reg[p + "theta"] = _unary(FD, lambda sk: float(sk.get_theta()), "double")
    reg[p + "union"] = _sketch_pair(FD, lambda a, b: fdt_union(a, b))
    reg[p + "top_groups"] = _with_args(
        FD,
        lambda sk, dims, limit: sk.get_result(
            [int(d) for d in dims], int(limit)
        ),
        "array<struct<group: string, count: long, estimate: double,"
        " lower_bound: double, upper_bound: double>>",
        2,
        (0,),
    )
    reg[p + "to_wire"] = _unary(FD, lambda sk: sk.to_wire(), "binary")
    reg[p + "from_wire"] = _unary(FD, lambda sk: sk.serialize(), "binary")
    reg[p + "describe"] = _unary(FD, lambda sk: sk.describe(), "string")

    # ---- exact summary stats (beyond-reference; sketches/stats.py) ----
    p = "datasketch_stats_"
    S = StatsSketch
    reg[p + "n"] = _unary(S, lambda sk: int(sk.get_n()), "long")
    reg[p + "nonnull"] = _unary(S, lambda sk: int(sk.get_nonnull()), "long")
    reg[p + "null_count"] = _unary(
        S, lambda sk: int(sk.get_n() - sk.get_nonnull()), "long"
    )
    reg[p + "min_num"] = _unary(
        S,
        lambda sk: float(sk.get_min())
        if sk.kind == 1 and sk.get_min() is not None
        else None,
        "double",
    )
    reg[p + "max_num"] = _unary(
        S,
        lambda sk: float(sk.get_max())
        if sk.kind == 1 and sk.get_max() is not None
        else None,
        "double",
    )
    reg[p + "min_str"] = _unary(
        S, lambda sk: sk.get_min() if sk.kind == 2 else None, "string"
    )
    reg[p + "max_str"] = _unary(
        S, lambda sk: sk.get_max() if sk.kind == 2 else None, "string"
    )
    reg[p + "sum"] = _unary(
        S, lambda sk: None if sk.get_sum() is None else float(sk.get_sum()), "double"
    )
    reg[p + "is_empty"] = _unary(S, lambda sk: bool(sk.is_empty), "boolean")
    reg[p + "describe"] = _unary(S, lambda sk: sk.describe(), "string")

    p = "datasketch_frequent_items_"
    reg[p + "get_frequent"] = _with_args(
        F,
        lambda sk, et: [
            {"item": r[0], "estimate": r[1], "lower_bound": r[2], "upper_bound": r[3]}
            for r in sk.get_frequent_items(str(et))
        ],
        _FREQ_ROW_SCHEMA,
        1,
    )
    return reg
