"""Scalar sketch-query functions: one Arrow UDF factory.

Every scalar but the item probes is :func:`_scalar`: a varargs Arrow
UDF that decodes each sketch argument once per distinct blob per
batch, reads each plain argument as its Python value and calls ``fn``
row by row.  Querying the same stored sketch across many rows thus
decodes it once per batch, not per row (SURVEY.md §3).  The item
probes (:func:`_item_probe`) coerce the whole probed column by the
kind of its declared type instead.

One UDF per reference scalar name (SURVEY.md §2.2 tables; generated
spec codegen/generator.py:132-528, hand-written Theta
src/theta_sketch.cpp:221-354 and Frequent Items
src/frequent_items_sketch.cpp:193-348).  The reference runs each as a
DuckDB scalar function chunk by chunk (generator.py:531-539), and the
NULL rule is the same here:

- a NULL sketch or a NULL required argument gives NULL;
- a NULL or omitted optional argument takes its default;
- a NaN DOUBLE argument counts as NULL (no rank, quantile, bound or
  threshold is defined at NaN);
- a missing required argument, or one argument too many, raises.

The optional arguments are the ``inclusive`` / describe-verbosity
arguments DuckDB provides by arity overloads
(codegen/generator.py:156-196): a Python UDF is not arity-checked at
analysis time, so ``datasketch_kll_quantile(sk, 0.5)`` and
``(sk, 0.5, true)`` both bind.  Defaults: ``inclusive=true``; describe
flags false, except the HLL/CPC summary flag (true); aod/fdt bounds at
2 standard deviations; fdt ``top_groups`` limit 0 (all groups).
"""

from __future__ import annotations

from functools import cache, reduce
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, _parse_datatype_string

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
from ..sketches.base import is_framed
from ..sketches.theta import (
    jaccard_bounds,
    theta_dissimilarity_test,
    theta_exactly_equal,
    theta_similarity_test,
)

_QUANTILE_FAMILIES = [
    ("quantiles", QuantilesSketch),
    ("kll", KllSketch),
    ("req", ReqSketch),
]


def _decode(decoder, col: pa.Array) -> list:
    """A sketch column through ``decoder.deserialize``, once per distinct
    blob (NULL stays None)."""
    memo: dict = {}
    out = []
    for b in col.to_numpy(zero_copy_only=False):
        if b is not None and b not in memo:
            memo[b] = decoder.deserialize(b)
        out.append(None if b is None else memo[b])
    return out


class _WireImport:
    """The decoder of a typed wire import: an Apache blob of ``cls``
    with ``wire_dtype`` items becomes an engine frame; a frame passes
    through untouched."""

    def __init__(self, cls, wire_dtype: str):
        self.cls, self.wire_dtype = cls, wire_dtype

    def deserialize(self, b: bytes) -> bytes:
        return b if is_framed(b) else self.cls.from_wire(b, self.wire_dtype).serialize()


def _call(fn: Callable, arrow_type: pa.DataType, decoders: tuple, opt: tuple, cols) -> pa.Array:
    """One batch of a :func:`_scalar` UDF (module-level, so each UDF
    pickles by reference to it instead of shipping this code)."""
    n_req, n_max = len(decoders), len(decoders) + len(opt)
    if not n_req <= len(cols) <= n_max:
        raise TypeError(
            f"missing required argument {len(cols) + 1}"
            if len(cols) < n_req
            else f"too many arguments: takes at most {n_max}, got {len(cols)}"
        )
    n = len(cols[0])
    dead = reduce(pc.or_, [pc.is_null(c, nan_is_null=True) for c in cols[:n_req]])
    args = [c.to_pylist() if d is None else _decode(d, c) for d, c in zip(decoders, cols)]
    for d, c in zip(opt, cols[n_req:]):
        args.append([d if m else v for v, m in zip(
            c.to_pylist(), pc.is_null(c, nan_is_null=True).to_pylist())])
    args += [[d] * n for d in opt[len(cols) - n_req:]]
    out = [None if m else fn(*a) for m, a in zip(dead.to_pylist(), zip(*args))]
    # from_pandas: a NaN result is NULL, as the pandas UDFs returned
    # it (kll_psi on row 1 of tests/golden_scalar_outputs.json)
    return pa.array(out, type=arrow_type, from_pandas=True)


@cache
def _ret_type(ddl: str) -> DataType:
    """``ddl`` parsed once per :func:`build_scalar_registry` call (a
    parse is a JVM round trip against the active session; the registry
    declares 10 distinct strings over 222 UDFs)."""
    return _parse_datatype_string(ddl)


def _scalar(fn: Callable, ret: str, *decoders, opt: tuple = ()):
    """The scalar ``fn(*args) -> ret`` as an Arrow UDF.

    ``decoders`` are the required arguments in order: a sketch
    argument's sketch class (or :class:`_WireImport`), whose
    ``deserialize`` decodes it, or ``None`` for a plain one.  (A class
    pickles by reference; a bound ``cls.deserialize`` would ship its
    code with every UDF.)  ``opt`` holds the defaults of the optional
    plain arguments that follow.  NULL rules: see the module
    docstring."""
    ret_type = _ret_type(ret)
    arrow_type = to_arrow_type(ret_type)

    @arrow_udf(ret_type)
    def udf(*cols: pa.Array) -> pa.Array:
        return _call(fn, arrow_type, decoders, opt, cols)

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

    @arrow_udf(_ret_type(ret))
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


_FREQ_ROW_SCHEMA = (
    "array<struct<item: string, estimate: long, lower_bound: long, upper_bound: long>>"
)


def build_scalar_registry() -> dict[str, object]:
    """All scalar UDFs keyed by their SQL/reference name."""
    _ret_type.cache_clear()  # parse against this call's session
    reg: dict[str, object] = {}

    # ---- quantile families: Quantiles, KLL, REQ ----
    for fam, cls in _QUANTILE_FAMILIES:
        p, D = f"datasketch_{fam}_", cls
        reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
        reg[p + "k"] = _scalar(lambda sk: int(sk.k), "int", D)
        reg[p + "n"] = _scalar(lambda sk: int(sk.n), "long", D)
        reg[p + "is_estimation_mode"] = _scalar(
            lambda sk: bool(sk.is_estimation_mode), "boolean", D
        )
        reg[p + "num_retained"] = _scalar(lambda sk: int(sk.num_retained), "long", D)
        reg[p + "min_item"] = _scalar(
            lambda sk: None if sk.is_empty else float(sk.get_min_item()), "double", D
        )
        reg[p + "max_item"] = _scalar(
            lambda sk: None if sk.is_empty else float(sk.get_max_item()), "double", D
        )
        reg[p + "rank"] = _scalar(
            lambda sk, v, inc: float(sk.get_rank(float(v), bool(inc))),
            "double", D, None, opt=(True,),
        )
        reg[p + "quantile"] = _scalar(
            lambda sk, q, inc: None
            if sk.is_empty
            else float(sk.get_quantile(float(q), bool(inc))),
            "double", D, None, opt=(True,),
        )
        reg[p + "cdf"] = _scalar(
            lambda sk, sp, inc: sk.get_cdf(list(sp), bool(inc)),
            "array<double>", D, None, opt=(True,),
        )
        reg[p + "pmf"] = _scalar(
            lambda sk, sp, inc: sk.get_pmf(list(sp), bool(inc)),
            "array<double>", D, None, opt=(True,),
        )
        reg[p + "describe"] = _scalar(
            lambda sk, a, b: sk.describe(bool(a), bool(b)),
            "string", D, opt=(False, False),
        )
        if fam in ("quantiles", "kll"):
            reg[p + "normalized_rank_error"] = _scalar(
                lambda sk, pmf: float(sk.normalized_rank_error(bool(pmf))),
                "double", D, None,
            )
        # beyond-reference drift surface: two-sample KS distance and
        # binned PSI (exact in exact mode; see CompactorSketch)
        reg[p + "ks"] = _scalar(lambda a, b: float(a.ks_distance(b)), "double", D, D)
        reg[p + "psi"] = _scalar(
            lambda a, b, sp: float(a.psi(b, list(sp))), "double", D, D, None
        )

    # Apache DataSketches wire interop for KLL (the reference's KLL
    # blobs ARE this format): export any KLL blob as an Apache
    # doubles/floats sketch, import Apache blobs into the engine frame.
    # Import is also implicit — every KLL reader sniffs wire blobs.
    # The same pair exists for classic Quantiles + REQ (round 5 — with
    # these, all eight reference families cross systems).  Quantiles
    # blobs are the Apache DoublesSketch layout (lossless: the engine
    # state IS the Apache MRL state); REQ blobs are the Apache REQ
    # layout (levels export as compactors).  Readers sniff both formats
    # implicitly.
    for fam, cls in _QUANTILE_FAMILIES:
        p, D = f"datasketch_{fam}_", cls
        reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
        reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)

    # beyond-reference string-items KLL (sketches/kll_items.py):
    # quantiles over ORDERED STRINGS.  Same scalar surface as the
    # numeric quantile families with string-typed item positions;
    # to_wire/from_wire speak the Apache KllItemsSketch +
    # ArrayOfStringsSerDe format (live-java differential,
    # tests/test_kll_items_wire.py).
    p, D = "datasketch_kll_items_", KllItemsSketch
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "k"] = _scalar(lambda sk: int(sk.k), "int", D)
    reg[p + "n"] = _scalar(lambda sk: int(sk.n), "long", D)
    reg[p + "is_estimation_mode"] = _scalar(
        lambda sk: bool(sk.is_estimation_mode), "boolean", D
    )
    reg[p + "num_retained"] = _scalar(lambda sk: int(sk.num_retained), "long", D)
    reg[p + "min_item"] = _scalar(
        lambda sk: None if sk.is_empty else sk.get_min_item(), "string", D
    )
    reg[p + "max_item"] = _scalar(
        lambda sk: None if sk.is_empty else sk.get_max_item(), "string", D
    )
    reg[p + "rank"] = _scalar(
        lambda sk, v, inc: float(sk.get_rank(str(v), bool(inc))),
        "double", D, None, opt=(True,),
    )
    reg[p + "quantile"] = _scalar(
        lambda sk, q, inc: None
        if sk.is_empty
        else sk.get_quantile(float(q), bool(inc)),
        "string", D, None, opt=(True,),
    )
    reg[p + "cdf"] = _scalar(
        lambda sk, sp, inc: sk.get_cdf([str(x) for x in sp], bool(inc)),
        "array<double>", D, None, opt=(True,),
    )
    reg[p + "pmf"] = _scalar(
        lambda sk, sp, inc: sk.get_pmf([str(x) for x in sp], bool(inc)),
        "array<double>", D, None, opt=(True,),
    )
    reg[p + "describe"] = _scalar(
        lambda sk, a, b: sk.describe(bool(a), bool(b)),
        "string", D, opt=(False, False),
    )
    reg[p + "normalized_rank_error"] = _scalar(
        lambda sk, pmf: float(sk.normalized_rank_error(bool(pmf))), "double", D, None
    )
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)

    # Integer-typed wire import (round 8): the reference registers
    # sketch_kll_bigint / sketch_kll_integer etc. per DuckDB type
    # (codegen/generator.py:49-60) and its C++ serializes
    # kll_sketch<T> at sizeof(T)-byte items.  The Apache preamble
    # carries NO item type, so an integer blob is byte-ambiguous with
    # a float one of the same width — these typed readers are how the
    # caller names the type, exactly like Apache's typed heapify
    # entry points.  int32 items widen losslessly to the engine's
    # int64 representation.  DSKS-framed blobs pass through untouched
    # (idempotent import, any dtype).  The conversion is the decoder,
    # so a stored blob queried across many rows converts once per batch.
    for fam, cls in _QUANTILE_FAMILIES:
        for suffix, wire_dtype in (("bigint", "int64"), ("integer", "int32")):
            reg[f"datasketch_{fam}_from_wire_{suffix}"] = _scalar(
                lambda b: b, "binary", _WireImport(cls, wire_dtype)
            )

    # ---- TDigest (no `inclusive` args, generator.py:160-166) ----
    p, D = "datasketch_tdigest_", TDigestSketch
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "k"] = _scalar(lambda sk: int(sk.k), "int", D)
    reg[p + "total_weight"] = _scalar(lambda sk: int(sk.total_weight()), "long", D)
    reg[p + "rank"] = _scalar(lambda sk, v: float(sk.get_rank(float(v))), "double", D, None)
    reg[p + "quantile"] = _scalar(
        lambda sk, q: None if sk.is_empty else float(sk.get_quantile(float(q))),
        "double", D, None,
    )
    reg[p + "cdf"] = _scalar(lambda sk, sp: sk.get_cdf(list(sp)), "array<double>", D, None)
    reg[p + "pmf"] = _scalar(lambda sk, sp: sk.get_pmf(list(sp)), "array<double>", D, None)
    reg[p + "describe"] = _scalar(
        lambda sk, a: sk.describe(bool(a)), "string", D, opt=(False,)
    )
    # Apache DataSketches wire interop — the reference's tdigest blobs
    # ARE this format; every tdigest reader also sniffs wire blobs
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)

    # ---- Theta (src/theta_sketch.cpp:221-354) ----
    p, D = "datasketch_theta_", ThetaSketch
    reg[p + "union"] = _scalar(lambda a, b: theta_union(a, b).serialize(), "binary", D, D)
    reg[p + "intersect"] = _scalar(
        lambda a, b: theta_intersect(a, b).serialize(), "binary", D, D
    )
    reg[p + "a_not_b"] = _scalar(
        lambda a, b: theta_a_not_b(a, b).serialize(), "binary", D, D
    )
    reg[p + "estimate"] = _scalar(lambda sk: float(sk.get_estimate()), "double", D)
    reg[p + "lower_bound"] = _scalar(
        lambda sk, sd: float(sk.get_bound(int(sd), False)), "double", D, None
    )
    reg[p + "upper_bound"] = _scalar(
        lambda sk, sd: float(sk.get_bound(int(sd), True)), "double", D, None
    )
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "is_estimation_mode"] = _scalar(
        lambda sk: bool(sk.is_estimation_mode), "boolean", D
    )
    reg[p + "get_theta"] = _scalar(lambda sk: float(sk.get_theta()), "double", D)
    reg[p + "num_retained"] = _scalar(lambda sk: int(sk.num_retained), "long", D)
    # fixed default seed -> constant seed HASH (37836 = 0x93CC for the
    # default seed 9001), matching the reference's get_seed which
    # returns compact_theta_sketch::get_seed_hash()
    # (src/theta_sketch.cpp:346-354)
    reg[p + "get_seed"] = _scalar(lambda sk: int(DEFAULT_SEED_HASH), "long", D)

    # Apache DataSketches wire interop: export any theta blob as an
    # Apache compact ordered sketch, and import Apache blobs into the
    # engine frame.  (Import is also implicit: every theta reader
    # sniffs wire blobs — these make the conversion explicit/storable.)
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)

    # beyond-reference convenience: Jaccard similarity from the set
    # algebra the reference already exposes (|A∩B| / |A∪B|); the
    # DataSketches ecosystem ships the same as jaccard_similarity.
    # jaccard_bounds[1] IS java's JaccardSimilarity estimate
    # (retained-ratio at the union theta, no nominal-k purge of the
    # union) — in exact mode it equals |A∩B|/|A∪B| exactly
    reg[p + "jaccard"] = _scalar(
        lambda a, b: float(jaccard_bounds(a, b)[1]), "double", D, D
    )
    # java-exact JaccardSimilarity.jaccard triple [lb, est, ub]
    # (sketches/theta.py jaccard_bounds — binomial-proportion ratio
    # bounds; differential vs live java in tests/test_binomial_bounds.py)
    reg[p + "jaccard_bounds"] = _scalar(
        lambda a, b: [float(v) for v in jaccard_bounds(a, b)], "array<double>", D, D
    )
    # the rest of java's JaccardSimilarity surface (sketches/theta.py;
    # same differential suite): provable-equality and the one-sided
    # similarity/dissimilarity hypothesis tests on the bound triple
    reg[p + "exactly_equal"] = _scalar(
        lambda a, b: bool(theta_exactly_equal(a, b)), "boolean", D, D
    )
    reg[p + "similarity_test"] = _scalar(
        lambda a, b, t: bool(theta_similarity_test(a, b, float(t))), "boolean", D, D, None
    )
    reg[p + "dissimilarity_test"] = _scalar(
        lambda a, b, t: bool(theta_dissimilarity_test(a, b, float(t))),
        "boolean", D, D, None,
    )

    # ---- HLL / CPC ----
    for fam, cls in (("hll", HllSketch), ("cpc", CpcSketch)):
        p, D = f"datasketch_{fam}_", cls
        reg[p + "estimate"] = _scalar(lambda sk: float(sk.get_estimate()), "double", D)
        reg[p + "lower_bound"] = _scalar(
            lambda sk, sd: float(sk.get_bound(int(sd), False)), "double", D, None
        )
        reg[p + "upper_bound"] = _scalar(
            lambda sk, sd: float(sk.get_bound(int(sd), True)), "double", D, None
        )
        reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
        reg[p + "describe"] = _scalar(
            lambda sk, a, b: sk.describe(bool(a), bool(b)),
            "string", D, opt=(True, False),
        )
        # Apache DataSketches wire interop.  HLL: the Python HLL's
        # registers are byte-identical to datasketches-java's (same
        # coupon scheme), so wire blobs MERGE cross-system.  CPC (round
        # 5, the last interop family): our blobs are byte-identical to
        # java's MERGED serialization per flavor; all eight formats
        # import (HIP accumulators skipped, like an Apache union does).
        # Every reader sniffs wire blobs too.
        reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
        reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)
    reg["datasketch_hll_lg_config_k"] = _scalar(lambda sk: int(sk.lg_config_k), "int", HllSketch)
    reg["datasketch_hll_is_compact"] = _scalar(
        lambda sk: bool(sk.is_compact), "boolean", HllSketch
    )

    # ---- Frequent Items ----
    p, D = "datasketch_frequent_items_", FrequentItemsSketch
    for q in ("estimate", "lower_bound", "upper_bound"):
        reg[p + q] = _item_probe(
            D, lambda sk, its, q=q: [int(getattr(sk, "get_" + q)(i)) for i in its], "long"
        )
    reg[p + "epsilon"] = _scalar(lambda sk: float(sk.epsilon), "double", D)
    reg[p + "total_weight"] = _scalar(lambda sk: int(sk.total_weight()), "long", D)
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "num_active"] = _scalar(lambda sk: int(sk.num_active), "long", D)
    reg[p + "get_frequent"] = _scalar(
        lambda sk, et: [
            {"item": r[0], "estimate": r[1], "lower_bound": r[2], "upper_bound": r[3]}
            for r in sk.get_frequent_items(str(et))
        ],
        _FREQ_ROW_SCHEMA, D, None,
    )
    # Apache DataSketches wire interop (strings serde) — the
    # reference's FI blobs ARE this format; readers also sniff it
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)

    # ---- Bloom filter (beyond-reference family; see sketches/bloom.py) ----
    p, D = "datasketch_bloom_", BloomFilterSketch
    reg[p + "might_contain"] = _item_probe(
        D, lambda sk, its: sk.contains_values(its).tolist(), "boolean"
    )
    reg[p + "union"] = _scalar(lambda a, b: bloom_union(a, b).serialize(), "binary", D, D)
    reg[p + "intersect"] = _scalar(
        lambda a, b: bloom_intersect(a, b).serialize(), "binary", D, D
    )
    reg[p + "estimate"] = _scalar(lambda sk: float(sk.get_estimate()), "double", D)
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "num_bits"] = _scalar(lambda sk: int(sk.num_bits), "long", D)
    reg[p + "num_hashes"] = _scalar(lambda sk: int(sk.num_hashes), "int", D)
    reg[p + "bits_set"] = _scalar(lambda sk: int(sk.bits_set()), "long", D)
    reg[p + "current_fpp"] = _scalar(lambda sk: float(sk.current_fpp()), "double", D)
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)

    # ---- Count-Min (beyond-reference; sketches/cms.py) ----
    p, D = "datasketch_cms_", CountMinSketch
    reg[p + "estimate"] = _item_probe(
        D, lambda sk, its: [int(sk.get_estimate(i)) for i in its], "long"
    )
    reg[p + "total_weight"] = _scalar(lambda sk: int(sk.total_weight()), "long", D)
    reg[p + "epsilon"] = _scalar(lambda sk: float(sk.epsilon), "double", D)
    reg[p + "width"] = _scalar(lambda sk: int(sk.width), "long", D)
    reg[p + "depth"] = _scalar(lambda sk: int(sk.depth), "int", D)
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)

    # ---- Reservoir sample (beyond-reference; sketches/reservoir.py) ----
    p, D = "datasketch_reservoir_", ReservoirSampleSketch
    reg[p + "items"] = _scalar(lambda sk: sk.get_items(), "array<string>", D)
    reg[p + "n"] = _scalar(lambda sk: int(sk.n), "long", D)
    reg[p + "k"] = _scalar(lambda sk: int(sk.k), "int", D)
    reg[p + "num_retained"] = _scalar(lambda sk: int(sk.num_retained), "long", D)
    reg[p + "is_exact"] = _scalar(lambda sk: bool(sk.is_exact), "boolean", D)
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)
    # Apache ReservoirLongsSketch wire (round 10; longs-only — see
    # sketches/reservoir.py to_wire/from_wire for the interop contract)
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    # generic ReservoirItemsSketch image (strings serde): any items
    reg[p + "to_wire_strings"] = _scalar(
        lambda sk: sk.to_wire(serde="strings"), "binary", D
    )
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)
    # weighted-sample estimation surface (round 11): HT weight per
    # sampled item and the total-stream-weight estimator they sum to
    reg[p + "sample_weights"] = _scalar(
        lambda sk: [float(x) for x in sk.get_sample_weights()], "array<double>", D
    )
    reg[p + "total_weight_estimate"] = _scalar(
        lambda sk: float(sk.total_weight_estimate()), "double", D
    )
    # Apache VarOptItemsSketch wire (round 11) — the ecosystem's
    # WEIGHTED sampling family; uniform states export too (a uniform
    # estimation-mode sample is a pure R region).  The wire carries no
    # serde marker, so longs vs strings is the caller's contract (same
    # story as the typed quantile families).
    reg["datasketch_varopt_to_wire"] = _scalar(lambda sk: sk.to_varopt_wire(), "binary", D)
    reg["datasketch_varopt_to_wire_strings"] = _scalar(
        lambda sk: sk.to_varopt_wire(serde="strings"), "binary", D
    )
    reg["datasketch_varopt_from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)

    # ---- EBPPS exact-PPS sample (beyond-reference; sketches/ebpps.py) --
    p, D = "datasketch_ebpps_", EbppsSketch
    reg[p + "items"] = _scalar(lambda sk: sk.get_full_items(), "array<string>", D)
    reg[p + "n"] = _scalar(lambda sk: int(sk.n), "long", D)
    reg[p + "k"] = _scalar(lambda sk: int(sk.k), "int", D)
    reg[p + "c"] = _scalar(lambda sk: float(sk.c), "double", D)
    reg[p + "cumulative_weight"] = _scalar(lambda sk: float(sk.cumulative_wt), "double", D)
    reg[p + "num_retained"] = _scalar(lambda sk: int(sk.num_retained), "long", D)
    reg[p + "has_partial"] = _scalar(lambda sk: bool(sk.has_partial), "boolean", D)
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)
    # Apache EbppsItemsSketch wire (serVer 1, family 19; differential
    # tests vs live datasketches-java in tests/test_ebpps.py)
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    reg[p + "to_wire_strings"] = _scalar(
        lambda sk: sk.to_wire(serde="strings"), "binary", D
    )
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)

    # ---- Apache BloomFilter (filters.bloomfilter wire; XXH64 bits
    # byte-identical to datasketches-java — sketches/bloom_apache.py,
    # tests/test_bloomfilter_wire.py).  Distinct from datasketch_bloom_*
    # (Spark-parity bits): this family's state crosses systems.
    p, D = "datasketch_bloomfilter_", ApacheBloomFilter
    reg[p + "might_contain"] = _item_probe(
        D, lambda sk, its: sk.query_series(its).tolist(), "boolean"
    )
    reg[p + "union"] = _scalar(
        lambda a, b: bloomfilter_union(a, b).serialize(), "binary", D, D
    )
    reg[p + "intersect"] = _scalar(
        lambda a, b: bloomfilter_intersect(a, b).serialize(), "binary", D, D
    )
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "num_bits"] = _scalar(lambda sk: int(sk.capacity), "long", D)
    reg[p + "num_hashes"] = _scalar(lambda sk: int(sk.num_hashes), "int", D)
    reg[p + "seed"] = _scalar(lambda sk: int(sk.seed), "long", D)
    reg[p + "bits_set"] = _scalar(lambda sk: int(sk.num_bits_set), "long", D)
    reg[p + "fill_percentage"] = _scalar(lambda sk: float(sk.fill_percentage()), "double", D)
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)
    # the blob IS the Apache wire (fully self-describing); the pair
    # exists for API uniformity with the other wire families
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)

    # ---- ArrayOfDoubles tuple family (beyond-reference; Apache tuple
    # wire serVer 1 family 9 — sketches/tuple_aod.py, differential
    # tests vs live datasketches-java in tests/test_tuple_aod_wire.py)
    p, D = "datasketch_aod_", AodSketch
    reg[p + "estimate"] = _scalar(lambda sk: float(sk.get_estimate()), "double", D)
    reg[p + "lower_bound"] = _scalar(
        lambda sk, n: float(sk.get_bound(int(n), upper=False)), "double", D, opt=(2,)
    )
    reg[p + "upper_bound"] = _scalar(
        lambda sk, n: float(sk.get_bound(int(n), upper=True)), "double", D, opt=(2,)
    )
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "is_estimation_mode"] = _scalar(
        lambda sk: bool(sk.is_estimation_mode), "boolean", D
    )
    reg[p + "num_retained"] = _scalar(lambda sk: int(sk.num_retained), "long", D)
    reg[p + "theta"] = _scalar(lambda sk: float(sk.get_theta()), "double", D)
    reg[p + "num_values"] = _scalar(lambda sk: int(sk.num_values), "int", D)
    reg[p + "column_sums"] = _scalar(lambda sk: sk.column_sums(), "array<double>", D)
    reg[p + "column_sums_retained"] = _scalar(
        lambda sk: sk.column_sums_retained(), "array<double>", D
    )
    reg[p + "column_means"] = _scalar(lambda sk: sk.column_means(), "array<double>", D)
    reg[p + "union"] = _scalar(lambda a, b: aod_union(a, b).serialize(), "binary", D, D)
    reg[p + "intersect"] = _scalar(
        lambda a, b: aod_intersect(a, b).serialize(), "binary", D, D
    )
    reg[p + "a_not_b"] = _scalar(lambda a, b: aod_a_not_b(a, b).serialize(), "binary", D, D)
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)
    # key-set projection: tuple keys ARE theta hashes, so the result
    # composes with every theta scalar / set-op / wire path
    reg[p + "to_theta"] = _scalar(lambda sk: aod_to_theta(sk).serialize(), "binary", D)

    # ---- FDT frequent distinct tuples (beyond-reference; Apache
    # generic-tuple wire — sketches/fdt.py, differential vs live
    # datasketches-java FdtSketch in tests/test_fdt_wire.py)
    p, D = "datasketch_fdt_", FdtSketch
    reg[p + "estimate"] = _scalar(lambda sk: float(sk.get_estimate()), "double", D)
    reg[p + "lower_bound"] = _scalar(
        lambda sk, n: float(sk.get_bound(int(n), upper=False)), "double", D, opt=(2,)
    )
    reg[p + "upper_bound"] = _scalar(
        lambda sk, n: float(sk.get_bound(int(n), upper=True)), "double", D, opt=(2,)
    )
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "is_estimation_mode"] = _scalar(
        lambda sk: bool(sk.is_estimation_mode), "boolean", D
    )
    reg[p + "num_retained"] = _scalar(lambda sk: int(sk.num_retained), "long", D)
    reg[p + "theta"] = _scalar(lambda sk: float(sk.get_theta()), "double", D)
    reg[p + "union"] = _scalar(lambda a, b: fdt_union(a, b).serialize(), "binary", D, D)
    reg[p + "top_groups"] = _scalar(
        lambda sk, dims, limit: sk.get_result([int(d) for d in dims], int(limit)),
        "array<struct<group: string, count: long, estimate: double,"
        " lower_bound: double, upper_bound: double>>",
        D, None, opt=(0,),
    )
    reg[p + "to_wire"] = _scalar(lambda sk: sk.to_wire(), "binary", D)
    reg[p + "from_wire"] = _scalar(lambda sk: sk.serialize(), "binary", D)
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)

    # ---- exact summary stats (beyond-reference; sketches/stats.py) ----
    p, D = "datasketch_stats_", StatsSketch
    reg[p + "n"] = _scalar(lambda sk: int(sk.get_n()), "long", D)
    reg[p + "nonnull"] = _scalar(lambda sk: int(sk.get_nonnull()), "long", D)
    reg[p + "null_count"] = _scalar(
        lambda sk: int(sk.get_n() - sk.get_nonnull()), "long", D
    )
    reg[p + "min_num"] = _scalar(
        lambda sk: float(sk.get_min())
        if sk.kind == 1 and sk.get_min() is not None
        else None,
        "double", D,
    )
    reg[p + "max_num"] = _scalar(
        lambda sk: float(sk.get_max())
        if sk.kind == 1 and sk.get_max() is not None
        else None,
        "double", D,
    )
    reg[p + "min_str"] = _scalar(lambda sk: sk.get_min() if sk.kind == 2 else None, "string", D)
    reg[p + "max_str"] = _scalar(lambda sk: sk.get_max() if sk.kind == 2 else None, "string", D)
    reg[p + "sum"] = _scalar(
        lambda sk: None if sk.get_sum() is None else float(sk.get_sum()), "double", D
    )
    reg[p + "is_empty"] = _scalar(lambda sk: bool(sk.is_empty), "boolean", D)
    reg[p + "describe"] = _scalar(lambda sk: sk.describe(), "string", D)
    return reg
