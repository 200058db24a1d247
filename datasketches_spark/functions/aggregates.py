"""Sketch-building aggregate functions as grouped-agg Arrow UDFs.

These give the same SQL surface as the reference's aggregate
registrations (codegen/generated.cpp.j2:731-788, theta
src/theta_sketch.cpp:401-428): ``SELECT g, datasketch_kll(200, x) FROM
t GROUP BY g``, usable from ``spark.sql``, ``df.groupBy().agg`` and
window frames.  Fed raw values they build; fed sketch blobs they merge
(the reference's create/merge overload pair).

Each aggregate receives its group as ``pyarrow.Array`` arguments, so
the declared column type picks the path: a BINARY column merges, an
integral one keeps int64 hashing even when the group holds a NULL
(a pandas UDF would see that group as float64 and hash doubles).  The
group is folded by :func:`~datasketches_spark.families.fold` -- the
same ``prepare`` / ``update_prepared`` pair as the scale path.

SCALE NOTE: Spark executes grouped-agg Python UDFs without partial
aggregation -- raw rows shuffle to the reducer.  That is fine for
interactive SQL and small groups; the 100 TB path is
``datasketches_spark.aggregation.sketch_agg`` (map-side combine,
blob-only shuffle).  Semantics are identical.

Empty-input semantics match the reference: generated families return
NULL for an empty/all-NULL group (codegen/generated.cpp.j2:291-294);
Theta returns an empty compact sketch (src/theta_sketch.cpp:156-165)
and Frequent Items a serialized empty sketch
(src/frequent_items_sketch.cpp:133-139).

K-argument handling: the reference validates K as a bind-time constant
and erases it from the runtime plan (generated.cpp.j2:50-94).  Spark
has no custom bind hook, so K arrives as a (constant) column; we
validate the first value per group -- same effect, validated lazily.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BinaryType

from ..families import aod_summaries, fold, from_arrow


def _aggregate(family: str, with_k: bool = True, extra: "str | None" = None):
    """The grouped-agg UDF of ``family``: an optional leading constant
    K, the value column, and for ``extra="weight"`` a per-row sampling
    weight or for ``extra="summary"`` an aod ``array<double>`` summary
    column (either one makes the call a build, whatever the value
    column's type)."""
    n_args = with_k + 1 + (extra is not None)

    @arrow_udf(BinaryType())
    def agg(*cols: pa.Array) -> bytes:
        if len(cols) != n_args:
            raise TypeError(f"the {family} aggregate takes {n_args} arguments, got {len(cols)}")
        if not with_k:
            cols = (None, *cols)
        k, v, w = (*cols, None)[:3]
        k = None if k is None else k.drop_null()
        k = int(k[0].as_py()) if k is not None and len(k) else None
        series, kind, blobs = from_arrow(v)
        weights = None if w is None else from_arrow(w)[0]
        if extra == "summary":
            weights = aod_summaries(weights.tolist())
        sk = fold(None, family, k, series, kind, blobs and w is None, weights)
        if family not in ("theta", "frequent_items") and sk.is_empty:
            return None  # generated families: NULL on empty input
        return sk.serialize()

    return agg


def build_aggregate_registry() -> dict[str, object]:
    reg: dict[str, object] = {}
    # generated families: K is a required leading argument
    for fam in ("quantiles", "kll", "req", "tdigest", "hll", "cpc"):
        reg[f"datasketch_{fam}"] = _aggregate(fam)
    # beyond-reference string-items KLL (Apache KllItemsSketch +
    # ArrayOfStringsSerDe wire — sketches/kll_items.py): quantiles
    # over ordered strings; same K-leading convention, blobs merge
    reg["datasketch_kll_items"] = _aggregate("kll_items")
    # the union aggregates are the same machinery fed blobs
    # (DSHLLMergeOperation, codegen/generated.cpp.j2:429-450)
    reg["datasketch_hll_union"] = _aggregate("hll")
    reg["datasketch_cpc_union"] = _aggregate("cpc")
    # hand-written families default their size parameter, and the
    # K-taking variant has its own `_lgk` name: a varargs UDF could tell
    # the arities apart, but these names are the public surface
    reg["datasketch_theta"] = _aggregate("theta", with_k=False)
    reg["datasketch_theta_lgk"] = _aggregate("theta")
    reg["datasketch_frequent_items"] = _aggregate("frequent_items", with_k=False)
    reg["datasketch_frequent_items_lgk"] = _aggregate("frequent_items")
    # beyond-reference families, each with a `_union_agg` twin (the
    # same aggregate; the name documents a blob input):
    # - bloom: K argument is lg(num_bits);
    # - bloomfilter: the APACHE BloomFilter (filters.bloomfilter wire,
    #   XXH64 bits byte-identical to datasketches-java —
    #   sketches/bloom_apache.py), same K; fixed 6 hashes, seed 9001
    #   (java's builder draws a random seed; a pinned one is what makes
    #   filters reproducible and cross-system mergeable);
    # - fdt: frequent distinct tuples (Apache generic-tuple wire —
    #   sketches/fdt.py), datasketch_fdt(lg_k, array(dims)) samples
    #   DISTINCT string tuples; *_top_groups post-processes;
    # - reservoir: K is the sample size;
    # - ebpps: exact-PPS bounded sample (Apache's third sampling
    #   family; sketches/ebpps.py), K is the max sample size;
    # - cms: Count-Min, K argument is lg(width).
    for fam in ("bloom", "bloomfilter", "fdt", "reservoir", "ebpps", "cms"):
        reg[f"datasketch_{fam}"] = _aggregate(fam)
        reg[f"datasketch_{fam}_union_agg"] = _aggregate(fam)
    # weight-proportional samples (Efraimidis-Spirakis keys for
    # reservoir): the third argument is the per-row weight
    for fam in ("reservoir", "ebpps"):
        reg[f"datasketch_{fam}_weighted"] = _aggregate(fam, extra="weight")
    # beyond-reference exact summary stats (sketches/stats.py): no K;
    # like every family the same aggregate also merges blobs, and a
    # BINARY column is a merge even when every blob is NULL (an empty
    # state, NULL -- not NULL rows counted into n)
    reg["datasketch_stats"] = _aggregate("stats", with_k=False)
    reg["datasketch_stats_union_agg"] = _aggregate("stats", with_k=False)

    # beyond-reference ArrayOfDoubles tuple family (Apache tuple wire,
    # sketches/tuple_aod.py): distinct keys + element-wise-summed
    # double summaries.  SQL shape:
    #   datasketch_aod(lg_k, key, array(v1, v2, ...))
    # NULL keys skip the row; NULL summary arrays and NULL/NaN
    # elements contribute zeros (SQL SUM semantics — the additive
    # identity; families.aod_summaries) and the key still counts as
    # seen.  The same rule holds on every Spark entry point
    # (tuple_sketch_agg, the UDTF) — paths agree by construction.
    reg["datasketch_aod"] = _aggregate("aod", extra="summary")

    @arrow_udf(BinaryType())
    def aod_union_agg(v: pa.Array) -> bytes:
        from ..sketches.tuple_aod import AodSketch

        # accumulate at the MINIMUM input lg_k (Apache mixed-K union
        # degradation) rather than a fixed default — same-k blobs
        # union LOSSLESSLY regardless of how large their k is
        sks = [AodSketch.deserialize(b) for b in v.drop_null().to_pylist()]
        if not sks:
            return None
        out = AodSketch(min(s.lg_k for s in sks), sks[0].num_values)
        for s in sks:
            out.merge(s)
        return None if out.is_empty else out.serialize()

    reg["datasketch_aod_union_agg"] = aod_union_agg
    return reg
