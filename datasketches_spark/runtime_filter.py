"""Bloom-filter runtime pruning: semi-join reduction without a shuffle.

The classic 100 TB pattern: a huge fact table must be reduced to rows
whose key appears in a (relatively) small dimension/allowlist before an
expensive downstream join or shuffle.  A real semi-join shuffles the
fact side; broadcasting the raw keyset is limited by driver memory.  A
Bloom filter of the keyset is a few KB-MB regardless of key count, so:

  phase 1: build the filter over the dim keys — Spark's BloomFilter in
           one all-JVM job on a classic session, the Apache filter's
           two-phase sketch build under Spark Connect
  phase 2: probe every fact row — Catalyst's ``might_contain`` for
           Spark's filter, an Arrow UDF for the Apache one; the fact
           table streams through its scan, no shuffle, no driver
           collect of the keyset.

False positives pass the filter (tune via ``lg_m``) — downstream exact
joins stay correct, they just see slightly more rows; false negatives
cannot occur, so no matching row is ever lost.  This mirrors what
Spark's AQE runtime filter / ``InjectRuntimeFilter`` does internally
with ``BloomFilterAggregate`` (not exposed to the public SQL registry
in this build), but works on any DataFrame pair and any key expression,
and the filter itself is a storable, mergeable sketch column.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DataType, StringType

from . import compat
from .aggregation import (
    _blob_schema,
    _fold_partitions,
    sketch_agg,
    sketch_merge,
    sketch_partial,
)
from .families import coerce_value_batch, from_arrow, prepare, spark_value_kind, update_prepared
from .sketches import ApacheBloomFilter, BloomFilterSketch


def bloom_filter_of(
    df: DataFrame, key_col: str, lg_m: int = 22, output_col: str = "sketch"
) -> DataFrame:
    """One-row DataFrame holding a Bloom filter of ``df[key_col]``."""
    return sketch_agg(df, key_col, "bloom", k=lg_m, output_col=output_col)


def bloom_filter_blob(df: DataFrame, key_col: str, lg_m: int = 22) -> bytes:
    """The serialized filter bytes, built distributed.

    Two merge strategies, picked by the (partitions x blob-size)
    product:

    - **driver merge** (small filters / bounded parallelism): phase-1
      partials are collected and OR-merged on the driver — one job,
      one Python stage, NO shuffle.  Collected bytes are
      partitions * 2^lg_m/8, so this is gated at ~64 MB.
    - **two-phase** (wide clusters / big filters): the blob-only
      shuffle merge; the driver receives exactly one blob regardless
      of cluster width.

    Measured (sf0.1, local[32]): the driver-merge path saves the whole
    merge stage, ~0.15 s off the build job.
    """
    return _merged_filter_blob(
        df, lg_m, "bloom", BloomFilterSketch(lg_m),
        sketch_partial(df, key_col, "bloom", k=lg_m),
    )


def _merged_filter_blob(df, lg_m, family, empty, partial) -> bytes:
    """Merge a filter's phase-1 ``partial`` blobs (column ``sketch``)
    into ``empty`` and return its bytes: on the driver while
    partitions x filter bytes stay bounded, else through the blob-only
    shuffle merge (:func:`sketch_merge`)."""
    # one partial per INPUT PARTITION (not per core): gate on the
    # actual scan partition count so the collect stays bounded on
    # wide scans (getNumPartitions plans but runs no job)
    parts = compat.scan_partitions(df)
    # unknown width (Spark Connect): the blob-only shuffle merge is
    # bounded at any cluster width, so it is the safe default
    if parts is None or parts * (1 << lg_m) // 8 > (64 << 20):
        # the merge accumulator adopts the partials' geometry on the
        # first union; an empty input leaves ``empty`` as the answer
        partial = sketch_merge(partial, family, k=lg_m)
    for r in partial.collect():
        empty.merge(type(empty).deserialize(bytes(r["sketch"])))
    return empty.serialize()


def bloom_prune_with(
    fact: DataFrame, fact_key, blob: bytes, invert: bool = False
) -> DataFrame:
    """Filter ``fact`` by a pre-built Bloom filter blob.  The blob
    (2^lg_m/8 bytes regardless of key count) is never shipped per-row
    through Arrow, so probing is O(keys), not O(keys x filter_size).

    ``invert=True`` keeps only *definitely-unseen* keys (Bloom
    negatives are exact) — the dedup/novelty direction; NULL keys are
    dropped either way.
    """
    hit = _udf_probe(
        fact, fact_key, blob, BloomFilterSketch.deserialize, BloomFilterSketch.contains_values
    )
    return fact.where(~hit if invert else hit)


def bloomfilter_blob(
    df: DataFrame,
    key_col: str,
    lg_m: int = 22,
    num_hashes: int = 6,
    seed: int = 9001,
) -> bytes:
    """Apache-wire BloomFilter bytes of ``df[key_col]``, built
    distributed (sketches/bloom_apache.py — XXH64 bits byte-identical
    to datasketches-java, so the returned blob is directly loadable by
    ANY DataSketches system: the cross-system runtime-filter hand-off).

    Same merge-strategy gate as :func:`bloom_filter_blob`: driver
    OR-merge of phase-1 partials while partitions x filter bytes stay
    bounded, the blob-only shuffle otherwise.  ``num_hashes`` and
    ``seed`` flow into BOTH build paths (a filter meant to union with
    an existing java-side filter must match its full geometry)."""
    def empty() -> ApacheBloomFilter:
        return ApacheBloomFilter(1 << lg_m, num_hashes, seed)

    kind = spark_value_kind(df.schema[key_col].dataType)
    partial = _fold_partitions(
        df, [], [key_col], _blob_schema(df, [], ["sketch"]), empty,
        lambda pdf: [prepare("bloomfilter", pdf[key_col], kind)],
        lambda sk, values: update_prepared("bloomfilter", sk, values[0]),
        lambda sk: [sk.to_wire()],
    )
    return _merged_filter_blob(df, lg_m, "bloomfilter", empty(), partial)


def bloomfilter_prune_with(
    fact: DataFrame, fact_key, blob: bytes, invert: bool = False
) -> DataFrame:
    """:func:`bloom_prune_with`, Apache-wire edition: the broadcast
    blob may come from THIS engine or from any other DataSketches
    system (java/cpp/py BloomFilter.toByteArray()) — probe semantics
    are bit-identical either way."""
    hit = _udf_probe(
        fact, fact_key, blob, ApacheBloomFilter.from_wire, ApacheBloomFilter.query_series
    )
    return fact.where(~hit if invert else hit)


def _join_type(spark, a: DataType, b: DataType) -> DataType:
    """The type an equi-join compares keys of types ``a`` and ``b`` in:
    a string meets the other type (``'012' = 12`` holds); any other
    pair widens as ``coalesce`` widens it (analysis only, no job)."""
    if a == b:
        return a
    if isinstance(a, StringType) != isinstance(b, StringType):
        return b if isinstance(a, StringType) else a
    both = F.coalesce(F.lit(None).cast(a), F.lit(None).cast(b))
    return spark.range(0).select(both).schema[0].dataType


def _as_type(df: DataFrame, key, as_type: "DataType | None" = None) -> "tuple[Column, DataType]":
    """``df``'s ``key`` (a name or Column) compared as ``as_type``
    (default: its own type), and that type: ``try_cast`` unless both
    are integral, so a value ``as_type`` cannot hold is NULL."""
    key = key if isinstance(key, Column) else F.col(key)
    own = df.select(key).schema[0].dataType
    if as_type in (None, own) or spark_value_kind(own) == spark_value_kind(as_type) == "int64":
        return key, own
    return key.try_cast(as_type), as_type


def _filter_key(df: DataFrame, key, as_type: "DataType | None" = None) -> Column:
    """The BIGINT a Spark BloomFilter holds for :func:`_as_type` of
    ``df``'s ``key``, read by both the filter build and the probe: an
    integral key's value, else its ``xxhash64`` (-0.0 and 0.0, and all
    NaNs, hash alike, as join equality has it).  NULL stays NULL, not
    ``xxhash64``'s seed."""
    key, key_type = _as_type(df, key, as_type)
    if spark_value_kind(key_type) == "int64":
        return key.cast("long")
    return F.when(key.isNotNull(), F.xxhash64(key))


def jvm_bloom_filter_bytes(
    df: DataFrame,
    key_col: str,
    lg_m: int = 22,
    num_hashes: int = 6,
    key_type: "DataType | None" = None,
) -> bytes:
    """Serialized Spark BloomFilter of :func:`_filter_key` over
    ``df[key_col]``, built by the JVM in one job (no Python, no Arrow).
    ``2^lg_m`` bits; expectedNumItems is back-derived so java picks
    ``num_hashes`` hash functions (k = round(numBits/n * ln 2)).  An
    input with no non-NULL key yields an empty filter of the same
    geometry."""
    from py4j.protocol import Py4JJavaError  # noqa: PLC0415
    if not compat.has_jvm(df):
        raise RuntimeError(
            "Spark's BloomFilter needs a classic py4j session "
            "(DataFrameStatFunctions.bloomFilter is Scala-only); under "
            "Spark Connect build the Apache filter with bloomfilter_blob"
        )
    key = _filter_key(df, key_col, key_type)
    num_bits = 1 << lg_m
    expected = max(1, int(round(num_bits * math.log(2) / num_hashes)))
    jvm = df.sparkSession.sparkContext._jvm
    try:
        jbf = df._jdf.stat().bloomFilter(key._jc, expected, num_bits)
    except Py4JJavaError:
        # the bloomFilter aggregate has no zero value: with no
        # non-NULL key it fails deserializing a null buffer
        if not df.where(key.isNotNull()).isEmpty():
            raise
        jbf = jvm.org.apache.spark.util.sketch.BloomFilter.create(expected, num_bits)
    baos = jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(baos)
    return bytes(baos.toByteArray())


def _probe(fact: DataFrame, fact_key, blob: bytes, key_type: "DataType | None" = None) -> Column:
    """Boolean Column: might :func:`_filter_key` of ``fact_key`` be in
    Spark's filter ``blob``?  Catalyst's ``might_contain`` — a
    codegen'd Filter, no Python in the plan.  NULL for a NULL key, so
    ``where(c)`` and ``where(~c)`` both drop NULL keys."""
    return compat.bloom_might_contain(_filter_key(fact, fact_key, key_type), blob)


def _udf_probe(fact: DataFrame, fact_key, blob: bytes, load, contains) -> Column:
    """:func:`_probe` for a sketch filter ``blob`` (``load`` decodes
    it once per Python worker, ``contains`` probes a batch): an Arrow
    UDF, so a NULL-bearing int batch is still probed as int64."""
    bc = compat.broadcast_value(fact.sparkSession, bytes(blob))
    holder: list = []

    @arrow_udf("boolean")
    def probe(keys: pa.Array) -> pa.Array:
        if not holder:
            holder.append(load(bc.value))
        series, kind, _ = from_arrow(keys)
        ok = series.notna().to_numpy()
        out = np.full(len(series), None, dtype=object)
        if ok.any():
            out[ok] = contains(holder[0], coerce_value_batch(series[ok], kind))
        return pa.array(out.tolist(), type=pa.bool_())

    return probe(fact_key)


def _hit(fact: DataFrame, fact_key, dim: DataFrame, dim_key: str, lg_m: int) -> Column:
    """Might ``fact_key`` be in ``dim[dim_key]``, both compared as their
    equi-join compares them?  Spark's filter on a classic session, the
    Apache one under Spark Connect."""
    key_type = _join_type(
        fact.sparkSession, fact.select(fact_key).schema[0].dataType, dim.schema[dim_key].dataType
    )
    if compat.has_jvm(dim):
        blob = jvm_bloom_filter_bytes(dim, dim_key, lg_m=lg_m, key_type=key_type)
        return _probe(fact, fact_key, blob, key_type)
    dim = dim.select(_as_type(dim, dim_key, key_type)[0].alias(dim_key))
    return _udf_probe(
        fact, _as_type(fact, fact_key, key_type)[0], bloomfilter_blob(dim, dim_key, lg_m=lg_m),
        ApacheBloomFilter.from_wire, ApacheBloomFilter.query_series,
    )


def bloom_prune(
    fact: DataFrame,
    fact_key,
    dim: DataFrame,
    dim_key: str,
    lg_m: int = 22,
) -> DataFrame:
    """Rows of ``fact`` whose key is (probably) in ``dim[dim_key]``.

    No false negatives: every fact row whose key equals a dim key under
    the equi-join ``fact_key = dim_key`` survives, whatever the two key
    types.  Output may contain a small fraction of non-matching rows
    (FPP ~ (1-e^(-6n/m))^6); follow with an exact join if needed.

    On a classic session the filter is Spark's own BloomFilter over
    :func:`_filter_key`, for every key type: one all-JVM build job, and
    Catalyst's ``might_contain`` over the filter bytes as a plan
    literal — a codegen'd Filter, no Python.  Under Spark Connect it is
    the Apache filter (:func:`bloomfilter_blob`), probed by an Arrow
    UDF.  Both scale unchanged when ``dim`` has billions of keys.
    """
    return fact.where(_hit(fact, fact_key, dim, dim_key, lg_m))


def bloom_pruned_anti_join(
    fact: DataFrame,
    drop: DataFrame,
    key_col: str,
    lg_m: int = 23,
) -> DataFrame:
    """``fact LEFT ANTI JOIN drop ON key_col`` with the fact side
    pre-split by a Bloom filter over ``drop``'s keys — guide §3.2's
    big-side reduction applied to the ANTI direction.

    A plain anti-join against a Python-derived ``drop`` (unknown
    planner stats) sort-merges the whole corpus: every fact row —
    matching or not — is shuffled and sorted just to be checked
    against a key set that is usually tiny.  Bloom NEGATIVES are
    exact, so definitely-unseen rows (the overwhelming majority when
    duplicates are sparse) ship straight to the output with NO
    shuffle; only possibly-seen rows (true drops + the filter's false
    positives) enter the exact anti-join.  NULL-key rows can never
    match and are routed straight to the output, matching
    ``left_anti`` semantics.  The result ROW SET is identical to the
    plain anti-join for any filter contents — false positives only
    send extra rows through the exact join.

    Costs: the drop side is scanned twice (filter build + join side —
    cheap: it is the small side, typically checkpointed/persisted by
    callers), the fact side is scanned per branch instead of shuffled
    once (scans with pushdown beat a corpus-wide shuffle at scale),
    and the ``2^lg_m``-bit filter ships to every task.  Default
    ``lg_m=23`` (1 MB) holds ~1M dropped keys at <1% FPP; beyond that
    the prune degrades gracefully (more rows re-checked exactly, never
    wrong) — raise ``lg_m`` when billions of keys are dropped.  The
    filter's route matches :func:`bloom_prune`.
    """
    drop_keys = drop.select(key_col).where(F.col(key_col).isNotNull())
    # NULL keys can never match, so they are routed around the probe
    # (below), as left_anti keeps them.  An empty drop side builds an
    # empty filter: every fact row takes the exact-negative branch.
    fact_nn = fact.where(F.col(key_col).isNotNull())
    hit = _hit(fact_nn, key_col, drop_keys, key_col, lg_m)
    checked = fact_nn.where(hit).join(drop_keys, key_col, "left_anti")
    out = fact_nn.where(~hit).unionByName(checked)
    if fact.schema[key_col].nullable:
        # both probe branches drop NULL keys; anti-join keeps them
        out = out.unionByName(fact.where(F.col(key_col).isNull()))
    return out


def anti_join_pruned(
    fact: DataFrame, drop: DataFrame, key_col: str, lg_m: int = 23
) -> DataFrame:
    """``left_anti`` that bloom-prunes the fact side ONLY when the
    planner would otherwise shuffle it (SortMergeJoin/ShuffledHashJoin
    against a small-but-unknown-stats ``drop`` side).  When the plain
    join already broadcasts ``drop`` — one corpus scan, no shuffle —
    that plan is strictly better than the split and is kept."""
    plain = fact.join(drop, key_col, "left_anti")
    plan = compat.physical_plan_string(plain)
    if "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan:
        return plain
    return bloom_pruned_anti_join(fact, drop, key_col, lg_m=lg_m)
