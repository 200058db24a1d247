"""Phase-1 fold kernel and phase-2 merge invariants.

Partition shape must not change an answer: a build over empty and
one-row partitions next to a full one equals the single-partition
build, for every builder that runs through the shared fold kernel.
The merge keeps un-dropped blob series, so a group whose blobs are all
NULL still merges to an empty sketch.

The merge runs the same kernel over the hash-shuffled blobs, so it
keeps Spark's grouping semantics: array, struct, decimal, date and
binary keys group as the JVM groups them, a NULL (or NaN) key is one
group however many Arrow batches carry it, -0.0 equals 0.0, and the
global merge of an empty input is zero rows."""

from contextlib import contextmanager
from unittest import mock

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_spark import compat
from datasketches_spark.aggregation import (
    _sketch_partials,
    sketch_agg,
    sketch_agg_multi,
    sketch_merge,
    sketch_partial,
    theta_agg_hybrid,
    tuple_sketch_agg,
    tuple_sketch_partial,
)
from datasketches_spark.families import (
    FAMILY_CLASSES,
    build_params,
    coerce_value_batch,
    create_sketch,
    update_sketch,
)
from datasketches_spark.runtime_filter import bloomfilter_blob
from datasketches_spark.sketches import (
    AodSketch,
    ApacheBloomFilter,
    HllSketch,
    KllSketch,
    ThetaSketch,
)

ROWS = [(i % 3, i, float(i % 7)) for i in range(300)]
SCHEMA = "g int, v bigint, x double"


def _theta(df):
    return bytes(sketch_agg(df, "v", "theta", k=12).first().sketch)


def _multi(df):
    out = {}
    specs = [("v", "hll", 12, "h"), ("x", "kll", 200, "q")]
    for r in sketch_agg_multi(df, specs, group_cols=["g"]).collect():
        h = HllSketch.deserialize(bytes(r.h))
        q = KllSketch.deserialize(bytes(r.q))
        out[r.g] = (h.get_estimate(), q.n, q.get_min_item(), q.get_max_item())
    return out


def _tuple(df):
    out = {}
    for r in tuple_sketch_agg(df, "v", ["x"], group_cols=["g"], lg_k=12).collect():
        sk = AodSketch.deserialize(bytes(r.sketch))
        out[r.g] = (sk.get_estimate(), sk.column_sums())
    return out


def _hybrid(df):
    return {r.g: r.estimate for r in theta_agg_hybrid(df, "v", ["g"]).collect()}


def _bloomfilter(df, lg_m, parts):
    """``bloomfilter_blob`` on a forced merge route: a known partition
    count (1) takes the driver merge, an unknown one (None) the
    shuffle merge."""
    with mock.patch.object(compat, "scan_partitions", lambda _df: parts):
        return bytes(bloomfilter_blob(df, "v", lg_m=lg_m))


BUILDERS = {
    "sketch_agg_theta": _theta,
    "sketch_agg_multi": _multi,
    "tuple_sketch_agg": _tuple,
    "theta_agg_hybrid": _hybrid,
    "bloomfilter_driver": lambda df: _bloomfilter(df, 12, 1),
    "bloomfilter_shuffle": lambda df: _bloomfilter(df, 12, None),
}


@pytest.fixture(scope="module")
def frames(spark):
    sc = spark.sparkContext
    single = spark.createDataFrame(sc.parallelize(ROWS, 1), SCHEMA)
    # partitions of 0, 1, 299 and 0 rows
    shapes = [[], ROWS[:1], ROWS[1:], []]
    split = spark.createDataFrame(
        sc.parallelize(shapes, len(shapes)).flatMap(lambda p: p), SCHEMA
    )
    assert split.rdd.glom().map(len).collect() == [0, 1, 299, 0]
    return single, split


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_partition_shape_does_not_change_answer(frames, name):
    single, split = frames
    build = BUILDERS[name]
    assert build(split) == build(single)


def test_theta_exact_mode_answer(frames):
    sk = ThetaSketch.deserialize(_theta(frames[1]))
    assert sk.get_estimate() == 300.0


def test_merge_all_null_blob_group_is_empty_sketch(spark):
    partial = spark.createDataFrame([(1, None), (1, None)], "g int, sketch binary")
    row = sketch_merge(
        partial, "kll", ["g"], k=200,
        finalize=lambda sk: {"n": sk.n}, finalize_schema="n bigint",
    ).first()
    assert row.n == 0


@contextmanager
def _batch_rows(spark, n):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _estimates(df, key):
    return sketch_merge(
        df, "theta", [key], k=12,
        finalize=lambda sk: {"est": sk.get_estimate()},
        finalize_schema="est double",
    )


KEY_EXPRS = {
    "array": "array(gid, gid * 10)",
    "struct": "named_struct('a', gid, 'b', cast(gid AS string))",
    "decimal": "cast(gid AS decimal(12, 2))",
    "date": "date_add(DATE'2024-01-01', cast(gid AS int))",
    "binary": "cast(cast(gid AS string) AS binary)",
}


@pytest.mark.parametrize("kind", sorted(KEY_EXPRS))
def test_merge_keys_group_like_spark(spark, kind):
    # several blobs per key (one per shard x input partition), arriving
    # two rows per Arrow batch, merged under a key of each type
    raw = spark.range(0, 600, numPartitions=3).select(
        (F.col("id") % 5).alias("gid"),
        (F.col("id") % 4).alias("shard"),
        "id",
    )
    single = {
        r.gid: ThetaSketch.deserialize(bytes(r.sketch)).get_estimate()
        for r in sketch_agg(raw.coalesce(1), "id", "theta", ["gid"], k=12).collect()
    }
    partial = sketch_agg(raw, "id", "theta", ["gid", "shard"], k=12).select(
        F.expr(KEY_EXPRS[kind]).alias("key"), "sketch"
    )
    keys = spark.range(5).select(
        F.col("id").alias("gid"), F.expr(KEY_EXPRS[kind].replace("gid", "id")).alias("key")
    )
    with _batch_rows(spark, 2):
        rows = _estimates(partial, "key").join(keys, "key").collect()
    assert len(rows) == 5  # one row per key
    assert {r.gid: r.est for r in rows} == single


@pytest.mark.parametrize("ktype", ["int", "double", "string"])
def test_null_key_split_across_batches_is_one_row(spark, ktype):
    blobs = [
        bytes(sketch_agg(spark.range(i * 10, i * 10 + 10), "id", "theta", k=12)
              .first().sketch)
        for i in range(3)
    ]
    rows = [(None, b) for b in blobs * 2] + [(1, blobs[0])]
    partial = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), "g int, sketch binary"
    ).select(F.col("g").cast(ktype).alias("g"), "sketch")
    with _batch_rows(spark, 2):
        got = sorted(
            (r.g is None, r.est) for r in _estimates(partial, "g").collect()
        )
    assert got == [(False, 10.0), (True, 30.0)]


def test_negative_zero_key_merges_with_zero(spark):
    a, b = (
        bytes(sketch_agg(spark.range(lo, lo + 10), "id", "theta", k=12)
              .first().sketch)
        for lo in (0, 100)
    )
    partial = spark.createDataFrame(
        spark.sparkContext.parallelize([(0.0, a), (-0.0, b)], 2),
        "g double, sketch binary",
    )
    got = _estimates(partial, "g").collect()
    assert [(abs(r.g), r.est) for r in got] == [(0.0, 20.0)]


def test_global_merge_of_empty_input_is_no_rows(spark):
    empty = spark.createDataFrame([], "sketch binary")
    assert sketch_merge(empty, "theta", [], k=12).count() == 0
    fin = sketch_merge(
        empty, "theta", k=12,
        finalize=lambda sk: {"est": sk.get_estimate()}, finalize_schema="est double",
    )
    assert fin.count() == 0


PLAN_BUILDERS = {
    "sketch_agg": lambda df: sketch_agg(df, "v", "theta", ["g"], k=12),
    "sketch_agg_multi": lambda df: sketch_agg_multi(
        df, [("v", "hll", 12, "h"), ("x", "kll", 200, "q")], ["g"]
    ),
    "sketch_merge": lambda df: sketch_merge(
        sketch_agg(df, "v", "theta", ["g"], k=12), "theta", [], k=12
    ),
    "tuple_sketch_agg": lambda df: tuple_sketch_agg(df, "v", ["x"], ["g"], lg_k=12),
}


@pytest.mark.parametrize("name", sorted(PLAN_BUILDERS))
def test_merge_plan_is_a_map_over_the_shuffle(frames, name):
    plan = PLAN_BUILDERS[name](frames[0])._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas merge(" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "Sort" not in plan, plan


# ------------------------------------------------ golden byte identity
#
# The kernel groups each chunk once, prepares (coerces, drops NULLs,
# hashes) each input column once, and folds per-group slices.  Every
# group's output must equal a sketch built by create_sketch +
# update_sketch over that group's rows in input order, byte for byte.

GOLDEN_SCHEMA = "g int, v bigint, x double, s string, w double, a array<string>"


def _golden_rows():
    xs = [1.5, float("nan"), -0.0, 0.0, None, 2.25, -3.0]
    ss = ["a", "", None, "bb", "a", "", "ccc"]
    rows = []
    for i in range(60):
        g = None if i % 11 == 5 else i % 4
        if g == 2:  # an all-NULL value group
            rows.append((g, None, None, None, None, None))
            continue
        rows.append((
            g,
            None if i % 5 == 0 else i % 17,
            xs[i % len(xs)],
            ss[i % len(ss)],
            None if i % 9 == 0 else float(i % 4),
            None if i % 7 == 0 else [ss[i % 7] or "z", str(i % 3)],
        ))
    return rows


# (input column, family, k); k is lg_k / k / lg_m per family
GOLDEN_SPECS = [
    ("v", "theta", 5), ("s", "theta", 12), ("x", "theta", 12),
    ("v", "hll", 8), ("s", "hll", 10), ("s", "cpc", 10), ("x", "cpc", 10),
    ("x", "kll", 8), ("v", "kll", 200), ("x", "quantiles", 8),
    ("x", "req", 12), ("v", "tdigest", 100), ("s", "kll_items", 8),
    ("s", "frequent_items", 3), ("s", "cms", 8), ("v", "bloom", 12),
    ("v", "bloomfilter", 12), ("v", "stats", None), ("x", "stats", None),
    ("s", "stats", None), ("a", "fdt", 6),
    ("s", "reservoir", 64), ("v", "ebpps", 64),
]
KINDS = {"v": "int64"}


def _series(rows, col):
    """A group's column as the kernel's chunk renders it."""
    vals = [r[col] for r in rows]
    if col in ("v", "x", "w"):  # a NULL-bearing bigint batch is float64
        return pd.Series(vals, dtype="float64")
    return pd.Series(
        [np.array(v, dtype=object) if isinstance(v, list) else v for v in vals],
        dtype=object,
    )


def _reference(family, k, series, kind):
    if family != "stats":  # stats counts the NULL rows coercion drops
        series = coerce_value_batch(series, kind)
    sk = create_sketch(family, build_params(family, k, series))
    update_sketch(family, sk, series)
    return sk


def _answer(family, blob):
    """The blob's bytes; exact-mode answers for the randomized (unseeded
    RNG) families."""
    if family == "reservoir":
        sk = FAMILY_CLASSES[family].deserialize(bytes(blob))
        return sk.n, sorted(sk.get_items())
    if family == "ebpps":
        sk = FAMILY_CLASSES[family].deserialize(bytes(blob))
        return sk.n, sk.cumulative_wt, sk.wt_max, sk.rho
    return bytes(blob)


@pytest.fixture(scope="module")
def golden(spark):
    rows = _golden_rows()
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), GOLDEN_SCHEMA)
    groups: dict = {}
    for r in df.collect():  # input order, per group
        groups.setdefault(r.g, []).append(r)
    return df, groups


def _by_group(rows):
    return {r.g: r for r in rows}


def test_golden_sketch_partials_match_update_sketch(spark, golden):
    df, groups = golden
    specs = [(c, f, k, f"o{i}") for i, (c, f, k) in enumerate(GOLDEN_SPECS)]
    with _batch_rows(spark, 2):
        out = _by_group(_sketch_partials(df, specs, ["g"]).collect())
    assert set(out) == set(groups)
    for g, rows in groups.items():
        for col, family, k, o in specs:
            ref = _reference(family, k, _series(rows, col), KINDS.get(col))
            assert _answer(family, out[g][o]) == _answer(family, ref.serialize()), (
                g, col, family,
            )


@pytest.mark.parametrize("family,col", [("reservoir", "s"), ("ebpps", "v")])
def test_golden_weighted_partials_match_update_series(spark, golden, family, col):
    df, groups = golden
    with _batch_rows(spark, 2):
        out = _by_group(
            sketch_partial(df, col, family, ["g"], k=64, weight_col="w").collect()
        )
    for g, rows in groups.items():
        series, w = coerce_value_batch(
            _series(rows, col), KINDS.get(col), _series(rows, "w")
        )
        ref = create_sketch(family, build_params(family, 64, series))
        ref.update_series(series, weights=w)
        if family == "reservoir":
            got = FAMILY_CLASSES[family].deserialize(bytes(out[g].sketch))
            assert got.n == ref.n and got.weighted and ref.weighted
            assert sorted(zip(got.get_items(), got.get_sample_weights())) == sorted(
                zip(ref.get_items(), ref.get_sample_weights())
            ), g
        else:
            assert _answer(family, out[g].sketch) == _answer(family, ref.serialize()), g


def test_golden_tuple_partial_matches_update_batch(spark, golden):
    df, groups = golden
    with _batch_rows(spark, 2):
        out = _by_group(tuple_sketch_partial(df, "v", ["x", "w"], ["g"], lg_k=5).collect())
    for g, rows in groups.items():
        keys, vals = coerce_value_batch(
            _series(rows, "v"), "int64",
            pd.DataFrame({"x": _series(rows, "x"), "w": _series(rows, "w")}),
        )
        ref = AodSketch(5, 2)
        ref.update_batch(keys, vals.to_numpy(dtype="float64", na_value=0.0))
        assert bytes(out[g].sketch) == ref.serialize(), g


def test_golden_bloomfilter_blob_matches_update_sketch(spark, golden):
    df, _ = golden
    with _batch_rows(spark, 2):
        got = _bloomfilter(df, 10, 1)
    ref = ApacheBloomFilter(1 << 10, 6, 9001)
    update_sketch("bloomfilter", ref, coerce_value_batch(
        _series(df.collect(), "v"), "int64"
    ))
    assert got == ref.to_wire()


@pytest.mark.parametrize(
    "key",
    # struct<a double> holds NaN, NULL, -0.0 and 0.0 elements; Spark
    # groups NaN apart from NULL, but a NaN element leaves the pandas
    # Arrow path as NULL, so the kernel folds the two into one group
    ["array(g, g * 10)", "named_struct('a', g, 'b', s)", "named_struct('a', x)"],
)
def test_golden_nested_keys_match_update_sketch(spark, golden, key):
    df, _ = golden
    keyed = df.withColumn("k", F.expr(key))
    groups: dict = {}
    for r in keyed.collect():
        groups.setdefault(_hashable_key(r.k), []).append(r)
    with _batch_rows(spark, 2):
        out = _sketch_partials(
            keyed, [("s", "theta", 12, "o"), ("x", "kll", 8, "q")], ["k"]
        ).collect()
    got = {_hashable_key(r.k): r for r in out}
    spark_keys = {_hashable_key(r.k) for r in keyed.select("k").distinct().collect()}
    assert set(groups) == spark_keys
    assert len(out) == len(got) and set(got) == set(groups)  # one row per key
    for k, rows in groups.items():
        assert bytes(got[k].o) == _reference("theta", 12, _series(rows, "s"), None).serialize()
        assert bytes(got[k].q) == _reference("kll", 8, _series(rows, "x"), None).serialize()


def _hashable_key(v):
    """A collected array/struct key as a hashable value; a NaN element
    is NULL, as the kernel emits it."""
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, list):
        return tuple(_hashable_key(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(
            (k, _hashable_key(x))
            for k, x in sorted(v.asDict().items(), key=lambda kv: kv[0])
        )
    return v
