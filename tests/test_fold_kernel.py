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

import pytest
from pyspark.sql import functions as F

from datasketches_spark.aggregation import (
    sketch_agg,
    sketch_agg_multi,
    sketch_merge,
    theta_agg_hybrid,
    tuple_sketch_agg,
)
from datasketches_spark.runtime_filter import bloomfilter_blob
from datasketches_spark.sketches import (
    AodSketch,
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


BUILDERS = {
    "sketch_agg_theta": _theta,
    "sketch_agg_multi": _multi,
    "tuple_sketch_agg": _tuple,
    "theta_agg_hybrid": _hybrid,
    "bloomfilter_driver": lambda df: bytes(
        bloomfilter_blob(df, "v", lg_m=12, driver_merge=True)
    ),
    "bloomfilter_shuffle": lambda df: bytes(
        bloomfilter_blob(df, "v", lg_m=12, driver_merge=False)
    ),
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
