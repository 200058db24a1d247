"""Phase-1 fold kernel and phase-2 merge invariants.

Partition shape must not change an answer: a build over empty and
one-row partitions next to a full one equals the single-partition
build, for every builder that runs through the shared fold kernel.
The merge keeps un-dropped blob series, so a group whose blobs are all
NULL still merges to an empty sketch."""

import pytest

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
