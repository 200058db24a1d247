"""Nullable integral columns in Arrow workers: pandas renders a
null-bearing int64 batch as float64-with-NaN, and 5 (int) vs 5.0
(double) murmur-hash DIFFERENTLY (Apache canonicalization).  Before
the families.coerce_value_batch fix, sketch_agg with one clean and one
null-bearing partition double-counted every overlapping value (theta
estimated 4 where the true distinct count was 2).  These tests pin the
coercion across the builder entry points."""

import pytest

from datasketches_spark import register
from datasketches_spark.aggregation import (
    sketch_agg,
    sketch_agg_multi,
    theta_agg_hybrid,
    tuple_sketch_agg,
)
from datasketches_spark.runtime_filter import bloom_filter_blob, bloom_prune, bloom_prune_with


@pytest.fixture(autouse=True)
def _reg(spark):
    register(spark)


@pytest.fixture()
def split_df(spark):
    """Values 1,2 in BOTH a clean partition and a null-bearing one."""
    rdd = spark.sparkContext.parallelize([(1,), (2,)], 1).union(
        spark.sparkContext.parallelize([(1,), (2,), (None,)], 1)
    )
    return spark.createDataFrame(rdd, "v bigint")


def test_theta_distinct_not_inflated(spark, split_df):
    e = sketch_agg(
        split_df, "v", "theta",
        finalize=lambda sk: {"e": sk.get_estimate()}, finalize_schema="e double",
    ).first().e
    assert e == 2.0


def test_hll_cpc_multi_not_inflated(spark, split_df):
    row = sketch_agg_multi(
        split_df,
        [("v", "hll", 12, "h"), ("v", "cpc", 11, "c")],
        finalize=lambda m: {
            "h": m["h"].get_estimate(), "c": m["c"].get_estimate()
        },
        finalize_schema="h double, c double",
    ).first()
    assert row.h == pytest.approx(2.0, abs=0.01)
    assert row.c == pytest.approx(2.0, abs=0.01)


def test_kll_counts_and_dtype(spark, split_df):
    sk = sketch_agg(split_df, "v", "kll", k=200)
    row = sk.selectExpr(
        "datasketch_kll_n(sketch) n",
        "datasketch_kll_min_item(sketch) lo",
        "datasketch_kll_max_item(sketch) hi",
    ).first()
    assert row.n == 4 and row.lo == 1.0 and row.hi == 2.0
    # int64-typed state: the bigint wire export must succeed
    wire = sk.selectExpr("datasketch_kll_to_wire(sketch) w").first().w
    back = sk.sparkSession.sql(
        f"SELECT datasketch_kll_n(datasketch_kll_from_wire_bigint(X'{bytes(wire).hex()}')) n"
    ).first().n
    assert back == 4


def test_reservoir_items_stay_integral_strings(spark, split_df):
    items = (
        sketch_agg(split_df, "v", "reservoir", k=10)
        .selectExpr("datasketch_reservoir_items(sketch) i")
        .first()
        .i
    )
    assert sorted(items) == ["1", "1", "2", "2"]  # not '1.0'/'2.0'


def test_hybrid_theta_state_not_inflated(spark, split_df):
    e = theta_agg_hybrid(split_df, "v").first()[0]
    assert float(e) == 2.0


def test_tuple_keys_not_inflated(spark):
    rdd = spark.sparkContext.parallelize([(1, 1.0), (2, 1.0)], 1).union(
        spark.sparkContext.parallelize([(1, 1.0), (2, 1.0), (None, 1.0)], 1)
    )
    df = spark.createDataFrame(rdd, "k bigint, x double")
    row = tuple_sketch_agg(
        df, "k", ["x"],
        finalize=lambda sk: {"e": sk.get_estimate()}, finalize_schema="e double",
    ).first()
    assert row.e == 2.0


@pytest.mark.parametrize("engine", ["apache", "python"])
def test_bloom_prune_keeps_keys_of_null_bearing_batches(spark, bloom_route, engine):
    """Keys 3 and 4 reach the filter build only inside a null-bearing
    (float64) batch, and fact keys 3 and 5 reach the Arrow probe only
    inside one; every dim key must still be found.  "apache" is
    bloom_prune on Spark Connect (simulated), "python" the DSKS filter
    (bloom_filter_blob, bloom_prune_with): both filters hash values in
    Python."""
    rdd = spark.sparkContext.parallelize([(1,), (2,)], 1).union(
        spark.sparkContext.parallelize([(3,), (4,), (None,)], 1)
    )
    dim = spark.createDataFrame(rdd, "v bigint")
    fact = spark.createDataFrame(
        spark.sparkContext.parallelize([(v,) for v in (0, 1, 2, 4)], 1).union(
            spark.sparkContext.parallelize([(3,), (None,), (5,)], 1)
        ),
        "v bigint",
    )
    if engine == "apache":
        bloom_route(engine)
        kept = bloom_prune(fact, "v", dim, "v", lg_m=12)
    else:
        kept = bloom_prune_with(fact, "v", bloom_filter_blob(dim, "v", lg_m=12))
    assert {1, 2, 3, 4} <= {r.v for r in kept.collect()}


def test_stats_n_counts_null_rows(spark, split_df):
    """The NULL row of the float64-rendered batch still counts in n."""
    row = sketch_agg(
        split_df, "v", "stats",
        finalize=lambda sk: {"n": sk.get_n(), "nn": sk.get_nonnull(), "s": sk.get_sum()},
        finalize_schema="n bigint, nn bigint, s double",
    ).first()
    assert (row.n, row.nn, row.s) == (split_df.count(), 4, 6.0)


def test_profile_table_n_rows_counts_null_rows(spark):
    from datasketches_spark.profile import profile_table

    df = spark.range(0, 100).selectExpr(
        "CAST(IF(id % 7 = 0, NULL, id) AS INT) AS v", "CAST(id AS STRING) AS s"
    )
    got = {r.column: r for r in profile_table(df).collect()}
    assert got["v"].n_rows == got["s"].n_rows == df.count()
    assert (got["v"].n_nonnull, got["v"].n_null) == (85, 15)
    assert (got["s"].n_nonnull, got["s"].n_null) == (100, 0)
