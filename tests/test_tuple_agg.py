"""Two-phase ArrayOfDoubles tuple aggregation: correctness vs exact
SQL, UDAF-path equivalence, the blob-only-shuffle plan contract, and
the Apache wire-table publish/ingest route."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import datasketches_spark as dss
from datasketches_spark.aggregation import tuple_sketch_agg
from datasketches_spark.sketches.tuple_aod import AodSketch


@pytest.fixture(scope="module")
def tdf(spark):
    dss.register(spark)
    return (
        spark.range(0, 20_000)
        .select(
            (F.col("id") % 3).cast("int").alias("g"),
            (F.col("id") % 500).alias("key"),
            (F.col("id") * 1.0).alias("v1"),
            F.lit(2.0).alias("v2"),
        )
        .persist()
    )


def test_matches_exact_sql(spark, tdf):
    got = {
        r.g: r
        for r in tuple_sketch_agg(
            tdf, "key", ["v1", "v2"], group_cols=["g"], lg_k=14
        )
        .select(
            "g",
            F.expr("round(datasketch_aod_estimate(sketch))").alias("d"),
            F.expr("round(datasketch_aod_column_sums(sketch)[0], 3)").alias("s1"),
            F.expr("round(datasketch_aod_column_sums(sketch)[1], 3)").alias("s2"),
        )
        .collect()
    }
    want = {
        r.g: r
        for r in tdf.groupBy("g")
        .agg(
            F.countDistinct("key").alias("d"),
            F.round(F.sum("v1"), 3).alias("s1"),
            F.round(F.sum("v2"), 3).alias("s2"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g].d == want[g].d
        assert got[g].s1 == want[g].s1
        assert got[g].s2 == want[g].s2


def test_matches_sql_udaf_state(spark, tdf):
    """The scale path and the grouped-agg UDAF produce EQUAL sketch
    states in exact mode (same keys, same summed summaries)."""
    two_phase = {
        r.g: bytes(r.sketch)
        for r in tuple_sketch_agg(
            tdf, "key", ["v1"], group_cols=["g"], lg_k=14
        ).collect()
    }
    tdf.createOrReplaceTempView("tuple_agg_t")
    udaf = {
        r.g: bytes(r.sk)
        for r in spark.sql(
            "SELECT g, datasketch_aod(14, key, array(v1)) AS sk "
            "FROM tuple_agg_t GROUP BY g"
        ).collect()
    }
    import numpy as np

    for g in two_phase:
        a = AodSketch.deserialize(two_phase[g])
        b = AodSketch.deserialize(udaf[g])
        assert np.array_equal(a.keys, b.keys)
        assert np.allclose(a.values, b.values, rtol=1e-12)


def test_finalize_fused(spark, tdf):
    out = {
        r.g: r
        for r in tuple_sketch_agg(
            tdf,
            "key",
            ["v1"],
            group_cols=["g"],
            lg_k=14,
            finalize=lambda sk: {
                "d": int(round(sk.get_estimate())),
                "s": round(sk.column_sums()[0], 3),
            },
            finalize_schema="d long, s double",
        ).collect()
    }
    want = {
        r.g: r
        for r in tdf.groupBy("g")
        .agg(F.countDistinct("key").alias("d"), F.round(F.sum("v1"), 3).alias("s"))
        .collect()
    }
    for g in want:
        assert out[g].d == want[g].d and out[g].s == want[g].s


def test_plan_blob_only_shuffle(spark, tdf):
    """Phase 1 (``MapInPandas build``) runs on scan partitions below
    the ONE hash exchange; only (group, blob) rows shuffle, and the
    merge above it is a map over each shuffle partition -- no Sort, no
    grouped-map node."""
    df = tuple_sketch_agg(tdf, "key", ["v1", "v2"], group_cols=["g"], lg_k=12)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m_map = re.search(r"MapInPandas build\(", plan)
    m_ex = re.search(r"Exchange hashpartitioning", plan)
    assert m_map and m_ex, plan
    # parents print above children: the exchange sits ABOVE phase 1
    assert m_ex.start() < m_map.start(), plan
    # nothing shuffles below phase 1
    assert "Exchange" not in plan[m_map.start():], plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Sort" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_merge_blobs_via_union_agg(spark, tdf):
    """datasketch_aod_union_agg over per-group blobs == ungrouped build."""
    per_g = tuple_sketch_agg(tdf, "key", ["v1"], group_cols=["g"], lg_k=14)
    per_g.createOrReplaceTempView("tuple_agg_parts")
    merged = spark.sql(
        "SELECT round(datasketch_aod_estimate(datasketch_aod_union_agg(sketch))) AS d,"
        " round(datasketch_aod_column_sums(datasketch_aod_union_agg(sketch))[0], 3) AS s"
        " FROM tuple_agg_parts"
    ).first()
    want = tdf.agg(
        F.countDistinct("key").alias("d"), F.round(F.sum("v1"), 3).alias("s")
    ).first()
    assert merged.d == want.d and merged.s == want.s


def test_wire_table_roundtrip(spark, tdf, tmp_path):
    from datasketches_spark import io as dio

    sk = tuple_sketch_agg(tdf, "key", ["v1"], group_cols=["g"], lg_k=14)
    path = str(tmp_path / "aod_wire")
    dio.write_wire_table(sk, path, "sketch", "aod", k=14)
    back = dio.read_wire_table(spark, path)
    got = {
        r.g: (r.d, r.s)
        for r in back.select(
            "g",
            F.expr("round(datasketch_aod_estimate(sketch))").alias("d"),
            F.expr("round(datasketch_aod_column_sums(sketch)[0], 3)").alias("s"),
        ).collect()
    }
    want = {
        r.g: (float(r.d), r.s)
        for r in tdf.groupBy("g")
        .agg(F.countDistinct("key").alias("d"), F.round(F.sum("v1"), 3).alias("s"))
        .collect()
    }
    assert got == want


def test_null_handling(spark):
    dss.register(spark)
    df = spark.createDataFrame(
        [(1, 1.0), (None, 2.0), (2, None), (1, 4.0)],
        "key int, v double",
    )
    row = (
        tuple_sketch_agg(df, "key", ["v"], lg_k=12)
        .select(
            F.expr("datasketch_aod_estimate(sketch)").alias("d"),
            F.expr("datasketch_aod_column_sums(sketch)[0]").alias("s"),
        )
        .first()
    )
    # NULL key skips the row; NULL summary contributes 0 but counts the key
    assert row.d == 2.0
    assert row.s == 5.0


def test_approx_distinct_sum_one_call(spark, tdf):
    from datasketches_spark import approx

    got = {
        r.g: r
        for r in approx.distinct_sum(
            tdf, "key", ["v1", "v2"], by=["g"], lg_k=14
        ).collect()
    }
    want = {
        r.g: r
        for r in tdf.groupBy("g")
        .agg(
            F.countDistinct("key").alias("d"),
            F.sum("v1").alias("s1"),
            F.sum("v2").alias("s2"),
        )
        .collect()
    }
    for g in want:
        assert got[g].approx_distinct == want[g].d
        assert got[g].sum_v1 == pytest.approx(want[g].s1, rel=1e-12)
        assert got[g].sum_v2 == pytest.approx(want[g].s2, rel=1e-12)


def test_api_column_helpers(spark, tdf):
    from datasketches_spark import api

    tdf.createOrReplaceTempView("tuple_api_t")
    row = (
        tdf.groupBy("g")
        .agg(api.aod(14, "key", F.array("v1")).alias("sk"))
        .select(api.aod_estimate(F.col("sk")).alias("d"))
        .orderBy("d")
        .first()
    )
    assert row.d > 0
    row2 = tdf.agg(api.bloomfilter(12, "key").alias("sk")).select(
        api.bloomfilter_bits_set(F.col("sk")).alias("bits")
    ).first()
    assert row2.bits > 0


def test_kless_rollup_preserves_exact_states(spark, tmp_path):
    """io.rollup_sketch_table with NO k over a lg_k=16 tuple table:
    the k-less merge accumulator adopts the blobs' lg_k, so 20k-key
    exact states roll up losslessly instead of purging to 4096."""
    from datasketches_spark import io as dio

    df = spark.range(0, 40_000).selectExpr(
        "CASE WHEN id < 20000 THEN '2026-01-03' ELSE '2026-01-09' END AS day",
        "id AS key",
        "CAST(1.0 AS DOUBLE) AS v",
    )
    daily = tuple_sketch_agg(df, "key", ["v"], group_cols=["day"], lg_k=16)
    src = str(tmp_path / "daily")
    dst = str(tmp_path / "monthly")
    dio.write_sketch_table(daily, src, "sketch", "aod", k=16)
    dio.rollup_sketch_table(
        spark, src, dst, "aod", "substr(day, 1, 7)", period_col="month"
    )
    row = (
        spark.read.parquet(dst)
        .selectExpr(
            "datasketch_aod_estimate(sketch) AS d",
            "datasketch_aod_is_estimation_mode(sketch) AS est",
        )
        .first()
    )
    assert row.d == 40_000.0 and not row.est
