"""bloom_pruned_anti_join / anti_join_pruned — exactness + gating.

The r15 anti-join prune (guide §3.2 applied to the ANTI direction):
definitely-unseen rows skip the join via exact Bloom negatives, only
possibly-dropped rows enter the exact anti-join.  These tests force
BOTH regimes (broadcast kept / shuffle pruned) and a false-positive-
heavy filter to pin the exactness claim.
"""

import pytest
from pyspark.sql import functions as F

from datasketches_spark.runtime_filter import (
    anti_join_pruned,
    bloom_pruned_anti_join,
)


def _rows(df):
    return sorted(map(str, df.collect()))


@pytest.fixture()
def fact_drop(spark):
    fact = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)] + [(None, "null doc")],
        "doc_id long, text string",
    )
    drop = spark.createDataFrame(
        [(i,) for i in range(0, 200, 3)], "doc_id long"
    )
    return fact, drop


class TestBloomPrunedAntiJoin:
    @pytest.mark.parametrize("engine", ["jvm", "python", "apache"])
    def test_matches_plain_anti_join(self, spark, fact_drop, bloom_route, engine):
        fact, drop = bloom_route(engine, *fact_drop)
        plain = _rows(fact.join(drop, "doc_id", "left_anti"))
        pruned = _rows(bloom_pruned_anti_join(fact, drop, "doc_id"))
        assert pruned == plain
        assert any("null doc" in r for r in pruned), "NULL-key row lost"

    def test_exact_under_heavy_false_positives(self, spark, fact_drop):
        # lg_m=6 (64 bits) for 67 keys: the filter saturates and most
        # negatives turn positive — the result must not change (FPs
        # only route extra rows through the exact join)
        fact, drop = fact_drop
        plain = _rows(fact.join(drop, "doc_id", "left_anti"))
        assert _rows(bloom_pruned_anti_join(fact, drop, "doc_id", lg_m=6)) == plain

    @pytest.mark.parametrize("engine", ["jvm", "python", "apache"])
    def test_empty_drop_side_keeps_everything(self, spark, fact_drop, bloom_route, engine):
        # regression: Spark's stat().bloomFilter alone THROWS on an
        # empty build side (a dedup threshold that drops nothing); the
        # empty filter built instead sends every row down the
        # exact-negative branch
        fact, drop = fact_drop
        fact, empty = bloom_route(engine, fact, drop.where("doc_id < 0"))
        out = bloom_pruned_anti_join(fact, empty, "doc_id")
        assert _rows(out) == _rows(fact)

    def test_string_keys(self, spark):
        fact = spark.createDataFrame(
            [(f"k{i}", i) for i in range(50)], "k string, v long"
        )
        drop = spark.createDataFrame([(f"k{i}",) for i in range(0, 50, 2)], "k string")
        assert _rows(bloom_pruned_anti_join(fact, drop, "k")) == _rows(
            fact.join(drop, "k", "left_anti")
        )


class TestAntiJoinPrunedGate:
    def test_broadcastable_side_keeps_plain_join(self, spark, fact_drop):
        # a drop side with KNOWN small stats (Range) broadcasts; the
        # gate must then keep the plain single-scan join.  (A
        # createDataFrame drop side has NO stats — defaultSizeInBytes,
        # i.e. huge — and correctly routes to the pruned path; that is
        # the exact 'Python-derived side' regime the prune targets.)
        fact, _ = fact_drop
        drop = (
            spark.range(0, 200, 3).withColumnRenamed("id", "doc_id")
        )
        from datasketches_spark import compat

        out = anti_join_pruned(fact, drop, "doc_id")
        plan = compat.physical_plan_string(out)
        assert "Union" not in plan, "prune engaged where broadcast was available"
        assert _rows(out) == _rows(fact.join(drop, "doc_id", "left_anti"))

    def test_shuffle_join_gets_pruned(self, spark, fact_drop):
        fact, drop = fact_drop
        from datasketches_spark import compat

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = anti_join_pruned(fact, drop, "doc_id")
            plan = compat.physical_plan_string(out)
            assert "Union" in plan, "prune did not engage on a shuffle plan"
            assert _rows(out) == _rows(fact.join(drop, "doc_id", "left_anti"))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_fuzzy_dedup_still_exact_under_forced_shuffle(self, spark):
        # end-to-end: the fuzzy_dedup wiring point, with broadcast
        # disabled so the pruned path is the one exercised
        from datasketches_spark.pipeline.dedup import fuzzy_dedup

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            base = _rows(fuzzy_dedup(docs, "doc_id", "text", threshold=0.8))
            spark.catalog.clearCache()
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            forced = _rows(fuzzy_dedup(docs, "doc_id", "text", threshold=0.8))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.catalog.clearCache()
        assert forced == base
