"""Plan-shape canaries for the r14/r15 optimizer-vs-Catalyst wins.

Round 14 proved why these exist: the r7 repartition-before-regex win
had been *silently* undone by filter pushdown — correctness gates
cannot see a perf-only plan regression.  Each test pins the plan
structure a measured win depends on (the Arrow-sentinel canary
pattern, tests/test_arrow_sentinel_canary.py):

1. curation: the quality Filter must sit ABOVE the narrow-gate
   round-robin Exchange (the ``+ rand(7)*0.0`` nondeterminism taint
   blocks pushdown; a future Catalyst rule that constant-folds
   nondeterministic-times-zero would push it back below).
2. duplicate_spans (narrow gate): the count branch and the probe
   branch must share ONE cached explode (two InMemoryTableScan
   consumers) instead of re-running the scan + n-gram build.
3. remove_common_lines (narrow gate): same shared-cache shape for the
   line explode.
4. minhash/simhash signature fan-out (r15, opt-in): ``fan_out=True``
   must put a round-robin Exchange under the Python pass on a narrow
   scan; the default must not.  ``lsh_verified_near_duplicates`` (and
   so ``fuzzy_dedup``) passes its ``fan_out`` through.
5. sketch-table reads: a warm ``io.read_sketch_table`` plus a scalar
   query runs exactly one job (the read's schema inference and family
   check are remembered for an unchanged file listing).
6. classic Bloom route: ``bloom_prune`` plans Catalyst's
   ``might_contain`` Filter with no Python node, and
   ``bloom_pruned_anti_join`` pushes ``IsNotNull(key)`` into both
   probed fact scans.
7. theta estimate: ``theta_agg_hybrid`` over a BIGINT column builds
   and merges in Spark's own ``theta_sketch_agg`` -- a partial and a
   final ``ObjectHashAggregate`` around one Exchange, no
   ``MapInPandas``.
"""

import pytest
from pyspark.sql import functions as F

from datasketches_spark import compat

SF_DIR = "/root/testdata/sf0.001"


def _is_node(line: str, name: str) -> bool:
    """True when the plan line IS this operator node (not a substring
    hit like the scan's ``PushedFilters: []``)."""
    return line.lstrip(" +-:*(0123456789)").startswith(name)


def _docs(spark):
    import __spark_entry__ as entrymod

    return entrymod._t(spark, SF_DIR, "documents")


class TestCurationFilterAboveExchange:
    def test_quality_filter_not_pushed_below_fanout(self, spark):
        import __spark_entry__ as entrymod

        plan = compat.physical_plan_string(
            entrymod._curation_eligible(spark, SF_DIR)
        )
        assert "rand(7)" in plan, "nondeterminism taint folded away"
        lines = plan.splitlines()
        rr = [i for i, ln in enumerate(lines) if "RoundRobinPartitioning" in ln]
        assert rr, "narrow-gate fan-out exchange missing"
        below = lines[rr[0] + 1 :]
        assert not any(
            _is_node(ln, "Filter") for ln in below
        ), "quality filter pushed below the fan-out exchange (r7/r14 win undone)"
        above = lines[: rr[0]]
        assert any(
            _is_node(ln, "Filter") and "quality" in ln for ln in above
        ), "quality filter missing above the exchange"


class TestSpansSharedCache:
    def test_duplicate_spans_single_cached_explode(self, spark):
        from datasketches_spark.pipeline import spans as S

        try:
            plan = compat.physical_plan_string(
                S.duplicate_spans(_docs(spark), "doc_id", "text", n=8, min_count=2)
            )
            assert plan.count("InMemoryTableScan") >= 2, (
                "count+probe branches no longer share one cached explode "
                "(r14 win undone: each branch re-scans and re-explodes)"
            )
        finally:
            spark.catalog.clearCache()

    def test_remove_common_lines_single_cached_explode(self, spark):
        from datasketches_spark.pipeline import spans as S

        try:
            plan = compat.physical_plan_string(
                S.remove_common_lines(_docs(spark), "doc_id", "text", min_docs=2)
            )
            assert plan.count("InMemoryTableScan") >= 2, (
                "count+strip branches no longer share one cached explode"
            )
        finally:
            spark.catalog.clearCache()


class TestSignatureFanOut:
    def test_minhash_fan_out_opt_in_plan_and_parity(self, spark):
        from datasketches_spark.pipeline import dedup as D

        docs = _docs(spark)
        default_plan = compat.physical_plan_string(
            D.minhash_signatures(docs, "doc_id", "text")
        )
        assert "RoundRobinPartitioning" not in default_plan, (
            "default signature pass gained an exchange (measured 2.2x "
            "LOSS on filtered slices — fan-out must stay opt-in)"
        )
        fanned = D.minhash_signatures(docs, "doc_id", "text", fan_out=True)
        assert "RoundRobinPartitioning" in compat.physical_plan_string(fanned)
        base = sorted(
            map(str, D.minhash_signatures(docs, "doc_id", "text").collect())
        )
        assert sorted(map(str, fanned.collect())) == base

    def test_fuzzy_dedup_passes_fan_out_to_signatures(self, spark):
        # lsh_verified_near_duplicates (under fuzzy_dedup) once dropped
        # its fan_out, so the signature pass of a one-partition input
        # ran on one core whatever the caller asked
        from datasketches_spark.pipeline import dedup as D

        docs = _docs(spark).coalesce(1)
        assert docs.rdd.getNumPartitions() == 1
        try:
            for fan_out in (False, True):
                lines = compat.physical_plan_string(
                    D.lsh_verified_near_duplicates(
                        docs, "doc_id", "text", threshold=0.8, fan_out=fan_out
                    )
                ).splitlines()
                # the signature pass, once per reader of its cache, and
                # its input: the round-robin exchange only when asked
                sig = [i for i, ln in enumerate(lines) if "MapInPandas compute" in ln]
                assert sig, lines
                assert all(
                    ("RoundRobinPartitioning" in lines[i + 1]) == fan_out for i in sig
                ), lines
            kept = [
                sorted(
                    r.doc_id
                    for r in D.fuzzy_dedup(
                        docs, "doc_id", "text", threshold=0.8,
                        keep_cols=["doc_id"], fan_out=fan_out,
                    ).collect()
                )
                for fan_out in (False, True)
            ]
            assert kept[0] == kept[1] and kept[0]
        finally:
            spark.catalog.clearCache()

    def test_simhash_fan_out_opt_in(self, spark):
        from datasketches_spark.pipeline import dedup as D

        docs = _docs(spark)
        assert "RoundRobinPartitioning" not in compat.physical_plan_string(
            D.simhash64(docs, "doc_id", "text")
        )
        fanned = D.simhash64(docs, "doc_id", "text", fan_out=True)
        assert "RoundRobinPartitioning" in compat.physical_plan_string(fanned)
        assert sorted(map(str, fanned.collect())) == sorted(
            map(str, D.simhash64(docs, "doc_id", "text").collect())
        )


class TestWarmSketchTableQuery:
    def test_warm_read_then_scalar_query_runs_one_job(self, spark, tmp_path, job_count):
        # a warm read_sketch_table starts no job of its own (schema and
        # family check are remembered for the file listing), so the
        # scalar query is the only job; an eager action reintroduced on
        # the read path shows up here as a second one
        from datasketches_spark import io as dio
        from datasketches_spark.aggregation import sketch_agg

        if not compat.has_jvm(spark):
            pytest.skip("job counts need the classic status tracker")
        df = spark.range(0, 400).selectExpr("id % 8 AS g", "id AS v")
        path = str(tmp_path / "store")
        dio.write_sketch_table(
            sketch_agg(df, "v", "theta", group_cols=["g"], k=10), path, "sketch", "theta", k=10,
        )
        dio.read_sketch_table(spark, path)

        def query():
            return dio.read_sketch_table(spark, path).select(
                "g", F.expr("datasketch_theta_estimate(sketch)")
            ).collect()

        rows, jobs = job_count(query)
        assert len(rows) == 8
        assert jobs == 1


class TestJvmBloomProbe:
    _PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython")

    @pytest.fixture()
    def fact(self, spark, tmp_path):
        path = str(tmp_path / "fact")
        spark.range(0, 2000).selectExpr("id AS k", "id % 7 AS v").write.parquet(path)
        return spark.read.parquet(path)

    def test_bloom_prune_is_a_might_contain_filter(self, spark, fact):
        from datasketches_spark.runtime_filter import bloom_prune

        dim = spark.range(0, 2000, 9).withColumnRenamed("id", "d")
        plan = compat.physical_plan_string(
            bloom_prune(fact, "k", dim, "d", lg_m=12)
        )
        assert not any(n in plan for n in self._PYTHON_NODES), plan
        assert any(
            _is_node(ln, "Filter") and "might_contain(" in ln
            for ln in plan.splitlines()
        ), "classic probe is no longer Catalyst's might_contain"

    def test_anti_join_pushes_is_not_null_into_both_fact_scans(self, spark, fact):
        from datasketches_spark.runtime_filter import bloom_pruned_anti_join

        drop = spark.createDataFrame([(i,) for i in range(0, 2000, 5)], "k long")
        plan = compat.physical_plan_string(
            bloom_pruned_anti_join(fact, drop, "k", lg_m=12)
        )
        assert not any(n in plan for n in self._PYTHON_NODES), plan
        probed = [
            ln for ln in plan.splitlines()
            if _is_node(ln, "FileScan parquet") and "PushedFilters: [IsNotNull(k)]" in ln
        ]
        assert len(probed) == 2, plan


class TestNativeThetaEstimate:
    def test_bigint_estimate_is_a_jvm_aggregate(self, spark):
        from datasketches_spark.aggregation import theta_agg_hybrid

        df = spark.range(0, 2000).selectExpr("id % 3 AS g", "id AS v")
        out = theta_agg_hybrid(df, "v", ["g"], lg_k=10)
        assert sorted(r.estimate for r in out.collect()) == [666.0, 667.0, 667.0]
        plan = compat.physical_plan_string(out).split("== Initial Plan ==")[0]
        assert "MapInPandas" not in plan, plan
        lines = plan.splitlines()
        aggs = [ln for ln in lines if _is_node(ln, "ObjectHashAggregate")]
        assert len(aggs) == 2, plan
        assert "partial_theta_sketch_agg(" in aggs[1], plan
        assert "theta_sketch_agg(" in aggs[0] and "partial_" not in aggs[0], plan
        exchanges = [i for i, ln in enumerate(lines) if _is_node(ln, "Exchange")]
        assert len(exchanges) == 1, plan
        assert lines.index(aggs[0]) < exchanges[0] < lines.index(aggs[1]), plan
