"""Spark integration tests: SQL surface + two-phase aggregation.

Ports the reference sqllogictest idioms (SURVEY.md §5) to a local
SparkSession.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datasketches_spark import hll_native, sketch_agg
from datasketches_spark.sketches import ThetaSketch


@pytest.fixture(scope="module")
def items(spark):
    # FIXTURES F1: ids 1..N each twice
    df = spark.range(1, 1001).union(spark.range(1, 1001)).withColumnRenamed("id", "v")
    df.createOrReplaceTempView("items")
    return df


class TestThetaSQL:
    def test_exact_estimate(self, spark, items):
        row = spark.sql(
            "SELECT datasketch_theta_estimate(datasketch_theta(v)) AS est FROM items"
        ).first()
        assert row.est == 1000.0

    def test_grouped(self, spark, items):
        rows = spark.sql(
            """
            SELECT v % 2 AS g,
                   datasketch_theta_estimate(datasketch_theta(v)) AS est
            FROM items GROUP BY v % 2 ORDER BY g
            """
        ).collect()
        assert [r.est for r in rows] == [500.0, 500.0]

    def test_set_algebra(self, spark):
        # F7: A={1..5}, B={4..8}
        spark.sql("SELECT explode(sequence(1, 5)) AS i").createOrReplaceTempView("set_a")
        spark.sql("SELECT explode(sequence(4, 8)) AS i").createOrReplaceTempView("set_b")
        spark.sql(
            """
            SELECT a, b
            FROM (SELECT datasketch_theta(i) AS a FROM set_a)
            CROSS JOIN (SELECT datasketch_theta(i) AS b FROM set_b)
            """
        ).createOrReplaceTempView("ab")
        row = spark.sql(
            """
            SELECT datasketch_theta_estimate(datasketch_theta_union(a, b)) AS u,
                   datasketch_theta_estimate(datasketch_theta_intersect(a, b)) AS i,
                   datasketch_theta_estimate(datasketch_theta_a_not_b(a, b)) AS d
            FROM ab
            """
        ).first()
        assert (row.u, row.i, row.d) == (8.0, 2.0, 3.0)

    def test_empty_and_null_semantics(self, spark):
        spark.createDataFrame(
            [Row(v=None), Row(v=None)], "v int"
        ).createOrReplaceTempView("all_nulls")
        row = spark.sql(
            """
            SELECT datasketch_theta_is_empty(datasketch_theta(v)) AS empty,
                   datasketch_theta_estimate(datasketch_theta(v)) AS est,
                   datasketch_kll(200, v) AS kll_blob
            FROM all_nulls
            """
        ).first()
        assert row.empty is True
        assert row.est == 0.0
        assert row.kll_blob is None  # generated families: NULL on empty

    def test_metadata_scalars(self, spark, items):
        row = spark.sql(
            """
            SELECT datasketch_theta_num_retained(s) AS nr,
                   datasketch_theta_get_theta(s) AS th,
                   datasketch_theta_is_estimation_mode(s) AS em
            FROM (SELECT datasketch_theta(v) AS s FROM items)
            """
        ).first()
        assert row.nr == 1000 and row.th == 1.0 and row.em is False

    def test_merge_stored_sketches(self, spark, items):
        # build per-group sketches, store, then aggregate-merge the blobs
        spark.sql(
            "SELECT v % 3 AS g, datasketch_theta(v) AS s FROM items GROUP BY v % 3"
        ).createOrReplaceTempView("stored")
        row = spark.sql(
            "SELECT datasketch_theta_estimate(datasketch_theta(s)) AS est FROM stored"
        ).first()
        assert row.est == 1000.0


class TestQuantileSQL:
    def test_kll_exact(self, spark):
        spark.range(1, 1001).selectExpr("CAST(id AS double) AS x").createOrReplaceTempView(
            "readings"
        )
        row = spark.sql(
            """
            SELECT datasketch_kll_quantile(s, 0.5, true) AS med,
                   datasketch_kll_rank(s, 500.0, true) AS rk,
                   datasketch_kll_n(s) AS n,
                   datasketch_kll_min_item(s) AS mn,
                   datasketch_kll_max_item(s) AS mx,
                   datasketch_kll_cdf(s, array(100.5D, 900.5D), true) AS cdf,
                   datasketch_kll_is_estimation_mode(s) AS em,
                   datasketch_kll_k(s) AS k
            FROM (SELECT datasketch_kll(1024, x) AS s FROM readings)
            """
        ).first()
        assert row.med == 500.0
        assert row.rk == 0.5
        assert row.n == 1000
        assert (row.mn, row.mx) == (1.0, 1000.0)
        assert row.cdf == [0.1, 0.9, 1.0]
        assert row.em is False
        assert row.k == 1024

    @pytest.mark.parametrize("fam", ["quantiles", "req"])
    def test_other_families_exact(self, spark, fam):
        spark.range(1, 101).selectExpr("CAST(id AS double) AS x").createOrReplaceTempView(
            "r100"
        )
        row = spark.sql(
            f"""
            SELECT datasketch_{fam}_quantile(s, 0.5, true) AS med,
                   datasketch_{fam}_n(s) AS n
            FROM (SELECT datasketch_{fam}(128, x) AS s FROM r100)
            """
        ).first()
        assert row.med == 50.0 and row.n == 100

    def test_tdigest(self, spark):
        spark.range(1, 1001).selectExpr("CAST(id AS double) AS x").createOrReplaceTempView(
            "rt"
        )
        row = spark.sql(
            """
            SELECT datasketch_tdigest_total_weight(s) AS tw,
                   datasketch_tdigest_quantile(s, 0.5) AS med,
                   datasketch_tdigest_k(s) AS k
            FROM (SELECT datasketch_tdigest(100, x) AS s FROM rt)
            """
        ).first()
        assert row.tw == 1000
        assert row.med == pytest.approx(500.0, rel=0.05)
        assert row.k == 100


class TestCountingSQL:
    def test_hll_exact_small(self, spark):
        spark.sql(
            "SELECT explode(array('a','b','c','a','b')) AS name"
        ).createOrReplaceTempView("employees")
        row = spark.sql(
            """
            SELECT datasketch_hll_estimate(s) AS est,
                   datasketch_hll_lg_config_k(s) AS lgk,
                   datasketch_hll_is_empty(s) AS emp
            FROM (SELECT datasketch_hll(12, name) AS s FROM employees)
            """
        ).first()
        assert row.est == 3.0 and row.lgk == 12 and row.emp is False

    def test_hll_raw_binary_values(self, spark):
        """Reference parity: HLL/CPC accept raw BLOB values as inputs
        (generator.py:30-44) — hashed as bytes, not parsed as sketches.
        Unframed binary must count, framed sketch blobs must merge."""
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(payload=bytes([i, i + 1, i + 2])) for i in range(4)]
            + [Row(payload=bytes([0, 1, 2]))]  # duplicate of i=0
        )
        df.createOrReplaceTempView("blobs")
        for fam in ("hll", "cpc"):
            est = spark.sql(
                f"SELECT datasketch_{fam}_estimate(datasketch_{fam}(12, payload)) AS e "
                "FROM blobs"
            ).first().e
            assert est == 4.0, fam
        # framed blobs still take the merge path
        spark.sql(
            "SELECT datasketch_hll(12, payload) AS s FROM blobs"
        ).createOrReplaceTempView("one_sketch")
        merged = spark.sql(
            "SELECT datasketch_hll_estimate(datasketch_hll_union(12, s)) AS e "
            "FROM one_sketch"
        ).first().e
        assert merged == 4.0

    def test_hll_union_partitions(self, spark, items):
        spark.sql(
            "SELECT v % 3 AS g, datasketch_hll(12, v) AS s FROM items GROUP BY v % 3"
        ).createOrReplaceTempView("hll_parts")
        row = spark.sql(
            "SELECT datasketch_hll_estimate(datasketch_hll_union(12, s)) AS est "
            "FROM hll_parts"
        ).first()
        assert row.est == 1000.0  # sparse-exact mode

    def test_cpc(self, spark, items):
        row = spark.sql(
            "SELECT datasketch_cpc_estimate(datasketch_cpc(12, v)) AS est FROM items"
        ).first()
        assert row.est == 1000.0

    def test_native_hll_fast_path(self, spark, items):
        df = items.agg(hll_native.hll_estimate(hll_native.hll_build("v", 12)).alias("est"))
        est = df.first().est
        assert est == pytest.approx(1000, rel=0.03)


def test_hll_native_blob_roundtrip(spark):
    """The interop escape hatch (README 'Sketch-blob interop'): native
    HLL blobs are genuine Apache DataSketches HllSketch bytes -- they
    survive storage as an opaque binary column and re-enter the engine
    through hll_sketch_estimate / hll_union_agg unchanged."""
    import pyspark.sql.functions as F

    df = spark.range(0, 5000)
    blobs = df.withColumn("g", F.col("id") % 4).groupBy("g").agg(
        hll_native.hll_build("id", 14).alias("blob")
    )
    stored = spark.createDataFrame(blobs.collect(), blobs.schema)  # simulate store/reload
    assert dict(stored.dtypes)["blob"] == "binary"
    per_group = stored.select(hll_native.hll_estimate("blob").alias("est")).collect()
    for r in per_group:
        assert r.est == pytest.approx(1250, rel=0.05)
    merged = stored.agg(
        hll_native.hll_estimate(hll_native.hll_merge("blob")).alias("est")
    ).first()
    assert merged.est == pytest.approx(5000, rel=0.05)
    # Apache DataSketches HLL serial header: preamble starts 0x02 or 0x21?
    # -- assert the family byte (byte 2 == 7 for HLL per the published
    # serialization spec) rather than our DSKS framing, proving these
    # are NOT engine-local blobs.
    b = bytes(stored.first().blob)
    assert b[:4] != b"DSKS"
    assert b[2] == 7  # com.yahoo/apache datasketches family id for HLL


class TestFrequentItemsSQL:
    def test_exact_and_explode(self, spark):
        spark.sql(
            "SELECT explode(array('apple','apple','apple','banana','banana','cherry')) AS f"
        ).createOrReplaceTempView("fruits")
        rows = spark.sql(
            """
            SELECT t.item, t.estimate
            FROM (SELECT datasketch_frequent_items(f) AS s FROM fruits)
            LATERAL VIEW explode(datasketch_frequent_items_get_frequent(s, 'NO_FALSE_POSITIVES')) AS t
            ORDER BY t.estimate DESC, t.item
            """
        ).collect()
        assert [(r.item, r.estimate) for r in rows] == [
            ("apple", 3),
            ("banana", 2),
            ("cherry", 1),
        ]

    def test_scalar_lookups(self, spark):
        spark.sql(
            "SELECT explode(array('x','x','y')) AS f"
        ).createOrReplaceTempView("fi_small")
        row = spark.sql(
            """
            SELECT datasketch_frequent_items_estimate(s, 'x') AS ex,
                   datasketch_frequent_items_total_weight(s) AS tw,
                   datasketch_frequent_items_num_active(s) AS na,
                   datasketch_frequent_items_epsilon(s) AS eps
            FROM (SELECT datasketch_frequent_items(f) AS s FROM fi_small)
            """
        ).first()
        assert row.ex == 2 and row.tw == 3 and row.na == 2
        assert row.eps == pytest.approx(0.00341796875)


class TestTwoPhaseAggregation:
    def test_global_matches_sql(self, spark, items):
        blob = sketch_agg(items, "v", "theta").first().sketch
        assert ThetaSketch.deserialize(bytes(blob)).get_estimate() == 1000.0

    def test_finalize_fused_matches_blob_path(self, spark, items):
        """finalize= answers scalars in the merge round; values and
        schema must equal the blob-then-scalar path exactly."""
        fused = sketch_agg(
            items,
            "v",
            "theta",
            k=14,
            finalize=lambda sk: {
                "est": int(round(sk.get_estimate())),
                "nr": int(sk.num_retained),
            },
            finalize_schema="est bigint, nr long",
        )
        row = fused.first()
        assert fused.columns == ["est", "nr"]
        assert row.est == 1000 and row.nr == 1000
        grouped = sketch_agg(
            items.withColumn("g", items.v % 2),
            "v",
            "theta",
            group_cols=["g"],
            k=14,
            finalize=lambda sk: {"est": int(round(sk.get_estimate()))},
            finalize_schema="est bigint",
        )
        got = {r.g: r.est for r in grouped.collect()}
        assert got == {0: 500, 1: 500}
        with pytest.raises(ValueError, match="finalize_schema"):
            sketch_agg(items, "v", "theta", finalize=lambda sk: {})

    def test_grouped_matches_sql(self, spark, items):
        df = items.withColumn("g", F.col("v") % 2)
        out = sketch_agg(df, "v", "theta", group_cols=["g"]).orderBy("g").collect()
        assert len(out) == 2
        for r in out:
            assert ThetaSketch.deserialize(bytes(r.sketch)).get_estimate() == 500.0

    def test_two_phase_kll(self, spark):
        df = spark.range(0, 10_000).selectExpr(
            "CAST(id AS double) AS x", "id % 4 AS g"
        ).repartition(8)
        out = sketch_agg(df, "x", "kll", group_cols=["g"], k=200)
        from datasketches_spark.sketches import KllSketch

        rows = out.collect()
        assert len(rows) == 4
        for r in rows:
            sk = KllSketch.deserialize(bytes(r.sketch))
            assert sk.n == 2500

    def test_merge_blobs_two_phase(self, spark, items):
        partials = sketch_agg(
            items.withColumn("g", F.col("v") % 5), "v", "theta", group_cols=["g"]
        )
        merged = sketch_agg(partials, "sketch", "theta")
        est = ThetaSketch.deserialize(bytes(merged.first().sketch)).get_estimate()
        assert est == 1000.0


class TestSaltedAggregation:
    def test_salted_equals_plain(self, spark, items):
        from datasketches_spark.aggregation import salted_sketch_agg

        df = items.withColumn("g", F.col("v") % 2)
        out = salted_sketch_agg(df, "v", "theta", group_cols=["g"], num_salts=8)
        rows = out.orderBy("g").collect()
        assert len(rows) == 2
        for r in rows:
            assert ThetaSketch.deserialize(bytes(r.sketch)).get_estimate() == 500.0

    def test_salted_global(self, spark, items):
        from datasketches_spark.aggregation import salted_sketch_agg

        out = salted_sketch_agg(items, "v", "theta", num_salts=4)
        est = ThetaSketch.deserialize(bytes(out.first().sketch)).get_estimate()
        assert est == 1000.0


# ---------------- native JVM frequency fast paths ----------------------


@pytest.mark.parametrize("n", [1000, 100_000])
def test_theta_scalars_read_spark_theta_sketch_agg(spark, n):
    """Spark's own theta_sketch_agg stores compressed compact theta
    (serial version 4).  The datasketch_theta_* scalars answer on it in
    exact mode (1000 values) and in estimation mode (100k values over
    lg_k 12), and agree with Spark's theta_sketch_estimate."""
    row = spark.sql(
        f"""
        WITH a AS (SELECT theta_sketch_agg(id, 12) AS native FROM range({n})),
             b AS (SELECT datasketch_theta_lgk(12, id) AS ours FROM range({n}))
        SELECT substring(hex(native), 1, 6) AS head,
               theta_sketch_estimate(native) AS spark_est,
               datasketch_theta_estimate(native) AS est,
               datasketch_theta_is_estimation_mode(native) AS est_mode,
               datasketch_theta_num_retained(native) AS retained,
               datasketch_theta_lower_bound(native, 2) AS lb,
               datasketch_theta_upper_bound(native, 2) AS ub,
               datasketch_theta_estimate(datasketch_theta_union(native, ours)) AS union_est,
               datasketch_theta_estimate(ours) AS ours_est,
               theta_sketch_estimate(datasketch_theta_to_wire(native)) AS wire_est
        FROM a CROSS JOIN b
        """
    ).first()
    assert row.head in ("010403", "020403")  # serial version 4, compact
    assert row.spark_est == round(row.est) == row.wire_est
    assert row.union_est == row.ours_est
    if n == 1000:
        assert (row.est, row.lb, row.ub, row.retained) == (n, n, n, n)
        assert not row.est_mode
    else:
        assert row.est_mode and row.retained >= 4096
        assert row.lb < row.est < row.ub
        assert row.est == pytest.approx(n, rel=3 / 64)  # 3 RSE at k = 4096


def test_native_approx_top_k_matches_exact(spark):
    from datasketches_spark.functions import native

    df = spark.range(1000).selectExpr("CAST(id % 7 AS string) AS item")
    rows = df.agg(native.approx_top_k("item", 7, 100).alias("tk")).collect()[0]["tk"]
    got = {r["item"]: r["count"] for r in rows}
    # 1000 rows over 7 items: items 0..5 appear 143, item 6 appears 142
    exact = {str(i): (143 if i < 6 else 142) for i in range(7)}
    assert got == exact


def test_native_count_min_is_mergeable_binary(spark):
    from datasketches_spark.functions import native

    df = spark.range(500).selectExpr("id % 2 AS g", "CAST(id % 10 AS string) AS item")
    parts = df.groupBy("g").agg(native.count_min_build("item").alias("cms"))
    blobs = [r["cms"] for r in parts.collect()]
    assert len(blobs) == 2 and all(isinstance(b, (bytes, bytearray)) for b in blobs)


def test_sketch_agg_multi_matches_single_passes(spark):
    from datasketches_spark.aggregation import sketch_agg, sketch_agg_multi
    from datasketches_spark.sketches import KllSketch, ThetaSketch

    df = spark.range(5000).selectExpr(
        "id % 4 AS g", "id AS k", "CAST(id % 100 AS double) AS x"
    )
    multi = sketch_agg_multi(
        df, [("k", "theta", 14, "t_sk"), ("x", "kll", 1024, "k_sk")], group_cols=["g"]
    ).collect()
    assert len(multi) == 4
    singles_t = {
        r["g"]: r["sketch"]
        for r in sketch_agg(df, "k", "theta", group_cols=["g"], k=14).collect()
    }
    for r in multi:
        t = ThetaSketch.deserialize(bytes(r["t_sk"]))
        ts = ThetaSketch.deserialize(bytes(singles_t[r["g"]]))
        assert t.get_estimate() == ts.get_estimate() == 1250  # exact mode
        kll = KllSketch.deserialize(bytes(r["k_sk"]))
        assert kll.n == 1250 and kll.get_min_item() >= 0.0


def test_sketch_agg_multi_global_and_validation(spark):
    import pytest as _pt

    from datasketches_spark.aggregation import sketch_agg_multi
    from datasketches_spark.sketches import HllSketch, ReservoirSampleSketch

    df = spark.range(300).selectExpr("id AS a", "CAST(id AS string) AS s")
    row = sketch_agg_multi(
        df, [("a", "hll", 12, "h"), ("s", "reservoir", 512, "r")]
    ).collect()[0]
    assert HllSketch.deserialize(bytes(row["h"])).get_estimate() == 300.0
    assert ReservoirSampleSketch.deserialize(bytes(row["r"])).n == 300
    with _pt.raises(ValueError, match="duplicate output_col"):
        sketch_agg_multi(df, [("a", "hll", 12, "x"), ("s", "theta", None, "x")])


def test_theta_chained_set_ops_sql(spark):
    """Ported from reference test/sql/datasketch_theta.test:258-315:
    chained (A UNION B) INTERSECT C, triple intersect, and symmetric
    difference over STORED sketches — exact mode identities."""
    spark.sql("SELECT * FROM range(1, 6)").createOrReplaceTempView("set_a")  # {1..5}
    spark.sql("SELECT * FROM range(4, 9)").createOrReplaceTempView("set_b")  # {4..8}
    spark.sql("SELECT * FROM range(1, 4)").createOrReplaceTempView("set_c")  # {1..3}
    # pandas UDAFs cannot appear in scalar subqueries (Catalyst
    # UnevaluableAggregateFunc) -> build one-row aggregates and UNION
    spark.sql(
        """
        SELECT 'A' AS name, datasketch_theta(id) AS data FROM set_a
        UNION ALL SELECT 'B', datasketch_theta(id) FROM set_b
        UNION ALL SELECT 'C', datasketch_theta(id) FROM set_c
        """
    ).createOrReplaceTempView("sketches_abc")
    got = spark.sql(
        """
        SELECT
          CAST(datasketch_theta_estimate(
            datasketch_theta_intersect(
              datasketch_theta_union(a.data, b.data), c.data)) AS INT) AS aub_i_c,
          CAST(datasketch_theta_estimate(
            datasketch_theta_intersect(
              datasketch_theta_intersect(a.data, b.data), c.data)) AS INT) AS triple_i,
          CAST(datasketch_theta_estimate(
            datasketch_theta_union(
              datasketch_theta_a_not_b(a.data, b.data),
              datasketch_theta_a_not_b(b.data, a.data))) AS INT) AS sym_diff
        FROM (SELECT data FROM sketches_abc WHERE name='A') a,
             (SELECT data FROM sketches_abc WHERE name='B') b,
             (SELECT data FROM sketches_abc WHERE name='C') c
        """
    ).collect()[0]
    assert got["aub_i_c"] == 3   # (A∪B)∩C = {1,2,3}
    assert got["triple_i"] == 0  # A∩B∩C = {}
    assert got["sym_diff"] == 6  # A xor B = {1,2,3,6,7,8}


# ---------------- approx convenience layer -----------------------------


def test_approx_distinct_and_quantiles(spark):
    from datasketches_spark import approx

    df = spark.range(3000).selectExpr("id % 3 AS g", "id AS v", "CAST(id AS double) AS x")
    d = {r["g"]: r["approx_distinct"] for r in approx.distinct(df, "v", by=["g"]).collect()}
    assert d == {0: 1000, 1: 1000, 2: 1000}  # exact mode
    q = approx.quantiles(df, "x", [0.5], k=4096).collect()[0]
    assert abs(q["q_0_5"] - 1499.0) < 40


def test_approx_distinct_counts_nan_like_count_distinct(spark):
    """NaN is a value to COUNT(DISTINCT) (and -0.0 equals 0.0), so the
    theta estimate counts it too."""
    from datasketches_spark import approx

    df = spark.sql(
        "SELECT * FROM VALUES (-0.0D), (0.0D), (CAST('NaN' AS DOUBLE)), (NULL), (1.5D) AS t(v)"
    )
    want = df.selectExpr("count(DISTINCT v) n").first().n
    assert want == 3
    assert approx.distinct(df, "v").first().approx_distinct == want


def test_approx_quantiles_string_routing(spark):
    """A string column routes through the string-items KLL; exact
    mode (k > n) makes the median deterministic."""
    import pytest as _pt

    from datasketches_spark import approx

    df = spark.range(1000).selectExpr(
        "id % 2 AS g", "format_string('w%04d', id) AS s"
    )
    q = {
        r["g"]: r["q_0_5"]
        for r in approx.quantiles(df, "s", [0.5], by=["g"], k=4096).collect()
    }
    # inclusive convention: smallest item with cumrank >= 0.5
    assert q == {0: "w0498", 1: "w0499"}
    with _pt.raises(ValueError, match="string quantiles"):
        approx.quantiles(df, "s", [0.5], engine="native")


def test_approx_top_items_and_sample(spark):
    from datasketches_spark import approx

    df = spark.range(1000).selectExpr("CAST(id % 4 AS string) AS item")
    top = {r["item"]: r["estimate"] for r in approx.top_items(df, "item").collect()}
    assert top == {"0": 250, "1": 250, "2": 250, "3": 250}
    s = approx.sample(df, "item", k=5000).collect()
    assert len(s) == 1000  # exact mode keeps all


def test_approx_decontaminate_and_dedup(spark):
    from datasketches_spark import approx

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "totally clean sentence nothing shared here at all"),
         (3, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(9, "we saw the quick brown fox jumps over a fence")],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in approx.decontaminate(
        train, bench, "doc_id", "text", n=3).collect())
    assert kept == [2]
    dd = approx.dedup(train, "text", "doc_id", keep_cols=["doc_id"])
    assert sorted(r.doc_id for r in dd.collect()) == [1, 2]
    assert dd.columns == ["doc_id"]


def test_approx_native_engine(spark):
    from datasketches_spark import approx

    df = spark.range(3000).selectExpr("id % 3 AS g", "id AS v", "CAST(id AS double) AS x")
    d = {
        r["g"]: r["approx_distinct"]
        for r in approx.distinct(df, "v", by=["g"], engine="native").collect()
    }
    assert d == {0: 1000, 1: 1000, 2: 1000}  # HLL sparse mode is exact here
    q = approx.quantiles(df, "x", [0.5], engine="native").collect()[0]
    assert abs(q["q_0_5"] - 1499.0) < 5
    items = spark.range(1000).selectExpr("CAST(id % 4 AS string) AS item")
    top = {
        r["item"]: r["estimate"]
        for r in approx.top_items(items, "item", engine="native", k=4).collect()
    }
    assert top == {"0": 250, "1": 250, "2": 250, "3": 250}


def test_approx_near_duplicates_and_neighbors(spark):
    from pyspark.sql import Row

    from datasketches_spark import approx

    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=base),
            Row(doc_id=1, text=base + "tail"),  # near-dup of 0
            Row(doc_id=2, text="completely different words entirely " * 8),
        ]
    )
    pairs = {(r.id_a, r.id_b) for r in approx.near_duplicates(docs, "doc_id", "text", 0.5).collect()}
    assert (0, 1) in pairs and all(2 not in p for p in pairs)

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i == j) for j in range(4)]) for i in range(4)]
    )
    q = spark.createDataFrame([Row(query_id=0, query_vec=[1.0, 0.05, 0.0, 0.0])])
    out = approx.neighbors(emb, q, k=2).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [0, 1]


def test_approx_bucketize_drift_split(spark):
    from datasketches_spark import approx

    df = spark.range(4000).selectExpr("id AS doc_id", "CAST(id AS double) AS x")
    b = approx.bucketize(df, "x", 4, k=8192)
    sizes = sorted(r["count"] for r in b.groupBy("bucket").count().collect())
    assert len(sizes) == 4 and all(900 <= s <= 1100 for s in sizes)

    shifted = df.selectExpr("doc_id", "x + 4000 AS x")
    ks = approx.drift(df, shifted, "x", k=8192).first()["ks"]
    assert ks == 1.0
    same = approx.drift(df, df, "x", k=8192).first()["ks"]
    assert same == 0.0

    # grouped: one group identical, one disjoint
    ga = spark.range(200).selectExpr("id % 2 AS g", "CAST(id AS double) AS x")
    gb = ga.selectExpr("g", "CASE WHEN g = 1 THEN x + 10000 ELSE x END AS x")
    per_group = {
        r["g"]: r["ks"]
        for r in approx.drift(ga, gb, "x", by=["g"], k=4096).collect()
    }
    assert per_group == {0: 0.0, 1: 1.0}

    s = approx.split(df, "doc_id", {"train": 0.75, "test": 0.25})
    counts = {r["split"]: r["count"] for r in s.groupBy("split").count().collect()}
    assert abs(counts["train"] / 4000 - 0.75) < 0.03


def test_approx_rebalance_and_budget(spark):
    from datasketches_spark import approx

    df = spark.range(3000).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'web' ELSE 'code' END AS src",
        "CAST(10 AS int) AS n_tok",
    )
    kept = approx.rebalance(df, "src", "doc_id", {"web": 0.5, "code": 0.5})
    counts = {r["src"]: r["count"] for r in kept.groupBy("src").count().collect()}
    assert counts["web"] == 1000  # binding source kept whole
    assert abs(counts["code"] - 1000) < 60

    top = approx.within_budget(
        df, "n_tok", 55, order_by=["doc_id"], cum_col="cum"
    ).collect()
    assert sorted(r["doc_id"] for r in top) == [0, 1, 2, 3, 4]

    hb = approx.bucketize(df, "n_tok", 2, method="hist")
    assert hb.filter(F.col("bucket").isNull()).count() == 0


def test_arity_overloads_optional_args(spark):
    """DuckDB-parity arity overloads (reference codegen/generator.py:
    156-196): inclusive and describe-verbosity args are optional with
    the Python-API defaults; short and long arities must agree."""
    spark.sql(
        "SELECT datasketch_kll(200, CAST(id AS DOUBLE)) AS sk,"
        " datasketch_quantiles(128, CAST(id AS DOUBLE)) AS qk,"
        " datasketch_req(12, CAST(id AS DOUBLE)) AS rk,"
        " datasketch_tdigest(100, CAST(id AS DOUBLE)) AS tk,"
        " datasketch_hll(12, id) AS hk FROM range(100)"
    ).createOrReplaceTempView("arity_t")
    pairs = [
        ("datasketch_kll_quantile(sk, 0.5D)",
         "datasketch_kll_quantile(sk, 0.5D, true)"),
        ("datasketch_kll_rank(sk, 50.0D)",
         "datasketch_kll_rank(sk, 50.0D, true)"),
        ("datasketch_quantiles_cdf(qk, array(25.0D, 75.0D))",
         "datasketch_quantiles_cdf(qk, array(25.0D, 75.0D), true)"),
        ("datasketch_req_pmf(rk, array(25.0D, 75.0D))",
         "datasketch_req_pmf(rk, array(25.0D, 75.0D), true)"),
        ("datasketch_kll_describe(sk)",
         "datasketch_kll_describe(sk, false, false)"),
        ("datasketch_tdigest_describe(tk)",
         "datasketch_tdigest_describe(tk, false)"),
        ("datasketch_hll_describe(hk)",
         "datasketch_hll_describe(hk, true, false)"),
    ]
    for short, full in pairs:
        a, b = spark.sql(
            f"SELECT {short} AS a, {full} AS b FROM arity_t"
        ).collect()[0]
        assert a == b, f"{short} != {full}"
    # mid-arity describe for the 2-optional families
    row = spark.sql(
        "SELECT datasketch_kll_describe(sk, true) AS a,"
        " datasketch_kll_describe(sk, true, false) AS b FROM arity_t"
    ).collect()[0]
    assert row["a"] == row["b"]
    # a missing REQUIRED argument must still fail loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="missing required"):
        spark.sql("SELECT datasketch_kll_quantile(sk) FROM arity_t").collect()


def test_approx_weighted_sample_and_top_terms(spark):
    from datasketches_spark import approx

    df = spark.range(200).selectExpr(
        "id", "CAST(id % 2 AS string) AS g", "id % 50 + 1 AS w",
        "concat('term', id % 5, ' filler text') AS text"
    )
    s = approx.weighted_sample(df, "id", "w", k=10, by=["g"])
    assert s.groupBy("g").count().collect()[0]["count"] == 10
    t = approx.top_terms(df, "id", "text", "g", k=2)
    assert t.count() == 4  # 2 groups x top-2


def test_wire_blobs_flow_through_sql_aggregates(spark):
    """The cross-system claim end-to-end IN SQL: a column of Apache
    wire blobs (as another system would export them) feeds directly
    into the union aggregates — every reader sniffs the wire format,
    so no explicit conversion step is needed.  Exercised for the
    three round-5 families; exact-mode surfaces keep it
    deterministic."""
    import numpy as np

    from datasketches_spark.sketches.compactor import QuantilesSketch, ReqSketch
    from datasketches_spark.sketches.cpc import CpcSketch

    from datasketches_spark.sketches.hll import HllSketch

    rows = []
    for i in range(4):
        vals = np.arange(i * 100, i * 100 + 100)
        c = CpcSketch(11)
        c.update_values(vals.astype(np.int64))
        h = HllSketch(12)
        h.update_values(vals.astype(np.int64))
        q = QuantilesSketch(128)
        q.update(vals.astype(np.float64))
        r = ReqSketch(12)
        r.update(vals.astype(np.float64))
        rows.append(
            Row(
                cpc_wire=bytearray(c.to_wire()),
                hll_wire=bytearray(h.to_wire()),
                q_wire=bytearray(q.to_wire()),
                req_wire=bytearray(r.to_wire()),
            )
        )
    spark.createDataFrame(rows).createOrReplaceTempView("wire_blobs")
    got = spark.sql(
        """
        SELECT
          CAST(round(datasketch_cpc_estimate(datasketch_cpc(11, cpc_wire))) AS BIGINT) AS cpc_union,
          CAST(round(datasketch_hll_estimate(datasketch_hll(12, hll_wire))) AS BIGINT) AS hll_union,
          datasketch_quantiles_n(datasketch_quantiles(128, q_wire)) AS q_n,
          datasketch_quantiles_quantile(datasketch_quantiles(128, q_wire), 0.0) AS q_min,
          datasketch_req_n(datasketch_req(12, req_wire)) AS req_n,
          datasketch_req_quantile(datasketch_req(12, req_wire), 1.0) AS req_max
        FROM wire_blobs
        """
    ).collect()[0]
    # HLL LIST/SET coupons stay unique-countable through the wire:
    # 400 disjoint values stay exact (coupon collisions aside)
    assert abs(got["hll_union"] - 400) <= 8
    # wire-imported CPC is estimation-mode (the coupon matrix, not the
    # value hashes), so the union estimate carries ICON error bands
    assert abs(got["cpc_union"] - 400) <= 4 * 0.7213 / (2048 ** 0.5) * 400 + 2
    assert got["q_n"] == 400 and got["q_min"] == 0.0
    assert got["req_n"] == 400 and got["req_max"] == 399.0


def test_integer_typed_wire_import_sql(spark):
    """Round 8: datasketch_{kll,quantiles,req}_from_wire_bigint /
    _integer — the SQL surface for the reference's integer-typed
    sketch blobs (sketch_kll_bigint etc., codegen/generator.py:49-60).
    Engine frames pass through untouched (idempotent)."""
    import numpy as np

    from datasketches_spark.sketches.compactor import (
        KllSketch, QuantilesSketch, ReqSketch,
    )

    vals = np.arange(1000, dtype=np.int64) * 5 - 17
    blobs = {}
    for cls, fam in ((KllSketch, "kll"), (QuantilesSketch, "quantiles"),
                     (ReqSketch, "req")):
        sk = cls(128 if fam != "req" else 12, "int64")
        sk.update(vals)
        blobs[fam + "_wire"] = bytearray(sk.to_wire())
        blobs[fam + "_frame"] = bytearray(sk.serialize())
    spark.createDataFrame([Row(**blobs)]).createOrReplaceTempView("int_wire")
    got = spark.sql(
        """
        SELECT
          datasketch_kll_n(datasketch_kll_from_wire_bigint(kll_wire)) AS kll_n,
          datasketch_kll_quantile(datasketch_kll_from_wire_bigint(kll_wire), 1.0) AS kll_max,
          datasketch_kll_n(datasketch_kll_from_wire_bigint(kll_frame)) AS kll_frame_n,
          datasketch_quantiles_quantile(datasketch_quantiles_from_wire_bigint(quantiles_wire), 0.0) AS q_min,
          datasketch_req_quantile(datasketch_req_from_wire_bigint(req_wire), 1.0) AS req_max
        FROM int_wire
        """
    ).collect()[0]
    assert got["kll_n"] == 1000 and got["kll_frame_n"] == 1000
    assert got["kll_max"] == 999 * 5 - 17
    assert got["q_min"] == -17
    assert got["req_max"] == 999 * 5 - 17

    # 4-byte integer variant: synthesize from the wire layout
    import struct as _s
    sk32 = KllSketch(160, "float32")
    sk32.update(np.arange(-50, 50, dtype=np.float32))
    f32 = sk32.to_wire()
    (nlv,) = _s.unpack_from("<B", f32, 18)
    off = 20 + 4 * nlv
    i32 = f32[:off] + np.frombuffer(f32, dtype=np.float32, offset=off).astype(np.int32).tobytes()
    spark.createDataFrame([Row(b=bytearray(i32))]).createOrReplaceTempView("int32_wire")
    got = spark.sql(
        "SELECT datasketch_kll_quantile(datasketch_kll_from_wire_integer(b), 0.0) AS mn,"
        " datasketch_kll_n(datasketch_kll_from_wire_integer(b)) AS n FROM int32_wire"
    ).collect()[0]
    assert got["mn"] == -50 and got["n"] == 100
