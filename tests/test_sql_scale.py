"""SQL-surface scale path: `datasketch_partials` (Python UDTF) +
family merge AGG must reproduce the two-phase blob-only plan of
aggregation.sketch_agg from a pure spark.sql() entry — answers exact
in exact mode, and the physical plan must show the UDTF BELOW the only
exchange (raw rows never shuffle)."""

import re

import pytest

import datasketches_spark as dss


@pytest.fixture(autouse=True)
def _reg(spark):
    dss.register(spark)
    spark.range(0, 8000, 1, 8).selectExpr(
        "id % 5 AS g", "id % 997 AS x"
    ).createOrReplaceTempView("sql_scale_t")


def test_theta_two_phase_sql_exact(spark):
    got = {
        r.g: r.d
        for r in spark.sql(
            """
            SELECT g, CAST(round(datasketch_theta_estimate(
                       datasketch_theta(sketch))) AS BIGINT) AS d
            FROM datasketch_partials(
                   TABLE(SELECT g, x FROM sql_scale_t), 'theta', 14)
            GROUP BY g
            """
        ).collect()
    }
    exact = {
        r.g: r.d
        for r in spark.sql(
            "SELECT g, count(DISTINCT x) AS d FROM sql_scale_t GROUP BY g"
        ).collect()
    }
    assert got == exact


def test_kll_two_phase_sql_exact(spark):
    got = {
        r.g: r.m
        for r in spark.sql(
            """
            SELECT g, datasketch_kll_quantile(
                       datasketch_kll(4000, sketch), 0.5) AS m
            FROM datasketch_partials(
                   TABLE(SELECT g, x FROM sql_scale_t), 'kll', 4000)
            GROUP BY g
            """
        ).collect()
    }
    # k=4000 > rows/group: the sketch is exact; median == SQL median
    exact = {
        r.g: r.m
        for r in spark.sql(
            "SELECT g, median(x) AS m FROM sql_scale_t GROUP BY g"
        ).collect()
    }
    for g in exact:
        assert got[g] == pytest.approx(exact[g], abs=1.0)


def test_plan_udtf_below_the_only_exchange(spark):
    """THE scale claim: the UDTF (phase 1) evaluates on the scan side
    of the one hash exchange, so the shuffle carries only
    (group, blob) rows.  A PARTITION BY (or a plain UDAF) would put an
    exchange below the python eval — raw text/rows on the wire."""
    df = spark.sql(
        """
        SELECT g, datasketch_theta(sketch) AS sk
        FROM datasketch_partials(
               TABLE(SELECT g, x FROM sql_scale_t), 'theta', 14)
        GROUP BY g
        """
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    m_udtf = re.search(r"PythonUDTF", plan)
    m_ex = re.search(r"Exchange hashpartitioning", plan)
    assert m_udtf and m_ex, plan
    # children print below parents: exchange (parent) must appear
    # BEFORE the UDTF in the plan string
    assert m_ex.start() < m_udtf.start(), plan
    # and nothing below the UDTF shuffles — phase 1 runs on raw scan
    # partitions as-is
    assert "Exchange" not in plan[m_udtf.start():], plan
    # the exchange's output carries the blob column, not the value col
    rows = {r.g: r.sk for r in df.collect()}
    assert len(rows) == 5 and all(v is not None for v in rows.values())


def test_partials_default_k_arity(spark):
    # k omitted: families with a default (theta) build at it
    got = spark.sql(
        """
        SELECT CAST(round(datasketch_theta_estimate(
                 datasketch_theta(sketch))) AS BIGINT) AS d
        FROM datasketch_partials(
               TABLE(SELECT g, x FROM sql_scale_t), 'theta')
        """
    ).collect()
    assert got[0].d == 997


def test_partials_skips_nulls_and_validates_family(spark):
    spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS g, CAST(NULL AS BIGINT) AS x"
    ).createOrReplaceTempView("sql_scale_nulls")
    out = spark.sql(
        """
        SELECT * FROM datasketch_partials(
            TABLE(SELECT g, x FROM sql_scale_nulls), 'theta', 14)
        """
    ).collect()
    # the NULL value is skipped, but its group still emits a partial:
    # an empty sketch, which merges to what the SQL aggregate returns
    from datasketches_spark.sketches.theta import ThetaSketch

    (row,) = out
    assert row.g is None and ThetaSketch.deserialize(bytes(row.sketch)).is_empty
    merged = spark.sql(
        """
        SELECT g, datasketch_theta_lgk(14, sketch) AS s FROM datasketch_partials(
            TABLE(SELECT g, x FROM sql_scale_nulls), 'theta', 14) GROUP BY g
        """
    ).collect()
    direct = spark.sql(
        "SELECT g, datasketch_theta_lgk(14, x) AS s FROM sql_scale_nulls GROUP BY g"
    ).collect()
    assert [bytes(r.s) for r in merged] == [bytes(r.s) for r in direct]


def test_partials_eval_memory_bounded(spark, monkeypatch):
    """The map phase must never hold a whole partition's raw values:
    eval() folds each group's buffer into its sketch every FLUSH_ROWS
    values (r10 verdict item #1 — the bounded-state contract of the
    reference's Combine machinery, codegen/generated.cpp.j2:305-341)."""
    from datasketches_spark.functions import sql_scale

    monkeypatch.setattr(sql_scale, "FLUSH_ROWS", 100)
    u = sql_scale.DatasketchPartials()
    n_groups = 3
    for i in range(30_000):
        u.eval((i % n_groups, i % 997), "theta", 14)
    # high-water mark: at most one nearly-full buffer per group
    assert u.max_buffered <= 100 * n_groups
    out = {row[0]: row[1] for row in u.terminate()}
    assert set(out) == {0, 1, 2}
    # incremental flushing must not change the answer (exact mode)
    from datasketches_spark.sketches.theta import ThetaSketch

    for g in range(n_groups):
        est = ThetaSketch.deserialize(out[g]).get_estimate()
        exact = len({i % 997 for i in range(30_000) if i % n_groups == g})
        assert round(est) == exact


def test_weighted_reservoir_two_phase_sql(spark):
    """SQL-surface weighted sampling on the blob-only plan (round 11):
    family 'reservoir_weighted' takes the last TWO table columns as
    (value, weight).  Exact mode (k >= rows/group) keeps every item
    with its raw weight, so the merged sample and total-weight
    estimate are deterministic."""
    spark.range(0, 40, 1, 8).selectExpr(
        "id % 4 AS g", "id AS v", "CAST(id + 1 AS DOUBLE) AS w"
    ).createOrReplaceTempView("sql_scale_wt")
    rows = spark.sql(
        """
        SELECT g,
               datasketch_reservoir_total_weight_estimate(
                   datasketch_reservoir(50, sketch)) AS tot,
               datasketch_reservoir_n(
                   datasketch_reservoir(50, sketch)) AS n
        FROM datasketch_partials(
               TABLE(SELECT g, v, w FROM sql_scale_wt),
               'reservoir_weighted', 50)
        GROUP BY g
        """
    ).collect()
    got = {r.g: (r.tot, r.n) for r in rows}
    want = {
        g: (float(sum(i + 1 for i in range(40) if i % 4 == g)), 10)
        for g in range(4)
    }
    assert got == want


def test_partials_aod_and_bloomfilter(spark):
    """Round-11 families ride the same SQL-only two-phase plan: aod
    takes (key, summary-array) as the trailing TWO columns;
    bloomfilter is a plain single-value family."""
    spark.range(0, 3000).selectExpr(
        "id % 3 AS g", "id % 100 AS key", "array(CAST(id AS DOUBLE)) AS vals"
    ).createOrReplaceTempView("sql_scale_aod_t")
    rows = spark.sql(
        """
        SELECT g,
               round(datasketch_aod_estimate(datasketch_aod_union_agg(sketch))) AS d,
               round(datasketch_aod_column_sums(datasketch_aod_union_agg(sketch))[0], 3) AS s
        FROM datasketch_partials(
               TABLE(SELECT g, key, vals FROM sql_scale_aod_t), 'aod', 14)
        GROUP BY g
        """
    ).collect()
    want = {
        r.g: (float(r.d), r.s)
        for r in spark.sql(
            "SELECT g, count(DISTINCT key) AS d, round(sum(CAST(id AS DOUBLE)), 3) AS s"
            " FROM (SELECT id % 3 AS g, id % 100 AS key, id FROM range(0, 3000))"
            " GROUP BY g"
        ).collect()
    }
    assert {r.g: (r.d, r.s) for r in rows} == want

    got = spark.sql(
        """
        SELECT count(*) AS n FROM (
          SELECT g, datasketch_bloomfilter_bits_set(
                   datasketch_bloomfilter_union_agg(12, sketch)) AS bits
          FROM datasketch_partials(
                 TABLE(SELECT g, key FROM sql_scale_aod_t), 'bloomfilter', 12)
          GROUP BY g
        ) WHERE bits > 0
        """
    ).first()
    assert got.n == 3


def test_partials_fdt_generic_family(spark):
    """FDT rides the UDTF's generic single-value family dispatch (the
    value column is the tuple array)."""
    spark.range(0, 2000).selectExpr(
        "id % 2 AS g",
        "array(CAST(id % 2 AS STRING), CAST(id % 150 AS STRING)) AS t",
    ).createOrReplaceTempView("sql_scale_fdt_t")
    rows = spark.sql(
        """
        SELECT g, datasketch_fdt_estimate(
                 datasketch_fdt_union_agg(14, sketch)) AS d
        FROM datasketch_partials(
               TABLE(SELECT g, t FROM sql_scale_fdt_t), 'fdt', 14)
        GROUP BY g
        """
    ).collect()
    # id % 2 fixes the parity of id % 150 (150 is even): 75 distinct
    # (g, id%150) tuples per group
    assert {r.g: r.d for r in rows} == {0: 75.0, 1: 75.0}


def test_kll_items_two_phase_sql_exact(spark):
    """String-items KLL through the UDTF scale surface: exact-mode
    (k > rows/group) per-group string medians equal the SQL-derived
    inclusive quantile."""
    got = {
        r.g: r.p50
        for r in spark.sql(
            """
            SELECT g, datasketch_kll_items_quantile(
                       datasketch_kll_items(8192, sketch), 0.5) AS p50
            FROM datasketch_partials(
                   TABLE(SELECT g, format_string('v%04d', x) AS v
                         FROM sql_scale_t), 'kll_items', 8192)
            GROUP BY g
            """
        ).collect()
    }
    exact = {
        r.g: r.p50
        for r in spark.sql(
            """
            SELECT g, min(CASE WHEN cd >= 0.5 THEN v END) AS p50 FROM (
              SELECT g, format_string('v%04d', x) AS v,
                     cume_dist() OVER (PARTITION BY g ORDER BY
                                       format_string('v%04d', x)) AS cd
              FROM sql_scale_t) GROUP BY g
            """
        ).collect()
    }
    assert got == exact
