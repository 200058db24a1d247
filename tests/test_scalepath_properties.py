"""Randomized equivalence checks for the two-phase scale-path
primitives against their single-window definitions.

Hypothesis-per-example would pay a Spark job per example; instead each
test sweeps several seeded adversarial datasets (heavy ties, NULL
keys, single-row groups, one dominant shard) in one session and
asserts bit-identical results between the declared scale plan and the
naive window plan.
"""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from datasketches_spark.pipeline.mixture import sharded_prefix_sum
from datasketches_spark.pipeline.sampling import grouped_topk


def _random_frame(spark, seed, n=400):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        g = rng.choice(["a", "b", "c", None])
        v = rng.choice([0.0, 0.25, 0.5, 0.5, 1.0, float(rng.randint(0, 5))])
        w = rng.randint(1, 4)
        rows.append((i, g, v, w))
    return spark.createDataFrame(rows, "id long, g string, v double, w long")


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("k", [1, 3, 50])
def test_bucketed_topk_equals_window(spark, seed, k):
    df = _random_frame(spark, seed)
    order = [F.col("v").desc(), F.col("id").asc()]
    got = grouped_topk(df, order, k, by=["g"], bucket_by=F.col("id"), n_buckets=4)
    w = Window.partitionBy("g").orderBy(*order)
    want = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_sharded_prefix_sum_equals_window(spark, seed):
    df = _random_frame(spark, seed)
    # bucket monotone non-decreasing along the (v asc, id asc) order
    df = df.withColumn("bkt", F.floor(F.col("v") * 2).cast("int"))
    order = [F.col("v").asc(), F.col("id").asc()]
    got = sharded_prefix_sum(df, F.col("w"), order, ["g"], "bkt", "cum")
    w = (
        Window.partitionBy("g")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum", F.sum("w").over(w))
    a = sorted((r["id"], r["cum"]) for r in got.collect())
    b = sorted((r["id"], r["cum"]) for r in want.collect())
    assert a == b
    # NULL shard must be present on both sides
    assert any(r["g"] is None for r in got.collect())


@pytest.mark.parametrize("lg_k", [6, 10])
def test_theta_hybrid_matches_blob_path(spark, lg_k):
    """The JVM-merged hybrid theta (theta_agg_hybrid) must reproduce
    the Python blob path's estimate BIT-identically, in exact mode and
    in estimation mode (where the purge/(k+1)-th-threshold arithmetic
    runs in Catalyst), across multiple partials per group."""
    from datasketches_spark.aggregation import sketch_agg, theta_agg_hybrid

    df = (
        spark.range(0, 120_000)
        .repartition(8)
        .select(
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") * 7919 % 1_000_003).alias("v"),
        )
    )
    hybrid = {
        r["g"]: r["estimate"]
        for r in theta_agg_hybrid(df, "v", ["g"], lg_k=lg_k).collect()
    }
    blob = {
        r["g"]: r["est"]
        for r in sketch_agg(
            df,
            "v",
            "theta",
            group_cols=["g"],
            k=lg_k,
            finalize=lambda sk: {"est": float(sk.get_estimate())},
            finalize_schema="est double",
        ).collect()
    }
    assert hybrid == blob
    # exact mode: small distinct count is returned exactly
    small = spark.range(0, 500).select(F.lit("x").alias("g"), F.col("id").alias("v"))
    est = theta_agg_hybrid(small, "v", ["g"], lg_k=12).collect()[0]["estimate"]
    assert est == 500.0


def _theta_estimates(spark, dtype, lg_k):
    """(theta_agg_hybrid, blob path) estimates per group of one typed
    column: 3 groups of ~6.7k distinct values over 8 partitions."""
    from datasketches_spark.aggregation import sketch_agg, theta_agg_hybrid

    df = (
        spark.range(0, 30_000)
        .repartition(8)
        .select(
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") * 7919 % 20_011).cast(dtype).alias("v"),
        )
    )
    hybrid = {
        r["g"]: r["estimate"]
        for r in theta_agg_hybrid(df, "v", ["g"], lg_k=lg_k).collect()
    }
    blob = {
        r["g"]: r["est"]
        for r in sketch_agg(
            df, "v", "theta", group_cols=["g"], k=lg_k,
            finalize=lambda sk: {"est": float(sk.get_estimate())},
            finalize_schema="est double",
        ).collect()
    }
    return hybrid, blob


@pytest.mark.parametrize("dtype", ["int", "string", "double"])
def test_theta_hybrid_matches_blob_path_native_types(spark, dtype):
    """Spark's theta_sketch_agg hashes INT, STRING and DOUBLE as the
    blob path does: the estimates are bit-identical."""
    hybrid, blob = _theta_estimates(spark, dtype, 10)
    assert hybrid == blob
    assert all(v > 1024 for v in hybrid.values())  # estimation mode


def test_theta_hybrid_other_types_take_blob_path(spark):
    """Types theta_sketch_agg rejects run the blob path, so their
    estimate is exactly sketch_agg theta's."""
    for dtype in ("smallint", "decimal(10,2)", "boolean"):
        hybrid, blob = _theta_estimates(spark, dtype, 6)
        assert hybrid == blob, dtype


def test_ann_recall_floor_ivf_and_lsh(spark):
    """r11 verdict #6 — retrieval QUALITY gate, not just determinism:
    on clustered data (the realistic embedding geometry; fixed seed)
    IVF recall@10 vs brute force must be >= 0.9 at nprobe=8 of 64
    cells, and single-bucket hyperplane LSH >= 0.3 at 6 bits.  The
    committed recall grid (isotropic worst case + clustered) lives in
    docs/BASELINE_LOCAL.md "Round-12 ANN recall"."""
    import numpy as np
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from datasketches_spark.pipeline import similarity

    rng = np.random.default_rng(42)
    ncl, n, dim, k = 100, 20_000, 32, 10
    cents = rng.standard_normal((ncl, dim)) * 4.0
    pts = cents[rng.integers(0, ncl, n)] + rng.standard_normal((n, dim))
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in pts[i]]) for i in range(n)]
    ).persist()
    queries = emb.orderBy("vec_id").limit(30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).persist()
    exact: dict = {}
    for r in similarity.brute_force_topk(emb, queries, k=k).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(adf):
        hit = sum(
            1 for r in adf.collect() if r.neighbor_id in exact.get(r.query_id, set())
        )
        return hit / (len(exact) * k)

    assigned, cvecs = similarity.ivf_build(
        emb, n_centroids=64, sample_limit=20_000, seed=5
    )
    assigned.persist()
    r_ivf = recall(similarity.ivf_topk(assigned, cvecs, queries, k=k, n_probes=8))
    assert r_ivf >= 0.9, r_ivf
    r_lsh = recall(
        similarity.lsh_topk(emb, queries, dim=dim, k=k, n_bits=6, seed=13)
    )
    assert r_lsh >= 0.3, r_lsh
    # PQ (r13).  Tight clusters are PQ's WORST ranking case: ~200
    # same-cluster vectors collapse to identical codes, so pure ADC
    # cannot order within a cluster (measured 0.117 here — matches a
    # pure-numpy replica exactly; grid in BASELINE_LOCAL.md "PQ
    # recall").  The shippable recipe is ADC + exact re-rank with a
    # shortlist that covers the code-collision set: rerank=200 →
    # measured 0.987 on this geometry; floor at 0.95.
    cb = similarity.pq_train(emb, m=8, nbits=6, seed=7, sample_limit=20_000)
    codes = similarity.pq_encode(emb, cb).persist()
    r_adc = recall(similarity.pq_topk(codes, queries, cb, k=k))
    assert r_adc >= 0.10, r_adc  # quantization-collapse worst case
    r_rr = recall(
        similarity.pq_topk(codes, queries, cb, k=k, rerank=200, embeddings=emb)
    )
    assert r_rr >= 0.95, r_rr
    assert r_rr >= r_adc  # re-rank can only help on this metric
    # IVF-PQ (r13): cell pruning + ADC codes + exact re-rank; probing
    # 8/64 cells bounds recall by IVF's own probe recall (0.9 floor),
    # and the tight-cluster code collapse is absorbed by rerank=200
    ac = assigned.select("vec_id", "centroid_id").join(codes, "vec_id").persist()
    r_ivfpq = recall(
        similarity.ivfpq_topk(
            ac, cvecs, cb, queries, k=k, n_probes=8, rerank=200, embeddings=emb
        )
    )
    assert r_ivfpq >= 0.85, r_ivfpq
    emb.unpersist(); queries.unpersist(); assigned.unpersist()
    codes.unpersist(); ac.unpersist()


def test_pq_ivfpq_shuffle_query_path(spark):
    """r13 verdict #1 — pq_topk/ivfpq_topk must offer the same
    ``broadcast_queries=False`` contract as ivf_topk: a batch offline
    ANN job (millions of queries) cannot build a driver-side broadcast
    of the query set.  With auto-broadcast disabled the False path's
    plan must contain ZERO BroadcastExchange nodes (the True path's
    must contain them — the contrast proves the flag is live), and
    both paths must return identical rows."""
    import numpy as np
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from datasketches_spark import compat
    from datasketches_spark.pipeline import similarity

    rng = np.random.default_rng(17)
    n, dim, k = 300, 16, 5
    pts = rng.standard_normal((n, dim))

    def rows(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank) for r in df.collect()
        )

    # conf OFF before anything is persisted: InMemoryRelations compile
    # their build plan at persist() time, so a cached index built under
    # the default threshold would legitimately carry (corpus-side)
    # broadcasts inside the cache — not what this test is about
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        emb = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in pts[i]]) for i in range(n)]
        ).persist()
        queries = emb.orderBy("vec_id").limit(4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ).persist()
        cb = similarity.pq_train(emb, m=4, nbits=5, seed=3, sample_limit=n)
        codes = similarity.pq_encode(emb, cb).persist()
        assigned, cvecs = similarity.ivf_build(
            emb, n_centroids=4, sample_limit=n, seed=5
        )
        ac = assigned.select("vec_id", "centroid_id").join(codes, "vec_id").persist()
        for make in (
            lambda bq: similarity.pq_topk(
                codes, queries, cb, k=k, rerank=50, embeddings=emb,
                broadcast_queries=bq,
            ),
            lambda bq: similarity.ivfpq_topk(
                ac, cvecs, cb, queries, k=k, n_probes=4, rerank=50,
                embeddings=emb, broadcast_queries=bq,
            ),
        ):
            shuffled, bcast = make(False), make(True)
            assert "BroadcastExchange" not in compat.physical_plan_string(
                shuffled
            )
            assert "BroadcastExchange" in compat.physical_plan_string(bcast)
            assert rows(shuffled) == rows(bcast)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    emb.unpersist(); queries.unpersist(); codes.unpersist(); ac.unpersist()
