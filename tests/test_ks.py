"""Two-sample KS distance: exact-mode parity with brute force, SQL surface."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_spark import register
from datasketches_spark.aggregation import sketch_agg
from datasketches_spark.sketches import KllSketch, QuantilesSketch, ReqSketch


def _brute_ks(a: np.ndarray, b: np.ndarray) -> float:
    xs = np.union1d(a, b)
    fa = np.searchsorted(np.sort(a), xs, side="right") / a.size
    fb = np.searchsorted(np.sort(b), xs, side="right") / b.size
    return float(np.max(np.abs(fa - fb)))


class TestKsDistance:
    def test_exact_mode_matches_brute_force(self):
        rng = np.random.default_rng(5)
        a = rng.normal(0, 1, 3000)
        b = rng.normal(0.3, 1.2, 2000)
        ska, skb = KllSketch(8192), KllSketch(8192)
        ska.update(a)
        skb.update(b)
        assert not ska.is_estimation_mode and not skb.is_estimation_mode
        assert ska.ks_distance(skb) == pytest.approx(_brute_ks(a, b), abs=1e-12)

    def test_identity_and_disjoint(self):
        a = KllSketch(1024)
        a.update(np.arange(100, dtype=np.float64))
        assert a.ks_distance(a) == 0.0
        b = KllSketch(1024)
        b.update(np.arange(1000, 1100, dtype=np.float64))
        assert a.ks_distance(b) == 1.0

    def test_empty_gives_nan(self):
        a, b = KllSketch(256), KllSketch(256)
        b.update(np.ones(5))
        assert np.isnan(a.ks_distance(b))

    def test_estimation_mode_close(self):
        rng = np.random.default_rng(9)
        a = rng.normal(0, 1, 200_000)
        b = rng.normal(0.5, 1, 200_000)
        ska, skb = KllSketch(200), KllSketch(200)
        ska.update(a)
        skb.update(b)
        assert ska.is_estimation_mode
        # true KS ~= 0.197 for a 0.5 sigma shift
        assert ska.ks_distance(skb) == pytest.approx(_brute_ks(a, b), abs=0.03)

    def test_sql_surface(self, spark):
        register(spark)
        df = spark.range(2000).select(
            (F.col("id") % 2).alias("g"),
            (F.col("id") + (F.col("id") % 2) * 500).cast("double").alias("x"),
        )
        sk = sketch_agg(df, "x", "kll", group_cols=["g"], k=8192)
        pair = (
            sk.filter("g = 0")
            .select(F.col("sketch").alias("ska"))
            .crossJoin(sk.filter("g = 1").select(F.col("sketch").alias("skb")))
        )
        row = pair.select(
            F.expr("datasketch_kll_ks(ska, skb)").alias("ks"),
            F.expr("datasketch_kll_ks(ska, ska)").alias("self_ks"),
        ).first()
        assert 0.2 < row["ks"] <= 1.0
        assert row["self_ks"] == 0.0


class TestPsi:
    def test_identical_is_zero(self):
        rng = np.random.default_rng(2)
        v = rng.normal(50, 10, 2000)
        a, b = KllSketch(4096), KllSketch(4096)
        a.update(v)
        b.update(v)
        assert a.psi(b, [40.0, 50.0, 60.0]) == 0.0

    def test_matches_manual_computation(self):
        a_vals = np.array([1.0] * 30 + [5.0] * 50 + [9.0] * 20)
        b_vals = np.array([1.0] * 10 + [5.0] * 60 + [9.0] * 30)
        a, b = KllSketch(1024), KllSketch(1024)
        a.update(a_vals)
        b.update(b_vals)
        splits = [2.0, 7.0]
        pa, pb = np.array([0.3, 0.5, 0.2]), np.array([0.1, 0.6, 0.3])
        want = float(np.sum((pa - pb) * np.log(pa / pb)))
        assert a.psi(b, splits) == pytest.approx(want, abs=1e-12)

    def test_empty_bin_is_inf(self):
        a, b = KllSketch(256), KllSketch(256)
        a.update(np.array([1.0, 2.0]))
        b.update(np.array([10.0, 20.0]))
        assert np.isinf(a.psi(b, [5.0]))

    @pytest.mark.parametrize("cls", [KllSketch, QuantilesSketch, ReqSketch])
    def test_bin_empty_on_both_sides_contributes_zero(self, cls):
        # (0 - 0) * ln(0 / 0) is NaN; such a bin holds no mass on
        # either side, so by the definition it adds nothing
        a = cls(128)
        a.update(np.arange(1, 101, dtype=np.float64))
        assert a.psi(a, [50.0, 150.0]) == 0.0
        b = cls(128)
        b.update(np.array([1.0] * 30 + [60.0] * 70))
        want = a.psi(b, [50.0])
        assert np.isfinite(want) and want > 0.0
        assert a.psi(b, [50.0, 150.0]) == want

    def test_sql_surface(self, spark):
        register(spark)
        df = spark.range(1000).select(
            (F.col("id") % 2).alias("g"),
            (F.col("id") % 100 + (F.col("id") % 2) * 20).cast("double").alias("x"),
        )
        sk = sketch_agg(df, "x", "kll", group_cols=["g"], k=4096)
        pair = (
            sk.filter("g = 0").select(F.col("sketch").alias("ska"))
            .crossJoin(sk.filter("g = 1").select(F.col("sketch").alias("skb")))
        )
        row = pair.select(
            F.expr(
                "datasketch_kll_psi(ska, skb, array(30.0D, 60.0D, 90.0D))"
            ).alias("psi"),
            F.expr(
                "datasketch_kll_psi(ska, ska, array(30.0D, 60.0D, 90.0D))"
            ).alias("self_psi"),
        ).first()
        assert row["psi"] > 0.0
        assert row["self_psi"] == 0.0
