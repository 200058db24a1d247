"""Spark Connect portability gates.

Two layers:
1. STATIC AUDIT — no module in the package may touch the py4j bridge
   (``_jvm``/``_jdf``/``_jsc``/``_jsparkSession``/``sparkContext``)
   outside ``compat.py`` and an explicit allowlist of fail-fast-gated
   classic-only functions.  This is the guarantee that a Connect
   session degrades through documented fallbacks, never an
   AttributeError three frames deep.
2. FALLBACK BEHAVIOR — each compat helper's no-JVM branch does what
   its docstring promises, exercised with JVM access blocked.
"""

import ast
import os

import pytest

from datasketches_spark import compat

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "datasketches_spark")

_BRIDGE_ATTRS = {"_jvm", "_jdf", "_jsc", "_jsparkSession", "sparkContext"}

# functions allowed to touch the bridge directly: each either IS the
# shim layer or fail-fast-raises a named classic-only constraint first
_ALLOWED = {
    ("compat.py", None),  # the shim layer itself (any function)
    ("runtime_filter.py", "jvm_bloom_filter_bytes"),  # gated, line 1
}


class TestStaticAudit:
    def test_no_unshimmed_bridge_access(self):
        offenders = []
        for dirpath, dirs, files in os.walk(PKG):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, PKG)
                with open(full) as f:
                    tree = ast.parse(f.read())
                for node in ast.walk(tree):
                    if (
                        isinstance(node, ast.Attribute)
                        and node.attr in _BRIDGE_ATTRS
                    ):
                        offenders.append((rel, node.lineno, node.attr))
        allowed_files = {f for f, fn in _ALLOWED if fn is None}
        gated = self._gated_lines()
        bad = [
            o
            for o in offenders
            if os.path.basename(o[0]) not in allowed_files
            and (os.path.basename(o[0]), o[1]) not in gated
        ]
        assert bad == [], bad

    @staticmethod
    def _gated_lines():
        """Line numbers inside explicitly allowlisted functions."""
        out = set()
        for fname, func_name in _ALLOWED:
            if func_name is None:
                continue
            for dirpath, dirs, files in os.walk(PKG):
                dirs[:] = [d for d in dirs if d != "__pycache__"]
                if fname not in files:
                    continue
                with open(os.path.join(dirpath, fname)) as f:
                    tree = ast.parse(f.read())
                for node in ast.walk(tree):
                    if (
                        isinstance(node, ast.FunctionDef)
                        and node.name == func_name
                    ):
                        out.update(
                            (fname, ln)
                            for ln in range(
                                node.lineno, node.end_lineno + 1
                            )
                        )
        return out


class _NoJvm:
    """Object that raises on every py4j-bridge attribute — the shape a
    Connect session/DataFrame presents to getattr."""

    def __getattr__(self, name):
        raise AttributeError(name)


class _NoJvmSession(_NoJvm):
    class _Conf:
        def __init__(self, values):
            self._values = values

        def get(self, key, default=None):
            if key in self._values:
                return self._values[key]
            if default is not None:
                return default
            raise KeyError(key)

    def __init__(self, conf=None):
        self.conf = self._Conf(conf or {})


class TestFallbacks:
    def test_parse_size_bytes(self):
        assert compat.parse_size_bytes("10485760b") == 10 << 20
        assert compat.parse_size_bytes("10MB") == 10 << 20
        assert compat.parse_size_bytes("8m") == 8 << 20
        assert compat.parse_size_bytes("1g") == 1 << 30
        assert compat.parse_size_bytes("-1") == -1
        assert compat.parse_size_bytes(42) == 42
        with pytest.raises(ValueError):
            compat.parse_size_bytes("10xb")

    def test_plan_size_bytes_none_without_jvm(self):
        assert compat.plan_size_bytes(_NoJvm()) is None

    def test_plan_size_bytes_classic(self, spark):
        assert compat.plan_size_bytes(spark.range(10)) > 0

    def test_conf_helpers_without_jvm(self):
        s = _NoJvmSession(
            {
                "spark.sql.autoBroadcastJoinThreshold": "10MB",
                "spark.sql.files.maxPartitionBytes": "134217728b",
                "spark.sql.shuffle.partitions": "7",
            }
        )
        assert compat.auto_broadcast_threshold(s) == 10 << 20
        assert compat.files_max_partition_bytes(s) == 128 << 20
        assert compat.default_parallelism(s) == 7
        # defaults when the conf read itself fails
        bare = _NoJvmSession()
        assert compat.auto_broadcast_threshold(bare) == 10 << 20
        assert compat.default_parallelism(bare) == 200

    def test_broadcast_value_closure_fallback(self):
        bc = compat.broadcast_value(_NoJvmSession(), b"payload")
        assert bc.value == b"payload"

    def test_broadcast_value_warns_on_fat_closure_payload(self):
        """ADVICE r13: a closure-captured value ships per TASK, so a
        tens-of-MB CMS model must draw a warning, not sail silently."""
        import warnings

        fat = b"x" * (compat._CLOSURE_BCAST_WARN_BYTES + 1)
        with pytest.warns(RuntimeWarning, match="EVERY task"):
            bc = compat.broadcast_value(_NoJvmSession(), fat)
        assert bc.value == fat
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # small payloads stay silent
            compat.broadcast_value(_NoJvmSession(), b"small")

    def test_broadcast_value_classic(self, spark):
        bc = compat.broadcast_value(spark, b"payload")
        assert bc.value == b"payload"

    def test_scan_partitions_none_without_jvm(self):
        assert compat.scan_partitions(_NoJvm()) is None

    def test_fs_path_exists_local_fallback(self, tmp_path):
        s = _NoJvmSession()
        assert compat.fs_path_exists(s, str(tmp_path))
        assert compat.fs_path_exists(s, f"file://{tmp_path}")
        assert not compat.fs_path_exists(s, str(tmp_path / "nope"))

    def test_fs_path_exists_classic(self, spark, tmp_path):
        assert compat.fs_path_exists(spark, str(tmp_path))
        assert not compat.fs_path_exists(spark, str(tmp_path / "nope"))


class TestDegradedOperators:
    """Operators whose JVM touchpoint got a fallback keep working when
    the stats/bridge surface is absent."""

    def test_skew_join_without_stats(self, spark):
        from datasketches_spark.pipeline.skewjoin import skew_join

        left = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        right = spark.createDataFrame([(1, "x")], ["k", "w"])
        expected = sorted(left.join(right, "k").collect())
        # force the stats-unavailable branch
        orig = compat.plan_size_bytes
        compat.plan_size_bytes = lambda df: None
        try:
            got = sorted(skew_join(left, right, "k").collect())
        finally:
            compat.plan_size_bytes = orig
        assert got == expected

    def test_fan_out_skipped_without_stats(self, spark):
        from datasketches_spark.pipeline.decontam import _fan_out_if_narrow

        df = spark.range(100)
        orig = compat.plan_size_bytes
        compat.plan_size_bytes = lambda d: None
        try:
            assert _fan_out_if_narrow(df) is df  # untouched, no shuffle
        finally:
            compat.plan_size_bytes = orig

    def test_bloom_prune_auto_avoids_jvm_engine(self, spark):
        """With the bridge reported absent, bloom_prune takes the Apache
        filter and its Arrow UDF probe, and Spark's filter build
        fail-fasts by name."""
        import datasketches_spark.runtime_filter as rf

        fact = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
        dim = spark.createDataFrame([(1,), (3,)], ["k"])
        orig = compat.has_jvm
        compat.has_jvm = lambda obj: False
        try:
            pruned = rf.bloom_prune(fact, "k", dim, "k", lg_m=16)
            assert sorted(r.k for r in pruned.collect()) == [1, 3]
            assert "ArrowEvalPython" in compat.physical_plan_string(pruned)
            with pytest.raises(RuntimeError, match="Spark Connect"):
                rf.jvm_bloom_filter_bytes(dim, "k")
        finally:
            compat.has_jvm = orig

    def test_register_without_bridge_attrs(self, spark):
        """register() must only use the public udf/udtf registration
        API — re-registering while bridge access is poisoned proves no
        code path reads the private attrs."""
        from datasketches_spark import register

        orig = compat.has_jvm
        compat.has_jvm = lambda obj: False
        try:
            names = register(spark)
        finally:
            compat.has_jvm = orig
        assert len(names) >= 237
        assert (
            spark.sql(
                "SELECT datasketch_theta_estimate(datasketch_theta(id)) AS e "
                "FROM range(50)"
            ).first()["e"]
            == 50.0
        )
