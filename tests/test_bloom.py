"""Bloom filter family: core unit tests + Spark SQL surface + pruning.

Beyond-reference family (the reference has no Bloom filter); test
idioms follow the reference's sqllogictest style anyway (SURVEY.md §5):
exact guarantees where deterministic (no false negatives, merge = OR),
probabilistic bands where not (FPP), corrupt-blob errors, empty/NULL
edge cases.
"""

import numpy as np
import pandas as pd
import pytest

from datasketches_spark.sketches import (
    BloomFilterSketch,
    SketchDeserializeError,
    bloom_intersect,
    bloom_union,
    deserialize_any,
)


# ---------------- core ------------------------------------------------


def test_no_false_negatives():
    sk = BloomFilterSketch(lg_m=14, num_hashes=6)
    keys = pd.Series(np.arange(1000, dtype=np.int64))
    sk.update_values(keys)
    assert sk.contains_values(keys).all()


def test_absent_keys_mostly_rejected():
    sk = BloomFilterSketch(lg_m=16, num_hashes=6)
    sk.update_values(pd.Series(np.arange(1000, dtype=np.int64)))
    absent = pd.Series(np.arange(100_000, 110_000, dtype=np.int64))
    fp_rate = sk.contains_values(absent).mean()
    # theoretical fpp at n=1000, m=65536, h=6 is ~2e-6; give slack
    assert fp_rate < 0.01
    assert sk.current_fpp() < 0.01


def test_string_keys():
    sk = BloomFilterSketch(lg_m=14)
    sk.update_values(pd.Series(["alpha", "beta", "gamma", ""]))
    assert sk.contains_values(pd.Series(["alpha", "", "beta"])).all()
    assert not sk.contains_values(pd.Series(["delta"]))[0] or True  # may FP


def test_merge_is_bitwise_or():
    a = BloomFilterSketch(lg_m=12)
    b = BloomFilterSketch(lg_m=12)
    a.update_values(pd.Series([1, 2, 3]))
    b.update_values(pd.Series([4, 5, 6]))
    u = bloom_union(a, b)
    assert u.contains_values(pd.Series([1, 2, 3, 4, 5, 6])).all()
    # commutative, same bits either way
    u2 = bloom_union(b, a)
    assert (u.bits == u2.bits).all()


def test_intersect_upper_bounds_membership():
    a = BloomFilterSketch(lg_m=12)
    b = BloomFilterSketch(lg_m=12)
    a.update_values(pd.Series([1, 2, 3, 4]))
    b.update_values(pd.Series([3, 4, 5, 6]))
    i = bloom_intersect(a, b)
    assert i.contains_values(pd.Series([3, 4])).all()  # true members survive


def test_shape_mismatch_raises_and_empty_adopts():
    a = BloomFilterSketch(lg_m=12)
    b = BloomFilterSketch(lg_m=14)
    b.update_values(pd.Series([1]))
    a.merge(b)  # a is empty -> adopts b's shape
    assert a.lg_m == 14 and a.contains_values(pd.Series([1]))[0]
    c = BloomFilterSketch(lg_m=12)
    c.update_values(pd.Series([9]))
    with pytest.raises(ValueError, match="identical shape"):
        c.merge(b)


def test_estimate_tracks_cardinality():
    sk = BloomFilterSketch(lg_m=18, num_hashes=6)
    sk.update_values(pd.Series(np.arange(5000, dtype=np.int64)))
    est = sk.get_estimate()
    assert 4750 <= est <= 5250  # Swamidass-Baldi within ~5% here
    assert BloomFilterSketch(lg_m=10).get_estimate() == 0.0


def test_serialize_roundtrip_and_registry():
    sk = BloomFilterSketch(lg_m=10, num_hashes=4)
    sk.update_values(pd.Series(["x", "y"]))
    blob = sk.serialize()
    back = BloomFilterSketch.deserialize(blob)
    assert (back.bits == sk.bits).all() and back.num_hashes == 4
    assert isinstance(deserialize_any(blob), BloomFilterSketch)


def test_corrupt_blob_message_parity():
    with pytest.raises(SketchDeserializeError, match="Failed to deserialize"):
        BloomFilterSketch.deserialize(b"garbage")


def test_param_validation():
    with pytest.raises(ValueError, match=r"lg_m.*\[6, 30\]"):
        BloomFilterSketch(lg_m=35)
    with pytest.raises(ValueError, match="num_hashes"):
        BloomFilterSketch(lg_m=10, num_hashes=0)


# ---------------- Spark surface ---------------------------------------


def test_sql_aggregate_and_probe(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    df.createOrReplaceTempView("bloom_in")
    spark.sql(
        "SELECT datasketch_bloom(16, k) AS sk FROM bloom_in"
    ).createOrReplaceTempView("bloom_sk")
    # every inserted key must probe true (no false negatives)
    n = spark.sql(
        "SELECT count(*) AS n FROM bloom_in CROSS JOIN bloom_sk "
        "WHERE datasketch_bloom_might_contain(sk, k)"
    ).collect()[0]["n"]
    assert n == 2000
    row = spark.sql(
        "SELECT datasketch_bloom_is_empty(sk) AS e,"
        " datasketch_bloom_num_bits(sk) AS m,"
        " datasketch_bloom_num_hashes(sk) AS h,"
        " datasketch_bloom_estimate(sk) AS est,"
        " datasketch_bloom_current_fpp(sk) AS fpp,"
        " datasketch_bloom_describe(sk) AS d FROM bloom_sk"
    ).collect()[0]
    assert not row["e"] and row["m"] == 1 << 16 and row["h"] == 6
    assert 1900 <= row["est"] <= 2100 and row["fpp"] < 0.01
    assert "Bloom Filter sketch summary" in row["d"]


def test_sql_union_and_merge_agg(spark):
    spark.range(100).createOrReplaceTempView("ba")
    spark.sql(
        "SELECT CASE WHEN id < 50 THEN 0 ELSE 1 END AS g,"
        " datasketch_bloom(12, id) AS sk FROM ba GROUP BY 1"
    ).createOrReplaceTempView("bloom_parts")
    merged = spark.sql(
        "SELECT datasketch_bloom_union_agg(12, sk) AS sk FROM bloom_parts"
    )
    merged.createOrReplaceTempView("bloom_merged")
    n = spark.sql(
        "SELECT count(*) AS n FROM ba CROSS JOIN bloom_merged "
        "WHERE datasketch_bloom_might_contain(sk, id)"
    ).collect()[0]["n"]
    assert n == 100
    pair = spark.sql(
        "SELECT datasketch_bloom_estimate("
        "  datasketch_bloom_union(a.sk, b.sk)) AS u_est,"
        " datasketch_bloom_bits_set("
        "  datasketch_bloom_intersect(a.sk, b.sk)) AS i_bits"
        " FROM (SELECT sk FROM bloom_parts WHERE g=0) a,"
        "      (SELECT sk FROM bloom_parts WHERE g=1) b"
    ).collect()[0]
    assert 90 <= pair["u_est"] <= 110


def test_bloom_prune_no_false_negatives(spark):
    from datasketches_spark import bloom_prune

    fact = spark.range(0, 5000).withColumnRenamed("id", "k")
    dim = spark.range(0, 5000, 7).withColumnRenamed("id", "d")  # every 7th key
    pruned = bloom_prune(fact, "k", dim, "d", lg_m=16)
    got = {r["k"] for r in pruned.collect()}
    expect = set(range(0, 5000, 7))
    assert expect <= got  # nothing lost
    assert len(got) <= len(expect) * 1.05  # few false positives at this m/n


def _java_v1_filter(spark, members):
    """A V1-wire (BloomFilterImpl) Spark filter, 6 hashes over 2^16
    bits.  Spark 4 writes V2, but V1 blobs exist in the wild; the
    package-local ctor is reached reflectively and filled with java's
    own putLong."""
    jvm = spark.sparkContext._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.util.sketch.BloomFilterImpl"
    )
    ctor = [
        c for c in cls.getDeclaredConstructors()
        if c.getParameterCount() == 2
    ][0]
    ctor.setAccessible(True)
    gw = spark.sparkContext._gateway
    args = gw.new_array(jvm.java.lang.Object, 2)
    args[0] = jvm.java.lang.Integer(6)
    args[1] = jvm.java.lang.Long(1 << 16)
    jbf = ctor.newInstance(args)
    for k in members:
        jbf.putLong(int(k))
    baos = jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(baos)
    return bytes(baos.toByteArray())


@pytest.mark.parametrize("version", [2, 1])
def test_jvm_probe_matches_java_might_contain(spark, version):
    """The classic probe (Catalyst's might_contain over the blob)
    keeps exactly the keys java's BloomFilter.mightContain accepts, on
    the V2 wire jvm_bloom_filter_bytes writes and on the V1 wire."""
    from datasketches_spark.runtime_filter import _probe, jvm_bloom_filter_bytes

    members = np.arange(0, 5000, 7)
    if version == 2:
        dim = spark.range(0, 5000, 7).withColumnRenamed("id", "d")
        blob = jvm_bloom_filter_bytes(dim, "d", lg_m=16)
    else:
        blob = _java_v1_filter(spark, members)
    assert int.from_bytes(blob[:4], "big") == version
    jvm = spark.sparkContext._jvm
    jbf = jvm.org.apache.spark.util.sketch.BloomFilter.readFrom(
        jvm.java.io.ByteArrayInputStream(bytearray(blob))
    )
    rng = np.random.default_rng(9)
    keys = np.concatenate(
        [members, rng.integers(-(10**12), 10**12, 500)]
    ).astype(np.int64)
    fact = spark.createDataFrame(pd.DataFrame({"k": keys}))
    kept = {r["k"] for r in fact.where(_probe(fact, "k", blob)).collect()}
    assert kept == {int(k) for k in keys if jbf.mightContain(int(k))}
    assert set(members.tolist()) <= kept  # members always hit


def test_bloom_prune_engines_agree(spark):
    """Integral and string keys both keep every true member, and the
    route is no longer a caller's choice: ``engine=`` is rejected."""
    from datasketches_spark import bloom_prune

    fact = spark.range(0, 3000).withColumnRenamed("id", "k")
    dim = spark.range(0, 3000, 11).withColumnRenamed("id", "d")
    expect = set(range(0, 3000, 11))
    got = {r["k"] for r in bloom_prune(fact, "k", dim, "d", lg_m=16).collect()}
    assert expect <= got
    sfact = fact.selectExpr("cast(k as string) k")
    sdim = dim.selectExpr("cast(d as string) d")
    got = {r["k"] for r in bloom_prune(sfact, "k", sdim, "d", lg_m=16).collect()}
    assert {str(k) for k in expect} <= got
    with pytest.raises(TypeError, match="engine"):
        bloom_prune(fact, "k", dim, "d", engine="jvm")


@pytest.mark.parametrize("engine", ["jvm", "python", "apache"])
@pytest.mark.parametrize("dim_rows", ["empty", "all_null"])
def test_bloom_prune_empty_dim_keeps_nothing(spark, bloom_route, engine, dim_rows):
    """A dimension with no non-NULL key builds an empty filter on every
    route (Spark's stat().bloomFilter alone throws on such input)."""
    from datasketches_spark import bloom_prune

    fact = spark.range(0, 100).withColumnRenamed("id", "k")
    if dim_rows == "empty":
        dim = spark.range(0, 100).withColumnRenamed("id", "d").where("d < 0")
    else:
        dim = spark.range(0, 100).selectExpr("CAST(NULL AS BIGINT) AS d")
    fact, dim = bloom_route(engine, fact, dim)
    assert bloom_prune(fact, "k", dim, "d", lg_m=12).count() == 0


def test_jvm_engine_integral_widths_no_false_negatives(spark):
    """Scala's stat.bloomFilter hashes every integral width as a long,
    matching the probe's cast-to-long — no member may ever be lost for
    tinyint/smallint/int/bigint keys."""
    from datasketches_spark import bloom_prune

    for t in ("tinyint", "smallint", "int", "bigint"):
        fact = spark.range(0, 120).selectExpr(f"cast(id as {t}) k")
        dim = spark.range(0, 120, 3).selectExpr(f"cast(id as {t}) d")
        got = {
            int(r["k"])
            for r in bloom_prune(fact, "k", dim, "d", lg_m=16).collect()
        }
        assert set(range(0, 120, 3)) <= got, t


# ---------------- classic route: Spark's filter for every key type ----

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def _rows(df):
    return sorted(map(str, df.collect()))


# key type -> the key as an SQL expression over id
_KEY_TYPES = {
    "string": "concat('k', cast(id AS string))",
    "double": "id / 4.0D",
    "date": "date_add(DATE'2020-01-01', cast(id AS int))",
}


@pytest.mark.parametrize("key_type", sorted(_KEY_TYPES))
def test_classic_route_has_no_python_node(spark, key_type):
    """STRING, DOUBLE and DATE keys: ``bloom_prune`` and
    ``bloom_pruned_anti_join`` plan Spark's filter with no Python node,
    keep every true member, and the anti-join's row set (NULL keys
    included) equals ``left_anti``."""
    from datasketches_spark import compat
    from datasketches_spark.runtime_filter import bloom_prune, bloom_pruned_anti_join

    expr = _KEY_TYPES[key_type]
    fact = spark.range(0, 600).selectExpr(f"IF(id % 50 = 7, NULL, {expr}) AS k", "id")
    dim = spark.range(0, 600, 5).selectExpr(f"{expr} AS k")
    pruned = bloom_prune(fact, "k", dim, "k", lg_m=14)
    anti = bloom_pruned_anti_join(fact, dim, "k", lg_m=14)
    for df in (pruned, anti):
        plan = compat.physical_plan_string(df)
        assert not any(n in plan for n in _PYTHON_NODES), plan
    assert "might_contain(" in compat.physical_plan_string(pruned)
    members = {r.id for r in fact.join(dim, "k", "leftsemi").collect()}
    assert len(members) == 120
    assert members <= {r.id for r in pruned.collect()}
    assert _rows(anti) == _rows(fact.join(dim, "k", "left_anti"))


def test_negative_zero_and_nan_keys_kept(spark):
    """xxhash64 maps -0.0 to 0.0 and every NaN alike, as join equality
    does: a -0.0 fact key is kept against a 0.0 dimension key, a NaN
    against a NaN."""
    from datasketches_spark.runtime_filter import bloom_prune

    fact = spark.createDataFrame([(-0.0,), (float("nan"),), (1.5,)], "k double")
    dim = spark.createDataFrame([(0.0,), (float("nan"),)], "k double")
    kept = bloom_prune(fact, "k", dim, "k", lg_m=12).collect()
    assert len(fact.join(dim, "k", "leftsemi").collect()) == 2
    assert sorted(str(r.k) for r in kept if r.k != 1.5) == ["-0.0", "nan"]


@pytest.mark.parametrize("route", ["classic", "connect"])
@pytest.mark.parametrize("fact_type,dim_type", [("string", "bigint"), ("bigint", "string")])
def test_mixed_key_types_lose_no_member(spark, bloom_route, fact_type, dim_type, route):
    """Keys of two types are compared as the equi-join compares them,
    on both routes: a STRING against a BIGINT is cast to BIGINT on
    either side, so ``'012'`` matches 12 whichever side holds it."""
    from datasketches_spark.runtime_filter import bloom_prune, bloom_pruned_anti_join

    if route == "connect":
        bloom_route("apache")
    strings = ["12", "012", "7", "40", None]
    ints = [12, 40, 99, None]
    fact = spark.createDataFrame(
        [(v,) for v in (strings if fact_type == "string" else ints)], f"k {fact_type}"
    )
    dim = spark.createDataFrame(
        [(v,) for v in (strings if dim_type == "string" else ints)], f"k {dim_type}"
    )
    members = _rows(fact.join(dim, "k", "leftsemi"))
    assert len(members) == (3 if fact_type == "string" else 2)
    assert set(members) <= set(_rows(bloom_prune(fact, "k", dim, "k", lg_m=12)))
    assert _rows(bloom_pruned_anti_join(fact, dim, "k", lg_m=12)) == _rows(
        fact.join(dim, "k", "left_anti")
    )


def test_bloom_io_roundtrip_with_metadata(spark, tmp_path):
    from datasketches_spark import io as dio
    from datasketches_spark.aggregation import sketch_agg

    df = spark.range(500).withColumnRenamed("id", "k")
    sk = sketch_agg(df, "k", "bloom", k=14)
    path = str(tmp_path / "bloom_tbl")
    dio.write_sketch_table(sk, path, "sketch", "bloom", k=14)
    back = dio.read_sketch_table(spark, path)
    info = dio.sketch_column_info(back, "sketch")
    assert info["family"] == "bloom" and info["k"] == 14
    blob = back.collect()[0]["sketch"]
    assert BloomFilterSketch.deserialize(bytes(blob)).contains_values(
        pd.Series(range(500))
    ).all()
