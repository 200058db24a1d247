"""FDT (Frequent Distinct Tuples) sketch: core behavior and Apache
generic-tuple wire differential vs LIVE datasketches-java
(org.apache.datasketches.fdt.FdtSketch / tuple.strings.* in the
bundled jar).

Like the AoD family, exact-mode states are fully deterministic: the
theta key is Util.stringArrHash (XXH64/2050804337 over the UTF-16
units of the ','-joined tuple) pushed through the murmur/9001 theta
path, so java-built and python-built sketches retain the SAME hash
set and SAME tuples."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from datasketches_spark.sketches.base import SketchDeserializeError
from datasketches_spark.sketches.fdt import FdtSketch, fdt_union, tuple_hashes


@pytest.fixture(scope="module")
def jvm(spark):
    return spark.sparkContext._jvm


def _mem(jvm, blob: bytes):
    return jvm.org.apache.datasketches.memory.Memory.wrap(blob)


def _jfdt(jvm, lg_k: int):
    return jvm.org.apache.datasketches.fdt.FdtSketch(lg_k)


def _jtuple(spark, strs):
    gw = spark.sparkContext._gateway
    arr = gw.new_array(gw.jvm.java.lang.String, len(strs))
    for i, s in enumerate(strs):
        arr[i] = s
    return arr


def _heapify(jvm, blob: bytes):
    deser = (
        jvm.org.apache.datasketches.tuple.strings.ArrayOfStringsSummaryDeserializer()
    )
    return jvm.org.apache.datasketches.tuple.Sketches.heapifySketch(
        _mem(jvm, blob), deser
    )


TUPLES = [
    ("us", "mobile", f"u{i % 37}") for i in range(200)
] + [("de", "web", f"u{i % 11}") for i in range(100)]


# ------------------------------------------------------------- core


def test_exact_mode_estimate_and_groups():
    sk = FdtSketch(12)
    sk.update_tuples(TUPLES)
    distinct = len(set(TUPLES))
    assert sk.get_estimate() == float(distinct)
    assert not sk.is_estimation_mode
    res = sk.get_result([0, 1])
    got = {r["group"]: r["count"] for r in res}
    assert got == {"us,mobile": 37, "de,web": 11}
    assert res[0]["group"] == "us,mobile"  # sorted by count desc
    top = sk.get_result([0, 1], limit=1)
    assert len(top) == 1 and top[0]["group"] == "us,mobile"


def test_merge_equals_one_shot():
    a, b, one = FdtSketch(12), FdtSketch(12), FdtSketch(12)
    a.update_tuples(TUPLES[:150])
    b.update_tuples(TUPLES[150:])
    one.update_tuples(TUPLES)
    u = fdt_union(a, b)
    one._consolidate()
    assert np.array_equal(u.keys, one.keys)
    assert u.tuples == one.tuples


def test_estimation_mode_band():
    sk = FdtSketch(8)
    tups = [("d", str(i)) for i in range(100_000)]
    sk.update_tuples(tups)
    assert sk.is_estimation_mode
    assert abs(sk.get_estimate() - 100_000) / 100_000 < 4 / np.sqrt(1 << 8)
    res = sk.get_result([0])
    assert len(res) == 1
    assert res[0]["lower_bound"] <= 100_000 <= res[0]["upper_bound"]


def test_dsks_roundtrip_and_corrupt():
    sk = FdtSketch(10)
    sk.update_tuples(TUPLES)
    rt = FdtSketch.deserialize(sk.serialize())
    assert np.array_equal(rt.keys, sk.keys) and rt.tuples == sk.tuples
    assert rt.lg_k == sk.lg_k
    with pytest.raises(SketchDeserializeError):
        FdtSketch.deserialize(b"DSKSgarbagebytes")


# ------------------------------------------------- differential vs java


def test_hash_parity_vs_java(spark, jvm):
    """Same tuples -> the same theta hash set as live java."""
    jsk = _jfdt(jvm, 12)
    ours = FdtSketch(12)
    tups = [("alpha", "beta", f"x{i}") for i in range(50)] + [("", "y")]
    for t in tups:
        jsk.update(_jtuple(spark, list(t)))
    ours.update_tuples(tups)
    theirs = FdtSketch.from_wire(bytes(jsk.compact().toByteArray()))
    ours._consolidate()
    assert np.array_equal(ours.keys, theirs.keys)
    assert ours.tuples == theirs.tuples


def test_java_reads_our_wire_all_forms(spark, jvm):
    # empty, single-item, exact multi, estimation
    cases = [
        [],
        [("one", "tuple")],
        [("a", str(i)) for i in range(100)],
        [("b", str(i)) for i in range(30_000)],  # lg_k 8 -> estimation
    ]
    for i, tups in enumerate(cases):
        sk = FdtSketch(8)
        sk.update_tuples(tups)
        jsk = _heapify(jvm, sk.to_wire())
        assert jsk.getRetainedEntries() == sk.num_retained
        assert jsk.getEstimate() == pytest.approx(
            sk.get_estimate(), rel=1e-12, abs=1e-12
        )
        assert jsk.isEmpty() == sk.is_empty
        # and java re-serializes our state byte-identically once sorted
        # order matches (we emit sorted; java compact preserves order)
        back = FdtSketch.from_wire(bytes(jsk.compact().toByteArray()))
        assert np.array_equal(back.keys, sk.keys)
        assert back.tuples == sk.tuples


def test_we_read_java_wire_and_group_parity(spark, jvm):
    jsk = _jfdt(jvm, 10)
    tups = [("us", "mobile", f"u{i % 13}") for i in range(60)] + [
        ("de", "web", f"u{i % 7}") for i in range(30)
    ]
    for t in tups:
        jsk.update(_jtuple(spark, list(t)))
    ours = FdtSketch.from_wire(bytes(jsk.compact().toByteArray()))
    assert ours.get_estimate() == float(len(set(tups)))
    got = {r["group"]: r["count"] for r in ours.get_result([0, 1])}
    assert got == {"us,mobile": 13, "de,web": 7}
    # (java's own getResult post-processor takes a char argument py4j
    # cannot marshal; the grouping semantics are instead pinned by the
    # exact-SQL oracle pair fdt_top_groups)


def test_java_unions_our_wire(spark, jvm):
    a, b = FdtSketch(10), FdtSketch(10)
    a.update_tuples([("x", str(i)) for i in range(40)])
    b.update_tuples([("x", str(i)) for i in range(20, 60)])
    ops = jvm.org.apache.datasketches.tuple.strings.ArrayOfStringsSummarySetOperations()
    u = jvm.org.apache.datasketches.tuple.Union(1 << 10, ops)
    u.union(_heapify(jvm, a.to_wire()))
    u.union(_heapify(jvm, b.to_wire()))
    res = u.getResult()
    assert res.getEstimate() == 60.0
    back = FdtSketch.from_wire(bytes(res.toByteArray()))
    assert back.get_estimate() == 60.0
    assert {t for t in back.tuples} == {("x", str(i)) for i in range(60)}


def test_wire_rejects_corruption():
    sk = FdtSketch(10)
    sk.update_tuples([("a", "b"), ("c", "d")])
    w = bytearray(sk.to_wire())
    for mut in (
        lambda b: struct.pack_into("<B", b, 1, 9),  # serVer
        lambda b: struct.pack_into("<B", b, 2, 3),  # family
        lambda b: struct.pack_into("<H", b, 6, 0x1234),  # seed hash
        lambda b: struct.pack_into("<i", b, 8, 1000),  # count > len
    ):
        bad = bytearray(w)
        mut(bad)
        with pytest.raises(SketchDeserializeError):
            FdtSketch.from_wire(bytes(bad))


def test_tuple_hashes_screen_and_separator():
    # separator matters: ("ab","c") != ("a","bc")
    h = tuple_hashes([("ab", "c"), ("a", "bc")])
    assert h[0] != h[1]
    # but the JOINED string with the same comma IS the same key
    h2 = tuple_hashes([("ab,c",)])
    assert h2[0] == h[0]


# ------------------------------------------------- Spark integration


def test_two_phase_sketch_agg_and_one_call(spark):
    import datasketches_spark as dss
    from datasketches_spark import approx
    from datasketches_spark.aggregation import sketch_agg
    from pyspark.sql import functions as F

    dss.register(spark)
    df = spark.range(0, 5000).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 'web' ELSE 'api' END AS src",
        "CAST(id % 400 AS STRING) AS user"
    )
    tup = df.select(F.array("src", "user").alias("t"))
    sk = sketch_agg(tup, "t", "fdt", k=12)
    est = sk.selectExpr("datasketch_fdt_estimate(sketch) AS d").first().d
    want = df.distinct().count()
    assert est == float(want)

    got = {
        r.group: r["count"]
        for r in approx.top_distinct_groups(
            df, ["src", "user"], group_dims=[0], lg_k=12
        ).collect()
    }
    exact = {
        r.src: r.d
        for r in df.groupBy("src").agg(
            F.countDistinct("user").alias("d")
        ).collect()
    }
    assert got == exact


def test_review_fixes_io_adopt_validate(spark, tmp_path):
    """Round-11 second review batch: (a) fdt rides the sketch-table
    and wire-table IO; (b) k-less merge accumulators adopt the first
    blob's lg_k (no silent purge of exact states); (c) top_groups
    validates dimension indices cleanly."""
    import datasketches_spark as dss
    from datasketches_spark import io as dio
    from datasketches_spark.aggregation import sketch_agg, sketch_merge
    from pyspark.sql import functions as F

    dss.register(spark)
    df = spark.range(0, 20_000).selectExpr(
        "CAST(id % 2 AS STRING) AS part", "CAST(id AS STRING) AS u"
    ).select("part", F.array("part", "u").alias("t"))
    per_part = sketch_agg(df, "t", "fdt", group_cols=["part"], k=16)
    # (a) DSKS table + wire table routes both accept the family
    src = str(tmp_path / "fdt_dsks")
    dio.write_sketch_table(per_part, src, "sketch", "fdt", k=16)
    wire = str(tmp_path / "fdt_wire")
    dio.write_wire_table(per_part, wire, "sketch", "fdt", k=16)
    # (b) k-less merge of DSKS blobs stays exact at 20k tuples — the
    # engine frame CARRIES lg_k and the k-less accumulator adopts it
    merged = sketch_merge(dio.read_sketch_table(spark, src), "fdt")
    row = merged.selectExpr(
        "datasketch_fdt_estimate(sketch) AS d",
        "datasketch_fdt_is_estimation_mode(sketch) AS est",
    ).first()
    assert row.d == 20_000.0 and not row.est
    # the Apache wire carries NO nominal K (same as AoD compact), so
    # wire-ingested blobs only guarantee lg_k >= their retained set;
    # the k-less merge of the two 10k-blobs is then a (close) estimate
    row_w = sketch_merge(dio.read_wire_table(spark, wire), "fdt").selectExpr(
        "datasketch_fdt_estimate(sketch) AS d"
    ).first()
    assert abs(row_w.d - 20_000) / 20_000 < 0.05
    # (c) clean dim validation
    sk_local = FdtSketch(10)
    sk_local.update_tuples([("a", "b")])
    with pytest.raises(ValueError, match="out of range"):
        sk_local.get_result([5])
    with pytest.raises(ValueError, match=">= 0"):
        sk_local.get_result([-1])


def test_to_wire_linear_time():
    """to_wire joins parts (no quadratic bytes +=): 120k entries must
    serialize in well under a second."""
    import time

    sk = FdtSketch(17)
    sk.update_tuples([("g", str(i)) for i in range(120_000)])
    t0 = time.time()
    w = sk.to_wire()
    dt = time.time() - t0
    assert len(w) > 120_000 * 13 and dt < 2.0


@pytest.mark.parametrize(
    "rows",
    [
        [["a", 1], ["b", "c"]],  # str and int in one row: ArrowTypeError
        [["a"], [1]],  # str rows next to int rows: ArrowInvalid
        [[1.5, "a"], None],  # float then str: ArrowInvalid
        [[2**70, "x"]],  # an int past int64: OverflowError
    ],
    ids=["mixed-row", "mixed-rows", "float-str", "big-int"],
)
def test_arrow_inference_failure_falls_back_to_row_loop(rows):
    # the Arrow path declines the rows pa.array cannot type; the row
    # loop stringifies each element, as java's String.valueOf does
    sk = FdtSketch(10)
    sk.update_series(pd.Series(rows, dtype=object))
    ref = FdtSketch(10)
    ref.update_tuples([tuple(str(x) for x in r) for r in rows if r is not None])
    assert sk.serialize() == ref.serialize()
