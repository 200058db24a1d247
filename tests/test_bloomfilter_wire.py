"""Apache BloomFilter (filters.bloomfilter) differential suite vs the
LIVE bundled datasketches-java, plus the XXH64 core it rides on.

Unlike the estimation families, a bloom filter's entire state is a
deterministic function of the input set — so the differential bar
here is BYTE-IDENTITY of the serialized filter (same items, same
geometry, same seed), not statistical agreement."""

from __future__ import annotations

import random
import struct

import numpy as np
import pandas as pd
import pytest

from datasketches_spark.sketches.base import SketchDeserializeError
from datasketches_spark.sketches.bloom_apache import (
    ApacheBloomFilter,
    bloomfilter_intersect,
    bloomfilter_union,
    suggest_num_filter_bits,
    suggest_num_hashes,
)
from datasketches_spark.xxhash import xxh64_bytes, xxh64_long, xxh64_one

BIG = 1 << 32  # py4j sends ints >= 2^31 as java Long


@pytest.fixture(scope="module")
def jvm(spark):
    return spark.sparkContext._jvm


def _builder(jvm):
    return jvm.org.apache.datasketches.filters.bloomfilter.BloomFilterBuilder


def _heapify(jvm, blob: bytes):
    return jvm.org.apache.datasketches.filters.bloomfilter.BloomFilter.heapify(
        jvm.org.apache.datasketches.memory.Memory.wrap(blob)
    )


# ------------------------------------------------------------- xxhash


def test_xxh64_long_matches_java(spark, jvm):
    xx = jvm.org.apache.datasketches.memory.XxHash
    rng = random.Random(11)
    vals = [0, 1, -1, 2**63 - 1, -(2**63)] + [
        rng.getrandbits(64) - (1 << 63) for _ in range(20)
    ]
    seeds = [0, 9001, (1 << 63) + 5]
    for s in seeds:
        ours = xxh64_long(
            np.array(vals, dtype=np.int64).view(np.uint64), s
        )
        sj = s - (1 << 64) if s >= (1 << 63) else s  # java long is signed
        theirs = [xx.hashLong(v, sj) & ((1 << 64) - 1) for v in vals]
        assert list(ours) == theirs


def test_xxh64_bytes_matches_java_full_length_matrix(spark, jvm):
    xx = jvm.org.apache.datasketches.memory.XxHash
    rng = random.Random(12)
    lengths = [0, 1, 2, 3, 4, 5, 7, 8, 9, 12, 15, 16, 17, 23, 24, 31, 32,
               33, 39, 40, 47, 48, 63, 64, 65, 100, 255, 1024]
    rows = [bytes(rng.getrandbits(8) for _ in range(n)) for n in lengths]
    flat = np.frombuffer(b"".join(rows), dtype=np.uint8)
    offs = np.cumsum([0] + [len(r) for r in rows])
    for seed in (0, 9001):
        ours = xxh64_bytes(flat, offs, seed)
        theirs = [
            xx.hashByteArr(bytearray(r), 0, len(r), seed) & ((1 << 64) - 1)
            for r in rows
        ]
        assert list(ours) == theirs
        # scalar reference agrees too
        assert [xxh64_one(r, seed) for r in rows] == theirs


def test_xxh64_per_row_seed_chain():
    """The bloom h1 = xxh64(item, seed=h0) chain uses ARRAY seeds."""
    rng = random.Random(13)
    rows = [bytes(rng.getrandbits(8) for _ in range(n)) for n in (3, 8, 40)]
    flat = np.frombuffer(b"".join(rows), dtype=np.uint8)
    offs = np.cumsum([0] + [len(r) for r in rows])
    h0 = xxh64_bytes(flat, offs, 9001)
    h1 = xxh64_bytes(flat, offs, h0)
    for i, r in enumerate(rows):
        assert int(h1[i]) == xxh64_one(r, int(h0[i]))
    v = np.array([5, 6, 7], dtype=np.uint64)
    g0 = xxh64_long(v, 1)
    g1 = xxh64_long(v, g0)
    for i in range(3):
        assert int(g1[i]) == xxh64_one(int(v[i]).to_bytes(8, "little"), int(g0[i]))


# ------------------------------------------------- filter parity


def _fill_both(spark, jvm, num_bits=4096, num_hashes=6, seed=9001):
    jf = _builder(jvm).createBySize(num_bits, num_hashes, seed)
    ours = ApacheBloomFilter(num_bits, num_hashes, seed)
    longs = [BIG + 7 * i for i in range(200)]
    strs = [f"item-{i}" for i in range(200)]
    dbls = [i * 1.5 for i in range(50)] + [-0.0, 0.0]
    for v in longs:
        jf.update(v)
    for s in strs:
        jf.update(s)
    for d in dbls:
        jf.update(d)
    ours.update_series(pd.Series(longs, dtype=np.int64))
    ours.update_series(pd.Series(strs))
    ours.update_series(pd.Series(dbls))
    return jf, ours, longs, strs


def test_wire_byte_identical(spark, jvm):
    """Same items + geometry + seed -> the SAME bits.  A live-built
    java heap filter always serializes numBitsSet as the -1 dirty
    marker, so byte-identity is asserted (a) on everything but that
    field vs the live filter, and (b) in FULL against java's
    round-trip of our own blob (heapified filters carry the real
    count, as we do)."""
    jf, ours, _, _ = _fill_both(spark, jvm)
    jb, ob = bytes(jf.toByteArray()), ours.to_wire()
    assert len(jb) == len(ob)
    assert jb[:24] == ob[:24] and jb[32:] == ob[32:]
    assert struct.unpack_from("<q", jb, 24)[0] == -1  # dirty marker
    assert struct.unpack_from("<q", ob, 24)[0] == ours.num_bits_set
    jrt = _heapify(jvm, ob)
    assert bytes(jrt.toByteArray()) == ob


def test_dirty_count_marker_accepted(spark, jvm):
    jf, ours, _, _ = _fill_both(spark, jvm)
    jb = bytes(jf.toByteArray())  # numBitsSet == -1 (dirty)
    assert struct.unpack_from("<q", jb, 24)[0] == -1
    rt = ApacheBloomFilter.from_wire(jb)
    assert rt.num_bits_set == ours.num_bits_set
    assert np.array_equal(rt.data, ours.data)


def test_query_parity_and_cross_reads(spark, jvm):
    jf, ours, longs, strs = _fill_both(spark, jvm)
    probes_l = longs[:5] + [999_999_999, BIG + 3]
    probes_s = strs[:5] + ["absent", "also-absent"]
    jq = [jf.query(v) for v in probes_l] + [jf.query(s) for s in probes_s]
    oq = list(ours.query_series(pd.Series(probes_l, dtype=np.int64))) + list(
        ours.query_series(pd.Series(probes_s))
    )
    assert jq == [bool(x) for x in oq]
    # java reads ours and answers identically
    jf2 = _heapify(jvm, ours.to_wire())
    assert [jf2.query(v) for v in probes_l] == jq[: len(probes_l)]
    # we read java's and answer identically
    rt = ApacheBloomFilter.from_wire(bytes(jf.toByteArray()))
    assert list(rt.query_series(pd.Series(probes_s))) == [
        bool(x) for x in oq[len(probes_l):]
    ]


def test_zero_signs_probe_differently():
    """-0.0 keeps its sign bit (doubleToLongBits canonicalizes only
    NaN) — unlike the theta families' -0.0 -> 0.0 folding."""
    sk = ApacheBloomFilter(4096, 6, 9001)
    sk.update_series(pd.Series(np.array([0.0], dtype=np.float64)))
    assert bool(sk.query_series(pd.Series(np.array([0.0])))[0])
    assert not bool(sk.query_series(pd.Series(np.array([-0.0])))[0])


def test_java_unions_ours(spark, jvm):
    a = ApacheBloomFilter(2048, 4, 7)
    b = ApacheBloomFilter(2048, 4, 7)
    a.update_series(pd.Series(range(100), dtype=np.int64))
    b.update_series(pd.Series(range(50, 150), dtype=np.int64))
    ju = _heapify(jvm, a.to_wire())
    ju.union(_heapify(jvm, b.to_wire()))
    ju.getBitsUsed()
    ours = bloomfilter_union(a, b)
    assert bytes(ju.toByteArray()) == ours.to_wire()
    ji = _heapify(jvm, a.to_wire())
    ji.intersect(_heapify(jvm, b.to_wire()))
    ji.getBitsUsed()
    assert bytes(ji.toByteArray()) == bloomfilter_intersect(a, b).to_wire()


def test_incompatible_merge_raises():
    a = ApacheBloomFilter(2048, 4, 7)
    a.update_series(pd.Series([1], dtype=np.int64))
    for bad_geom in ((2048, 4, 8), (2048, 5, 7), (4096, 4, 7)):
        bad = ApacheBloomFilter(*bad_geom[:1], *bad_geom[1:])
        bad.update_series(pd.Series([2], dtype=np.int64))
        with pytest.raises(ValueError):
            a.union(bad)
        with pytest.raises(ValueError):
            a.intersect(bad)
    # but a FRESH accumulator adopts the first input's geometry (the
    # generic blob-merge path can't know it up front)
    fresh = ApacheBloomFilter(64, 1, 0)
    donor = ApacheBloomFilter(2048, 4, 7)
    donor.update_series(pd.Series([5], dtype=np.int64))
    fresh.union(donor)
    assert fresh.capacity == 2048 and fresh.num_hashes == 4 and fresh.seed == 7
    assert bool(fresh.query_series(pd.Series([5], dtype=np.int64))[0])


def test_empty_wire_parity(spark, jvm):
    je = _builder(jvm).createBySize(256, 3, 42)
    oe = ApacheBloomFilter(256, 3, 42)
    assert bytes(je.toByteArray()) == oe.to_wire()
    assert len(oe.to_wire()) == 24
    assert _heapify(jvm, oe.to_wire()).isEmpty()
    rt = ApacheBloomFilter.from_wire(bytes(je.toByteArray()))
    assert rt.is_empty and rt.capacity == 256 and rt.num_hashes == 3


def test_builder_suggestions_match_java(spark, jvm):
    b = _builder(jvm)
    for n, bits in ((100, 1024), (10_000, 1 << 16), (7, 64)):
        assert suggest_num_hashes(n, bits) == b.suggestNumHashes(n, bits)
    for n, fpp in ((1000, 0.01), (10_000, 0.001), (5, 0.5)):
        assert suggest_num_filter_bits(n, fpp) == b.suggestNumFilterBits(n, fpp)


def test_corruption_rejected():
    sk = ApacheBloomFilter(1024, 4, 9001)
    sk.update_series(pd.Series(range(10), dtype=np.int64))
    w = bytearray(sk.to_wire())
    for mut in (
        lambda b: struct.pack_into("<B", b, 1, 7),  # serVer
        lambda b: struct.pack_into("<B", b, 2, 3),  # family
        lambda b: struct.pack_into("<i", b, 16, 1 << 29),  # numLongs > len
    ):
        bad = bytearray(w)
        mut(bad)
        with pytest.raises(SketchDeserializeError):
            ApacheBloomFilter.from_wire(bytes(bad))
    with pytest.raises(SketchDeserializeError):
        ApacheBloomFilter.from_wire(b"short")
    # a non-negative stored count is trusted AS-IS (java readers never
    # recount unless the -1 dirty marker is present) — no eager
    # O(capacity) popcount on the deserialize hot path
    stale = bytearray(w)
    struct.pack_into("<q", stale, 24, 5)
    rt = ApacheBloomFilter.from_wire(bytes(stale))
    assert rt.num_bits_set == 5 and not rt._dirty
    rt.update_series(pd.Series([12345], dtype=np.int64))  # mutation re-dirties
    assert rt.num_bits_set > 30  # real popcount after the dirty recount
    # validate=True opts untrusted blobs into an eager recount: the
    # tampered count never surfaces (r12 ADVICE item)
    true_count = ApacheBloomFilter.from_wire(bytes(w)).num_bits_set
    vt = ApacheBloomFilter.from_wire(bytes(stale), validate=True)
    assert vt.num_bits_set == true_count != 5


def test_nan_skip_documented_deviation():
    sk = ApacheBloomFilter(1024, 4, 9001)
    sk.update_series(pd.Series([float("nan")]))
    assert sk.is_empty  # NULL/NaN conflation in the Arrow float path


# ------------------------------------------------- Spark integration


def test_bloom_prune_apache_engine(spark, bloom_route):
    """bloom_prune takes the Apache filter on Spark Connect (simulated:
    no py4j bridge)."""
    from datasketches_spark.runtime_filter import bloom_prune

    dim = spark.range(0, 500).withColumnRenamed("id", "k")
    fact = spark.range(0, 5000).withColumnRenamed("id", "k")
    bloom_route("apache")
    got = bloom_prune(fact, "k", dim, "k", lg_m=16)
    keys = {r.k for r in got.collect()}
    # no false negatives: every true match survives
    assert set(range(500)) <= keys
    # FPP at 500 keys / 65536 bits is tiny — the pruned set stays close
    assert len(keys) < 600


def _both_routes(monkeypatch, df, **kw):
    """``bloomfilter_blob`` built on the driver-merge route, then on
    the shuffle route: the route follows ``compat.scan_partitions`` (a
    known partition count merges on the driver, an unknown one through
    the blob-only shuffle)."""
    from datasketches_spark import compat
    from datasketches_spark.runtime_filter import bloomfilter_blob

    out = []
    for parts in (1, None):
        monkeypatch.setattr(compat, "scan_partitions", lambda _df, p=parts: p)
        out.append(bloomfilter_blob(df, "k", **kw))
    return out


def test_bloomfilter_blob_cross_merge_paths(spark, monkeypatch):
    """Driver-merge and two-phase builds produce the SAME wire bytes
    (deterministic bits; OR-merge is order-free)."""
    df = spark.range(0, 2000).withColumnRenamed("id", "k").repartition(4)
    a, b = _both_routes(monkeypatch, df, lg_m=14)
    assert bytes(a) == bytes(b)


def test_wire_table_roundtrip_bloomfilter(spark, tmp_path):
    import datasketches_spark as dss
    from datasketches_spark import io as dio
    from datasketches_spark.aggregation import sketch_agg

    dss.register(spark)
    df = spark.range(0, 300).selectExpr("id % 3 AS g", "id AS k")
    flt = sketch_agg(df, "k", "bloomfilter", group_cols=["g"], k=12)
    path = str(tmp_path / "bf_wire")
    dio.write_wire_table(flt, path, "sketch", "bloomfilter", k=12)
    back = dio.read_wire_table(spark, path)
    rows = back.selectExpr(
        "g",
        "datasketch_bloomfilter_bits_set(sketch) AS bits",
        "datasketch_bloomfilter_might_contain(sketch, CAST(g AS BIGINT)) AS has_g",
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.bits > 0 and r.has_g  # g in 0..2 is a member of its group


def test_query_alignment_with_empty_and_null_rows():
    """query_series returns ONE answer per input row: null/empty rows
    answer False (java query() parity), never a short array."""
    sk = ApacheBloomFilter(1024, 4, 9001)
    sk.update_series(pd.Series(["alpha", "beta"]))
    probes = pd.Series(["alpha", "", None, "beta", "absent"])
    got = sk.query_series(probes)
    assert len(got) == 5
    assert list(got) == [True, False, False, True, False]
    # SQL surface end-to-end exercised in test_sql_empty_probe below


def test_sql_empty_probe(spark):
    import datasketches_spark as dss

    dss.register(spark)
    spark.sql("SELECT 'a' AS s UNION ALL SELECT '' UNION ALL SELECT 'b'") \
        .createOrReplaceTempView("bf_probe_t")
    rows = spark.sql(
        """
        WITH f AS (SELECT datasketch_bloomfilter(10, s) AS sk FROM bf_probe_t)
        SELECT s, datasketch_bloomfilter_might_contain(sk, s) AS hit
        FROM bf_probe_t CROSS JOIN f ORDER BY s
        """
    ).collect()
    assert [(r.s, r.hit) for r in rows] == [("", False), ("a", True), ("b", True)]


def test_blob_custom_geometry_both_paths(spark, monkeypatch):
    """num_hashes/seed flow into BOTH build paths and survive the
    merge — a filter meant to union with an existing java filter must
    match its full geometry."""
    df = spark.range(0, 1000).withColumnRenamed("id", "k").repartition(3)
    a, b = (
        ApacheBloomFilter.from_wire(blob)
        for blob in _both_routes(monkeypatch, df, lg_m=12, num_hashes=8, seed=1234)
    )
    for f in (a, b):
        assert f.num_hashes == 8 and f.seed == 1234 and f.capacity == 4096
    assert np.array_equal(a.data, b.data)


def test_lazy_count_and_dirty_flag():
    sk = ApacheBloomFilter(1024, 4, 9001)
    sk.update_series(pd.Series(range(50), dtype=np.int64))
    assert sk._dirty  # no eager popcount per batch
    n1 = sk.num_bits_set
    assert not sk._dirty and n1 > 0
    sk.update_series(pd.Series(range(50, 60), dtype=np.int64))
    assert sk._dirty and sk.num_bits_set >= n1 and not sk.is_empty


def test_sketch_store_bloomfilter_family(spark, tmp_path):
    """The streaming SketchStore extends to the Apache BloomFilter
    family: absorbed micro-batches OR into the stored filter, and the
    stored blob probes identically to a one-shot build."""
    from datasketches_spark.streaming import SketchStore

    store = SketchStore(str(tmp_path / "bf_store"), "bloomfilter", k=14)
    b1 = spark.range(0, 500).withColumnRenamed("id", "k")
    b2 = spark.range(500, 1000).withColumnRenamed("id", "k")
    store.absorb(b1, "k")
    store.absorb(b2, "k")
    blob = bytes(store.read(spark).first()["sketch"])
    stored = ApacheBloomFilter.from_wire(blob)
    one = ApacheBloomFilter(1 << 14)
    one.update_series(pd.Series(range(1000), dtype=np.int64))
    assert np.array_equal(stored.data, one.data)

def test_sketch_table_bloomfilter_family(spark, tmp_path):
    """write_sketch_table/read_sketch_table accept the bloomfilter
    family (its blobs ARE the Apache wire, validated by preamble sniff
    instead of a DSKS family byte — the r11 advice asymmetry)."""
    from datasketches_spark import io as dio
    from datasketches_spark.aggregation import sketch_agg

    df = spark.range(0, 200).selectExpr("id % 2 AS g", "id AS k")
    flt = sketch_agg(df, "k", "bloomfilter", group_cols=["g"], k=12)
    path = str(tmp_path / "bf_dsks")
    dio.write_sketch_table(flt, path, "sketch", "bloomfilter", k=12)
    back = dio.read_sketch_table(spark, path)  # validate=True sniffs
    assert dio.sketch_column_info(back, "sketch")["family"] == "bloomfilter"
    blobs = [bytes(r["sketch"]) for r in back.collect()]
    assert len(blobs) == 2
    assert all(ApacheBloomFilter.sniff_wire(b) for b in blobs)
    # a mis-tagged table still fails the sniff
    theta = sketch_agg(df, "k", "theta", group_cols=["g"], k=12)
    mistagged = str(tmp_path / "bf_mistagged")
    dio.with_sketch_metadata(theta, "sketch", "bloomfilter").write.mode(
        "overwrite"
    ).parquet(mistagged)
    with pytest.raises(ValueError, match="not Apache BloomFilter wire"):
        dio.read_sketch_table(spark, mistagged)
