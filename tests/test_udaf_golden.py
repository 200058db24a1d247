"""The SQL sketch aggregates' blobs over NULL-free typed inputs, pinned.

``golden_udaf_blobs.json`` holds what the aggregates returned when
they were pandas grouped-agg UDFs: a digest of every blob (build, and
the family's merge of those blobs) over int, bigint, double, float,
string, binary, date, timestamp, decimal and array<double> columns.  The Arrow
UDFs must return the same bytes wherever no NULL is involved.  The
randomized samples (reservoir, weighted ebpps) are pinned by their
exact-mode answers instead of bytes.  Only the cells that succeeded
are pinned; a family that rejects a type is not checked here.

Regenerate (only when a blob format changes on purpose) with
``python tests/test_udaf_golden.py``.
"""

import hashlib
import json
import os

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_udaf_blobs.json")

TYPES = {
    "int": "CAST(id % 13 AS INT)",
    "bigint": "id % 17 * 1000003",
    "double": "CAST(id % 11 AS DOUBLE) / 4",
    "float": "CAST(id % 9 AS FLOAT) / 8",
    "string": "concat('s', CAST(id % 15 AS STRING))",
    "binary": "CAST(concat('b', CAST(id % 15 AS STRING)) AS BINARY)",
    "date": "date_add(DATE'2024-01-01', CAST(id % 10 AS INT))",
    "timestamp": "timestamp_seconds(id % 10 * 3600)",
    "decimal": "CAST(id % 12 AS DECIMAL(10,2)) / 3",
    "array_double": "array(CAST(id % 5 AS DOUBLE), CAST(id % 3 AS DOUBLE))",
}

# build call -> the merge of its blobs (column b), or None
CALLS = {
    "datasketch_theta(x)": "datasketch_theta(b)",
    "datasketch_theta_lgk(6, x)": None,
    "datasketch_hll(8, x)": "datasketch_hll_union(8, b)",
    "datasketch_cpc(10, x)": "datasketch_cpc_union(10, b)",
    "datasketch_kll(200, x)": "datasketch_kll(200, b)",
    "datasketch_quantiles(64, x)": "datasketch_quantiles(64, b)",
    "datasketch_req(12, x)": "datasketch_req(12, b)",
    "datasketch_tdigest(100, x)": "datasketch_tdigest(100, b)",
    "datasketch_kll_items(200, x)": "datasketch_kll_items(200, b)",
    "datasketch_frequent_items(x)": "datasketch_frequent_items(b)",
    "datasketch_frequent_items_lgk(4, x)": None,
    "datasketch_bloom(10, x)": "datasketch_bloom_union_agg(10, b)",
    "datasketch_bloomfilter(10, x)": "datasketch_bloomfilter_union_agg(10, b)",
    "datasketch_fdt(6, x)": "datasketch_fdt_union_agg(6, b)",
    "datasketch_reservoir(64, x)": "datasketch_reservoir_union_agg(64, b)",
    "datasketch_ebpps(64, x)": "datasketch_ebpps_union_agg(64, b)",
    "datasketch_cms(6, x)": "datasketch_cms_union_agg(6, b)",
    "datasketch_stats(x)": "datasketch_stats_union_agg(b)",
    "datasketch_reservoir_weighted(64, x, w)": None,
    "datasketch_ebpps_weighted(64, x, w)": None,
    "datasketch_aod(6, x, array(w, w * 2))": "datasketch_aod_union_agg(b)",
}


def _cell(call: str, blob):
    """A blob's digest, or for a randomized sample its exact-mode answer."""
    if blob is None:
        return None
    if call.startswith("datasketch_reservoir"):
        from datasketches_spark.sketches import ReservoirSampleSketch

        sk = ReservoirSampleSketch.deserialize(bytes(blob))
        return [int(sk.n), sorted(map(str, sk.get_items()))]
    if call.startswith("datasketch_ebpps_weighted"):
        from datasketches_spark.sketches import EbppsSketch

        sk = EbppsSketch.deserialize(bytes(blob))
        return [int(sk.n), *map(float, (sk.cumulative_wt, sk.wt_max, sk.rho))]
    return hashlib.sha256(bytes(blob)).hexdigest()[:32] + f":{len(blob)}"


def _view(spark, expr: str) -> None:
    spark.range(0, 40, 1, 1).selectExpr(
        "CAST(id % 2 AS INT) AS g", f"{expr} AS x", "CAST(id % 7 + 1 AS DOUBLE) AS w"
    ).createOrReplaceTempView("golden_t")


def _run(spark, tname: str, calls: list) -> dict:
    """One query builds every call per group, one more merges each
    call's blobs; keys are ``type|call`` and ``type|call|merge``."""
    cols = ", ".join(f"{c} AS c{i}" for i, c in enumerate(calls))
    built = f"SELECT g, {cols} FROM golden_t GROUP BY g"
    out = {}
    for r in spark.sql(built).collect():
        for i, c in enumerate(calls):
            out.setdefault(f"{tname}|{c}", {})[str(r.g)] = _cell(c, r[f"c{i}"])
    merges = [(i, c) for i, c in enumerate(calls) if CALLS[c]]
    if merges:
        cols = ", ".join(
            CALLS[c].replace("(b)", f"(c{i})").replace(", b)", f", c{i})") + f" AS m{i}"
            for i, c in merges
        )
        m = spark.sql(f"SELECT {cols} FROM ({built})").first()
        for i, c in merges:
            out[f"{tname}|{c}|merge"] = {"*": _cell(c, m[f"m{i}"])}
    return out


def test_udaf_blobs_match_golden(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = {}
    for tname, expr in TYPES.items():
        calls = [c for c in CALLS if f"{tname}|{c}" in want]
        _view(spark, expr)
        got.update(_run(spark, tname, calls))
    assert got == want


def capture(spark) -> dict:
    """Every (type, call) cell that succeeds, one query per cell."""
    out = {}
    for tname, expr in TYPES.items():
        _view(spark, expr)
        for c in CALLS:
            try:
                out.update(_run(spark, tname, [c]))
            except Exception:  # the family rejects this type: not pinned
                pass
    return out


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    import datasketches_spark as dss

    session = SparkSession.builder.master("local[2]").getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    dss.register(session)
    with open(GOLDEN, "w") as f:
        json.dump(capture(session), f, indent=1, sort_keys=True)
