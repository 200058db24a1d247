"""Every SQL scalar's output over fixed sketch blobs, pinned.

``golden_scalar_outputs.json`` holds two rows of input blobs, one
column per family (``sk_<family>``): row 0 exact-mode sketches of the
smoke test's 200 values, row 1 small-K sketches of 1000 values in
estimation mode.  The blobs are stored, not rebuilt, so the randomized
builders (reservoir, ebpps, KLL compaction) cannot move an answer.
Next to them is every scalar's result on each row, called with the
arguments ``test_all_functions_smoke._args_for`` gives it, as the
scalars returned it when they were pandas UDFs.  Any rewrite of the
scalar layer must reproduce them exactly: binary results and long
strings by digest, floats by ``repr``.  The wire imports that draw
fresh random tags for a sample (reservoir and varopt ``from_wire``)
are pinned by their exact-mode answers: ``n`` and the sorted items.

Regenerate (only when an output changes on purpose) with
``PYTHONPATH=. python tests/test_scalar_golden.py``.
"""

import base64
import hashlib
import json
import os

from test_all_functions_smoke import _args_for

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_scalar_outputs.json")

# family column -> (row 0 build, row 1 build), over xd / xi / xs
BUILDS = {
    "theta": ("datasketch_theta(xi)", "datasketch_theta_lgk(5, xi)"),
    "kll": ("datasketch_kll(200, xd)", "datasketch_kll(8, xd)"),
    "kll_items": ("datasketch_kll_items(200, xs)", "datasketch_kll_items(8, xs)"),
    "quantiles": ("datasketch_quantiles(128, xd)", "datasketch_quantiles(16, xd)"),
    "req": ("datasketch_req(12, xd)", "datasketch_req(4, xd)"),
    "tdigest": ("datasketch_tdigest(100, xd)", "datasketch_tdigest(10, xd)"),
    "hll": ("datasketch_hll(10, xi)", "datasketch_hll(5, xi)"),
    "cpc": ("datasketch_cpc(10, xi)", "datasketch_cpc(5, xi)"),
    "frequent_items": ("datasketch_frequent_items(xs)", "datasketch_frequent_items_lgk(3, xs)"),
    "bloom": ("datasketch_bloom(10, xi)", "datasketch_bloom(7, xi)"),
    "bloomfilter": ("datasketch_bloomfilter(10, xi)", "datasketch_bloomfilter(7, xi)"),
    "reservoir": ("datasketch_reservoir(256, xs)", "datasketch_reservoir(8, xs)"),
    "cms": ("datasketch_cms(6, xs)", "datasketch_cms(4, xs)"),
    "ebpps": ("datasketch_ebpps(256, xs)", "datasketch_ebpps(8, xs)"),
    "stats": ("datasketch_stats(xd)", "datasketch_stats(xs)"),
    "aod": ("datasketch_aod(8, xi, array(xd, xd * 2))", "datasketch_aod(4, xi, array(xd))"),
    "fdt": (
        "datasketch_fdt(8, array(xs, CAST(xi % 3 AS STRING)))",
        "datasketch_fdt(4, array(xs, CAST(xi % 7 AS STRING)))",
    ),
}


# scalars whose result is a freshly tagged (so randomized) reservoir blob
RANDOMIZED = ("datasketch_reservoir_from_wire", "datasketch_varopt_from_wire")


def _sample(blob):
    """A reservoir blob's exact-mode answer: ``[n, sorted items]``."""
    from datasketches_spark.sketches import ReservoirSampleSketch

    sk = ReservoirSampleSketch.deserialize(bytes(blob))
    return [int(sk.n), sorted(map(str, sk.get_items()))]


def _canon(v):
    """A result as JSON: floats by repr, bytes and long strings by digest."""
    if isinstance(v, (bytes, bytearray)):
        return "bytes:" + hashlib.sha256(bytes(v)).hexdigest()[:32] + f":{len(v)}"
    if isinstance(v, str) and len(v) > 120:
        return "str:" + hashlib.sha256(v.encode()).hexdigest()[:32] + f":{len(v)}"
    if isinstance(v, float):
        return "float:" + repr(v)
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if hasattr(v, "asDict"):
        return {k: _canon(x) for k, x in v.asDict().items()}
    return v


def _inputs(spark, blobs: dict) -> None:
    """The view ``golden_sketches``: column rid and one blob column per family."""
    from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

    fams = sorted(blobs)
    schema = StructType(
        [StructField("rid", IntegerType())]
        + [StructField(f"sk_{f}", BinaryType()) for f in fams]
    )
    rows = [
        (rid, *(base64.b64decode(blobs[f][rid]) for f in fams)) for rid in range(2)
    ]
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).createOrReplaceTempView(
        "golden_sketches"
    )


def outputs(spark) -> dict:
    """``{scalar name: [row 0 result, row 1 result]}`` over ``golden_sketches``."""
    import datasketches_spark as dss

    names = sorted(dss.build_scalar_registry())
    out = {}
    for lo in range(0, len(names), 40):
        chunk = names[lo : lo + 40]
        sel = ", ".join(f"{n}({_args_for(n)}) AS c{i}" for i, n in enumerate(chunk))
        rows = spark.sql(f"SELECT rid, {sel} FROM golden_sketches ORDER BY rid").collect()
        for i, n in enumerate(chunk):
            canon = _sample if n in RANDOMIZED else _canon
            out[n] = [canon(r[f"c{i}"]) for r in rows]
    return out


def test_scalar_outputs_match_golden(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    _inputs(spark, want["inputs"])
    got = outputs(spark)
    assert sorted(got) == sorted(want["outputs"])
    bad = {n: (got[n], want["outputs"][n]) for n in got if got[n] != want["outputs"][n]}
    assert not bad, bad


def capture(spark) -> dict:
    """Build the input blobs and record every scalar's outputs on them."""
    spark.range(1, 201).selectExpr(
        "CAST(id AS double) AS xd", "id AS xi", "CAST(id % 20 AS string) AS xs"
    ).createOrReplaceTempView("golden_exact")
    spark.range(1, 1001).selectExpr(
        "CAST(id AS double) / 7 AS xd", "id * 31 AS xi", "CAST(id % 97 AS string) AS xs"
    ).coalesce(1).createOrReplaceTempView("golden_est")
    blobs = {}
    for rid, view in enumerate(("golden_exact", "golden_est")):
        sel = ", ".join(f"{b[rid]} AS {f}" for f, b in BUILDS.items())
        row = spark.sql(f"SELECT {sel} FROM {view}").first()
        for f in BUILDS:
            blobs.setdefault(f, []).append(base64.b64encode(bytes(row[f])).decode())
    _inputs(spark, blobs)
    return {"inputs": blobs, "outputs": outputs(spark)}


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    import datasketches_spark as dss

    session = SparkSession.builder.master("local[2]").getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    dss.register(session)
    with open(GOLDEN, "w") as f:
        json.dump(capture(session), f, indent=1, sort_keys=True)
