"""One way in for SQL values: every route that builds a sketch from a
column coerces it by the column's declared type.

A BIGINT batch holding a NULL reaches Python as float64, and 5 and 5.0
hash differently.  The SQL aggregates, the ``datasketch_partials``
UDTF, ``sketch_agg`` and ``stateful_sketch_stream`` therefore all fold
through ``families.prepare`` with the kind the Spark/Arrow type gives,
and the item probes coerce the probed column the same way.  Pinned
here: a NULL in a group changes no blob, the three SQL-reachable build
routes agree on NULL-bearing, all-NULL and empty-partition inputs, and
no module outside ``families.py`` and ``sketches/`` updates a sketch
by hand.
"""

import ast
import os

import pytest

from datasketches_spark.aggregation import sketch_agg, tuple_sketch_agg
from datasketches_spark.families import FAMILY_CLASSES

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "datasketches_spark")


def test_null_in_bigint_group_keeps_theta_blob(spark):
    """Two groups hold the same 100 BIGINT values, one also a NULL: the
    blobs are equal and their union counts 100, not 199."""
    rows = [(0, i) for i in range(100)] + [(1, i) for i in range(100)] + [(1, None)]
    spark.createDataFrame(rows, "g int, x bigint").createOrReplaceTempView("routes_two")
    blobs = {
        r.g: bytes(r.s)
        for r in spark.sql(
            "SELECT g, datasketch_theta(x) AS s FROM routes_two GROUP BY g"
        ).collect()
    }
    assert blobs[0] == blobs[1]
    est = spark.sql(
        "SELECT datasketch_theta_estimate(datasketch_theta(s)) AS e FROM "
        "(SELECT g, datasketch_theta(x) AS s FROM routes_two GROUP BY g)"
    ).first().e
    assert est == 100.0


def test_theta_aggregate_over_windows(spark):
    """The Arrow aggregates run as window functions too: a bounded ROWS
    frame and an unbounded partition frame over a NULL-bearing BIGINT
    column."""
    from datasketches_spark.sketches import ThetaSketch

    vals = [None if i == 3 else i % 5 for i in range(8)]
    spark.createDataFrame(list(enumerate(vals)), "o int, x bigint").createOrReplaceTempView(
        "routes_win"
    )
    rows = spark.sql(
        "SELECT o, datasketch_theta(x) OVER (ORDER BY o ROWS BETWEEN 2 PRECEDING "
        "AND CURRENT ROW) AS r3, datasketch_theta(x) OVER () AS whole FROM routes_win"
    ).collect()
    est = {r.o: ThetaSketch.deserialize(bytes(r.r3)).get_estimate() for r in rows}
    want = {o: float(len({v for v in vals[max(0, o - 2):o + 1]} - {None})) for o in range(8)}
    assert est == want
    assert {ThetaSketch.deserialize(bytes(r.whole)).get_estimate() for r in rows} == {
        float(len(set(vals) - {None}))
    }


# ---------------------------------------------------------- item probes

# probe -> (build over x, SQL aggregate of the probe results)
PROBES = {
    "bloom_might_contain": ("datasketch_bloom(12, x)", "count_if"),
    "bloomfilter_might_contain": ("datasketch_bloomfilter(12, x)", "count_if"),
    "cms_estimate": ("datasketch_cms(10, x)", "sum"),
    "frequent_items_estimate": ("datasketch_frequent_items(x)", "sum"),
    "frequent_items_lower_bound": ("datasketch_frequent_items(x)", "sum"),
    "frequent_items_upper_bound": ("datasketch_frequent_items(x)", "sum"),
}


@pytest.mark.parametrize("probe", sorted(PROBES))
def test_probe_finds_members_of_null_bearing_bigint_batch(spark, probe):
    """A sketch of 50 members, probed by those members plus a NULL row
    in one Arrow batch: every member is found (counted once each), the
    NULL row gives NULL."""
    build, agg = PROBES[probe]
    spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(50)] + [(None,)], 1),
        "x bigint",
    ).createOrReplaceTempView("routes_probe")
    hit = f"datasketch_{probe}(f.b, p.x)"
    got = spark.sql(
        f"SELECT {agg}({hit}) AS n, count_if({hit} IS NULL) AS nulls "
        f"FROM routes_probe p CROSS JOIN "
        f"(SELECT {build} AS b FROM routes_probe WHERE x IS NOT NULL) f"
    ).first()
    assert (got.n, got.nulls) == (50, 1)


# ---------------------------------------------------- cross-route blobs

# family -> (K or None, SQL build call over column x)
ROUTE_FAMILIES = {
    "theta": (12, "datasketch_theta_lgk(12, x)"),
    "hll": (10, "datasketch_hll(10, x)"),
    "cpc": (10, "datasketch_cpc(10, x)"),
    "kll": (200, "datasketch_kll(200, x)"),
    "quantiles": (128, "datasketch_quantiles(128, x)"),
    "req": (12, "datasketch_req(12, x)"),
    "tdigest": (100, "datasketch_tdigest(100, x)"),
    "frequent_items": (6, "datasketch_frequent_items_lgk(6, x)"),
    "bloom": (10, "datasketch_bloom(10, x)"),
    "bloomfilter": (10, "datasketch_bloomfilter(10, x)"),
    "reservoir": (64, "datasketch_reservoir(64, x)"),
    "ebpps": (64, "datasketch_ebpps(64, x)"),
    "cms": (8, "datasketch_cms(8, x)"),
    "stats": (None, "datasketch_stats(x)"),
}
# kll_items and fdt take strings / string arrays, not BIGINT values;
# aod is covered by test_aod_routes_agree.


def _answer(family, blob):
    """What a route's blob says: ``"empty"`` for no sketch (NULL or an
    empty one), the exact-mode answers (and item type) of the families
    whose bytes depend on the order partials merge in, and the bytes
    otherwise."""
    if blob is None:
        return "empty"
    sk = FAMILY_CLASSES[family].deserialize(bytes(blob))
    if sk.is_empty:
        return "empty"
    if family in ("kll", "quantiles", "req", "tdigest"):
        n = sk.total_weight() if family == "tdigest" else sk.n
        return (n, getattr(sk, "dtype", None), [sk.get_quantile(q / 10) for q in range(11)])
    if family == "reservoir":
        return (sk.n, sorted(sk.get_items()))
    if family == "ebpps":
        return (sk.n, sk.cumulative_wt, sorted(sk.get_full_items()))
    if family == "frequent_items":
        return sk.get_frequent_items()
    return bytes(blob)


@pytest.fixture(scope="module")
def route_input(spark):
    """Group 0: BIGINT values with NULLs in one partition and clean in
    another; group 1: NULLs only; the middle partition is empty."""
    sc = spark.sparkContext
    clean = [(0, i) for i in range(20)]
    nulls = [(0, None if i % 7 == 0 else i) for i in range(10, 30)] + [(1, None)] * 5
    rdd = sc.parallelize(clean, 1).union(sc.parallelize([], 1)).union(
        sc.parallelize(nulls, 1)
    )
    df = spark.createDataFrame(rdd, "g int, x bigint")
    assert df.rdd.glom().map(len).collect() == [20, 0, 25]
    df.createOrReplaceTempView("routes_in")
    return df


def _routes(spark, df, view, family):
    """The three routes' blobs per group over ``view`` (= ``df``), and
    what each group's blob says; a missing group reads ``"missing"``."""
    k, call = ROUTE_FAMILIES[family]
    merge = call.replace("(x)", "(sketch)").replace(", x)", ", sketch)")
    k_arg = "" if k is None else f", {k}"
    routes = {
        "udaf": spark.sql(f"SELECT g, {call} AS b FROM {view} GROUP BY g"),
        "udtf": spark.sql(
            f"SELECT g, {merge} AS b FROM datasketch_partials("
            f"TABLE(SELECT g, x FROM {view}), '{family}'{k_arg}) GROUP BY g"
        ),
        "sketch_agg": sketch_agg(df, "x", family, ["g"], k, "b"),
    }
    got = {}
    for name, out in routes.items():
        blobs = {r.g: r.b for r in out.collect()}
        got[name] = {g: _answer(family, blobs[g]) if g in blobs else "missing" for g in (0, 1)}
    assert got["udaf"] == got["udtf"] == got["sketch_agg"], got
    assert got["udaf"][0] != "empty"
    return routes


@pytest.mark.parametrize("family", sorted(ROUTE_FAMILIES))
def test_sql_udaf_udtf_and_sketch_agg_agree(spark, route_input, family):
    routes = _routes(spark, route_input, "routes_in", family)
    # the NULL rows are counted by stats and skipped by every other family
    if family == "stats":
        sk = FAMILY_CLASSES["stats"].deserialize(bytes(
            routes["udaf"].filter("g = 0").first().b))
        assert (sk.get_n(), sk.get_nonnull()) == (40, 37)


@pytest.mark.parametrize("family", sorted(ROUTE_FAMILIES))
@pytest.mark.parametrize("sql_type", ["float", "double"])
def test_routes_agree_on_floating_columns(spark, route_input, sql_type, family):
    """The same input as FLOAT and DOUBLE: a FLOAT column builds float32
    quantile sketches on every route, the UDTF included."""
    df = route_input.selectExpr("g", f"CAST(x AS {sql_type}) AS x")
    df.createOrReplaceTempView(f"routes_{sql_type}")
    _routes(spark, df, f"routes_{sql_type}", family)


def test_aod_routes_agree(spark, route_input):
    df = route_input.selectExpr("g", "x", "CAST(coalesce(x, 0) % 3 AS DOUBLE) AS w")
    df.createOrReplaceTempView("routes_aod")
    routes = {
        "udaf": spark.sql(
            "SELECT g, datasketch_aod(8, x, array(w)) AS b FROM routes_aod GROUP BY g"),
        "udtf": spark.sql(
            "SELECT g, datasketch_aod_union_agg(sketch) AS b FROM datasketch_partials("
            "TABLE(SELECT g, x, array(w) FROM routes_aod), 'aod', 8) GROUP BY g"),
        "tuple_sketch_agg": tuple_sketch_agg(df, "x", ["w"], ["g"], 8, "b"),
    }
    got = {
        name: {r.g: _answer("aod", r.b) for r in out.collect() if r.g == 0}
        for name, out in routes.items()
    }
    assert got["udaf"] == got["udtf"] == got["tuple_sketch_agg"] != {0: "empty"}


def test_stats_stream_counts_null_rows(spark, tmpdir):
    """stateful_sketch_stream folds with the column's declared kind: a
    NULL-bearing BIGINT micro-batch counts its NULL rows into ``n``."""
    from datasketches_spark.sketches import StatsSketch
    from datasketches_spark.streaming import stateful_sketch_stream

    src = f"{tmpdir}/stats_nulls"
    spark.createDataFrame(
        [(0, None if i % 4 == 0 else i) for i in range(20)], "g bigint, v bigint"
    ).write.parquet(src)
    stream = spark.readStream.schema("g BIGINT, v BIGINT").parquet(src)
    q = (
        stateful_sketch_stream(stream, "v", "stats", ["g"])
        .writeStream.format("memory").queryName("stats_nulls")
        .outputMode("update").option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    (row,) = spark.sql("SELECT * FROM stats_nulls").collect()
    sk = StatsSketch.deserialize(bytes(row.sketch))
    assert (sk.get_n(), sk.get_nonnull(), sk.get_min(), sk.get_max()) == (20, 15, 1, 19)


# ------------------------------------------------------------ AST audit

_UPDATES = {"update_series", "update_values", "update_batch", "update_hashes", "update_coupons"}


def _calls(tree):
    """(enclosing top-level name, method, line) of every attribute call."""
    for top in tree.body:
        name = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                yield name, node.func.attr, node.lineno


def test_no_sketch_updates_outside_families():
    """Values reach a sketch through families.prepare/update_prepared
    only: no module outside families.py and sketches/ calls a sketch's
    update methods itself."""
    bad = []
    for dirpath, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d not in ("__pycache__", "sketches")]
        for fn in files:
            if not fn.endswith(".py") or fn == "families.py":
                continue
            with open(os.path.join(dirpath, fn)) as f:
                tree = ast.parse(f.read())
            bad += [
                (fn, func, attr, line)
                for func, attr, line in _calls(tree)
                if attr in _UPDATES
            ]
    assert bad == [], bad


def test_scalars_have_one_factory():
    """functions/scalars.py builds every sketch scalar through ``_scalar``
    and the item probes through ``_item_probe``: it imports no pandas
    UDF, and no other function there makes a UDF."""
    with open(os.path.join(PKG, "functions", "scalars.py")) as f:
        tree = ast.parse(f.read())
    imported = {
        a.name for n in ast.walk(tree) if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
    }
    assert not imported & {"pandas", "pandas_udf"}, imported
    makers = [
        top.name
        for top in tree.body
        for node in ast.walk(top)
        if isinstance(node, ast.Name) and node.id in ("arrow_udf", "pandas_udf")
    ]
    assert sorted(makers) == ["_item_probe", "_scalar"], makers


# modules whose optimizations fall back only on a named, expected failure
_NAMED_FALLBACKS = (
    "runtime_filter.py", "pipeline/dedup.py", "pipeline/skewjoin.py", "sketches/fdt.py",
)


@pytest.mark.parametrize("module", _NAMED_FALLBACKS)
def test_no_blanket_except(module):
    """No ``except Exception`` and no bare ``except:`` in ``module``: a
    route falls back on the failure it expects, by name."""
    with open(os.path.join(PKG, module)) as f:
        tree = ast.parse(f.read())
    bad = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.ExceptHandler)
        and (
            node.type is None
            or (isinstance(node.type, ast.Name) and node.type.id in ("Exception", "BaseException"))
        )
    ]
    assert bad == [], bad


def _module_imports(tree):
    """Import statements at module level, inside top-level if/try too."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif isinstance(node, (ast.If, ast.Try)):
            stack += node.body + node.orelse + getattr(node, "finalbody", [])
            for handler in getattr(node, "handlers", []):
                stack += handler.body


def test_no_unused_module_imports():
    """Every name a module imports at module level is used in it.
    ``__init__.py`` re-exports and ``# noqa: F401`` lines are exempt."""
    bad = []
    for dirpath, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if not fn.endswith(".py") or fn == "__init__.py":
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                src = f.read()
            tree = ast.parse(src)
            lines = src.splitlines()
            used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            for node in _module_imports(tree):
                if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                    continue
                span = lines[node.lineno - 1:node.end_lineno]
                if any("noqa: F401" in ln for ln in span):
                    continue
                bad += [
                    (os.path.relpath(path, PKG), node.lineno, a.asname or a.name)
                    for a in node.names
                    if (a.asname or a.name).split(".")[0] not in used | {"*"}
                ]
    assert bad == [], bad
