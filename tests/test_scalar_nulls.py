"""A NULL argument to a sketch scalar gives NULL or a default, never an error.

The rule (functions/scalars.py): a NULL sketch or NULL required
argument gives NULL; a NULL or omitted optional argument takes its
default; a NaN DOUBLE argument counts as NULL; a missing required
argument or one argument too many raises.  Checked here for every
registered scalar that takes a non-sketch argument, with the argument
lists ``test_all_functions_smoke._args_for`` gives, over the stored
sketches of ``golden_scalar_outputs.json``.  When the scalars were
pandas UDFs a NULL INT argument reached them as NaN, so
``datasketch_theta_lower_bound(sk, NULL)`` failed with "cannot convert
float NaN to integer" and ``datasketch_kll_quantile(sk, NULL)`` answered
as if the rank were NaN.
"""

import json

import pyarrow as pa
import pytest

import datasketches_spark as dss
from test_all_functions_smoke import _args_for
from test_scalar_golden import GOLDEN, _inputs

# scalar -> how many trailing arguments are optional
OPTIONAL = {
    **{
        f"datasketch_{f}_{s}": 1
        for f in ("quantiles", "kll", "req", "kll_items")
        for s in ("rank", "quantile", "cdf", "pmf")
    },
    **{
        f"datasketch_{f}_describe": 2
        for f in ("quantiles", "kll", "req", "kll_items", "hll", "cpc")
    },
    "datasketch_tdigest_describe": 1,
    **{f"datasketch_{f}_{s}_bound": 1 for f in ("aod", "fdt") for s in ("lower", "upper")},
    "datasketch_fdt_top_groups": 1,
}


def _split(args: str) -> list:
    """Top-level comma split of a SQL argument list."""
    out, depth, cur = [], 0, ""
    for ch in args:
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
            continue
        depth += (ch == "(") - (ch == ")")
        cur += ch
    return out + [cur.strip()]


@pytest.fixture(scope="module")
def sketches(spark):
    with open(GOLDEN) as f:
        _inputs(spark, json.load(f)["inputs"])
    return spark


def _select(spark, exprs: dict) -> dict:
    """``{key: [row 0, row 1]}`` of each expression over the stored
    sketches; a failing expression is reported by key."""
    items = list(exprs.items())
    failures, out = [], {}
    for lo in range(0, len(items), 40):
        chunk = items[lo : lo + 40]
        sel = ", ".join(f"{e} AS c{i}" for i, (_, e) in enumerate(chunk))
        try:
            rows = spark.sql(f"SELECT {sel} FROM golden_sketches ORDER BY rid").collect()
        except Exception:  # noqa: BLE001 -- re-run one by one to name it
            rows = None
        for i, (key, e) in enumerate(chunk):
            if rows is not None:
                out[key] = [r[f"c{i}"] for r in rows]
                continue
            try:
                out[key] = [r.c for r in spark.sql(
                    f"SELECT {e} AS c FROM golden_sketches ORDER BY rid").collect()]
            except Exception as exc:  # noqa: BLE001
                failures.append((key, e, str(exc).splitlines()[0][:160]))
    assert not failures, failures
    return out


def test_null_argument_gives_null_or_default(sketches):
    spark = sketches
    calls = {}
    for name in sorted(dss.build_scalar_registry()):
        args = _split(_args_for(name))
        plain = [i for i, a in enumerate(args) if "sk_" not in a]
        if plain:
            calls[name] = (args, plain)
    assert len(calls) >= 50, len(calls)
    assert set(OPTIONAL) <= set(calls)
    literals = sorted({args[i] for args, plain in calls.values() for i in plain})
    row = spark.sql(
        "SELECT " + ", ".join(f"typeof({a}) AS t{i}" for i, a in enumerate(literals))
    ).first()
    sql_type = {a: row[f"t{i}"] for i, a in enumerate(literals)}

    exprs, expect = {}, {}
    for name, (args, plain) in calls.items():
        first_opt = len(args) - OPTIONAL.get(name, 0)
        for i in plain:
            nulled = list(args)
            nulled[i] = f"CAST(NULL AS {sql_type[args[i]]})"
            exprs[(name, i, "null")] = f"{name}({', '.join(nulled)})"
            if i < first_opt:
                expect[(name, i, "null")] = None
            else:
                # this and every later optional argument NULL: the call
                # that omits them
                nulled[i:] = [f"CAST(NULL AS {sql_type[a]})" for a in args[i:]]
                exprs[(name, i, "null")] = f"{name}({', '.join(nulled)})"
                exprs[(name, i, "omitted")] = f"{name}({', '.join(args[:i])})"
                expect[(name, i, "null")] = (name, i, "omitted")
    got = _select(spark, exprs)
    bad = []
    for key, want in expect.items():
        want = [None, None] if want is None else got[want]
        if got[key] != want:
            bad.append((exprs[key], got[key], want))
    assert not bad, bad


def test_one_argument_too_many_raises(spark):
    """Every scalar rejects one argument more than its longest form."""
    reg = dss.build_scalar_registry()
    blob = pa.array([None], pa.binary())
    for name in sorted(reg):
        n = len(_split(_args_for(name)))
        with pytest.raises(TypeError):
            reg[name].func(*[blob] * (n + 1))
        assert reg[name].func(*[blob] * n).to_pylist() == [None], name


def test_arity_errors_through_sql(sketches):
    spark = sketches
    with pytest.raises(Exception, match="too many arguments"):
        spark.sql(
            "SELECT datasketch_kll_quantile(sk_kll, 0.5, true, true) FROM golden_sketches"
        ).collect()
    with pytest.raises(Exception, match="missing required argument 2"):
        spark.sql("SELECT datasketch_kll_quantile(sk_kll) FROM golden_sketches").collect()


@pytest.fixture(scope="module")
def thousand(spark):
    """One theta, KLL and aod sketch of 1000 values, crossed with 1000
    argument rows: ``sd`` a NULL-bearing INT, ``q`` a NULL-bearing
    DOUBLE, ``nan`` NaN."""
    spark.sql(
        "SELECT datasketch_theta(id) AS th, datasketch_kll(200, CAST(id AS DOUBLE)) AS kl, "
        "datasketch_aod(12, id, array(CAST(id AS DOUBLE))) AS ad FROM range(1000)"
    ).cache().createOrReplaceTempView("nulls_sk")
    spark.sql(
        "SELECT id, CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(1 + id % 3 AS INT) END AS sd, "
        "CASE WHEN id % 5 = 0 THEN NULL ELSE 0.5D END AS q, "
        "CAST('NaN' AS DOUBLE) AS nan FROM range(1000)"
    ).createOrReplaceTempView("nulls_args")
    return spark


def test_theta_bound_with_null_int_std_devs(thousand):
    rows = thousand.sql(
        "SELECT a.sd, datasketch_theta_lower_bound(th, sd) AS lb, "
        "datasketch_theta_upper_bound(th, sd) AS ub "
        "FROM nulls_args a CROSS JOIN nulls_sk"
    ).collect()
    assert len(rows) == 1000
    assert {(r.lb, r.ub) for r in rows if r.sd is None} == {(None, None)}
    assert {(r.lb, r.ub) for r in rows if r.sd is not None} == {(1000.0, 1000.0)}
    # an all-NULL argument column
    got = thousand.sql(
        "SELECT count(datasketch_theta_lower_bound(th, CAST(NULL AS INT))) AS n "
        "FROM nulls_args CROSS JOIN nulls_sk"
    ).first().n
    assert got == 0


def test_aod_null_optional_std_devs_takes_default(thousand):
    r = thousand.sql(
        "SELECT datasketch_aod_lower_bound(ad, CAST(NULL AS INT)) AS n, "
        "datasketch_aod_lower_bound(ad) AS omitted, "
        "datasketch_aod_lower_bound(ad, 2) AS two FROM nulls_sk"
    ).first()
    assert r.n == r.omitted == r.two == 1000.0


def test_kll_quantile_with_null_double_rank(thousand):
    rows = thousand.sql(
        "SELECT a.q, datasketch_kll_quantile(kl, q) AS v, "
        "datasketch_kll_quantile(kl, 0.5D) AS half FROM nulls_args a CROSS JOIN nulls_sk"
    ).collect()
    assert {r.v for r in rows if r.q is None} == {None}
    assert {(r.v, r.half) for r in rows if r.q is not None} == {(rows[0].half,) * 2}


def test_nan_double_argument_counts_as_null(thousand):
    """The one NaN rule: a NaN DOUBLE argument is read as NULL (the
    threshold tests always did; rank, quantile and the cdf have no
    answer at NaN either)."""
    r = thousand.sql(
        "SELECT datasketch_kll_quantile(kl, nan) AS q, datasketch_kll_rank(kl, nan) AS rk, "
        "datasketch_theta_similarity_test(th, th, nan) AS sim, "
        "datasketch_theta_dissimilarity_test(th, th, nan) AS dis, "
        "datasketch_theta_lower_bound(th, nan) AS lb "
        "FROM nulls_args a CROSS JOIN nulls_sk WHERE a.id = 1"
    ).first()
    assert r.asDict() == {"q": None, "rk": None, "sim": None, "dis": None, "lb": None}
