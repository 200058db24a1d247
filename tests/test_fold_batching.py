"""Property: how Spark batches a partition never changes a blob.

The phase-1 fold gathers a partition's Arrow batches into chunks before
it groups them, so a partition sent as 1-row batches, as 7-row batches
or as one batch must fold to the same bytes, with groups interleaved,
one batch whose BIGINT column holds a NULL (pandas renders that batch
float64) and empty batches in between.  Every group's blob must equal
the one-shot reference: ``create_sketch`` + ``update_sketch`` over that
group's rows in input order.

The fold's per-partition function runs here in-process, without a
Spark session: :class:`_Capture` stands in for the DataFrame and hands
back the function ``mapInPandas`` would have planned."""

from functools import cache

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datasketches_spark.aggregation import _sketch_partials, sketch_partial
from datasketches_spark.families import (
    build_params,
    coerce_value_batch,
    create_sketch,
    update_sketch,
)

SCHEMA = StructType([
    StructField("g", IntegerType()),
    StructField("v", LongType()),
    StructField("x", DoubleType()),
    StructField("s", StringType()),
])
DTYPES = {"g": "int32", "v": "int64", "x": "float64", "s": object}

# the eight reference families at sizes small enough that 600 rows in
# four groups reach estimation / dense / compaction / purge
SPECS = [
    ("v", "theta", 5), ("s", "hll", 5), ("v", "cpc", 5), ("x", "kll", 8),
    ("v", "quantiles", 8), ("x", "req", 6), ("x", "tdigest", 20),
    ("s", "frequent_items", 3),
]


class _Capture:
    """The DataFrame surface the fold touches; ``mapInPandas`` returns
    the per-partition function instead of planning it."""

    schema = SCHEMA

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        return fn


def _rows():
    rng = np.random.default_rng(7)
    rows = []
    for i in range(600):
        g = None if i % 13 == 4 else int(rng.integers(0, 3))  # interleaved
        v = None if i == 250 else int(rng.integers(0, 400)) * 7919
        x = None if i % 17 == 3 else float(rng.lognormal())
        rows.append((g, v, x, f"item{int(rng.zipf(1.5)) % 50}"))
    return rows


ROWS = _rows()


def _frame(rows) -> pd.DataFrame:
    """One Arrow batch as pandas renders it: an integral column holding
    a NULL is float64, NULL doubles are NaN."""
    cols = {}
    for j, name in enumerate(DTYPES):
        vals = [r[j] for r in rows]
        if name in ("g", "v") and None in vals:
            cols[name] = pd.Series(vals, dtype="float64")
        else:
            cols[name] = pd.Series(vals, dtype=DTYPES[name])
    return pd.DataFrame(cols)


@cache
def _batches(size: int) -> list[pd.DataFrame]:
    empty = _frame([])
    out = [empty]
    for i in range(0, len(ROWS), size):
        out.append(_frame(ROWS[i : i + size]))
        if i % (3 * size) == 0:
            out.append(empty)
    return out


def _key(g):
    return None if g is None or g != g else int(g)


@cache
def _reference(col, family, k, g) -> bytes:
    series = _frame([r for r in ROWS if _key(r[0]) == g])[col]
    series = coerce_value_batch(series, "int64" if col == "v" else None)
    sk = create_sketch(family, build_params(family, k, series))
    update_sketch(family, sk, series)
    return sk.serialize()


def _fold(fn, size):
    (out,) = list(fn(iter(_batches(size))))
    return {_key(row[0]): list(row[1:]) for row in out.itertuples(index=False)}


@pytest.mark.parametrize("spec", SPECS + [None], ids=[s[1] for s in SPECS] + ["multi"])
def test_batching_never_changes_a_blob(spec):
    # None: every family in one sketch_agg_multi spec list
    specs = SPECS if spec is None else [spec]
    groups = {_key(r[0]) for r in ROWS}
    for size in (1, 7, len(ROWS)):
        if spec is None:
            multi = [(c, f, k, f"o{i}") for i, (c, f, k) in enumerate(SPECS)]
            fn = _sketch_partials(_Capture(), multi, ["g"])
        else:
            fn = sketch_partial(_Capture(), spec[0], spec[1], ["g"], spec[2])
        got = _fold(fn, size)
        assert set(got) == groups, size
        for g in groups:
            for i, (col, family, k) in enumerate(specs):
                assert bytes(got[g][i]) == _reference(col, family, k, g), (size, g, family)
