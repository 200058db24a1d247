"""The two-phase blob-only scale plan from a pure ``spark.sql()`` entry.

The SQL aggregates (``datasketch_theta(x)`` etc.) shuffle RAW ROWS to
the reducer — Spark runs grouped-agg Python UDFs without partial
aggregation (documented trade-off in functions/aggregates.py).
DataFrame users get the scale plan through
:func:`datasketches_spark.aggregation.sketch_agg`; this module gives
SQL-only users the same plan shape without leaving SQL:

    SELECT g, datasketch_theta(sketch) AS sketch
    FROM datasketch_partials(TABLE(SELECT g, x FROM t), 'theta', 14)
    GROUP BY g

``datasketch_partials`` is a Python UDTF over an UNPARTITIONED table
argument: Spark evaluates it once per EXISTING input partition with no
exchange (verified empirically and plan-tested in
tests/test_sql_scale.py), so phase 1 emits one bounded sketch blob per
(input partition × group) — the map-side combine.  The outer GROUP BY
then shuffles ONLY those blobs, and the family's aggregate merges them
(every ``datasketch_<family>`` UDAF merges when fed blobs).  That is
exactly ``sketch_agg``'s plan: scan → per-partition partials →
blob-only exchange → merge.

Contract of the table argument: every column EXCEPT THE LAST is a
group key; the LAST column is the value being sketched.  Family
``'reservoir_weighted'`` takes the last TWO columns as (value,
weight) — the weighted sample on the same blob-only plan (mirrors
``sketch_agg(weight_col=)``).  Do NOT write ``PARTITION BY`` in the
call — that would re-introduce the raw-row shuffle this exists to
avoid (a single-partition spec likewise serializes the scan).

Map-phase memory is BOUNDED: eval() flushes each group's value buffer
into its (mergeable) sketch every ``FLUSH_ROWS`` values, so peak state
per task is O(groups-in-partition × (FLUSH_ROWS + sketch size)) — the
same bounded-state contract the reference's Combine machinery has
(reference codegen/generated.cpp.j2:305-341), never the whole decoded
partition as boxed Python objects.

Scale note vs sketch_agg: the plan (and therefore the shuffle volume,
the thing that breaks at 100 TB) is identical, but UDTF evaluation is
row-at-a-time into a buffer while mapInPandas is Arrow-batched — the
map phase runs slower by a constant factor.  SQL-only entry points are
the use case; from Python always prefer ``sketch_agg``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.udtf import AnalyzeResult

# Values buffered per group before they are folded into the group's
# sketch.  64k doubles ≈ 512 KB raw (a few MB as a Python list) —
# large enough to amortize the pandas/update call, small enough that a
# fat partition cannot blow out executor memory.
FLUSH_ROWS = 65536


@dataclass
class _Declared(AnalyzeResult):
    """The analyze result, plus what the value column's declared type
    says: ``kind`` for :func:`~datasketches_spark.families.prepare`,
    the ``dtype`` of the Series its values fold as (FLOAT values stay
    float32, as in the SQL aggregate) and whether the column carries
    sketch blobs (BINARY)."""

    kind: "str | None" = None
    dtype: "str | None" = None
    blobs: bool = False


class DatasketchPartials:
    """Map-side combine: eval() accumulates values per group key and
    folds them into a per-group sketch every FLUSH_ROWS values;
    terminate() flushes the remainder and emits one blob per group.

    ``max_buffered`` records the high-water mark of values held across
    all group buffers — tests assert it never exceeds
    FLUSH_ROWS × live groups (bounded-memory contract).
    """

    def __init__(self, analyze_result: "_Declared | None" = None):
        self._buffers: dict[tuple, list] = {}
        self._sketches: dict[tuple, object] = {}
        self._family: str | None = None
        self._k = None
        self._kind = getattr(analyze_result, "kind", None)
        self._dtype = getattr(analyze_result, "dtype", None)
        self._blobs = getattr(analyze_result, "blobs", False)
        self._buffered = 0
        self.max_buffered = 0

    @staticmethod
    def analyze(table, family, k=None):
        from pyspark.sql.types import BinaryType, DoubleType, FloatType, StructType

        from ..families import spark_value_kind

        if not isinstance(table.dataType, StructType):
            raise ValueError("first argument must be TABLE(...)")
        fam = family.value
        if fam is None:
            raise ValueError(
                "family must be a constant string, e.g. 'theta'"
            )
        n_val = 2 if fam in ("reservoir_weighted", "aod") else 1
        fields = table.dataType.fields
        if len(fields) < n_val:
            raise ValueError("TABLE argument needs a value column" + {
                "reservoir_weighted": " and a weight column",
                "aod": " (key) and a summary array column",
            }.get(fam, ""))
        out = StructType()
        for f in fields[:-n_val]:
            out = out.add(f.name, f.dataType)
        out = out.add("sketch", BinaryType())
        value_type = fields[-n_val].dataType
        return _Declared(
            schema=out,
            kind=spark_value_kind(value_type),
            dtype={FloatType: "float32", DoubleType: "float64"}.get(type(value_type)),
            # a weighted or aod call builds whatever the value type
            blobs=n_val == 1 and isinstance(value_type, BinaryType),
        )

    def _flush(self, key) -> None:
        vals = self._buffers[key]
        if not vals and key in self._sketches:
            return
        import pandas as pd

        from ..families import aod_summaries, fold

        fam, weights, sk = self._family, None, self._sketches.get(key)
        if fam in ("reservoir_weighted", "aod"):
            vals, extra = zip(*vals) if vals else ((), ())
            if fam == "aod":
                weights = aod_summaries(
                    extra, None if sk is None else sk.num_values,
                    "datasketch_partials('aod')",
                )
                if sk is not None and weights.shape[1] > sk.num_values:
                    # an earlier flush saw only NULL arrays (zero
                    # summaries) — widen it now that the width is known
                    sk._widen_to(weights.shape[1])
            else:
                fam, weights = "reservoir", pd.Series(extra, dtype="float64")
        self._sketches[key] = fold(
            sk, fam, self._k, pd.Series(list(vals), dtype=self._dtype), self._kind,
            self._blobs, weights,
        )
        self._buffered -= len(self._buffers[key])
        self._buffers[key] = []

    def eval(self, row, family: str, k=None):
        if self._family is None:
            self._family = family
            self._k = k
        vals = list(row)
        if family in ("reservoir_weighted", "aod"):
            key, v = tuple(vals[:-2]), (vals[-2], vals[-1])
        else:
            key, v = tuple(vals[:-1]), vals[-1]
        # a group is registered before its NULLs are skipped, so an
        # all-NULL group still emits its (empty) sketch, as the SQL
        # aggregate returns the group
        buf = self._buffers.setdefault(key, [])
        if family == "reservoir_weighted" and (v[0] is None or v[1] is None):
            return  # NULL value or weight: skipped like the UDAF
        if family == "aod" and v[0] is None:
            return  # NULL tuple key skips the row (UDAF parity); a NULL
            # summary array still counts the key (zeros)
        if v is None and family != "stats":
            return  # stats counts NULLs into n, as on every other route
        buf.append(v)
        self._buffered += 1
        if self._buffered > self.max_buffered:
            self.max_buffered = self._buffered
        if len(buf) >= FLUSH_ROWS:
            self._flush(key)

    def terminate(self):
        if self._family is None:
            return
        for key in self._buffers:
            self._flush(key)
            yield (*key, self._sketches[key].serialize())


def _make_partials_udtf():
    # wrapped lazily inside register_sql_scale: pyspark parses UDTF
    # return schemas against the active session, same as the scalar
    # registry
    from pyspark.sql.functions import udtf

    return udtf(DatasketchPartials)


def register_sql_scale(spark: SparkSession) -> list[str]:
    """Register the SQL-surface scale-path helpers (idempotent)."""
    spark.udtf.register("datasketch_partials", _make_partials_udtf())
    return ["datasketch_partials"]
