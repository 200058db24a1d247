"""datasketches_spark: a PySpark-native probabilistic analytics engine.

Re-expresses the full query surface of the DuckDB DataSketches
extension (Query-farm/datasketches, studied read-only at
/root/reference) as idiomatic PySpark: sketch state is a BinaryType
column, aggregates are map-side-combining two-phase jobs or grouped-agg
Arrow UDFs, scalar queries are Arrow UDFs from one factory, and everything
is registered into Spark SQL by :func:`register` -- the analog of the
extension loader (src/datasketches_extension.cpp:30-46 of the reference,
minus the telemetry, which we deliberately do not replicate).

Beyond reference parity, :mod:`datasketches_spark.pipeline` adds the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import approx, plans, profile
from .aggregation import sketch_agg, sketch_agg_multi, sketch_merge, sketch_partial
from .functions import hll_native, native
from .functions.aggregates import build_aggregate_registry
from .functions.scalars import build_scalar_registry
from .runtime_filter import bloom_filter_of, bloom_prune, bloom_prune_with

__version__ = "0.1.0"


def register(spark: SparkSession) -> list[str]:
    """Register every sketch function into the session's SQL catalog.

    Mirrors the reference extension's load-time registration loop
    (src/datasketches_extension.cpp:30-41).  Idempotent.  UDF objects
    are built lazily because Spark parses their return-type DDL against
    the active session.
    """
    names = []
    for name, udf in {**build_aggregate_registry(), **build_scalar_registry()}.items():
        spark.udf.register(name, udf)
        names.append(name)
    from .functions.sql_scale import register_sql_scale

    names.extend(register_sql_scale(spark))
    return names


__all__ = [
    "register",
    "approx",
    "plans",
    "profile",
    "sketch_agg",
    "sketch_agg_multi",
    "sketch_partial",
    "sketch_merge",
    "hll_native",
    "native",
    "bloom_filter_of",
    "bloom_prune",
    "bloom_prune_with",
    "build_aggregate_registry",
    "build_scalar_registry",
    "__version__",
]
