"""Classic-vs-Spark-Connect portability shims.

A classic py4j-backed session exposes the JVM (``df._jdf``,
``spark._jvm``, ``sparkContext``); a Spark Connect session does not —
those attributes raise.  Every JVM touchpoint in this package routes
through one of these helpers, each with a documented pure-Python
fallback or a fail-fast error naming the classic-only constraint, so
the library degrades gracefully under Connect instead of dying on an
AttributeError three frames deep.

What works WITHOUT the JVM bridge (the whole hot path): ``register()``
(spark.udf.register), the two-phase scale path (mapInPandas /
applyInPandas), every SQL/Column function, io wire tables, streaming
foreachBatch.  What the helpers shim: planner size statistics (used
only as OPTIMIZATION gates — fallbacks pick the safe branch), task
broadcasts (fall back to closure capture), filesystem probes, and the
JVM-native bloom build and probe (Bloom pruning takes the Apache
filter and an Arrow UDF probe under Connect).
"""

from __future__ import annotations

import contextlib
import io
import os
import re

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def has_jvm(obj: "SparkSession | DataFrame") -> bool:
    """True on a classic py4j session/DataFrame, False under Connect."""
    attr = "_jdf" if isinstance(obj, DataFrame) else "_jvm"
    try:
        return getattr(obj, attr, None) is not None
    except Exception:  # Connect raises PySparkAttributeError on access
        return False


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (no job), or None when
    the planner statistics are unreachable (Spark Connect).  Callers
    use this ONLY to pick between equivalent plans (broadcast
    fast-paths, fan-out/prune gates) — on None they take the branch
    that is safe at any scale, never the one that needs the number."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


_SIZE_RE = re.compile(r"^(-?\d+)\s*([a-z]*)$")
_SIZE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def parse_size_bytes(value: "str | int") -> int:
    """Spark size-conf string -> bytes ('10MB', '8m', '10485760b',
    '-1', plain ints) — the JavaUtils.byteStringAsBytes grammar."""
    if isinstance(value, int):
        return value
    m = _SIZE_RE.match(value.strip().lower())
    if not m or m.group(2) not in _SIZE_UNITS:
        raise ValueError(f"unparseable Spark size conf: {value!r}")
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)]


def conf_size_bytes(spark: SparkSession, key: str, default: int) -> int:
    """A size-valued session conf in bytes, via the public conf API
    (works on classic AND Connect — no sessionState reflection).
    ``default`` covers only an ABSENT/unreadable conf; a present but
    unparseable value raises (silently substituting the default would
    run broadcast/fan-out gates against a wrong threshold)."""
    try:
        raw = spark.conf.get(key)
    except Exception:
        return default
    return parse_size_bytes(raw)


def auto_broadcast_threshold(spark: SparkSession) -> int:
    return conf_size_bytes(spark, "spark.sql.autoBroadcastJoinThreshold", 10 << 20)


def files_max_partition_bytes(spark: SparkSession) -> int:
    return conf_size_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)


def default_parallelism(spark: SparkSession) -> int:
    """sparkContext.defaultParallelism, falling back to the shuffle
    partition count under Connect — the same 'how wide should a
    round-robin spread be' answer both ways."""
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        try:
            return int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return 200


def scan_partitions(df: DataFrame) -> int | None:
    """Planned input-partition count via the RDD API, or None under
    Connect (no RDD surface).  Remember partitions can be HOLLOW
    (CLAUDE.md r9) — use only for bounding collect sizes, never for
    parallelism decisions."""
    try:
        return int(df.rdd.getNumPartitions())
    except Exception:
        return None


class _ClosureBroadcast:
    """Duck-typed stand-in for a SparkContext broadcast: the value
    rides inside the UDF's pickled closure instead of the torrent
    broadcast.  Shipped once per TASK LAUNCH rather than once per
    executor — fine for KB-scale blobs (bloom/theta partials), but a
    real cost for fat payloads (a default-lg_w CMS language model is
    tens of MB): :func:`broadcast_value` warns past
    ``_CLOSURE_BCAST_WARN_BYTES``.  The only option under Connect."""

    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value


_CLOSURE_BCAST_WARN_BYTES = 4 << 20


def broadcast_value(spark: SparkSession, value):
    """sc.broadcast when the JVM bridge exists, closure capture
    otherwise.  Returns an object with a ``.value`` attribute either
    way, so probe UDFs are written once.

    On the closure fallback (Connect), payloads over
    ``_CLOSURE_BCAST_WARN_BYTES`` draw a RuntimeWarning: the value is
    re-shipped with every task launch, so e.g. lm.py's CMS models
    should be sized down (lower ``lg_w``) or run on a classic JVM
    session."""
    try:
        return spark.sparkContext.broadcast(value)
    except Exception:
        try:
            size = len(value)
        except Exception:
            size = 0
        if size > _CLOSURE_BCAST_WARN_BYTES:
            import warnings  # noqa: PLC0415

            warnings.warn(
                f"no JVM broadcast available; a {size / (1 << 20):.1f} MiB "
                "value is closure-captured and will ship with EVERY task "
                "launch. Shrink the payload (e.g. lower lg_w on CMS "
                "models) or use a classic (non-Connect) session.",
                RuntimeWarning,
                stacklevel=2,
            )
        return _ClosureBroadcast(value)


def bloom_might_contain(key: Column, blob: bytes) -> Column:
    """Catalyst's ``might_contain(blob, CAST(key AS BIGINT))`` over
    serialized Spark BloomFilter bytes: a codegen'd expression, NULL
    for a NULL key.  It is not in the SQL function registry, so it is
    built through the py4j bridge (classic sessions only)."""
    jvm = SparkContext._active_spark_context._jvm
    utils = jvm.org.apache.spark.sql.classic.ExpressionUtils
    expr = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        utils.expression(F.lit(bytearray(blob))._jc),
        utils.expression(key.cast("long")._jc),
    )
    return Column(utils.column(expr))


def physical_plan_string(df: DataFrame) -> str:
    """The executed-plan text. Classic reads it off the query
    execution; Connect captures ``df.explain(extended=True)`` (which
    includes the physical plan section the lint patterns match)."""
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(extended=True)
        return buf.getvalue()


def formatted_plan_string(df: DataFrame) -> str:
    """``EXPLAIN FORMATTED`` text.  Classic asks PythonSQLUtils for the
    string directly; under Spark Connect (no py4j bridge) the fallback
    captures ``df.explain("formatted")`` stdout — same content."""
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def fs_path_exists(spark: SparkSession, path: str) -> bool:
    """Does ``path`` exist, for any Hadoop-supported scheme?

    Classic probes the Hadoop FileSystem directly (no spurious JVM
    FileNotFoundException logging — see streaming.SketchStore).  Under
    Connect: local/file: paths check the OS; remote schemes fall back
    to a spark.read schema probe.  The probe maps ONLY
    missing-path errors to False — a transient credential/network
    failure must RAISE, never read as 'absent' (SketchStore.absorb
    would otherwise overwrite accumulated state on a wrong False)."""
    if has_jvm(spark):
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))
    scheme, sep, rest = path.partition("://")
    if not sep:
        return os.path.exists(path)
    if scheme == "file":
        return os.path.exists(rest)
    try:
        spark.read.format("parquet").load(path).schema
        return True
    except Exception as e:  # noqa: BLE001 — classified below
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return False
        if "UNABLE_TO_INFER_SCHEMA" in msg:  # exists, just empty/unreadable
            return True
        raise
