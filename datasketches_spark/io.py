"""Sketch-table IO: persist and reload sketch columns with provenance.

The reference stores sketches in typed columns (``sketch_hll``,
``sketch_kll_double`` -- SURVEY.md §1.2), so a reader knows how to
interpret the bytes.  Spark has no catalog type aliases; instead we
attach the family/K/value-dtype to the *column metadata*, which Spark
persists through parquet, and validate blobs against it on load.
"""

from __future__ import annotations

import json
import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sketches import peek_family

_FAMILY_BYTES = {
    "theta": 1, "kll": 2, "quantiles": 3, "req": 4,
    "tdigest": 5, "hll": 6, "cpc": 7, "frequent_items": 8,
    "bloom": 9, "reservoir": 10, "cms": 11,
    # "varopt" is a WIRE DIALECT of the reservoir family (weighted
    # samples publish as Apache VarOptItemsSketch blobs) — the engine
    # frames are reservoir frames
    "varopt": 10,
    "ebpps": 13,
    "aod": 14,
    "fdt": 15,
    "kll_items": 16,
    # Apache BloomFilter blobs ARE the wire format (no DSKS frame);
    # None = wire-native, validated by sniffing the Apache preamble
    "bloomfilter": None,
}
_META_KEY = "datasketches_spark"


def with_sketch_metadata(
    df: DataFrame, sketch_col: str, family: str, k: int | None = None
) -> DataFrame:
    """Tag a binary column as `sketch_<family>` (the typed-alias analog)."""
    if family not in _FAMILY_BYTES:
        raise ValueError(f"unknown sketch family: {family}")
    meta = {_META_KEY: {"family": family, "k": k, "format_version": 1}}
    return df.withMetadata(sketch_col, meta)


def sketch_column_info(df: DataFrame, sketch_col: str) -> dict | None:
    """Read back the sketch metadata tag, if present."""
    for field in df.schema.fields:
        if field.name == sketch_col:
            md = field.metadata or {}
            return md.get(_META_KEY)
    return None


def write_sketch_table(
    df: DataFrame, path: str, sketch_col: str, family: str, k: int | None = None,
    mode: str = "overwrite", partition_by: list[str] | None = None,
) -> None:
    """Persist a sketch table; ``partition_by`` lays the blobs out by
    group key so later reads of one group's sketches prune to a single
    directory (partition pruning is the dominant saving when a 100 TB
    pipeline stores per-(day, source) sketches and dashboards query
    one slice)."""
    w = with_sketch_metadata(df, sketch_col, family, k).write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# What a file listing of a sketch table already proved, per session and
# per (path, sketch_col): ``(input files, inferred schema, family check
# passed)``.  Spark infers the schema from those same files and takes
# the check's sample row from them, and Spark writers always create new
# file names, so an unchanged listing means an unchanged answer.
_READ_MEMO_TABLES = 64
_read_memo: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_read_memo_lock = threading.Lock()


def _validate(df: DataFrame, path: str, sketch_col: str) -> None:
    """Raise unless one non-null blob matches the column's family tag."""
    info = sketch_column_info(df, sketch_col)
    if info is None:
        return
    expected = _FAMILY_BYTES[info["family"]]
    sample = df.select(sketch_col).filter(F.col(sketch_col).isNotNull()).first()
    if sample is None:
        return
    blob = bytes(sample[0])
    if expected is None:  # wire-native family: sniff the preamble
        from .sketches.bloom_apache import ApacheBloomFilter  # noqa: PLC0415

        if not ApacheBloomFilter.sniff_wire(blob):
            raise ValueError(
                f"sketch table at {path}: column '{sketch_col}' tagged "
                f"as family '{info['family']}' but blobs are not "
                "Apache BloomFilter wire"
            )
        return
    fam = peek_family(blob)
    if fam != expected:
        raise ValueError(
            f"sketch table at {path}: column '{sketch_col}' tagged as "
            f"family '{info['family']}' but blobs have family byte {fam}"
        )


def read_sketch_table(
    spark: SparkSession, path: str, sketch_col: str = "sketch", validate: bool = True
) -> DataFrame:
    """Load a sketch table; optionally validate blob family bytes against
    the column's metadata tag.

    The first read of a file listing runs Spark's schema-inference job
    and, with ``validate``, a one-row sample job.  Later reads in the
    same session whose file listing is unchanged reuse that schema and
    check result and run no job: listing the files happens on the
    driver.  Files rewritten in place under the same names by a
    non-Spark writer are not detected (the contract of ``REFRESH
    TABLE``)."""
    key = (path, sketch_col)
    with _read_memo_lock:
        memo = _read_memo.setdefault(spark, OrderedDict())
        entry = memo.get(key)
    df = None
    if entry is not None:
        files, schema, checked = entry
        df = spark.read.schema(schema).parquet(path)
        if frozenset(df.inputFiles()) != files:
            df = None
    if df is None:  # first read of this listing: infer and check afresh
        df = spark.read.parquet(path)
        files, schema, checked = frozenset(df.inputFiles()), df.schema, False
    if validate and not checked:
        _validate(df, path, sketch_col)
    with _read_memo_lock:
        memo[key] = (files, schema, checked or validate)
        memo.move_to_end(key)
        if len(memo) > _READ_MEMO_TABLES:
            memo.popitem(last=False)
    return df


def describe_sketch_table(spark: SparkSession, path: str, sketch_col: str = "sketch") -> str:
    df = read_sketch_table(spark, path, sketch_col, validate=False)
    info = sketch_column_info(df, sketch_col)
    n = df.count()
    return json.dumps({"path": path, "rows": n, "sketch_column": sketch_col, "meta": info})


def write_bucketed_sketch_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sketch_col: str = "sketch",
    family: str | None = None,
    k: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a sketch table hash-bucketed (and sorted) by its group
    key via ``bucketBy`` + ``saveAsTable``.

    Why this matters at 100 TB: a pipeline that lands per-day /
    per-source sketch tables re-merges them constantly (day+day→week,
    store+store→fleet).  Two tables bucketed the same way are
    co-partitioned on disk, so Spark joins/merges them **without any
    Exchange** — the single biggest cost in a periodic rollup job
    disappears.  Verified in tests/test_io.py by asserting the joined
    plan contains no shuffle.
    """
    if family is not None:
        df = with_sketch_metadata(df, sketch_col, family, k)
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def merge_bucketed_sketch_tables(
    spark: SparkSession,
    table_a: str,
    table_b: str,
    on: list[str],
    merge_fn: str,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Pairwise-merge two identically-bucketed sketch tables on their
    bucket key: ``merge_fn`` is a registered 2-blob SQL merge function
    (e.g. ``datasketch_theta_union``, ``datasketch_bloom_union``).
    Groups present in only one table keep that table's sketch (full
    outer join + coalesce) — day N ∪ day N+1 semantics.  With matching
    bucketing the plan is scan→sort-merge-join→project: no Exchange.
    """
    a = spark.table(table_a).withColumnRenamed(sketch_col, "__a")
    b = spark.table(table_b).withColumnRenamed(sketch_col, "__b")
    joined = a.join(b, on, "full_outer")
    merged = F.when(
        F.col("__a").isNull(), F.col("__b")
    ).when(F.col("__b").isNull(), F.col("__a")).otherwise(
        F.expr(f"{merge_fn}(__a, __b)")
    )
    return joined.select(*on, merged.alias(sketch_col))


# ----------------------------- Apache wire-format publish / ingest

_WIRE_FAMILIES = frozenset(
    ["theta", "hll", "cpc", "kll", "quantiles", "req", "tdigest",
     "frequent_items", "reservoir", "varopt", "ebpps", "aod", "fdt",
     # string-items KLL: Apache KllItemsSketch + ArrayOfStringsSerDe;
     # implicitly string-typed, so no dtype routing is needed
     "kll_items",
     # bloomfilter blobs ARE the Apache wire (self-describing); the
     # to/from_wire projections are identities, kept for uniformity
     "bloomfilter"]
)


# quantile families whose wire layout is item-typed: the Apache
# preamble carries NO item type, so the metadata must (the reference's
# typed aliases sketch_kll_bigint etc. carry it in the catalog type)
_TYPED_WIRE_FAMILIES = frozenset(["kll", "quantiles", "req"])


def _peek_dtype(df: DataFrame, sketch_col: str, family: str) -> str | None:
    """Item dtype of one non-null DSKS blob (single-row action); also
    cross-checks the blob's family byte against the declared family so
    a mis-declared publish fails here, not row-by-row downstream."""
    row = df.select(sketch_col).filter(F.col(sketch_col).isNotNull()).first()
    if row is None:
        return None
    from .sketches import FAMILY_CLASSES, peek_family  # noqa: PLC0415

    fam_byte = peek_family(bytes(row[0]))
    if fam_byte != _FAMILY_BYTES[family]:
        raise ValueError(
            f"write_wire_table(family={family!r}) but column "
            f"'{sketch_col}' blobs carry family byte {fam_byte}"
        )
    return FAMILY_CLASSES[fam_byte].deserialize(bytes(row[0])).dtype


def write_wire_table(
    df: DataFrame,
    path: str,
    sketch_col: str,
    family: str,
    k: int | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    dtype: str | None = None,
) -> None:
    """Publish a sketch table in the Apache DataSketches WIRE format —
    the serialization DuckDB (the reference), Druid, Hive and
    datasketches-{java,cpp} read natively.  One projection converts the
    engine's DSKS frames via ``datasketch_<family>_to_wire``; the
    column metadata records family/K plus ``wire: True`` so
    :func:`read_wire_table` (and humans) know the layout.  Requires
    ``datasketches_spark.register(spark)``.

    For the item-typed quantile families (KLL/Quantiles/REQ) the item
    ``dtype`` is ALSO recorded — the Apache preamble carries no item
    type, so without it an int64 table would silently re-ingest as
    doubles.  It is peeked from one blob when not passed (a single-row
    action at publish time).

    This is the cross-system hand-off: the written parquet is
    consumable by any DataSketches-speaking engine with zero knowledge
    of this package (reference docs/README.md:9 — sketch state that
    moves between systems).
    """
    if family not in _WIRE_FAMILIES:
        raise ValueError(
            f"family {family!r} has no Apache wire format "
            f"(wire-capable: {sorted(_WIRE_FAMILIES)})"
        )
    prior = sketch_column_info(df, sketch_col)
    if prior and prior.get("wire"):
        raise ValueError(
            f"column '{sketch_col}' metadata already says wire: True — "
            "these blobs are Apache wire format, not DSKS frames; "
            "re-publishing would double-convert. Write the DataFrame "
            "with df.write.parquet directly, or read_wire_table first."
        )
    if family in _TYPED_WIRE_FAMILIES and dtype is None:
        dtype = _peek_dtype(df, sketch_col, family)
    to_wire_fn = f"datasketch_{family}_to_wire"
    if family in ("varopt", "reservoir", "ebpps") and dtype == "string":
        # the sampling wires carry no serde marker: string items use
        # ArrayOfStringsSerDe framing and the dtype metadata records it
        to_wire_fn = f"datasketch_{family}_to_wire_strings"
    out = df.withColumn(
        sketch_col, F.expr(f"{to_wire_fn}({sketch_col})")
    )
    meta_body = {"family": family, "k": k, "format_version": 1, "wire": True}
    if dtype is not None:
        meta_body["dtype"] = dtype
    meta = {_META_KEY: meta_body}
    w = out.withMetadata(sketch_col, meta).write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_wire_table(
    spark: SparkSession,
    path: str,
    family: str | None = None,
    sketch_col: str = "sketch",
    dtype: str | None = None,
) -> DataFrame:
    """Ingest an Apache wire-format sketch table — written by
    :func:`write_wire_table` or by ANY other DataSketches system —
    normalizing the blobs to engine frames via the family's typed
    reader.  ``family`` (and, for the quantile families, the item
    ``dtype``) are read from the column metadata when this engine
    wrote the table; foreign tables must name the family — and the
    dtype for integer-typed quantile blobs (``dtype='int64'`` for the
    reference's ``sketch_*_bigint``, ``'int32'`` for ``_integer``),
    since the Apache preamble carries no item type.  Requires
    ``datasketches_spark.register(spark)``.
    """
    df = read_sketch_table(spark, path, sketch_col, validate=False)
    info = sketch_column_info(df, sketch_col)
    if info and not info.get("wire"):
        # A DSKS-framed table (write_sketch_table) carries the same
        # family/k metadata; accepting it here would fail row-by-row at
        # action time inside from_wire. Error early instead.
        raise ValueError(
            f"table at {path} was written by write_sketch_table "
            "(engine DSKS frames, metadata wire flag absent) — use "
            "read_sketch_table, not read_wire_table"
        )
    if family is None:
        if not info or "family" not in info:
            raise ValueError(
                "wire table carries no family metadata; pass family="
            )
        family = info["family"]
    if family not in _WIRE_FAMILIES:
        raise ValueError(f"family {family!r} has no Apache wire format")
    if dtype is None:
        dtype = (info or {}).get("dtype")
    if family in _TYPED_WIRE_FAMILIES and dtype == "int64":
        reader = f"datasketch_{family}_from_wire_bigint"
    elif family in _TYPED_WIRE_FAMILIES and dtype == "int32":
        reader = f"datasketch_{family}_from_wire_integer"
    else:
        reader = f"datasketch_{family}_from_wire"
    out = df.withColumn(sketch_col, F.expr(f"{reader}({sketch_col})"))
    # re-tag as a DSKS table (no wire flag — the blobs are engine
    # frames now), carrying the item dtype forward for re-publish
    meta_body = {
        "family": family, "k": (info or {}).get("k"), "format_version": 1,
    }
    if dtype is not None:
        meta_body["dtype"] = dtype
    return out.withMetadata(sketch_col, {_META_KEY: meta_body})


def rollup_sketch_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    family: str,
    period_expr: str,
    group_cols: list[str] | None = None,
    sketch_col: str = "sketch",
    k: int | None = None,
    period_col: str = "period",
    mode: str = "overwrite",
) -> None:
    """Periodic rollup of a persisted sketch table: day tables ->
    week/month tables without touching a single raw row — the
    maintenance job a 100 TB pipeline runs constantly, and the
    reference's core pitch (re-aggregable sketch state,
    docs/README.md:190-192) as a one-call table operation.

    Reads the DSKS table at ``src_path``, derives ``period_col`` with
    the SQL expression ``period_expr`` (e.g. ``substr(day, 1, 7)`` for
    day->month), merges blobs per (period, *group_cols) via the
    two-phase blob merge (only sketch blobs cross the one shuffle),
    and writes ``dst_path`` partitioned by the period so downstream
    readers prune to one directory per slice.  Because sketch merge is
    associative and order-independent, the rollup is exact with
    respect to the source sketches at ANY scale.
    """
    from .aggregation import sketch_merge  # noqa: PLC0415

    group_cols = list(group_cols or [])
    df = read_sketch_table(spark, src_path, sketch_col, validate=False)
    info = sketch_column_info(df, sketch_col)
    if info and info.get("wire"):
        # Apache wire blobs are not DSKS frames; merging them here would
        # fail at action time deep inside blob deserialization. Same
        # early guard read_wire_table gives for the symmetric mistake.
        raise ValueError(
            f"table at {src_path} is Apache wire format (metadata "
            "wire: True) — read_wire_table it into DSKS frames first, "
            "then write_sketch_table, then rollup"
        )
    if info and info.get("family") and info["family"] != family:
        raise ValueError(
            f"table at {src_path} is tagged family '{info['family']}', "
            f"not '{family}'"
        )
    if k is None and info:
        k = info.get("k")
    df = df.withColumn(period_col, F.expr(period_expr))
    merged = sketch_merge(
        df, family, group_cols=[period_col, *group_cols], k=k,
        sketch_col=sketch_col,
    )
    write_sketch_table(
        merged, dst_path, sketch_col, family, k=k, mode=mode,
        partition_by=[period_col],
    )
