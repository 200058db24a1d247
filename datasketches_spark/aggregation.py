"""Two-phase distributed sketch aggregation -- the 100 TB scale path.

The reference's aggregate state machine (Initialize / Operation /
Combine / Finalize, codegen/generated.cpp.j2:230-357) crosses *thread*
boundaries inside one DuckDB process.  On Spark the equivalent boundary
crosses executors and nodes, so we re-express it as the canonical
map-side-combine pattern (SURVEY.md §3):

  phase 1 (map, no shuffle):   ``mapInPandas`` folds every Arrow batch
      of a partition into one partition-local sketch per group key --
      this is the reference's ``Operation`` loop;
  shuffle boundary:            only (group key, serialized sketch blob)
      rows move -- bounded-size state, exactly the reference's
      ``Combine`` hand-off but across nodes;
  phase 2 (reduce):            the same fold kernel, run once per
      shuffle partition over the blob rows hash partitioned by group
      key, merges each group's blobs -- ``Combine`` + ``Finalize``.

At 100 TB this shuffles kilobytes per (group x input-partition) instead
of the raw rows, and the map phase is embarrassingly parallel.  The
alternative single-phase grouped-agg Arrow UDFs (functions/aggregates)
are provided for SQL ergonomics but shuffle raw rows; use this module
for large inputs.

Every phase-1 builder is one (init, prepare, update, emit) quadruple
over the shared fold kernel :func:`_fold_partitions`.  ``prepare``
runs once per chunk and returns each input's ``(values, keep)``
(coerced, NULL-free and, for theta/HLL/CPC, already hashed --
:func:`~datasketches_spark.families.prepare`); ``update`` folds one
group's slices of those values:

  ``sketch_partial`` / ``sketch_agg_multi``: one empty slot per spec /
      ``families.prepare`` per spec (a BINARY input column is blobs;
      weighted: values and weights together) / create each spec's
      sketch on first sight, then ``update_prepared`` / one blob per
      spec.
  ``tuple_sketch_partial``: ``AodSketch(lg_k, n_values)`` / key hashes
      and summary rows prepared together / ``update_hashes`` / the
      blob.
  ``runtime_filter.bloomfilter_blob``: ``ApacheBloomFilter(num_bits,
      num_hashes, seed)`` / the coerced column / ``update_series`` /
      the wire bytes.

Every blob merge (phase 2) is :func:`_merge_specs`, one more
quadruple over the same kernel: one empty slot per spec / the
non-NULL blobs per spec / create each spec's sketch on first sight,
then merge the group's blobs / the merged blobs, or the fused
``finalize`` values.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    StructField,
    StructType,
)

from .families import (
    build_params,
    create_sketch,
    spark_value_kind,
    update_prepared,
)
from .families import prepare as families_prepare

# accumulate Arrow batches into larger chunks before grouping so the
# per-chunk grouping and prepare cost is amortized (an Arrow batch is
# spark.sql.execution.arrow.maxRecordsPerBatch rows, 10k by default;
# a chunk is up to 512k) -- bounded memory per task
_CHUNK_ROWS = 1 << 19


def _blob_schema(
    df: DataFrame, group_cols: list[str], blob_cols: list[str]
) -> StructType:
    return StructType(
        [df.schema[c] for c in group_cols]
        + [StructField(c, BinaryType(), True) for c in blob_cols]
    )


def _hashable(v):
    """A hashable view of an array (ndarray/list) or struct (dict) key
    cell: tuples all the way down, NULL and NaN elements both as
    ``None`` -- ``nan != nan``, so a NaN element would make every row
    its own group.  Spark's groupBy keeps a NaN element apart from a
    NULL one, but the pandas Arrow path cannot: a NULL element of an
    array<double> arrives as NaN, and a NaN element leaves as NULL
    (``pa.Array.from_pandas``), so the two are one key here."""
    if isinstance(v, (np.ndarray, list)):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _hashable(x)) for k, x in v.items())
    return None if v is None or v != v else v


def _canonical(key: tuple) -> tuple:
    """NULL key parts (None, NaN, NaT) become ``None``: ``nan != nan``,
    so a NaN dict key would split one NULL group across flushes."""
    return tuple(None if x is None or x != x else x for x in key)


def _slice(values, lo: int, hi: int):
    if isinstance(values, tuple):
        return tuple(_slice(v, lo, hi) for v in values)
    if isinstance(values, pd.Series):
        return values.iloc[lo:hi]
    return values[lo:hi]


def _fold_partitions(
    df: DataFrame,
    group_cols: list[str],
    cols: list[str],
    schema: StructType,
    init: Callable[[], object],
    prepare: Callable[[pd.DataFrame], list],
    update: Callable[[object, list], None],
    emit: Callable[[object], list],
    merge: bool = False,
) -> DataFrame:
    """The one fold: per partition, one state per group key.

    ``df`` is narrowed to ``group_cols + cols`` and read in chunks of
    up to ``_CHUNK_ROWS`` rows.  Per chunk the group codes are computed
    once (NULL keys form one group), one stable argsort (a radix sort
    over codes narrowed to uint8 / uint16) reorders the chunk so each
    group's rows are contiguous and in input order, and
    ``prepare(chunk)`` is called once: it returns one ``(values, keep)`` pair per builder input,
    ``values`` aligned to the rows ``keep`` marks (``None``: every row;
    see :func:`~datasketches_spark.families.prepare`).  A new key's
    state is ``init()``; every group of the chunk is then folded in
    with ``update(state, slices)``, one slice of each input's values
    (possibly empty) per call.  At partition end each state yields one
    row ``key + emit(state)`` in ``schema``, the key as Spark sent its
    first row; a partition that saw no rows yields no row, so empty
    partitions never reach the merge.

    ``merge`` (phase 2, :func:`_merge_specs`) folds every Arrow batch
    as it arrives -- blob rows are KBs, so a row-count chunk would not
    bound memory -- and names the plan node ``merge``, not ``build``.

    Array and struct keys arrive as ndarray/dict cells; they are
    grouped on a hashable view (:func:`_hashable`)."""
    nested = {
        c for c in group_cols
        if isinstance(df.schema[c].dataType, (ArrayType, StructType))
    }
    chunk_rows = 1 if merge else _CHUNK_ROWS

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, tuple[list, object]] = {}
        buf: list[pd.DataFrame] = []
        nbuf = 0

        def flush() -> None:
            nonlocal buf, nbuf
            if not buf:
                return
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            buf, nbuf = [], 0
            if group_cols:
                by = [
                    pdf[c].map(_hashable) if c in nested else pdf[c]
                    for c in group_cols
                ]
                # codes number the groups in order of first appearance,
                # so they only decrease where groups interleave
                codes = pdf.groupby(by, dropna=False, sort=False).ngroup().to_numpy()
                order = None
                if (np.diff(codes) < 0).any():
                    # line each group's rows up, in input order; a stable
                    # sort of <=16-bit ints is numpy's radix sort
                    n = int(codes.max())
                    small = np.uint8 if n < 256 else np.uint16 if n < 65536 else np.int64
                    order = np.argsort(codes.astype(small, copy=False), kind="stable")
                    codes = codes[order]
                    pdf = pdf.take(order)
                starts = np.flatnonzero(np.diff(codes, prepend=-1))
                # ``by`` keeps the chunk's input order
                first = starts if order is None else order[starts]
                hkeys = list(zip(*(b.iloc[first].tolist() for b in by)))
                keys = (
                    list(zip(*(pdf[c].iloc[starts].tolist() for c in group_cols)))
                    if nested else hkeys
                )
            else:
                starts = np.zeros(1, dtype=np.int64)
                keys = hkeys = [()]
            bounds = np.append(starts, len(pdf))
            prepared = []
            for values, keep in prepare(pdf):
                b = bounds
                if keep is not None:  # each group's [lo, hi) in kept rows
                    b = np.concatenate(([0], np.cumsum(keep)))[bounds]
                prepared.append((values, b.tolist()))
            for g, key in enumerate(keys):
                ck = _canonical(hkeys[g])
                ent = acc.get(ck)
                if ent is None:
                    ent = acc[ck] = (list(key), init())
                update(ent[1], [
                    _slice(values, b[g], b[g + 1]) for values, b in prepared
                ])

        for pdf in batches:
            if len(pdf):
                buf.append(pdf)
                nbuf += len(pdf)
            if nbuf >= chunk_rows:
                flush()
        flush()
        if acc:
            rows = [key + list(emit(st)) for key, st in acc.values()]
            yield pd.DataFrame(rows, columns=schema.names)

    build.__name__ = "merge" if merge else "build"
    return df.select(*(group_cols + cols)).mapInPandas(build, schema=schema)


def _merge_specs(
    partial: DataFrame,
    specs: list[tuple],
    group_cols: list[str],
    finalize=None,
    finalize_schema: str | StructType | None = None,
) -> DataFrame:
    """The one phase-2 merge: the fold kernel over ``partial`` hash
    partitioned by ``group_cols`` (one partition for the global
    group).  Per group, each ``(blob_col, family, k)`` spec's blobs
    merge into one sketch, then the merged blobs are emitted, or
    ``finalize({blob_col: sketch})`` in ``finalize_schema``.  The plan
    is Exchange -> ``MapInPandas merge``: one Python call per shuffle
    partition, not one per group."""
    if finalize is None:
        fields = [StructField(s[0], BinaryType(), True) for s in specs]
    elif finalize_schema is None:
        raise ValueError("finalize requires finalize_schema")
    elif isinstance(finalize_schema, str):
        fields = StructType.fromDDL(finalize_schema).fields
    else:
        fields = finalize_schema.fields
    schema = StructType([partial.schema[c] for c in group_cols] + list(fields))
    out_names = [f.name for f in fields]
    blob_cols = [s[0] for s in specs]

    def prepare(pdf: pd.DataFrame) -> list:
        return [
            families_prepare(family, pdf[col], blobs=True)
            for col, family, _k in specs
        ]

    def update(sks: list, blobs: list) -> None:
        for i, (_col, family, k) in enumerate(specs):
            # created on first sight, so a group whose blobs are all
            # NULL still yields an empty sketch
            if sks[i] is None:
                sks[i] = create_sketch(family, build_params(family, k, None))
            update_prepared(family, sks[i], blobs[i], blobs=True)

    def emit(sks: list) -> list:
        if finalize is None:
            return [sk.serialize() for sk in sks]
        vals = finalize(dict(zip(blob_cols, sks)))
        return [vals[n] for n in out_names]

    # a real shuffle, never coalesce: the merge's width stays
    # spark.sql.shuffle.partitions
    shuffled = (
        partial.repartition(*group_cols) if group_cols else partial.repartition(1)
    )
    return _fold_partitions(
        shuffled, group_cols, blob_cols, schema,
        lambda: [None] * len(specs), prepare, update, emit, merge=True,
    )


def _sketch_partials(
    df: DataFrame,
    specs: list[tuple],
    group_cols: list[str],
    weight_col: str | None = None,
) -> DataFrame:
    """Phase 1 of :func:`sketch_partial` and :func:`sketch_agg_multi`:
    one blob column per ``(input_col, family, k, output_col)`` spec."""
    in_cols = list(dict.fromkeys([s[0] for s in specs]))  # stable unique
    if weight_col is not None:
        in_cols.append(weight_col)
    # captured Spark-side types: a null-bearing Arrow batch of an
    # integral column arrives float64 and must be coerced back (5 and
    # 5.0 hash differently — families.coerce_value_batch); a BINARY
    # column carries sketch blobs, which merge
    kinds = [spark_value_kind(df.schema[s[0]].dataType) for s in specs]
    blobs = [isinstance(df.schema[s[0]].dataType, BinaryType) for s in specs]

    def prepare(pdf: pd.DataFrame) -> list:
        w = None if weight_col is None else pdf[weight_col]
        return [
            families_prepare(family, pdf[col], kinds[i], blobs[i], w)
            for i, (col, family, _k, _out) in enumerate(specs)
        ]

    def update(sks: list, values: list) -> None:
        for i, (_col, family, k, _out) in enumerate(specs):
            if sks[i] is None:
                sks[i] = create_sketch(
                    family, build_params(family, k, None if blobs[i] else values[i])
                )
            update_prepared(family, sks[i], values[i], blobs[i])

    return _fold_partitions(
        df, group_cols, in_cols, _blob_schema(df, group_cols, [s[3] for s in specs]),
        lambda: [None] * len(specs), prepare, update,
        lambda sks: [sk.serialize() for sk in sks],
    )


def sketch_partial(
    df: DataFrame,
    input_col: str,
    family: str,
    group_cols: list[str] | None = None,
    k: int | None = None,
    output_col: str = "sketch",
    weight_col: str | None = None,
) -> DataFrame:
    """Phase 1: one partition-local sketch blob per (partition, group).

    ``weight_col`` (reservoir only): per-row weights for the
    inclusion-∝-weight sample — the weighted family on the SAME
    blob-only shuffle plan (the ``datasketch_reservoir_weighted`` UDAF
    shuffles raw rows; this shuffles one bounded blob per partition ×
    group, and bottom-(k+1) retention makes the estimation threshold
    merge-exact, sketches/reservoir.py)."""
    group_cols = list(group_cols or [])
    if weight_col is not None and family not in ("reservoir", "ebpps"):
        raise ValueError(
            "weight_col is only supported by the sampling families "
            "(reservoir, ebpps)"
        )
    return _sketch_partials(
        df, [(input_col, family, k, output_col)], group_cols, weight_col
    )


def sketch_merge(
    partial: DataFrame,
    family: str,
    group_cols: list[str] | None = None,
    k: int | None = None,
    sketch_col: str = "sketch",
    finalize=None,
    finalize_schema: str | StructType | None = None,
) -> DataFrame:
    """Phase 2: merge partition-local blobs per group into final blobs.

    ``finalize`` fuses the reference's Finalize step into the merge
    pass: a callable ``(sketch) -> dict[col, value]`` evaluated on the
    merged sketch, with ``finalize_schema`` (DDL string or StructType)
    describing the emitted columns.  This answers scalar queries
    (estimate, quantiles, weights) in the SAME Python round as the
    merge instead of a separate Arrow scalar-UDF pass -- one fewer
    Python round-trip per query, identical results."""
    fin = None if finalize is None else (lambda m: finalize(m[sketch_col]))
    return _merge_specs(
        partial, [(sketch_col, family, k)], list(group_cols or []),
        fin, finalize_schema,
    )


def sketch_agg(
    df: DataFrame,
    input_col: str,
    family: str,
    group_cols: list[str] | None = None,
    k: int | None = None,
    output_col: str = "sketch",
    finalize=None,
    finalize_schema: str | StructType | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Build sketches over raw values (or merge blobs) with map-side combine.

    Returns ``group_cols + [output_col BINARY]``.  Equivalent of
    ``SELECT g, datasketch_<family>(k, x) FROM t GROUP BY g`` at scale.
    With ``finalize``/``finalize_schema`` the merged sketch is answered
    in-place (see :func:`sketch_merge`) and the blob is never emitted.
    ``weight_col`` (reservoir only): weighted sampling on the same
    blob-only shuffle plan — see :func:`sketch_partial`.
    """
    partial = sketch_partial(
        df, input_col, family, group_cols, k, output_col, weight_col
    )
    return sketch_merge(
        partial, family, group_cols, k, output_col, finalize, finalize_schema
    )


def sketch_agg_multi(
    df: DataFrame,
    specs: list[tuple],
    group_cols: list[str] | None = None,
    finalize=None,
    finalize_schema: str | StructType | None = None,
) -> DataFrame:
    """Build SEVERAL sketches per group in ONE scan + ONE shuffle.

    ``specs`` is a list of ``(input_col, family, k, output_col)``
    tuples.  Where ``sketch_agg`` called N times costs N scans of the
    fact table and N shuffles (plus joins to reassemble), this costs
    one of each: the phase-1 task folds every spec's column into its
    own sketch per group, and the shuffle rows carry all N blobs.
    At 100 TB the scan is the dominant term, so N sketches for the
    price of one matters more than any constant-factor tuning.

    Returns ``group_cols + [output_col BINARY per spec]``, or with
    ``finalize`` (a callable ``dict[output_col, sketch] -> dict[col,
    value]`` plus ``finalize_schema``) the merged sketches are answered
    in the merge round and the blobs are never emitted -- the
    multi-sketch twin of :func:`sketch_merge`'s fused finalize.
    """
    group_cols = list(group_cols or [])
    specs = [tuple(s) for s in specs]
    out_cols = [s[3] for s in specs]
    if len(set(out_cols)) != len(out_cols):
        raise ValueError("duplicate output_col in specs")
    partial = _sketch_partials(df, specs, group_cols)
    return _merge_specs(
        partial, [(out, family, k) for _col, family, k, out in specs],
        group_cols, finalize, finalize_schema,
    )


def tuple_sketch_partial(
    df: DataFrame,
    key_col: str,
    value_cols: list[str],
    group_cols: list[str] | None = None,
    lg_k: int | None = None,
    output_col: str = "sketch",
) -> DataFrame:
    """Phase 1 for the ArrayOfDoubles tuple family: one partition-local
    tuple sketch per (partition, group) over ``(key, values...)`` rows.

    Same blob-only shuffle contract as :func:`sketch_partial`; the
    summary matrix rides inside the bounded blob (a lg_k=12,
    num_values=2 blob tops out at ~96 KB), so at 100 TB the shuffle
    still carries groups x partitions blobs, never raw rows."""
    from .sketches.tuple_aod import AodSketch, DEFAULT_LG_K

    group_cols = list(group_cols or [])
    value_cols = list(value_cols)
    lgk = lg_k if lg_k is not None else DEFAULT_LG_K
    key_kind = spark_value_kind(df.schema[key_col].dataType)

    def prepare(pdf: pd.DataFrame) -> list:
        # NULL keys are dropped with their summary rows, and the
        # survivors keep int64 hashing
        return [families_prepare("aod", pdf[key_col], key_kind, weights=pdf[value_cols])]

    return _fold_partitions(
        df, group_cols, [key_col] + value_cols,
        _blob_schema(df, group_cols, [output_col]),
        lambda: AodSketch(lgk, len(value_cols)), prepare,
        lambda sk, values: update_prepared("aod", sk, values[0]),
        lambda sk: [sk.serialize()],
    )


def tuple_sketch_agg(
    df: DataFrame,
    key_col: str,
    value_cols: list[str],
    group_cols: list[str] | None = None,
    lg_k: int | None = None,
    output_col: str = "sketch",
    finalize=None,
    finalize_schema: str | StructType | None = None,
) -> DataFrame:
    """Two-phase ArrayOfDoubles tuple aggregation: distinct ``key_col``
    estimation with element-wise-summed ``double`` summaries, one blob
    per group.  ``SELECT g, datasketch_aod(lg_k, key, array(v...))``
    at the blob-only-shuffle scale path (sketches/tuple_aod.py).

    NULL summary values contribute 0.0 (SQL SUM semantics — the same
    rule as the ``datasketch_aod`` UDAF and the UDTF path); the Arrow
    float transfer conflates NaN with NULL, so NaN summaries also
    become 0.0 on this path."""
    partial = tuple_sketch_partial(
        df, key_col, value_cols, group_cols, lg_k, output_col
    )
    return sketch_merge(
        partial, "aod", group_cols, lg_k, output_col, finalize, finalize_schema
    )


def salted_sketch_agg(
    df: DataFrame,
    input_col: str,
    family: str,
    group_cols: list[str] | None = None,
    k: int | None = None,
    num_salts: int = 16,
    output_col: str = "sketch",
) -> DataFrame:
    """Skew-resistant variant: salt heavy group keys across reducers.

    Because sketches merge associatively, skew handling is free: phase 2a
    merges per (group, salt) -- spreading a hot key over ``num_salts``
    reducers -- and phase 2b merges the <=num_salts salted blobs per
    group.  Use when a handful of keys dominate the input (AQE's skew
    handling covers joins, not custom pandas aggregations).
    """
    group_cols = list(group_cols or [])
    salted = df.withColumn("__salt", (F.rand(seed=42) * num_salts).cast("int"))
    partial = sketch_partial(
        salted, input_col, family, group_cols + ["__salt"], k, output_col
    )
    per_salt = sketch_merge(
        partial, family, group_cols + ["__salt"], k, output_col
    ).drop("__salt")
    return sketch_merge(per_salt, family, group_cols, k, output_col)


def theta_agg_hybrid(
    df: DataFrame,
    input_col: str,
    group_cols: list[str] | None = None,
    lg_k: int = 12,
    output_col: str = "estimate",
) -> DataFrame:
    """Theta distinct-count estimate (DOUBLE) per group; use
    ``sketch_agg(..., "theta")`` to keep the blob.

    A column type Spark's ``theta_sketch_agg`` takes (INT, BIGINT,
    FLOAT, DOUBLE, STRING, BINARY, ARRAY<INT|BIGINT>) is sketched in
    the JVM: partial aggregate, one Exchange, final aggregate.  The
    registered ``datasketch_theta_estimate`` reads the one blob per
    group, so this needs :func:`datasketches_spark.register`.  Other
    types run the blob path, where an empty global input gives no row.
    Over numbers and strings the estimate is bit-identical to the blob
    path's, except that NaN counts as a value, as in ``COUNT(DISTINCT)``
    (the blob path reads it as NULL); BINARY values are hashed, where
    the blob path merges them as sketches."""
    group_cols = list(group_cols or [])
    native = "int bigint float double string binary array<int> array<bigint>"
    if df.schema[input_col].dataType.simpleString() not in native.split():
        return sketch_agg(
            df, input_col, "theta", group_cols, lg_k,
            finalize=lambda sk: {output_col: float(sk.get_estimate())},
            finalize_schema=f"`{output_col}` double",
        )
    est = F.call_function(
        "datasketch_theta_estimate", F.theta_sketch_agg(input_col, lg_k)
    )
    return df.groupBy(*group_cols).agg(est.alias(output_col))
