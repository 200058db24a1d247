"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB framing):

- *exact*: hash-groupBy on a canonical fingerprint -- one shuffle of
  (hash, id), Catalyst handles partial aggregation.
- *MinHash+LSH*: per-document signatures are computed in a single
  Arrow-batched ``mapInPandas`` pass (numpy-vectorized rolling-hash
  shingling; no per-char Python), then banded -- candidate generation
  is an equi-join on (band_idx, band_hash), which Spark executes as a
  shuffled hash join on small keys rather than an O(n^2) cross join.
- *SimHash*: 64-bit signatures; candidate pairs via 16-bit band
  equality (pigeonhole: hamming<=3 over 4 bands guarantees a shared
  band), verified JVM-side with xor+bit_count.
- duplicate *clusters* via iterative min-id label propagation
  (bounded-iteration connected components over the pair list).

All randomness is seeded -> deterministic results run-to-run.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType
from .. import compat
from ..hashing import splitmix64
from .text import doc_fingerprint

_MERSENNE = np.uint64(0xFFFFFFFFFFFFFFFF)


# ----------------------------------------------------------------- exact


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of ids sharing an identical canonical fingerprint."""
    fp = df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Keep one row (min id) per identical canonical fingerprint.

    Formulated as ``min_by`` over the fingerprint groups rather than a
    ``row_number`` window: an aggregation partial-combines map-side, so
    at most one candidate row per (fingerprint, input partition)
    crosses the shuffle and nothing is sorted -- the window twin
    shuffles and sorts EVERY row.  Same surviving row set.

    ``keep_cols`` slims the shuffle: the fingerprint is computed
    map-side and only ``keep_cols`` ride in the min_by payload, so the
    raw text never crosses the wire -- at 100 TB the shuffle carries
    (16-byte fp, ids) instead of documents.  Default keeps every
    column (text included).
    """
    fp = doc_fingerprint(F.col(text_col))
    # NULL-safe ordering key: min_by skips rows whose ordering key is
    # NULL, so a bare id would drop all-NULL-id groups entirely and
    # mixed groups would never keep the NULL-id row.  Wrapping in a
    # struct makes the key non-NULL (structs with NULL fields still
    # compare; NULL fields sort first ASC), so NULL ids are kept and
    # ordered first -- matching row_number(... asc_nulls_first).
    order_key = F.struct(F.col(id_col).isNotNull(), F.col(id_col))
    payload = list(keep_cols) if keep_cols is not None else list(df.columns)
    kept = (
        df.groupBy(fp.alias("__fp"))
        .agg(F.min_by(F.struct(*payload), order_key).alias("__r"))
        .select("__r.*")
    )
    return kept


# --------------------------------------------------------------- minhash


def _shingle_hashes(text: str, shingle: int) -> np.ndarray:
    """uint64 rolling hashes of all char shingles (numpy-vectorized)."""
    b = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
    if b.size < shingle:
        b = np.pad(b, (0, shingle - b.size))
    win = np.lib.stride_tricks.sliding_window_view(b, shingle).astype(np.uint64)
    powers = np.uint64(1099511628211) ** np.arange(shingle, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = (win * powers[None, :]).sum(axis=1, dtype=np.uint64)
    return np.unique(h)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle: int = 5,
    seed: int = 1,
    fan_out: bool = False,
) -> DataFrame:
    """(id, sig array<long>[num_hashes]) -- deterministic given seed.

    ``fan_out=True`` round-robin repartitions the slim (id, text)
    projection before the Python pass when the scan is narrow
    (plan-bytes gate, no-op at corpus scale) — a small parquet is
    often ONE productive split, serializing the shingle-hash pass onto
    a single core.  MEASURED r15 (sf0.1, interleaved min-of-4,
    noop sink): full 5000-doc corpus 1.88 s serial -> 1.12 s fanned
    (1.68x); but a 200-doc FILTERED slice of the same file 0.54 s ->
    1.19 s (2.2x LOSS — the exchange + 32-task overhead exceeds the
    tiny parallel win, and plan stats cannot see the filter: both
    plans report the identical scan estimate, so no automatic gate
    can distinguish them).  Hence opt-in: pass ``fan_out=True`` when
    the input is an unfiltered narrow corpus with real per-row work.
    Per-row signatures are a pure function of the row, so results are
    identical either way."""
    seeds = splitmix64(np.arange(num_hashes, dtype=np.uint64), seed=seed)
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("sig", ArrayType(LongType()), True),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for text in pdf[text_col]:
                if text is None:
                    sigs.append(None)
                    continue
                sh = _shingle_hashes(text, shingle)
                # broadcast: (n_shingles, num_hashes) -> column-min
                mixed = splitmix64(sh[:, None] ^ seeds[None, :])
                sigs.append(mixed.min(axis=0).astype(np.int64).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "sig": sigs})

    slim = df.select(id_col, text_col)
    if fan_out:
        from .decontam import _fan_out_if_narrow  # noqa: PLC0415

        slim = _fan_out_if_narrow(slim)
    return slim.mapInPandas(compute, schema=schema)


def minhash_band_buckets(
    sig_df: DataFrame, id_col: str, bands: int = 16, rows: int = 4
) -> DataFrame:
    """Explode signatures into (band_idx, band_hash, id) bucket keys."""
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.hash(*[F.col("sig")[i * rows + j] for j in range(rows)]).alias(
                    "band_hash"
                ),
            )
            for i in range(bands)
        ]
    )
    # F.hash of all-NULL inputs returns its constant seed, so a NULL
    # signature would land every such doc in the SAME bucket per band
    # -- an O(m^2) candidate blowup among NULL-text docs.  NULL sigs
    # have no shingles to match; drop them before banding.
    return (
        sig_df.filter(F.col("sig").isNotNull())
        .select(id_col, F.explode(band_arr).alias("b"))
        .select(id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash"))
    )


def minhash_candidate_pairs(
    sig_df: DataFrame, id_col: str, bands: int = 16, rows: int = 4
) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs sharing any LSH band."""
    buckets = minhash_band_buckets(sig_df, id_col, bands, rows)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Fraction of agreeing minhash positions (JVM-side zip_with)."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return agree.cast("double") / F.size(sig_a).cast("double")


def minhash_near_duplicates(
    df: DataFrame | None,
    id_col: str,
    text_col: str | None = None,
    threshold: float = 0.8,
    num_hashes: int = 64,
    shingle: int = 5,
    bands: int = 16,
    rows: int = 4,
    seed: int = 1,
    persist: bool = True,
    signatures: "DataFrame | str | None" = None,
    fan_out: bool = False,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) pairs with estimated jaccard >= threshold.

    The signature DataFrame appears in four branches of the plan (both
    sides of the bucket self-join + the two verification re-joins);
    without materialization Spark recomputes the Python signature pass
    per branch. ``persist=True`` (default) caches it — the dominant
    cost at scale, where signatures are num_hashes longs per doc (a
    bounded ~0.5 KB/doc). For 100 TB corpora, pass ``signatures=`` a
    stored table (see :func:`write_minhash_signatures`): the plan then
    reads (id, sig) parquet per branch — no Python pass, no cache —
    and ``df``/``text_col`` are unused (``df`` may be ``None``).
    """
    if signatures is not None:
        sigs = _resolve_signatures(signatures, df)
        _check_sig_width(sigs, bands, rows)
        persist = False  # the stored table IS the materialization
    else:
        sigs = minhash_signatures(
            df, id_col, text_col, num_hashes, shingle, seed, fan_out=fan_out
        )
    if persist:
        sigs = sigs.persist()
    pairs = minhash_candidate_pairs(sigs, id_col, bands, rows)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", estimated_jaccard(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


# --------------------------------------------- signature-table workflow
#
# The 100 TB MinHash recipe as executable code (not a docstring): the
# Python signature pass runs ONCE, at write time, and lands a compact
# (id, sig) table -- ~8*num_hashes bytes/doc, so a 100 TB corpus yields
# a ~50 GB signature table at the default 64 hashes.  Every downstream
# near-dup run reads that table: candidate generation, pre-filtering,
# and signature verification are then pure JVM plans over parquet --
# no mapInPandas node anywhere, no persist() needed (the table IS the
# materialization), and the raw text enters only the final exact-verify
# join.  Mirrors the reference's store-the-sketch re-aggregation pitch
# (docs/README.md:9,190-192) applied to LSH signatures.


def write_minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    buckets: int = 32,
    table: str | None = None,
    num_hashes: int = 64,
    shingle: int = 5,
    seed: int = 1,
    mode: str = "overwrite",
    fan_out: bool = False,
) -> str:
    """Compute MinHash signatures once and persist them as a table.

    With ``table`` set, writes a catalog table hash-BUCKETED by
    ``id_col`` (``bucketBy(buckets).sortBy(id_col)`` at ``path``) so
    read-side id joins (the verification re-joins, incremental
    signature upserts) can skip their exchange under bucketed-join
    planning.  Without ``table``, writes plain parquet pre-partitioned
    by ``hash(id)`` into ``buckets`` files -- no catalog dependency,
    same layout, no bucket metadata.

    The written slice defines the dedup universe: run the downstream
    near-dup query against the same document slice the signatures were
    built from (signature-only verification trusts the table's ids).
    Returns ``path``.
    """
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle, seed, fan_out=fan_out
    )
    # record the hash-family parameters in the column metadata
    # (survives parquet footers AND catalog schemas) so cross-corpus
    # consumers can rebuild COMPATIBLE signatures for their new side
    # without the caller re-threading the write-time arguments
    sigs = sigs.withMetadata(
        "sig",
        {
            MINHASH_META_KEY: {
                "num_hashes": num_hashes,
                "shingle": shingle,
                "seed": seed,
                "engine": "pandas",  # the one hash family; readers check it
                "format_version": 1,
            }
        },
    )
    return _write_signatures(sigs, id_col, path, table, buckets, mode)


def _write_signatures(sigs, id_col, path, table, buckets, mode) -> str:
    """``sigs`` written in the ``repartition(buckets, id)`` layout: a
    catalog ``table`` bucketed by id at ``path``, else parquet."""
    sigs = sigs.repartition(buckets, F.col(id_col))
    if table is not None:
        (
            sigs.write.mode(mode)
            .option("path", path)
            .bucketBy(buckets, id_col)
            .sortBy(id_col)
            .saveAsTable(table)
        )
    else:
        sigs.write.mode(mode).parquet(path)
    return path


_TABLE_NAME_RE = re.compile(r"^\w+(\.\w+){0,2}$")

# column-metadata tag on stored signature tables (r14)
MINHASH_META_KEY = "dsks_minhash_signatures"


def _signature_meta(sigs: DataFrame) -> dict | None:
    """The table's metadata tag; raises on a table of the xxhash64
    (``engine: "jvm"``) family, whose signatures no longer band with
    freshly computed ones."""
    meta = next(
        ((f.metadata or {}).get(MINHASH_META_KEY) for f in sigs.schema.fields if f.name == "sig"),
        None,
    )
    if meta is not None and meta.get("engine", "pandas") != "pandas":
        raise ValueError(
            f"stored signatures use the removed {meta['engine']!r} MinHash "
            "hash family; re-write the table with write_minhash_signatures"
        )
    return meta


def read_minhash_signatures(spark: SparkSession, source: str) -> DataFrame:
    """Load a stored signature table: a registered catalog identifier
    (``name``, ``db.name``, ``catalog.db.name``) reads via
    ``spark.table``; anything else — absolute paths, relative paths,
    bare directory names like ``sigs`` — reads as parquet.  Catalog
    names win when both could apply (probed via
    ``catalog.tableExists``, so a bare name that is NOT a registered
    table falls through to parquet instead of dying with
    TABLE_OR_VIEW_NOT_FOUND)."""
    if _TABLE_NAME_RE.match(source) and not source.endswith(".parquet"):
        try:
            is_table = spark.catalog.tableExists(source)
        except AnalysisException:  # an unknown catalog or namespace
            is_table = False
        if is_table:
            return spark.table(source)
    return spark.read.parquet(source)


def _sig_width(sigs: DataFrame) -> int | None:
    """Hashes per stored signature (None: no non-NULL one); one
    limit-1 job."""
    row = sigs.filter(F.col("sig").isNotNull()).select(F.size("sig").alias("w")).first()
    return None if row is None else row["w"]


def _check_sig_width(sigs: DataFrame, bands: int, rows: int) -> None:
    """Stored-signature geometry guard (ADVICE r13): a table written
    with num_hashes < bands*rows makes ``sig[i*rows+j]`` NULL for the
    upper bands, so ``F.hash(all-NULL)`` degenerates to a CONSTANT
    band key and every doc pairs with every doc in those bands — a
    silent O(n^2) candidate blowup (the exact verify still returns
    correct pairs, so nothing else catches it)."""
    width = _sig_width(sigs)
    if width is not None and width < bands * rows:
        raise ValueError(
            f"stored signatures carry {width} hashes but banding "
            f"needs bands*rows = {bands}*{rows} = {bands * rows}; "
            "re-write the signature table with num_hashes >= bands*rows "
            "or pass matching bands=/rows=."
        )


def upsert_minhash_signatures(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    table: str | None = None,
    buckets: int = 32,
    num_hashes: int = 64,
    shingle: int = 5,
    seed: int = 1,
) -> str:
    """Incrementally extend a stored signature table with NEW docs.

    The incremental half of :func:`write_minhash_signatures`'s
    contract: signatures are computed ONLY for ``new_docs`` ids not
    already present (a left-anti join — exchange-free on the stored
    side under bucketed-join planning for the catalog route), written
    in the same ``repartition(buckets, id)`` layout, and APPENDED.
    Existing files are never rewritten, so the upsert costs O(new
    docs), not O(corpus).  Already-present ids are skipped, never
    duplicated: signatures are deterministic given (num_hashes,
    shingle, seed), so the stored row is already correct —
    pass the SAME parameters the table was built with (``num_hashes``
    is cross-checked against the stored signature width; the rest
    cannot be recovered from the table and are the caller's
    contract).

    Invariant (tested in tests/test_sigtable.py): upserting new docs
    into a table built from ``base`` equals a from-scratch
    :func:`write_minhash_signatures` over ``base UNION new``.
    Returns ``path``.
    """
    spark = new_docs.sparkSession
    existing = read_minhash_signatures(spark, table if table is not None else path)
    _signature_meta(existing)
    width = _sig_width(existing)
    if width is not None and width != num_hashes:
        raise ValueError(
            f"stored signatures carry {width} hashes but num_hashes="
            f"{num_hashes} was requested; upserts must use the exact "
            "parameters the table was built with."
        )
    fresh = new_docs.join(existing.select(id_col), id_col, "left_anti")
    sigs = minhash_signatures(fresh, id_col, text_col, num_hashes, shingle, seed)
    return _write_signatures(sigs, id_col, path, table, buckets, "append")


def _resolve_signatures(
    signatures: "DataFrame | str", df: DataFrame | None
) -> DataFrame:
    if isinstance(signatures, DataFrame):
        return signatures
    spark = df.sparkSession if df is not None else SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "signatures= given as a path/table name but no DataFrame and "
            "no active SparkSession to read it with"
        )
    return read_minhash_signatures(spark, signatures)


def char_ngrams(col: Column, n: int = 5) -> Column:
    """Distinct lowercased char n-grams as an array column -- pure JVM
    expressions (sequence/transform/array_distinct), so verification
    stays inside WholeStageCodegen.  Matches DuckDB's
    ``substr(lower(t), i, n)`` semantics byte-for-byte on ASCII."""
    t = F.lower(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
            lambda i: t.substr(i, F.lit(n)),
        )
    )


def lsh_verified_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    shingle: int = 5,
    bands: int = 16,
    rows: int = 4,
    seed: int = 1,
    ngram: int = 5,
    persist: bool = True,
    signatures: "DataFrame | str | None" = None,
    fan_out: bool = False,
) -> DataFrame:
    """(id_a, id_b, jaccard) near-dup pairs with EXACT char-ngram
    Jaccard >= threshold, found via MinHash LSH.

    The standard two-stage near-dup join: banded MinHash candidates
    (equi-join on (band_idx, band_hash) -- never all-pairs), then
    exact verification of candidates only, JVM-side via
    array_intersect over :func:`char_ngrams`.  With ``bands`` x
    ``rows`` banding the probability a true pair at similarity J is
    missed is (1 - J^rows)^bands.  Equality with the exact all-pairs
    Jaccard join is therefore a HIGH-THRESHOLD claim: at the default
    16x4 banding it holds for thresholds >= 0.8 (miss < 2.2e-4 per
    pair, < 1e-19 at the J >= 0.95 regimes dedup targets); at lower
    thresholds banding misses real pairs (~36% at J = 0.5) -- widen
    to e.g. ``bands=32, num_hashes=128`` before lowering the
    threshold.  On large inputs (planner stats > 64 MB) a signature
    pre-filter additionally drops candidates whose ESTIMATED Jaccard
    is below ``threshold - 0.25`` before the exact verify; that adds
    a second, same-order miss term (Hoeffding,
    P <= exp(-2*num_hashes*0.25^2) = 3.4e-4 per true pair at the
    default 64 hashes) on top of the banding miss.  At 100 TB the
    cost is the signature pass + two shuffles (bucket join, verify
    join); the verification set is |candidates|, not O(n^2).

    Cache lifetime: with ``persist=True`` the signature table (and on
    the pruned path the filtered candidate set) stay cached until the
    caller unpersists — in a long multi-query session call
    ``spark.catalog.clearCache()`` after materializing the result, or
    pass ``persist=False`` (recomputes the signature pass per plan
    branch).

    Signatures come from the seeded splitmix64 Arrow+numpy pass
    (:func:`minhash_signatures`) and persist by default (they feed a
    self-join, which would otherwise recompute the pass per branch).

    ``signatures=`` (a DataFrame, parquet path, or table name from
    :func:`write_minhash_signatures`) skips the signature computation
    AND the persist: candidate generation + the estimated-jaccard
    pre-filter become pure JVM plans over the stored (id, sig) table,
    and the raw text is touched only by the exact verify join.  This
    is the 100 TB path — the Python pass ran once, at write time.
    ``num_hashes``/``shingle``/``seed`` are then ignored
    (the table fixes them); build it from the same document slice.
    ``fan_out``: :func:`minhash_signatures`' opt-in narrow-scan fan-out.
    """
    # cand-persist stays governed by the caller's persist flag even on
    # the table route: the filtered candidate set feeds THREE branches,
    # and without caching the bucket self-join + pre-filter over the
    # full signature table would re-execute per branch at 100 TB
    persist_cand = persist
    if signatures is not None:
        sigs = _resolve_signatures(signatures, df)
        _check_sig_width(sigs, bands, rows)
        persist = False  # the stored table IS the materialization
    else:
        sigs = minhash_signatures(
            df, id_col, text_col, num_hashes, shingle, seed, fan_out=fan_out
        )
    if persist:
        sigs = sigs.persist()
    cand = minhash_candidate_pairs(sigs, id_col, bands, rows)
    # verify-side pruning: n-gram arrays are built ONLY for documents a
    # candidate pair touches.  When dups are sparse (a typical web
    # corpus: a few % of docs near-duplicate) |touched| << |docs| and
    # this turns two full-corpus text scans + n-gram builds into two
    # scans of the candidate slice.  Auto-gated on planner size stats
    # (the skewjoin fast-path pattern): on toy inputs the extra
    # persist + semi-join stages cost more than the n-gram build they
    # avoid (measured sf0.1/200 docs: +0.25 s).  Measured caveat: on a
    # DUP-HEAVY corpus pruning keeps almost everything (this repo's
    # synthetic documents: 4917/5000 touched, pruned 12.8 s vs 11.6 —
    # a small planned-overhead loss, bounded because the semi-join is
    # left to Spark/AQE, never a forced broadcast of the id set).
    size = compat.plan_size_bytes(df)  # None: stats unavailable (Connect)
    prune = size is None or size > (64 << 20)
    verify_src = df
    if prune:
        # Signature pre-filter BEFORE the exact verify: banding
        # generates false-positive candidates in bulk (measured on the
        # synthetic 5000-doc corpus: 124,529 candidates, of which 256
        # have estimated J >= 0.55 — the rest are boilerplate
        # collisions at true J ~0.1-0.3).  Comparing two 64-long
        # signatures is ~30x cheaper than intersecting two multi-k
        # n-gram arrays, so killing 99.8% of candidates here collapses
        # the verify stage's cost.  Recall: a true pair at J >=
        # threshold passes est >= threshold - 0.25 with Hoeffding
        # P[miss] <= exp(-2*64*0.25^2) = 3.4e-4 — the same order as
        # the banding miss itself, so the operator's documented
        # equality claim is unchanged in kind or magnitude.
        sa_ = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
        sb_ = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
        cand = (
            cand.join(sa_, "id_a")
            .join(sb_, "id_b")
            .filter(
                estimated_jaccard(F.col("sig_a"), F.col("sig_b"))
                >= threshold - 0.25
            )
            .select("id_a", "id_b")
        )
        if persist_cand:
            # the filtered candidate set feeds three branches (the
            # id-prune + both verify joins); it is tiny by
            # construction, so caching it is cheap
            cand = cand.persist()
        touched = (
            cand.select(F.col("id_a").alias(id_col))
            .unionByName(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        verify_src = df.join(touched, id_col, "leftsemi")
    grams = verify_src.select(
        F.col(id_col), char_ngrams(F.col(text_col), ngram).alias("g")
    )
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    union = F.size("g_a") + F.size("g_b") - inter
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_cross_near_duplicates(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    history: "DataFrame | str",
    history_docs: DataFrame | None = None,
    threshold: float = 0.8,
    num_hashes: int = 64,
    shingle: int = 5,
    seed: int = 1,
    bands: int = 16,
    rows: int = 4,
    ngram: int = 5,
    persist: bool = True,
) -> DataFrame:
    """Near-duplicates of NEW documents against a STORED corpus — the
    daily-incremental dedup shape: the history side never recomputes
    anything (its signature pass ran at write time, r13
    :func:`write_minhash_signatures`); only the incoming batch runs a
    signature pass here.

    ``history`` is the stored signature table (DataFrame, parquet
    path, or catalog name).  When the table carries the r14 metadata
    tag the hash-family parameters (``num_hashes``/``shingle``/
    ``seed``) are taken FROM it — the new side's signatures are then
    compatible by construction; for pre-r14 tables pass the same
    values used at write time.  A table tagged with the removed
    ``engine: "jvm"`` family raises: re-write it.

    ``history_docs`` (an ``(id_col, text_col)`` DataFrame of the
    historical text) enables the EXACT char-ngram verify — output
    ``(new_id, hist_id, jaccard)`` with ``jaccard >= threshold``.
    Without it the output is the signature ESTIMATE
    ``(new_id, hist_id, est_jaccard)`` (±~1/sqrt(num_hashes) band) —
    still banding-complete, but approximate.

    Scale shape: candidates are a banded equi-join NEW × HISTORY on
    ``(band_idx, band_hash)`` — never all-pairs — and with
    |new| ≪ |history| AQE broadcasts the new side's bucket table, so
    the stored corpus is touched by one scan of its slim (id, sig)
    rows.  The exact verify joins text for CANDIDATE ids only.
    Same-id pairs (a re-submitted document) are kept — deciding what
    to do with an exact resubmission is the caller's policy.
    """
    hist_sigs = _resolve_signatures(history, new_df)
    _check_sig_width(hist_sigs, bands, rows)
    meta = _signature_meta(hist_sigs)
    if meta is not None:
        num_hashes = int(meta.get("num_hashes", num_hashes))
        shingle = int(meta.get("shingle", shingle))
        seed = int(meta.get("seed", seed))
    new_sigs = minhash_signatures(new_df, id_col, text_col, num_hashes, shingle, seed)
    if persist:
        # the new-side signatures feed the bucket join AND the
        # estimate filter — without caching the Python pass re-runs
        # per plan branch (r13 lesson)
        new_sigs = new_sigs.persist()
    nb = minhash_band_buckets(new_sigs, id_col, bands, rows).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_hash"
    )
    hb = minhash_band_buckets(hist_sigs, id_col, bands, rows).select(
        F.col(id_col).alias("hist_id"), "band_idx", "band_hash"
    )
    cand = (
        nb.join(hb, ["band_idx", "band_hash"])
        .select("new_id", "hist_id")
        .distinct()
    )
    sa = new_sigs.select(F.col(id_col).alias("new_id"), F.col("sig").alias("sig_a"))
    sb = hist_sigs.select(F.col(id_col).alias("hist_id"), F.col("sig").alias("sig_b"))
    est = estimated_jaccard(F.col("sig_a"), F.col("sig_b"))
    scored = cand.join(sa, "new_id").join(sb, "hist_id")
    if history_docs is None:
        return scored.select(
            "new_id", "hist_id", est.alias("est_jaccard")
        ).filter(F.col("est_jaccard") >= threshold)
    # estimate pre-filter before the exact verify (same Hoeffding
    # margin as the self-join operator: the miss term is the same
    # order as the banding miss)
    cand = scored.filter(est >= threshold - 0.25).select("new_id", "hist_id")
    ga = new_df.select(
        F.col(id_col).alias("new_id"), char_ngrams(F.col(text_col), ngram).alias("g_a")
    )
    gb = history_docs.select(
        F.col(id_col).alias("hist_id"),
        char_ngrams(F.col(text_col), ngram).alias("g_b"),
    )
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    union = F.size("g_a") + F.size("g_b") - inter
    return (
        cand.join(ga, "new_id")
        .join(gb, "hist_id")
        .select(
            "new_id",
            "hist_id",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def fuzzy_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    keep_cols: list[str] | None = None,
    max_iter: int = 10,
    on_max_iter: str = "raise",
    **lsh_kwargs,
) -> DataFrame:
    """Keep ONE document (the min id) per near-duplicate component —
    the one-call fuzzy-dedup a curation pipeline actually runs.

    Composition of the gated pieces: LSH-verified near-dup pairs
    (:func:`lsh_verified_near_duplicates`; pass ``signatures=`` via
    ``lsh_kwargs`` for the stored-signature 100 TB path) →
    :func:`connected_components` over the pair list (min-label
    propagation, lineage-checkpointed) → anti-join the non-
    representatives out.  Documents untouched by any pair survive
    unchanged.  The component/label frames are O(duplicated docs) —
    tiny relative to the corpus — so the only corpus-scale work is
    the LSH join itself.  ``keep_cols`` trims the output projection
    (default: every column).  Component labeling converges in O(log
    diameter) rounds (pointer doubling); if ``max_iter`` is still
    exhausted the run RAISES by default rather than silently keeping
    extra representatives — ``on_max_iter`` forwards to
    :func:`connected_components`."""
    pairs = lsh_verified_near_duplicates(
        df, id_col, text_col, threshold=threshold, **lsh_kwargs
    )
    comp = connected_components(
        pairs, "id_a", "id_b", max_iter=max_iter, on_max_iter=on_max_iter
    )
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    # the removed-id anti-join: `drop` is Python/checkpoint-derived, so
    # at corpus scale the planner sort-merges the WHOLE corpus against
    # it; anti_join_pruned splits the corpus with a Bloom filter over
    # the dropped ids first (exact: Bloom negatives ship straight to
    # the output, only possibly-dropped rows enter the join).  When
    # the planner already broadcasts `drop` (toy inputs, known-small
    # stats) the plain join is kept unchanged.
    from ..runtime_filter import anti_join_pruned  # noqa: PLC0415

    kept = anti_join_pruned(df, drop, id_col)
    return kept.select(*(keep_cols or df.columns))


# --------------------------------------------------------------- simhash


def simhash64(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed: int = 7,
    hasher: str = "fast",
    fan_out: bool = False,
) -> DataFrame:
    """(id, simhash long): sign-sum of token-hash bits (deterministic).

    ``hasher="fast"`` (default) uses the vectorized pandas string hash
    -- the scale path.  ``hasher="md5"`` hashes each token with
    md5-first-8-bytes little-endian, exactly DuckDB's
    ``md5_number_upper``, making the signature reproducible in ANSI
    SQL for cross-engine verification (the oracle gate)."""
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("simhash", LongType(), True),
        ]
    )
    bit_idx = np.arange(64, dtype=np.uint64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # single-space split with empties dropped -- identical
            # tokenization to the oracle's DuckDB
            # string_split(t, ' ') + w <> '' filter, so signature
            # parity holds even for texts with tabs/newlines.
            # The whole batch is flattened: ONE word-hash call + one
            # segment-summed vote matrix (vs per-doc pandas Series --
            # the r14 LM-scorer finding applied here too).
            words_per_doc = [
                None if t is None else [w for w in t.lower().split(" ") if w]
                for t in pdf[text_col]
            ]
            lens = np.fromiter(
                (0 if ws is None else len(ws) for ws in words_per_doc),
                dtype=np.int64,
                count=len(words_per_doc),
            )
            flat = [w for ws in words_per_doc if ws for w in ws]
            sigs = np.zeros(len(words_per_doc), dtype=np.int64)
            if flat:
                if hasher == "md5":
                    import hashlib
                    import struct

                    h = np.fromiter(
                        (
                            struct.unpack(
                                "<Q", hashlib.md5(w.encode()).digest()[:8]
                            )[0]
                            for w in flat
                        ),
                        dtype=np.uint64,
                        count=len(flat),
                    )
                else:
                    h = splitmix64(
                        pd.util.hash_pandas_object(
                            pd.Series(flat), index=False
                        ).to_numpy(np.uint64),
                        seed=seed,
                    )
                pm = (
                    2 * ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
                    - 1
                )
                nz = lens > 0
                starts = np.zeros(lens.size, dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                votes = np.add.reduceat(pm, starts[nz], axis=0)  # (nz docs, 64)
                sigs[nz] = (
                    np.bitwise_or.reduce(
                        (votes > 0).astype(np.uint64) << bit_idx[None, :], axis=1
                    )
                ).astype(np.int64)
            out = [
                None if ws is None else int(s)
                for ws, s in zip(words_per_doc, sigs)
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    # same opt-in narrow-scan fan-out as minhash_signatures (see its
    # docstring for the measured win/loss regimes)
    slim = df.select(id_col, text_col)
    if fan_out:
        from .decontam import _fan_out_if_narrow  # noqa: PLC0415

        slim = _fan_out_if_narrow(slim)
    return slim.mapInPandas(compute, schema=schema)


def _simhash_band_explode(sim_df: DataFrame, id_col: str) -> DataFrame:
    """(id, simhash, band_idx, band_val): each signature exploded into
    its four 16-bit bands — the pigeonhole candidate key (any pair
    within hamming 3 shares at least one intact band)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_val"),
            )
            for i in range(4)
        ]
    )
    return sim_df.select(id_col, "simhash", F.explode(bands).alias("b")).select(
        id_col, "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
    )


def simhash_cross_near_ids(
    probe_sigs: DataFrame,
    ref_sigs: DataFrame,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Distinct probe ids having ANY reference signature within
    ``max_hamming`` (band equi-join candidates + JVM xor/bit_count
    verify — never an all-pairs product).  The two-sided complement of
    :func:`simhash_near_pairs`, used by streaming near-dedup to test a
    micro-batch against the stored signature history."""
    a = _simhash_band_explode(probe_sigs, id_col).alias("a")
    b = _simhash_band_explode(ref_sigs, id_col).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .filter(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            <= max_hamming
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )


def simhash_near_pairs(
    sim_df: DataFrame, id_col: str, max_hamming: int = 3, persist: bool = True
) -> DataFrame:
    """(id_a, id_b, hamming) with hamming <= max_hamming.

    Candidates come from 16-bit band equality (4 bands): any pair
    within hamming distance 3 shares at least one intact band
    (pigeonhole), so recall is exact for max_hamming <= 3.
    Verification is JVM-side: bit_count(a XOR b).

    ``sim_df`` feeds both sides of the self-join; when it comes
    straight from :func:`simhash64` the Python pass would run twice,
    so ``persist=True`` (default) caches it (8 bytes + id per row).
    """
    if persist:
        sim_df = sim_df.persist()
    exploded = _simhash_band_explode(sim_df, id_col)
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------- n-gram jaccard (exact)


def ngram_jaccard_pairs(
    df_pairs: DataFrame, text_a: str, text_b: str, n: int = 3
) -> DataFrame:
    """Exact char n-gram Jaccard for explicit row pairs (pandas UDF)."""

    @F.pandas_udf("double")
    def jac(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
                continue
            sx = {x[i : i + n] for i in range(max(len(x) - n + 1, 1))}
            sy = {y[i : i + n] for i in range(max(len(y) - n + 1, 1))}
            u = len(sx | sy)
            out.append(len(sx & sy) / u if u else 0.0)
        return pd.Series(out, dtype=object)

    return df_pairs.withColumn("ngram_jaccard", jac(F.col(text_a), F.col(text_b)))


# ------------------------------------------------------- duplicate groups


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
    on_max_iter: str = "raise",
) -> DataFrame:
    """(id, component) via min-label propagation + pointer doubling.

    Each round: one propagation shuffle (groupBy min over neighbors)
    followed by a pointer-doubling shortcut (``component <- the
    component's own component``), so remaining chain depth HALVES per
    round and convergence takes O(log diameter) rounds — the default
    ``max_iter=10`` covers diameters up to ~2^10 (the r13 plain
    propagation needed one round per hop, so a >10-hop duplicate
    chain silently kept extra "representatives").

    If the loop still exhausts ``max_iter`` without converging the
    labels are NOT a valid partition; ``on_max_iter`` picks the
    behavior: ``"raise"`` (default) raises RuntimeError, ``"warn"``
    emits a RuntimeWarning and returns the partial labels,
    ``"ignore"`` returns them silently.

    Iterative DataFrame algorithms grow their lineage by one
    join+agg per round; without truncation every action re-executes
    the whole history (quadratic work, and Catalyst analysis time
    itself blows up). Each round therefore materializes its labels
    with ``localCheckpoint(eager=True)`` — constant-size plan, one
    bounded job per round. The label frame is O(nodes) small relative
    to the corpus. On a real cluster prefer a reliable checkpoint dir
    (``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``) if
    executor loss during the loop must be survivable.
    """
    if on_max_iter not in ("raise", "warn", "ignore"):
        raise ValueError(
            f"on_max_iter must be 'raise', 'warn' or 'ignore', got {on_max_iter!r}"
        )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node, "left")
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("src", "node")
        )
        propagated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
            # checkpointed: it feeds BOTH sides of the shortcut join
            # below — unmaterialized, the propagation would recompute
            # per branch
            .localCheckpoint(eager=True)
        )
        # pointer doubling: every component value is itself a node id
        # (a min over node ids), so jump each label to ITS label —
        # labels only decrease within the component, correctness holds
        lookup = propagated.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        new_labels = (
            propagated.join(
                lookup, propagated.component == lookup.c_node, "left"
            )
            .select(
                "node",
                F.coalesce(F.col("c_comp"), F.col("component")).alias(
                    "component"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
        )
        done = changed.isEmpty()
        labels = new_labels
        if done:
            converged = True
            break
    edges.unpersist()
    if not converged:
        msg = (
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds (component diameter > ~2^{max_iter}); "
            "the returned labels over-partition some components. Raise "
            "max_iter, or pass on_max_iter='warn'/'ignore' to accept "
            "partial labels."
        )
        if on_max_iter == "raise":
            raise RuntimeError(msg)
        if on_max_iter == "warn":
            import warnings  # noqa: PLC0415

            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.withColumnRenamed("node", "id")
