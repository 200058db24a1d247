"""Similarity search over embedding columns (array<float>).

Two paths, per the 100 TB design brief:

- *brute-force cosine top-k*: the small query set is **broadcast**
  (no shuffle of the big side); the dot product / norms are pure
  Column expressions (``zip_with`` + ``aggregate``), so the whole scan
  stays inside whole-stage codegen; per-query top-k via window
  row_number.  This is the exact baseline.
- *LSH-bucketed (random hyperplanes)*: deterministic signed-projection
  signatures computed in one Arrow-batched numpy matmul per batch;
  candidates share a signature bucket (optionally multi-probe over
  1-bit flips), then re-ranked with exact cosine.  At scale the bucket
  join replaces the full cross product.

All floats are computed in float64 with left-to-right accumulation so
results are reproducible and oracle-comparable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.sql.window import Window


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v.cast("double"),
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set over the corpus.

    Returns (query_id, neighbor_id, rank, cosine_sim); ties break on
    neighbor id for determinism.
    """
    joined = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_bits))


def hyperplane_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int = 16,
    seed: int = 13,
) -> DataFrame:
    """(id, bucket long): sign-bit signature of seeded random projections."""
    planes = _hyperplanes(dim, n_bits, seed)
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("bucket", LongType(), True),
        ]
    )
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (mat @ planes) > 0
            buckets = (bits.astype(np.int64) * weights[None, :]).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "bucket": buckets})

    return df.select(id_col, vec_col).mapInPandas(compute, schema=schema)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 12,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates from shared hyperplane bucket,
    re-ranked by exact cosine.  Trades recall for avoiding the full
    cross product (the scale path when the query set is large)."""
    emb_sig = hyperplane_signatures(embeddings, id_col, vec_col, dim, n_bits, seed)
    q_sig = hyperplane_signatures(
        queries.select(
            F.col(query_id_col).alias(id_col), F.col(query_vec_col).alias(vec_col)
        ),
        id_col,
        vec_col,
        dim,
        n_bits,
        seed,
    ).select(F.col(id_col).alias(query_id_col), F.col("bucket").alias("q_bucket"))

    cand = emb_sig.join(q_sig, emb_sig.bucket == q_sig.q_bucket).select(
        query_id_col, F.col(id_col).alias("neighbor_id")
    )
    joined = (
        cand.join(
            embeddings.select(F.col(id_col).alias("neighbor_id"), vec_col), "neighbor_id"
        )
        .join(F.broadcast(queries), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col(vec_col), F.col(query_vec_col)).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------------------ IVF


def _kmeans(sample: np.ndarray, n_centroids: int, seed: int, iters: int = 8) -> np.ndarray:
    """Small deterministic k-means (driver-side, on a bounded sample)."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(sample.shape[0], size=min(n_centroids, sample.shape[0]), replace=False)
    cents = sample[idx].copy()
    for _ in range(iters):
        # cosine assignment: normalize then argmax dot
        sn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(sn @ cn.T, axis=1)
        for c in range(cents.shape[0]):
            members = sample[assign == c]
            if members.shape[0]:
                cents[c] = members.mean(axis=0)
    return cents


def _train_sample(
    df: DataFrame, vec_col: str, sample_limit: int, seed: int
) -> np.ndarray:
    """Bounded UNBIASED training sample, collected to the driver.

    A bare ``.limit(sample_limit)`` takes the FIRST partitions' rows —
    on any sorted/clustered real corpus the centroids/codebooks would
    train on one shard's distribution (r13 verdict finding).  Instead:
    a seeded Bernoulli ``sample()`` sized from a count, oversampled
    1.2x so the post-limit row count reaches ``sample_limit`` w.h.p.;
    the ``limit`` still bounds the driver collect regardless of how
    the sample lands.  Deterministic given the seed and input
    partitioning."""
    sel = df.select(vec_col)
    n = sel.count()
    rows = []
    if 0 < n <= sample_limit:
        rows = sel.collect()
    elif n > sample_limit:
        frac = min(1.0, 1.2 * sample_limit / n)
        rows = sel.sample(fraction=frac, seed=seed).limit(sample_limit).collect()
        if not rows:  # pathological undersample on tiny fractions
            rows = sel.limit(sample_limit).collect()
    return np.array([r[0] for r in rows], dtype=np.float64)


def ivf_build(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 29,
    sample_limit: int = 10_000,
):
    """Train a coarse quantizer and assign every vector to a centroid.

    Returns (assigned_df with ``centroid_id``, centroids ndarray).  At
    scale, persist ``assigned_df`` partitioned by ``centroid_id`` so
    probe-time reads prune partitions:
    ``assigned.write.partitionBy('centroid_id').parquet(...)``.
    The k-means runs driver-side on a bounded seeded sample
    (:func:`_train_sample` — unbiased under any corpus ordering);
    assignment is a map-only Arrow pass.
    """
    sample = _train_sample(df, vec_col, sample_limit, seed)
    cents = _kmeans(sample, n_centroids, seed)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("centroid_id", LongType(), True),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "centroid_id": np.argmax(mn @ cn.T, axis=1)}
            )

    assigned = df.join(
        df.select(id_col, vec_col).mapInPandas(assign, schema=schema), id_col
    )
    return assigned, cents


def save_ivf_index(
    assigned: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: vectors partitioned BY CENTROID on disk.

    The physical layout IS the index — probe-time reads of
    ``n_probes`` cells become parquet partition pruning (plus dynamic
    partition pruning through the broadcast probe join in
    :func:`ivf_topk`), so a query touches n_probes/n_centroids of the
    corpus bytes.  The centroid table rides along so the index is
    self-contained."""
    spark = assigned.sparkSession
    (
        assigned.select(id_col, vec_col, "centroid_id")
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(f"{path}/vectors")
    )
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    (
        spark.createDataFrame(cent_rows, "centroid_id long, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )


def load_ivf_index(spark, path: str):
    """(assigned_df, centroids ndarray) back from :func:`save_ivf_index` —
    ready for :func:`ivf_topk`."""
    assigned = spark.read.parquet(f"{path}/vectors")
    crows = (
        spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    )
    cents = np.array([r["centroid"] for r in crows], dtype=np.float64)
    return assigned, cents


def _probe_cells(
    queries: DataFrame,
    centroids: np.ndarray,
    n_probes: int,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """(query_id, centroid_id) for each query's n_probes nearest
    cells — DISTRIBUTED probe assignment (mapInPandas over the query
    DataFrame, tiny normalized centroid matrix in the closure), so a
    million-query DataFrame works the same as ten queries."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    n_probes = min(n_probes, cn.shape[0])
    probe_schema = StructType(
        [
            StructField(query_id_col, queries.schema[query_id_col].dataType, True),
            StructField("centroid_id", LongType(), True),
        ]
    )

    def probe_assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf[query_vec_col].tolist(), dtype=np.float64)
            mn = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            # stable per-row sort keeps probe sets deterministic on ties
            top = np.argsort(-(mn @ cn.T), axis=1, kind="stable")[:, :n_probes]
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(
                        pdf[query_id_col].to_numpy(), n_probes
                    ),
                    "centroid_id": top.ravel().astype(np.int64),
                }
            )

    return queries.select(query_id_col, query_vec_col).mapInPandas(
        probe_assign, schema=probe_schema
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF search: per query, scan only the ``n_probes`` nearest
    centroid cells (a pushed-down IN filter -> partition pruning when
    the index is stored partitioned by centroid_id), re-rank exactly.

    Probe assignment is DISTRIBUTED: a ``mapInPandas`` over the query
    DataFrame with the (tiny) normalized centroid matrix in the UDF
    closure — the query set never visits the driver, so a
    million-query DataFrame works the same as ten queries.  Leave
    ``broadcast_queries`` on for interactive query sets (both joins
    broadcast); set it False for a LARGE query DataFrame so the
    candidate/query joins shuffle instead of broadcasting (AQE picks
    the strategy) — nothing in the plan is driver-bound either way.
    """
    probe_df = _probe_cells(queries, centroids, n_probes, query_id_col, query_vec_col)
    maybe_bcast = F.broadcast if broadcast_queries else (lambda d: d)
    cand = assigned.join(maybe_bcast(probe_df), "centroid_id").select(
        query_id_col, F.col(id_col).alias("neighbor_id"), vec_col
    )
    joined = cand.join(maybe_bcast(queries), query_id_col).select(
        query_id_col,
        "neighbor_id",
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------------- product quantization
#
# The third ANN path, for when even an IVF cell scan is too many bytes:
# vectors are compressed to m uint8 codes (one per subvector block), so
# the search scan reads m bytes/vector instead of 4*dim — 16-64x less
# I/O at 100 TB — and scoring is an m-entry table gather instead of a
# dim-length dot product (asymmetric distance computation, ADC).
# Training is driver-side k-means per block on a bounded sample (the
# ivf_build pattern); encoding is a map-only Arrow pass; search is the
# brute_force_topk plan shape with the heavy per-pair math replaced by
# LUT lookups and an optional exact re-rank of the ADC shortlist.


def _kmeans_l2(sample: np.ndarray, k: int, seed: int, iters: int = 10) -> np.ndarray:
    """Deterministic euclidean Lloyd iterations (driver-side)."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(sample.shape[0], size=min(k, sample.shape[0]), replace=False)
    cents = sample[idx].copy()
    for _ in range(iters):
        d = -2.0 * sample @ cents.T + (cents**2).sum(axis=1)[None, :]
        assign = np.argmin(d, axis=1)
        for c in range(cents.shape[0]):
            members = sample[assign == c]
            if members.shape[0]:
                cents[c] = members.mean(axis=0)
    return cents


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    seed: int = 31,
    sample_limit: int = 10_000,
) -> np.ndarray:
    """Train PQ codebooks: ndarray (m, 2^nbits, dim/m).

    Vectors are L2-normalized before splitting into ``m`` equal
    blocks, so ADC inner-product scores approximate COSINE similarity
    (the convention every other operator here ranks by).  ``dim`` must
    be divisible by ``m``.  Deterministic given the seed; the training
    sample is a seeded Bernoulli sample (:func:`_train_sample`), not
    the first partitions' rows."""
    sample = _train_sample(df, vec_col, sample_limit, seed)
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    sn = _normalize_rows(sample)
    dsub = dim // m
    return np.stack(
        [
            _kmeans_l2(sn[:, b * dsub : (b + 1) * dsub], 1 << nbits, seed + b)
            for b in range(m)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<smallint>[m]) — map-only Arrow pass; persist
    the result as the compressed search table (m bytes of payload per
    vector at nbits=8)."""
    from pyspark.sql.types import ArrayType, ShortType  # noqa: PLC0415

    m, _, dsub = codebooks.shape
    cb = codebooks.copy()
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("codes", ArrayType(ShortType()), True),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _normalize_rows(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            codes = np.empty((mat.shape[0], m), dtype=np.int16)
            for b in range(m):
                block = mat[:, b * dsub : (b + 1) * dsub]
                d = -2.0 * block @ cb[b].T + (cb[b] ** 2).sum(axis=1)[None, :]
                codes[:, b] = np.argmin(d, axis=1).astype(np.int16)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(encode, schema=schema)


def _adc_score_udf(codebooks: np.ndarray):
    """Arrow-batched ADC scorer: (query_id, query_vec, codes) ->
    approximate cosine.  LUTs (m x 2^nbits inner products per query)
    are built for ALL distinct queries in the batch at once via a
    batched matmul, in bounded blocks so LUT memory stays ~MBs
    regardless of batch width; scoring is then one fancy-indexed
    m-entry gather per row.  The block path is what keeps the
    ``broadcast_queries=False`` batch-offline shape (millions of
    DISTINCT queries per batch) from degenerating into a per-row
    Python loop — measured in BASELINE_LOCAL.md "ADC batch scoring"."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    m, _, dsub = codebooks.shape
    cb = codebooks.copy()
    cb_t = np.ascontiguousarray(cb.transpose(0, 2, 1))  # (m, dsub, ksub)
    block = 512  # 512 * m * ksub doubles ≈ 8 MB of LUTs at 8x256

    @pandas_udf("double")
    def adc_score(qid: pd.Series, qvec: pd.Series, code_s: pd.Series) -> pd.Series:
        if not len(qid):
            return pd.Series([], dtype="float64")
        codes_mat = np.array(code_s.tolist(), dtype=np.int64)
        out = np.empty(len(qid), dtype=np.float64)
        uniq, first_idx, inv = np.unique(
            qid.to_numpy(), return_index=True, return_inverse=True
        )
        cols = np.arange(m)[None, :]
        for lo in range(0, uniq.size, block):
            hi = min(lo + block, uniq.size)
            qmat = np.array(
                [qvec.iloc[i] for i in first_idx[lo:hi]], dtype=np.float64
            )
            qmat = _normalize_rows(qmat).reshape(hi - lo, m, 1, dsub)
            # (q, m, 1, dsub) @ (m, dsub, ksub) -> (q, m, 1, ksub)
            luts = np.matmul(qmat, cb_t)[:, :, 0, :]
            rows = np.nonzero((inv >= lo) & (inv < hi))[0]
            out[rows] = luts[
                inv[rows][:, None] - lo, cols, codes_mat[rows]
            ].sum(axis=1)
        return pd.Series(out)

    return adc_score


def _exact_rerank(
    shortlist_df: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    broadcast_queries: bool = True,
) -> DataFrame:
    maybe_bcast = F.broadcast if broadcast_queries else (lambda d: d)
    exact = (
        shortlist_df.select(query_id_col, "neighbor_id")
        .join(
            embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            "neighbor_id",
        )
        .join(maybe_bcast(queries), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col(vec_col), F.col(query_vec_col)).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return exact.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    rerank: int = 0,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes (ADC), optionally
    exact-re-ranked.

    Plan shape = :func:`brute_force_topk` (broadcast queries, stream
    the corpus, WindowGroupLimit top-k) with two substitutions that
    are the whole point at scale: the corpus side ships CODES (m
    bytes/vector) instead of raw vectors, and the per-pair score is an
    m-entry LUT gather (numpy take per Arrow batch, one LUT per
    distinct query per batch) instead of a dim-length dot product.
    Everything stays distributed — queries never visit the driver.

    ``broadcast_queries=True`` (default) suits interactive query sets;
    set it False for a LARGE query DataFrame (a batch offline ANN job
    with millions of queries) so the pairing and re-rank joins shuffle
    instead of building a driver-side broadcast — same contract as
    :func:`ivf_topk`.

    ``rerank > 0`` keeps the top ``rerank`` ADC candidates per query
    and re-scores them exactly against ``embeddings`` (required then)
    — the standard PQ + re-rank recipe; recall floors for both modes
    are gated in tests/test_scalepath_properties.py."""
    adc_score = _adc_score_udf(codebooks)
    maybe_bcast = F.broadcast if broadcast_queries else (lambda d: d)
    pairs = codes.crossJoin(maybe_bcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        adc_score(F.col(query_id_col), F.col(query_vec_col), F.col("codes")).alias(
            "adc_sim"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    shortlist = k if rerank <= 0 else max(rerank, k)
    top = pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= shortlist
    )
    if rerank <= 0:
        return top
    if embeddings is None:
        raise ValueError("rerank > 0 needs the raw `embeddings` DataFrame")
    return _exact_rerank(
        top, embeddings, queries, k, id_col, vec_col, query_id_col,
        query_vec_col, broadcast_queries,
    )


def save_pq_index(
    codes: DataFrame,
    codebooks: np.ndarray,
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Persist a PQ index: the (id, codes) table + the trained
    codebooks, self-contained.  The code table is the whole search
    input at probe time (m bytes/vector instead of 4*dim — the 16-64x
    I/O cut that makes PQ the 100 TB scan path); codebooks ride along
    as one tiny parquet so a loader needs no retraining (training is
    seeded but the sample is partitioning-dependent — shipping the
    trained bytes, not the recipe, is what makes results stable
    across environments)."""
    spark = codes.sparkSession
    codes.select(id_col, "codes").write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    m, ksub, dsub = codebooks.shape
    rows = [
        (int(b), int(c), [float(x) for x in codebooks[b, c]])
        for b in range(m)
        for c in range(ksub)
    ]
    (
        spark.createDataFrame(
            rows, "block int, code int, centroid array<double>"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/codebooks")
    )


def _load_codebooks(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("block", "code").collect()
    m = 1 + max(r["block"] for r in rows)
    ksub = 1 + max(r["code"] for r in rows)
    dsub = len(rows[0]["centroid"])
    cb = np.empty((m, ksub, dsub), dtype=np.float64)
    for r in rows:
        cb[r["block"], r["code"]] = r["centroid"]
    return cb


def load_pq_index(spark, path: str):
    """(codes_df, codebooks ndarray) back from :func:`save_pq_index` —
    ready for :func:`pq_topk`."""
    return spark.read.parquet(f"{path}/codes"), _load_codebooks(spark, path)


def save_ivfpq_index(
    assigned_codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Persist an IVF-PQ index: the slim (id, centroid_id, codes)
    table written PARTITIONED BY centroid_id (probe-time reads of
    n_probes cells become parquet partition pruning — the ivf layout)
    + the coarse centroids + the PQ codebooks.  The layout is the
    billion-scale serving shape: a query touches n_probes/n_centroids
    of an already-16-64x-compressed corpus."""
    spark = assigned_codes.sparkSession
    (
        assigned_codes.select(id_col, "codes", "centroid_id")
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(f"{path}/codes")
    )
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    (
        spark.createDataFrame(cent_rows, "centroid_id long, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )
    m, ksub, _ = codebooks.shape
    cb_rows = [
        (int(b), int(c), [float(x) for x in codebooks[b, c]])
        for b in range(m)
        for c in range(ksub)
    ]
    (
        spark.createDataFrame(cb_rows, "block int, code int, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/codebooks")
    )


def load_ivfpq_index(spark, path: str):
    """(assigned_codes_df, centroids, codebooks) back from
    :func:`save_ivfpq_index` — ready for :func:`ivfpq_topk`."""
    codes = spark.read.parquet(f"{path}/codes")
    crows = spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    cents = np.array([r["centroid"] for r in crows], dtype=np.float64)
    return codes, cents, _load_codebooks(spark, path)


def ivfpq_topk(
    assigned_codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 4,
    rerank: int = 0,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF-PQ: the billion-scale composition — per query, scan only
    the ``n_probes`` nearest cells (partition pruning when the code
    table is stored partitioned by centroid_id) AND score those
    candidates from m-byte PQ codes (ADC), optionally exact-re-ranking
    the shortlist.  ``assigned_codes`` is (id, centroid_id, codes):
    join :func:`ivf_build`'s assignment with :func:`pq_encode`'s
    codes and persist that slim table — the raw vectors are touched
    only by the optional re-rank.

    With ``n_probes == n_centroids`` and a corpus-covering ``rerank``
    this provably reproduces brute force (the oracle-gate
    configuration, ivfpq_ann_topk); scale-config recall floors live in
    tests/test_scalepath_properties.py.  ``broadcast_queries=False``
    is the batch-offline path for query sets too large to broadcast —
    the probe/query/re-rank joins shuffle instead (same contract as
    :func:`ivf_topk`)."""
    probe_df = _probe_cells(queries, centroids, n_probes, query_id_col, query_vec_col)
    adc_score = _adc_score_udf(codebooks)
    maybe_bcast = F.broadcast if broadcast_queries else (lambda d: d)
    cand = assigned_codes.join(maybe_bcast(probe_df), "centroid_id").select(
        query_id_col, F.col(id_col).alias("neighbor_id"), "codes"
    )
    pairs = cand.join(maybe_bcast(queries), query_id_col).select(
        query_id_col,
        "neighbor_id",
        adc_score(F.col(query_id_col), F.col(query_vec_col), F.col("codes")).alias(
            "adc_sim"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    shortlist = k if rerank <= 0 else max(rerank, k)
    top = pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= shortlist
    )
    if rerank <= 0:
        return top
    if embeddings is None:
        raise ValueError("rerank > 0 needs the raw `embeddings` DataFrame")
    return _exact_rerank(
        top, embeddings, queries, k, id_col, vec_col, query_id_col,
        query_vec_col, broadcast_queries,
    )


def embedding_cosine_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 10,
    seed: int = 13,
) -> DataFrame:
    """Near-duplicate (id_a < id_b, cosine) pairs above threshold via
    LSH buckets (high-cosine pairs land in the same bucket with high
    probability) + exact verification."""
    # persist: the self-join puts the signature mapInPandas pass in TWO
    # plan branches; unpersisted, Spark recomputes the Python pass per
    # branch (same fix as the minhash signatures in dedup.py)
    sig = hyperplane_signatures(df, id_col, vec_col, dim, n_bits, seed).persist()
    a, b = sig.alias("a"), sig.alias("b")
    cand = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    ea = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    eb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cosine(F.col("vec_a"), F.col("vec_b")).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# ------------------------------------------------------------ semantic dedup

_SQL_ASSIGN_MAX_CLUSTERS = 64


def assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    engine: str = "arrow",
) -> DataFrame:
    """Nearest-centroid (max-cosine) assignment as a pure map stage.

    ``engine='arrow'``: one vectorized numpy argmax per Arrow batch
    (the scale path — O(dim) BLAS per row, any number of centroids).
    ``engine='sql'``: an all-JVM expression — per-centroid
    :func:`cosine` into an array, then ``array_position(arr,
    array_max(arr))`` (first-max == smallest centroid id on ties).
    The sql engine folds doubles in the same sequential order DuckDB
    does, so assignments are bit-reproducible for SQL audits/oracles;
    its expression tree grows with ``n_clusters * dim`` so it is
    capped at 64 clusters (same codegen-size cutover as
    rangepart.partition_ids).  Both engines break cosine ties toward
    the smaller centroid id; they can differ only when BLAS summation
    order makes two cosines cross within float rounding.

    Alongside the cluster id, ``cent_sim`` carries the winning cosine
    (similarity to the assigned centroid) — the ordering key for
    SemDeDup's which_to_keep='hard'/'easy' scans.  The sql engine
    leaves it NULL for zero-norm vectors (0/0); the arrow engine's
    norm guard yields 0.0 there.
    """
    k, _dim = centroids.shape
    sim_col = "cent_sim"
    if engine == "sql":
        if k > _SQL_ASSIGN_MAX_CLUSTERS:
            raise ValueError(
                f"assign_clusters engine='sql' caps at {_SQL_ASSIGN_MAX_CLUSTERS} "
                f"clusters (expression size grows with n_clusters*dim); "
                f"got {k} — use engine='arrow'"
            )
        v = F.col(vec_col)
        cos_arr = F.array(
            *[
                cosine(v, F.array(*[F.lit(float(x)) for x in c]))
                for c in centroids
            ]
        )
        return df.withColumn(
            cluster_col,
            (F.array_position(cos_arr, F.array_max(cos_arr)) - 1).cast("long"),
        ).withColumn(sim_col, F.array_max(cos_arr))
    if engine != "arrow":
        raise ValueError(f"unknown assign engine: {engine!r}")

    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    # pass-through map: every input column rides the Arrow stream and
    # the cluster id is appended — NO join back to df, so the whole
    # assignment is a zero-exchange map stage at any scale (ivf_build's
    # join-back shape turns into a full shuffle join once the
    # assignment side outgrows the broadcast threshold).  Transfer cost
    # scales with column count — hand this a slim projection.
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField(cluster_col, LongType(), True),
            StructField(sim_col, DoubleType(), True),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            if not len(pdf):
                out[cluster_col] = np.array([], dtype=np.int64)
                out[sim_col] = np.array([], dtype=np.float64)
                yield out
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            mn = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            sims = mn @ cn.T
            out[cluster_col] = np.argmax(sims, axis=1)
            out[sim_col] = np.max(sims, axis=1)
            yield out

    return df.mapInPandas(assign, schema=schema)


def write_cluster_assignments(
    df: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    engine: str = "arrow",
) -> None:
    """Materialize :func:`assign_clusters` output partitioned BY
    CLUSTER on disk (+ the centroids as a tiny sidecar parquet, so the
    table is self-contained like :func:`save_ivf_index`).

    This is semantic dedup's 100 TB route: the assignment pass — the
    only Python stage — runs ONCE at write time, and every later
    :func:`semantic_dedup` call with ``assignments=`` this path is
    pure JVM (scan -> self-join -> anti-join).  The cluster partition
    layout also means per-cluster reprocessing reads one directory."""
    spark = df.sparkSession
    assigned = assign_clusters(
        df.select(id_col, vec_col), centroids, id_col, vec_col,
        cluster_col, engine=engine,
    )
    assigned.write.partitionBy(cluster_col).mode("overwrite").parquet(
        f"{path}/assignments"
    )
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    (
        spark.createDataFrame(cent_rows, "centroid_id long, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )


def read_cluster_assignments(spark, path: str) -> DataFrame:
    """The assignment table back from :func:`write_cluster_assignments`
    (centroids sidecar is not needed for the dedup pair scan)."""
    return spark.read.parquet(f"{path}/assignments")


def upsert_cluster_assignments(
    new_df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    engine: str = "arrow",
) -> str:
    """Incrementally extend a stored assignment table with NEW rows.

    The incremental half of :func:`write_cluster_assignments`'s
    contract: the stored centroid sidecar defines the (frozen) cluster
    geometry, assignment runs ONLY for ids not already present (a
    left-anti join against the stored id column), and the new rows
    APPEND in the same cluster-partitioned layout — existing files are
    never rewritten, so the upsert costs O(new rows), not O(corpus).
    Assignment is deterministic given the centroids, so upserting
    ``new`` into a table built from ``base`` equals a from-scratch
    write over ``base UNION new`` (tested).  Returns ``path``.
    """
    spark = new_df.sparkSession
    crows = (
        spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    )
    centroids = np.array([r["centroid"] for r in crows], dtype=np.float64)
    existing = read_cluster_assignments(spark, path)
    fresh = new_df.select(id_col, vec_col).join(
        existing.select(id_col), id_col, "left_anti"
    )
    assigned = assign_clusters(
        fresh, centroids, id_col, vec_col, cluster_col, engine=engine
    )
    assigned.write.partitionBy(cluster_col).mode("append").parquet(
        f"{path}/assignments"
    )
    return path


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    seed: int = 29,
    centroids: "np.ndarray | None" = None,
    sample_limit: int = 10_000,
    assign_engine: str = "arrow",
    cluster_col: str = "cluster_id",
    keep_cluster_col: bool = False,
    assignments: "DataFrame | str | None" = None,
    which_to_keep: str = "first",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column.

    Cluster the corpus with a coarse k-means (cosine), then within
    each cluster drop every row that has an EARLIER row (in the
    ``which_to_keep`` scan order) in the same cluster with cosine >=
    ``threshold`` (Abbas et al. 2023, arXiv:2303.09540; the one-shot
    drop rule is NeMo-Curator's formulation).  Returns the kept rows
    with their original columns (+ ``cluster_col`` when
    ``keep_cluster_col``).

    ``which_to_keep`` picks which member of a duplicate group
    survives — NeMo-Curator's knob:

    - ``'first'`` (default): id ascending — deterministic without the
      centroid-similarity column, cheapest (no window).
    - ``'hard'``: ascending similarity-to-centroid (cluster-edge
      examples survive — the paper's diversity-preserving choice).
    - ``'easy'``: descending similarity-to-centroid (prototypical
      examples survive).

    Both non-default orders tie-break on id and rank NULL cent_sim
    (zero-norm vectors under the sql engine) last.

    The rule is deliberately NON-transitive: with a~b, b~c, a!~c the
    chain keeps only a (b drops against a, c against b) — one pass,
    no iteration.  For transitive-closure semantics over text use
    :func:`datasketches_spark.pipeline.dedup.fuzzy_dedup`.

    Scale shape: centroid training is a bounded seeded driver sample
    (:func:`_train_sample`); assignment is map-only; the only shuffle
    is the within-cluster self-join, whose work is sum(cluster_size^2)
    — size ``n_clusters`` ~ n/target_cluster_size (SemDeDup uses
    ~sqrt(n)) and let AQE's skew-join split outlier-heavy clusters.
    The slim (id, vec, cluster) projection is what shuffles; full rows
    rejoin only for the kept set.  At 100 TB, persist the assignment
    once (``assigned.write.partitionBy(cluster_col)``) and run the
    pair scan per cluster partition.

    Pairs with a zero-norm vector have NULL cosine and never drop.

    ``assignments=`` (a DataFrame with (id, vec, cluster) columns, or
    a :func:`write_cluster_assignments` path) skips clustering AND
    assignment entirely — the stored table IS the materialization, the
    plan is pure JVM, and ``centroids``/``assign_engine`` are ignored.

    Columns in the assignment table must match ``id_col``/``vec_col``/
    ``cluster_col``.
    """
    if which_to_keep not in ("first", "hard", "easy"):
        raise ValueError(
            f"which_to_keep must be 'first', 'hard', or 'easy'; "
            f"got {which_to_keep!r}"
        )
    if assignments is not None:
        if isinstance(assignments, str):
            assignments = read_cluster_assignments(df.sparkSession, assignments)
        need = {id_col, vec_col, cluster_col}
        if which_to_keep != "first":
            need.add("cent_sim")
        missing = need - set(assignments.columns)
        if missing:
            raise ValueError(
                f"assignments table lacks column(s) {sorted(missing)}; "
                f"expected ({', '.join(sorted(need))})"
            )
        # stored table: already materialized, no persist needed.  The
        # cast normalizes the cluster id back to long — a disk table
        # partitioned by cluster re-infers the partition column as int
        keep_extra = ["cent_sim"] if which_to_keep != "first" else []
        assigned = assignments.select(
            id_col,
            vec_col,
            F.col(cluster_col).cast("long").alias(cluster_col),
            *keep_extra,
        )
    else:
        if centroids is None:
            sample = _train_sample(df, vec_col, sample_limit, seed)
            if sample.size == 0:
                # empty corpus: nothing to train on, nothing to drop
                if keep_cluster_col:
                    return df.withColumn(cluster_col, F.lit(None).cast("long"))
                return df
            centroids = _kmeans(sample, n_clusters, seed)
        centroids = np.asarray(centroids, dtype=np.float64)

        slim = df.select(id_col, vec_col)
        assigned = assign_clusters(
            slim, centroids, id_col, vec_col, cluster_col, engine=assign_engine
        )
    if which_to_keep == "first":
        scan_col = id_col  # id ascending, no window needed
    else:
        # scan rank within the cluster: 'hard' keeps cluster-edge rows
        # (low centroid similarity first), 'easy' keeps prototypes.
        # asc/desc_nulls_last matches the DuckDB oracle's NULLS LAST.
        sim = F.col("cent_sim")
        order = (
            sim.asc_nulls_last() if which_to_keep == "hard"
            else sim.desc_nulls_last()
        )
        w = Window.partitionBy(cluster_col).orderBy(order, F.col(id_col))
        scan_col = "__scan_rank"
        assigned = assigned.withColumn(scan_col, F.row_number().over(w))
    if assignments is None:
        # persist AFTER the rank column: the self-join puts the
        # assignment (a Python pass on the arrow engine) and the rank
        # window in two plan branches — cached once, both read it
        # (same fix as the LSH signatures).  The stored route skips
        # this: the parquet table is the materialization.
        assigned = assigned.persist()
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col(f"a.{cluster_col}") == F.col(f"b.{cluster_col}"))
            & (F.col(f"b.{scan_col}") < F.col(f"a.{scan_col}")),
        )
        .filter(
            cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
            >= F.lit(float(threshold))
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    # same anti-join prune as fuzzy_dedup: `dropped` is derived through
    # a Python assignment pass, so corpus-scale plans sort-merge the
    # whole corpus against it; the Bloom split shuffles only
    # possibly-dropped rows (plain broadcast plans are kept unchanged).
    # On the stored-assignments route the plan stays pure JVM (r13,
    # pinned by test_stored_assignments_route): on a classic session
    # the Bloom probe is Catalyst's might_contain for every id type.
    from ..runtime_filter import anti_join_pruned  # noqa: PLC0415

    kept = anti_join_pruned(df, dropped, id_col)
    if keep_cluster_col:
        kept = kept.join(assigned.select(id_col, cluster_col), id_col)
    return kept


# ------------------------------------------------------------ quantization


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "codes",
    scale_col: str = "scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization of a float vector column.

    The standard storage trick for large embedding corpora (4x smaller
    than float32, 8x than float64): ``scale = max|x| / 127``, ``code =
    floor(x / scale + 0.5)`` clipped to [-127, 127].  Floor-based
    rounding (not banker's) is used deliberately so the arithmetic is
    bit-reproducible across engines -- the DuckDB oracle replicates it
    with ``list_transform`` and hash-matches.  Everything is JVM
    ``transform``/``array_max`` expressions inside codegen; at 100 TB
    this is a pure map stage, no shuffle, no Python.

    Zero vectors get scale=0 and all-zero codes.  Reconstruction error
    is bounded by scale/2 per component (uniform quantization).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = (amax / F.lit(127.0)).alias(scale_col)
    code = F.transform(
        v,
        lambda x: F.when(F.col(scale_col) == 0.0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x / F.col(scale_col) + F.lit(0.5)).cast("int"),
                ),
            )
        )
        .cast("int"),
    )
    return df.withColumn(scale_col, scale).withColumn(code_col, code)


def dequantize_int8(
    df: DataFrame,
    code_col: str = "codes",
    scale_col: str = "scale",
    out_col: str = "dequantized",
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: ``x_hat = code * scale``."""
    return df.withColumn(
        out_col,
        F.transform(F.col(code_col), lambda c: c.cast("double") * F.col(scale_col)),
    )
