"""One-call approximate answers over DataFrames (ergonomic layer).

The reference's user asks four questions constantly: how many
distinct, what quantile, who's frequent, give me a sample.  Each
helper here answers one of them in a single call, built on the
two-phase scale path (`aggregation.sketch_agg`) so the same line that
works on 60k rows works on 100 TB — only bounded sketch blobs ever
cross a shuffle.  All return plain DataFrames with named columns.

Requires :func:`datasketches_spark.register` to have run (the scalar
decode step uses the registered SQL functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregation import sketch_agg


def distinct(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    lg_k: int = 16,
    output_col: str = "approx_distinct",
    engine: str = "sketch",
) -> DataFrame:
    """Approximate COUNT(DISTINCT col) [GROUP BY by] via theta.

    ``engine="sketch"`` is :func:`aggregation.theta_agg_hybrid`: Spark's
    own ``theta_sketch_agg`` builds and merges the sketch for the types
    it takes, and NaN counts as a value, as in ``COUNT(DISTINCT)``.
    ``engine="native"`` uses Spark's built-in JVM HLL
    (``hll_sketch_agg``; whole-stage codegen, zero Python transfer) —
    the raw-throughput path when you don't need theta's set algebra or
    the stored-blob scalar surface.  lg_k is capped at 21 there.
    """
    by = list(by or [])
    if engine == "native":
        est = F.round(
            F.hll_sketch_estimate(F.hll_sketch_agg(F.col(col), min(lg_k, 21)))
        ).cast("bigint").alias(output_col)
        return df.groupBy(*by).agg(est) if by else df.agg(est)
    # estimate-only call: no Python build or merge stage; sketch_agg
    # remains the path when the blob itself is wanted
    from .aggregation import theta_agg_hybrid

    out = theta_agg_hybrid(df, col, group_cols=by, lg_k=lg_k)
    return out.select(
        *by, F.round("estimate").cast("bigint").alias(output_col)
    )


def distinct_sum(
    df: DataFrame,
    key: str,
    value_cols: list[str],
    by: list[str] | None = None,
    lg_k: int = 16,
) -> DataFrame:
    """Approximate ``COUNT(DISTINCT key)`` AND ``SUM(v)`` per group
    from ONE bounded blob — the ArrayOfDoubles tuple sketch
    (sketches/tuple_aod.py): repeated keys sum their summaries, so
    the summary estimator answers the column totals exactly when
    exact-mode and within the theta band otherwise.  Output columns:
    ``approx_distinct`` + ``sum_<col>`` per value column, answered in
    the merge round (fused finalize — no extra Python pass)."""
    by = list(by or [])
    from .aggregation import tuple_sketch_agg

    names = [f"sum_{c}" for c in value_cols]

    def _fin(sk):
        sums = sk.column_sums()
        out = {"approx_distinct": int(round(sk.get_estimate()))}
        out.update({n: float(s) for n, s in zip(names, sums)})
        return out

    schema = "approx_distinct long, " + ", ".join(f"{n} double" for n in names)
    return tuple_sketch_agg(
        df, key, value_cols, group_cols=by, lg_k=lg_k,
        finalize=_fin, finalize_schema=schema,
    )


def top_distinct_groups(
    df: DataFrame,
    dim_cols: list[str],
    group_dims: list[int] | None = None,
    limit: int = 20,
    lg_k: int = 14,
) -> DataFrame:
    """Which dimension-value groups contain the most DISTINCT tuples —
    from ONE bounded FDT blob (sketches/fdt.py), no GROUP BY
    COUNT(DISTINCT) shuffle.  ``dim_cols`` are string dimensions
    forming the tuple; ``group_dims`` are positions to group by
    (default: all but the last).  Returns (group, count, estimate,
    lower_bound, upper_bound) rows, top ``limit`` by count."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    dims = group_dims if group_dims is not None else list(range(len(dim_cols) - 1))
    if not dims:
        raise ValueError("group_dims must name at least one position")
    tup = df.select(
        F.array(*[F.col(c).cast("string") for c in dim_cols]).alias("__tup")
    )
    sk = sketch_agg(tup, "__tup", "fdt", k=lg_k)
    dim_sql = ", ".join(str(int(d)) for d in dims)
    return (
        sk.select(
            F.explode(
                F.expr(
                    f"datasketch_fdt_top_groups(sketch, array({dim_sql}),"
                    f" {int(limit)})"
                )
            ).alias("g")
        )
        .select("g.group", "g.count", "g.estimate", "g.lower_bound", "g.upper_bound")
    )


def quantiles(
    df: DataFrame,
    col: str,
    probabilities: list[float],
    by: list[str] | None = None,
    k: int = 200,
    engine: str = "sketch",
) -> DataFrame:
    """Approximate quantiles via KLL: one ``q_<pct>`` column per
    requested probability (mirrors ``approx_percentile`` ergonomics
    with mergeable state underneath).

    ``engine="native"`` uses Spark's built-in ``percentile_approx``
    (JVM QuantileSummaries, accuracy=10000) — fastest when you don't
    need mergeable/storable quantile state.

    A STRING column routes to the string-items KLL
    (``datasketch_kll_items`` — quantiles over the lexicographic
    order; sketch engine only, Spark has no native string
    percentile).
    """
    from pyspark.sql.types import StringType

    by = list(by or [])
    if isinstance(df.schema[col].dataType, StringType):
        if engine == "native":
            raise ValueError(
                "percentile_approx has no string overload — use "
                "engine='sketch' for string quantiles (kll_items)"
            )
        sk = sketch_agg(df, col, "kll_items", group_cols=by, k=k)
        cols = [
            F.expr(
                f"datasketch_kll_items_quantile(sketch, {float(p)}D, true)"
            ).alias(f"q_{str(p).replace('.', '_')}")
            for p in probabilities
        ]
        return sk.select(*by, *cols)
    if engine == "native":
        cols = [
            F.percentile_approx(F.col(col), float(p), 10000).alias(
                f"q_{str(p).replace('.', '_')}"
            )
            for p in probabilities
        ]
        return df.groupBy(*by).agg(*cols) if by else df.agg(*cols)
    sk = sketch_agg(df, col, "kll", group_cols=by, k=k)
    cols = [
        F.expr(f"datasketch_kll_quantile(sketch, {float(p)}D, true)").alias(
            f"q_{str(p).replace('.', '_')}"
        )
        for p in probabilities
    ]
    return sk.select(*by, *cols)


def top_items(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    lg_max_k: int = 10,
    engine: str = "sketch",
    k: int = 10,
) -> DataFrame:
    """Heavy hitters via Frequent Items: (by..., item, estimate,
    lower_bound, upper_bound) rows, NO_FALSE_POSITIVES.

    ``engine="native"`` uses Spark's built-in ``approx_top_k`` (JVM,
    no Python): returns the top ``k`` items as (by..., item, estimate)
    — no error bounds, and items come back as strings.
    """
    by = list(by or [])
    if engine == "native":
        from .functions.native import approx_top_k as _atk

        top = (
            df.groupBy(*by).agg(_atk(F.col(col), k=k).alias("tk"))
            if by
            else df.agg(_atk(F.col(col), k=k).alias("tk"))
        )
        r = top.select(*by, F.explode("tk").alias("r"))
        return r.select(
            *by,
            F.col("r.item").cast("string").alias("item"),
            F.col("r.count").alias("estimate"),
        )
    sk = sketch_agg(df, col, "frequent_items", group_cols=by, k=lg_max_k)
    exploded = sk.select(
        *by,
        F.explode(
            F.expr(
                "datasketch_frequent_items_get_frequent(sketch, 'NO_FALSE_POSITIVES')"
            )
        ).alias("r"),
    )
    return exploded.select(
        *by,
        F.col("r.item").alias("item"),
        F.col("r.estimate").alias("estimate"),
        F.col("r.lower_bound").alias("lower_bound"),
        F.col("r.upper_bound").alias("upper_bound"),
    )


def sample(
    df: DataFrame,
    col: str,
    k: int = 1000,
    by: list[str] | None = None,
    output_col: str = "item",
) -> DataFrame:
    """Uniform k-sample (without replacement) per group via the
    mergeable reservoir: one row per sampled item."""
    by = list(by or [])
    sk = sketch_agg(df, col, "reservoir", group_cols=by, k=k)
    return sk.select(
        *by,
        F.explode(F.expr("datasketch_reservoir_items(sketch)")).alias(output_col),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int = 1000,
    by: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted k-sample without replacement per group
    (Efraimidis-Spirakis over the engine-portable md5 unit hash);
    returns the sampled input rows."""
    from .pipeline.sampling import weighted_sample as _ws

    return _ws(df, id_col, weight_col, k, by=by, salt=salt)


def top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    by: str,
    k: int = 10,
) -> DataFrame:
    """Top-k characteristic terms per group by TF-IDF (single text
    scan; exact counts)."""
    from .pipeline.tfidf import tfidf_top_terms

    return tfidf_top_terms(df, id_col, text_col, by, k=k)


def bucketize(
    df: DataFrame,
    col: str,
    num_buckets: int,
    by: list[str] | None = None,
    k: int = 200,
    output_col: str = "bucket",
    method: str = "sketch",
) -> DataFrame:
    """Equi-depth bucket label (1..num_buckets) per row — approximate
    NTILE without the global sort (``method='hist'`` for the exact
    JVM-only path on bounded-cardinality columns).  See
    pipeline/binning.py."""
    from .pipeline.binning import quantile_bucket

    return quantile_bucket(
        df, col, num_buckets, by=by, k=k, output_col=output_col, method=method
    )


def rebalance(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Deterministic downsample to target source/language proportions
    at the largest feasible corpus size.  See pipeline/mixture.py."""
    from .pipeline.mixture import sample_to_mixture

    return sample_to_mixture(df, source_col, id_col, weights, salt=salt)


def within_budget(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    order_by: list,
    by: list[str] | None = None,
    cum_col: str | None = None,
) -> DataFrame:
    """Longest affordable prefix per shard under a token budget, in a
    caller-chosen deterministic order.  See pipeline/mixture.py."""
    from .pipeline.mixture import token_budget_filter

    return token_budget_filter(
        df, tokens_col, budget, order_by, by=by, cum_col=cum_col
    )


def drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    by: list[str] | None = None,
    k: int = 200,
    output_col: str = "ks",
) -> DataFrame:
    """KS distance between the distributions of ``col`` in the two
    frames (0 = identical, 1 = disjoint), one row overall or per
    ``by`` group (inner join on the group keys: a group must appear
    on both sides to be comparable).  Exact when both sides fit the
    sketch exactly — the train-vs-serve / day-vs-day monitoring
    primitive."""
    from pyspark.sql import functions as F  # local alias for clarity

    by = list(by or [])
    a = sketch_agg(df_a, col, "kll", group_cols=by, k=k).withColumnRenamed(
        "sketch", "__a"
    )
    b = sketch_agg(df_b, col, "kll", group_cols=by, k=k).withColumnRenamed(
        "sketch", "__b"
    )
    pair = a.join(b, by) if by else a.crossJoin(b)
    return pair.select(
        *by, F.expr("datasketch_kll_ks(__a, __b)").alias(output_col)
    )


def split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "",
    output_col: str = "split",
) -> DataFrame:
    """Deterministic, repartition-invariant train/val/test labels.
    See pipeline/split.py."""
    from .pipeline.split import hash_split

    return hash_split(df, id_col, weights, salt=salt, output_col=output_col)


def near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    signatures: "DataFrame | str | None" = None,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) near-duplicate text pairs via
    MinHash + LSH banding: candidate pairs come from a band-key
    equi-join (never an O(n^2) cross product), verified against the
    cached signatures.  At corpus scale, write the signatures once
    with :func:`datasketches_spark.pipeline.dedup.write_minhash_signatures`
    and pass ``signatures=`` that table — the plan then runs pure-JVM
    over stored parquet.  See pipeline/dedup.py for the knobs."""
    from .pipeline import dedup as _dedup

    return _dedup.minhash_near_duplicates(
        df, id_col, text_col, threshold=threshold, signatures=signatures
    )


def neighbors(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k neighbors per query (broadcast the queries,
    stream the corpus; shuffle is O(queries x k)).  For corpus-scale
    searches use pipeline/similarity.py's LSH / IVF / PQ / IVF-PQ
    variants (prebuilt-index operators with recall-gated scale
    configurations)."""
    from .pipeline import similarity as _sim

    return _sim.brute_force_topk(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )


def fuzzy_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    keep_cols: list[str] | None = None,
    signatures: "DataFrame | str | None" = None,
) -> DataFrame:
    """Keep one document (min id) per near-duplicate component — the
    one-call fuzzy dedup (LSH pairs -> connected components -> keep
    representative).  Pass ``signatures=`` a stored table from
    write_minhash_signatures for the 100 TB route."""
    from .pipeline import dedup as _dedup

    return _dedup.fuzzy_dedup(
        df, id_col, text_col, threshold=threshold,
        keep_cols=keep_cols, signatures=signatures,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    seed: int = 29,
    which_to_keep: str = "first",
) -> DataFrame:
    """SemDeDup: keep rows with no earlier cosine-near-duplicate (in
    the ``which_to_keep`` scan order: 'first'=id, 'hard'=cluster-edge
    survives, 'easy'=prototype survives) in the same k-means cluster
    (cluster -> within-cluster prune; the embedding-space complement
    of :func:`fuzzy_dedup`).  See pipeline/similarity.py::
    semantic_dedup for centroid/engine/stored-table knobs."""
    from .pipeline import similarity as _sim

    return _sim.semantic_dedup(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold,
        n_clusters=n_clusters, seed=seed, which_to_keep=which_to_keep,
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample — ``df.sampleBy``'s
    contract on the engine-portable md5 unit hash (stable under
    repartitioning, auditable in SQL).  See pipeline/sampling.py."""
    from .pipeline.sampling import stratified_sample as _ss

    return _ss(df, strata_col, fractions, id_col, salt=salt)


def lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    engine: str = "cms",
    lg_w: int = 20,
) -> DataFrame:
    """Unigram (``ngram=1``) or interpolated bigram (``ngram=2``)
    LM quality score per document — the CCNet-style junk filter.
    Default engine is the sketch-backed scale path (the Count-Min
    blob IS the language model; text never shuffles); ``exact`` is
    the SQL-matchable twin.  See pipeline/lm.py."""
    from .pipeline import lm as _lm

    if ngram == 1:
        return _lm.unigram_logprob(docs, id_col, text_col, engine=engine, lg_w=lg_w)
    if ngram == 2:
        return _lm.bigram_logprob(docs, id_col, text_col, engine=engine, lg_w=lg_w)
    raise ValueError(f"ngram must be 1 or 2, got {ngram}")


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    lg_k: int = 16,
    kll_k: int = 32768,
) -> DataFrame:
    """One row of stats per column in ONE scan: exact
    counts/nulls/min/max (the mergeable stats family) plus theta
    distinct estimates and KLL quantiles, all folded in a single
    ``sketch_agg_multi`` pass.  See profile.py for the scale
    argument."""
    from .profile import profile_table

    return profile_table(df, columns, lg_k=lg_k, kll_k=kll_k)


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    step_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel user counts + conversion ratios in one shuffle
    (JVM array fold; see pipeline/funnel.py)."""
    from .pipeline.funnel import funnel_conversion

    return funnel_conversion(df, user_col, ts_col, step_col, steps)


def retention(
    df: DataFrame,
    user_col: str,
    period_col: str,
    lg_k: int = 16,
    cohort_period=None,
) -> DataFrame:
    """Cohort retention matrix via theta set algebra: one scan builds
    per-period user sketches, every (cohort, period) cell is an
    intersect over the tiny blob frame (pipeline/cohorts.py)."""
    from .pipeline.cohorts import retention_matrix

    return retention_matrix(
        df, user_col, period_col, lg_k=lg_k, cohort_period=cohort_period
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    max_overlap: int = 0,
) -> DataFrame:
    """Training rows whose benchmark word-n-gram overlap is at most
    ``max_overlap`` — the pre-training "did the test set leak?" filter.
    The benchmark n-gram set broadcasts (hash-keyed longs); the train
    side streams through the probe without shuffling its text
    (pipeline/decontam.py for the knobs)."""
    from .pipeline.decontam import decontaminate as _d

    return _d(train, bench, id_col, text_col, n=n, max_overlap=max_overlap)


def dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Keep one row (min id) per identical canonical text fingerprint.
    ``keep_cols`` slims the shuffle to just those columns — at scale
    the wire carries (16-byte fp, ids), never documents."""
    from .pipeline.dedup import exact_dedup

    return exact_dedup(df, text_col, id_col, keep_cols=keep_cols)


def strip_repeats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
    out_col: str | None = None,
    counts=None,
) -> DataFrame:
    """Remove every corpus-repeated token span (the exact-substring
    dedup step, Lee et al. 2021): n-grams occurring >= ``min_count``
    times anywhere mark spans, merged maximal, stripped from the
    ORIGINAL-case text.  ``counts=`` a stored table from
    ``pipeline.spans.write_ngram_counts`` marks against history
    without rescanning it (pipeline/spans.py for the knobs)."""
    from .pipeline.spans import strip_duplicate_spans

    return strip_duplicate_spans(
        df, id_col, text_col, n=n, min_count=min_count,
        out_col=out_col, counts=counts,
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    delim: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """Strip lines appearing in >= ``min_docs`` distinct documents
    (CCNet-style boilerplate: headers, navigation, licence footers).
    Matching is trim+lower; surviving lines keep their original text
    (pipeline/spans.py for the knobs)."""
    from .pipeline.spans import remove_common_lines

    return remove_common_lines(
        df, id_col, text_col, min_docs=min_docs, delim=delim, out_col=out_col
    )


def semantic_decontaminate(
    train_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Training rows with no benchmark embedding at cosine >=
    threshold — the paraphrase-leak complement of
    :func:`decontaminate` (pipeline/decontam.py)."""
    from .pipeline.decontam import semantic_decontaminate as _sd

    return _sd(train_emb, bench_emb, id_col, vec_col, threshold)


def drift_report(
    df_a: DataFrame,
    df_b: DataFrame,
    columns: list[str],
    k: int = 32768,
) -> DataFrame:
    """Per-column drift between two corpora: n/mean deltas + the
    two-sample KS, computed entirely from blobs (one scan per side;
    exact in exact mode — profile.drift_report).  Distinct from
    :func:`drift`, the single-column (optionally grouped) KS surface."""
    from .profile import drift_report

    return drift_report(df_a, df_b, columns, k=k)


def media_metadata(df: DataFrame, bin_col: str) -> DataFrame:
    """Typed metadata struct (n_bytes, magic_hex, checksum) appended
    for an opaque binary media column — pure JVM expressions, no
    decode (pipeline/multimodal.binary_metadata)."""
    from .pipeline.multimodal import binary_metadata

    return df.withColumn(f"{bin_col}_meta", binary_metadata(bin_col))


def image_features(
    df: DataFrame, bin_col: str, id_col: str,
    n_features: int = 16, strict: bool = False,
) -> DataFrame:
    """(id, features) from an image binary column — PIL when
    installed, else the stdlib BMP/PNG/baseline-JPEG decoder;
    ``strict=True`` never fabricates (pipeline/multimodal)."""
    from .pipeline.multimodal import decode_image_features

    return decode_image_features(df, bin_col, id_col, n_features, strict=strict)


def video_frames(
    df: DataFrame, bin_col: str, id_col: str,
    every_nth: int = 10, max_frames: int = 4, strict: bool = False,
) -> DataFrame:
    """(id, frame_idx, features) frame-sampled from a video binary
    column — cv2 when installed, else the stdlib MJPEG-AVI reader."""
    from .pipeline.multimodal import sample_frames

    return sample_frames(
        df, bin_col, id_col, every_nth=every_nth, max_frames=max_frames,
        strict=strict,
    )


def audio_features(
    df: DataFrame, bin_col: str, id_col: str, strict: bool = False
) -> DataFrame:
    """(id, duration_s, sample_rate, rms, zcr, peak, clip_frac,
    silence_frac) from an audio binary column — stdlib PCM/float WAV
    decode; other codecs fake-or-raise per ``strict``."""
    from .pipeline.multimodal import audio_features as _af

    return _af(df, bin_col, id_col, strict=strict)


def media_probe(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Decode-free media metadata (kind/format/dims/frames/fps/rate/
    channels/duration) from container headers — the
    stratify-before-decode pass (pipeline/multimodal.media_probe)."""
    from .pipeline.multimodal import media_probe as _mp

    return _mp(df, bin_col, id_col)
