"""Tests for the training-data pipeline operators (dedup / similarity /
text / multimodal)."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datasketches_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),  # exact dup
        Row(doc_id=2, text="the quick brown fox jumped over the lazy dog"),  # near dup
        Row(doc_id=3, text="el rapido zorro marron salta sobre el perro"),
        Row(doc_id=4, text="completely different content about spark engines"),
        Row(doc_id=5, text="THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"),  # case dup
    ]
    return spark.createDataFrame(rows)


class TestText:
    def test_token_count(self, spark, docs):
        out = {r.doc_id: r.n for r in docs.select("doc_id", text.token_count("text").alias("n")).collect()}
        assert out[0] == 9
        assert out[4] == 6

    def test_empty_text(self, spark):
        df = spark.createDataFrame([Row(text="")])
        assert df.select(text.token_count("text").alias("n")).first().n == 0

    def test_bpe_ish_token_count(self, spark):
        cases = {
            "hello world": 2,          # plain whitespace split
            "gpt4 turbo": 3,           # letter->digit boundary: gpt|4
            "a1b2": 4,                 # every letter<->digit transition
            "don't stop!": 4,          # don | 't | stop | !
            "!!": 2,                   # each punct char starts a piece
            "": 0,
        }
        df = spark.createDataFrame([Row(text=t) for t in cases])
        got = {
            r.text: r.n
            for r in df.select(
                "text", text.bpe_ish_token_count(F.col("text")).alias("n")
            ).collect()
        }
        assert got == cases

    def test_lang_id(self, spark, docs):
        out = {r.doc_id: r.lang for r in docs.select("doc_id", text.lang_id("text").alias("lang")).collect()}
        assert out[0] == "en"
        assert out[3] == "es"

    def test_quality_score_range(self, spark, docs):
        scores = [r.q for r in docs.select(text.quality_score("text").alias("q")).collect()]
        assert all(0.0 <= s <= 1.0 for s in scores)

    def test_fingerprint_case_normalized(self, spark, docs):
        fps = {r.doc_id: r.fp for r in docs.select("doc_id", text.doc_fingerprint("text").alias("fp")).collect()}
        assert fps[0] == fps[1] == fps[5]
        assert fps[0] != fps[2]

    def test_char_jaccard_identity(self, spark, docs):
        df = docs.alias("a").crossJoin(docs.alias("b")).filter(
            (F.col("a.doc_id") == 0) & (F.col("b.doc_id").isin(0, 4))
        )
        out = {
            r.b_id: r.j
            for r in df.select(
                F.col("b.doc_id").alias("b_id"),
                text.char_jaccard(F.col("a.text"), F.col("b.text")).alias("j"),
            ).collect()
        }
        assert out[0] == 1.0
        assert 0.0 < out[4] < 1.0


class TestDedup:
    def test_lsh_verify_paths_agree(self, spark):
        """Round 8: the big-input verify path (signature pre-filter +
        candidate-id prune, forced via the size-stats gate) must return
        EXACTLY the pairs the simple small-input path returns."""
        from datasketches_spark import compat

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        small = sorted(
            map(
                tuple,
                dedup.lsh_verified_near_duplicates(
                    docs, "doc_id", "text", threshold=0.8
                ).collect(),
            )
        )
        real = compat.plan_size_bytes
        compat.plan_size_bytes = lambda df: 1 << 40  # force the big path
        try:
            big = sorted(
                map(
                    tuple,
                    dedup.lsh_verified_near_duplicates(
                        docs, "doc_id", "text", threshold=0.8
                    ).collect(),
                )
            )
        finally:
            compat.plan_size_bytes = real
        assert len(small) > 0  # the corpus has real near-dups
        assert big == small

    def test_exact_duplicates(self, spark, docs):
        groups = dedup.exact_duplicates(docs, "text", "doc_id").collect()
        assert len(groups) == 1
        assert groups[0].n_docs == 3 and groups[0].keep_id == 0

    def test_exact_dedup_keeps_min(self, spark, docs):
        kept = dedup.exact_dedup(docs, "text", "doc_id")
        ids = sorted(r.doc_id for r in kept.collect())
        assert ids == [0, 2, 3, 4]

    def test_exact_dedup_null_ids(self, spark):
        # min_by skips NULL ordering keys; the NULL-safe struct key must
        # keep a real row for all-NULL-id groups and prefer the NULL-id
        # row in mixed groups (row_number asc_nulls_first semantics)
        rows = [
            (None, "only null ids here"),
            (None, "only null ids here"),
            (None, "mixed group"),
            (7, "mixed group"),
            (3, "plain group"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        kept = dedup.exact_dedup(df, "text", "doc_id").collect()
        by_text = {r.text: r.doc_id for r in kept}
        assert len(kept) == 3
        assert by_text["only null ids here"] is None
        assert by_text["mixed group"] is None
        assert by_text["plain group"] == 3

    def test_exact_dedup_keep_cols_slims_payload(self, spark, docs):
        # keep_cols carries only the named columns through the shuffle;
        # the surviving (id) set must match the full-payload dedup
        full = dedup.exact_dedup(docs, "text", "doc_id")
        slim = dedup.exact_dedup(docs, "text", "doc_id", keep_cols=["doc_id"])
        assert slim.columns == ["doc_id"]
        assert sorted(r.doc_id for r in slim.collect()) == sorted(
            r.doc_id for r in full.collect()
        )

    def test_minhash_identical_docs(self, spark, docs):
        pairs = dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.9)
        got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
        assert got[(0, 1)] == 1.0  # identical text
        assert got[(0, 5)] == 1.0  # case-normalized
        assert (0, 4) not in got

    def test_minhash_near_dup_detected(self, spark, docs):
        pairs = dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (0, 2) in got  # one-word edit

    def test_minhash_deterministic(self, spark, docs):
        s1 = dedup.minhash_signatures(docs, "doc_id", "text").collect()
        s2 = dedup.minhash_signatures(docs, "doc_id", "text").collect()
        assert sorted((r.doc_id, tuple(r.sig)) for r in s1) == sorted(
            (r.doc_id, tuple(r.sig)) for r in s2
        )

    def test_simhash_pairs(self, spark, docs):
        sims = dedup.simhash64(docs, "doc_id", "text")
        pairs = dedup.simhash_near_pairs(sims, "doc_id", max_hamming=3)
        got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
        assert got[(0, 1)] == 0
        assert got[(0, 5)] == 0

    def test_simhash_md5_matches_sql_definition(self, spark, docs):
        """hasher='md5' must reproduce DuckDB md5_number_upper token
        hashes -- recompute one signature by hand and compare."""
        import hashlib
        import struct

        import numpy as np

        sims = {r.doc_id: r.simhash for r in dedup.simhash64(
            docs, "doc_id", "text", hasher="md5").collect()}
        text = docs.filter(F.col("doc_id") == 0).first().text
        votes = np.zeros(64, dtype=np.int64)
        for w in text.lower().split():
            h = struct.unpack("<Q", hashlib.md5(w.encode()).digest()[:8])[0]
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = 0
        for b in range(64):
            if votes[b] > 0:
                sig |= 1 << b
        expect = sig - (1 << 64) if sig >= 1 << 63 else sig
        assert sims[0] == expect

    def test_lsh_verified_near_duplicates_exact(self, spark, docs):
        """Verified LSH join == exact char-ngram Jaccard on candidates;
        identical and case-normalized docs come back at 1.0."""
        pairs = dedup.lsh_verified_near_duplicates(
            docs, "doc_id", "text", threshold=0.5
        )
        got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
        assert got[(0, 1)] == 1.0
        assert got[(0, 5)] == 1.0  # lowercased ngrams
        assert (1, 5) in got
        for j in got.values():
            assert 0.5 <= j <= 1.0

    def test_char_ngrams_matches_python(self, spark, docs):
        row = docs.filter(F.col("doc_id") == 0).select(
            "text", dedup.char_ngrams(F.col("text"), 5).alias("g")
        ).first()
        t = row.text.lower()
        expect = list(dict.fromkeys(
            t[i:i + 5] for i in range(max(len(t) - 4, 1))
        ))
        assert sorted(row.g) == sorted(expect)

    def test_ngram_jaccard(self, spark, docs):
        pairs = docs.alias("a").crossJoin(docs.alias("b")).filter(
            (F.col("a.doc_id") == 0) & (F.col("b.doc_id") == 1)
        ).select(F.col("a.text").alias("ta"), F.col("b.text").alias("tb"))
        out = dedup.ngram_jaccard_pairs(pairs, "ta", "tb").first()
        assert out.ngram_jaccard == 1.0

    def test_connected_components(self, spark):
        pairs = spark.createDataFrame(
            [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11)]
        )
        comps = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
        assert comps[1] == comps[2] == comps[3] == 1
        assert comps[10] == comps[11] == 10

    def test_connected_components_random_graphs(self, spark):
        """Spark min-label propagation == driver-side union-find on
        random graphs (star/path cases alone don't exercise cycles,
        multi-branch merges, or label collisions)."""
        import numpy as np

        for seed in (3, 17, 99):
            rng = np.random.default_rng(seed)
            n_nodes, n_edges = 40, 35
            edges = [
                (int(a), int(b))
                for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
                if a != b
            ]
            parent = list(range(n_nodes))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            touched = {v for e in edges for v in e}
            want = {v: find(v) for v in touched}

            pairs = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
            got = {
                r.id: r.component
                for r in dedup.connected_components(pairs, max_iter=40).collect()
            }
            assert got == want, f"seed {seed}"

    def test_connected_components_long_path(self, spark):
        """A 16-node path (15 hops; ~4 pointer-doubled rounds): the
        loop must stay fast per-iteration (localCheckpoint truncates
        lineage — without it each round re-executes the whole
        history) and converge."""
        pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(15)])
        comps = {
            r.id: r.component
            for r in dedup.connected_components(pairs, max_iter=20).collect()
        }
        assert len(comps) == 16
        assert set(comps.values()) == {0}

    def test_connected_components_pointer_doubling_beats_diameter(self, spark):
        """r13 verdict #2: a 41-node chain (diameter 40) must converge
        within the DEFAULT max_iter=10 — pointer doubling halves the
        remaining depth per round (plain propagation needed 40 rounds
        and silently returned over-partitioned labels)."""
        pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(40)])
        comps = {
            r.id: r.component for r in dedup.connected_components(pairs).collect()
        }
        assert len(comps) == 41
        assert set(comps.values()) == {0}

    def test_connected_components_nonconvergence_is_loud(self, spark):
        """Exhausting max_iter must never truncate quietly: raise by
        default, warn-and-return on opt-in, validate the option."""
        pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(40)])
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(pairs, max_iter=2)
        with pytest.warns(RuntimeWarning, match="did not converge"):
            got = dedup.connected_components(
                pairs, max_iter=2, on_max_iter="warn"
            ).collect()
        assert len(got) == 41  # partial labels still come back on warn
        with pytest.raises(ValueError, match="on_max_iter"):
            dedup.connected_components(pairs, on_max_iter="nope")


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    vecs[1] = vecs[0] * 1.5  # near-duplicate direction of 0
    rows = [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(40)]
    return spark.createDataFrame(rows)


class TestSimilarity:
    def test_brute_force_self_match(self, spark, emb):
        queries = emb.filter("vec_id < 2").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        out = similarity.brute_force_topk(emb, queries, k=3)
        top = {
            r.query_id: (r.neighbor_id, r.cosine_sim)
            for r in out.filter("rank = 1").collect()
        }
        # vec 1 is colinear with vec 0 -> cosine 1.0; tie broken by id
        assert top[0][0] == 0
        assert top[0][1] == pytest.approx(1.0)

    def test_lsh_topk_contains_self(self, spark, emb):
        queries = emb.filter("vec_id < 2").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        out = similarity.lsh_topk(emb, queries, dim=8, k=3, n_bits=6)
        by_q = {}
        for r in out.collect():
            by_q.setdefault(r.query_id, []).append(r.neighbor_id)
        assert 0 in by_q.get(0, []) or 1 in by_q.get(0, [])

    def test_near_duplicate_pairs(self, spark, emb):
        pairs = similarity.embedding_cosine_near_duplicates(
            emb, threshold=0.99, dim=8, n_bits=4
        )
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (0, 1) in got  # colinear vectors

    def test_quantize_int8_roundtrip_error_bound(self, spark, emb):
        """Uniform quantization: |x - dequant(x)| <= scale/2 per
        component; zero vectors stay zero; codes within [-127,127]."""
        q = similarity.quantize_int8(emb, "embedding", "codes", "scale")
        d = similarity.dequantize_int8(q, "codes", "scale", "deq")
        rows = d.select("embedding", "codes", "scale", "deq").collect()
        assert rows
        for r in rows:
            assert all(-127 <= c <= 127 for c in r.codes)
            if r.scale == 0.0:
                assert all(c == 0 for c in r.codes)
                continue
            for x, xh in zip(r.embedding, r.deq):
                assert abs(float(x) - xh) <= r.scale / 2 + 1e-9
            # max-magnitude component maps to +-127 exactly
            assert max(abs(c) for c in r.codes) == 127

    def test_cosine_expression(self, spark, emb):
        row = (
            emb.filter("vec_id = 0")
            .select(similarity.cosine(F.col("embedding"), F.col("embedding")).alias("c"))
            .first()
        )
        assert row.c == pytest.approx(1.0)


class TestSemanticDedup:
    @pytest.fixture(scope="class")
    def cents2d(self):
        return np.array([[1.0, 0.0], [0.0, 1.0]])

    def _df(self, spark, vecs):
        return spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
        )

    @pytest.mark.parametrize("engine", ["sql", "arrow"])
    def test_known_answer(self, spark, cents2d, engine):
        # cluster 0: id0 ~ id1 (near-colinear) -> id1 drops against id0
        # cluster 1: id2 kept, id3 far from id2, id4 ~ id2 -> id4 drops
        vecs = [[1, 0.01], [1, 0.02], [0.02, 1], [-1, 0.5], [0.03, 1]]
        df = self._df(spark, vecs)
        kept = similarity.semantic_dedup(
            df, threshold=0.9, centroids=cents2d, assign_engine=engine,
            keep_cluster_col=True,
        )
        got = {r.vec_id: r.cluster_id for r in kept.collect()}
        assert got == {0: 0, 2: 1, 3: 1}

    @pytest.mark.parametrize("engine", ["sql", "arrow"])
    def test_drop_rule_is_one_shot_not_transitive(self, spark, cents2d, engine):
        # a~b, b~c, a!~c (angles 0/25/50 deg, threshold cos(30 deg)):
        # b drops against a, c drops against b EVEN THOUGH b was
        # dropped — the documented NeMo-style one-pass rule (transitive
        # closure is fuzzy_dedup's contract, not this one's)
        deg = np.deg2rad([0.0, 25.0, 50.0])
        vecs = np.stack([np.cos(deg), np.sin(deg)], axis=1)
        df = self._df(spark, vecs)
        kept = similarity.semantic_dedup(
            df, threshold=float(np.cos(np.deg2rad(30))),
            centroids=np.array([[1.0, 0.0]]), assign_engine=engine,
        )
        assert [r.vec_id for r in kept.collect()] == [0]

    def test_engines_agree_and_trained_centroids(self, spark, emb):
        from datasketches_spark.pipeline.similarity import _kmeans, _train_sample

        sample = _train_sample(emb, "embedding", 1000, seed=7)
        cents = _kmeans(sample, 4, seed=7)
        outs = []
        for engine in ("sql", "arrow"):
            kept = similarity.semantic_dedup(
                emb, threshold=0.8, centroids=cents, assign_engine=engine,
                keep_cluster_col=True,
            )
            outs.append(sorted((r.vec_id, r.cluster_id) for r in kept.collect()))
        assert outs[0] == outs[1]
        # colinear pair (0, 1): greedy keeps the smaller id only
        ids = {i for i, _ in outs[0]}
        assert 0 in ids and 1 not in ids

    def test_stored_assignments_route(self, spark, emb, cents2d, tmp_path):
        """write_cluster_assignments once -> semantic_dedup with
        assignments= matches the direct route AND plans pure JVM
        (zero Python eval nodes — the Arrow pass ran at write time)."""
        rng = np.random.default_rng(3)
        vecs = rng.standard_normal((30, 2))
        vecs[7] = vecs[2] * 2.0  # same-direction dup -> 7 drops
        df = self._df(spark, vecs)
        path = str(tmp_path / "semdedup_idx")
        similarity.write_cluster_assignments(df, cents2d, path)
        direct = similarity.semantic_dedup(
            df, threshold=0.9, centroids=cents2d, assign_engine="arrow"
        )
        stored = similarity.semantic_dedup(df, threshold=0.9, assignments=path)
        d = sorted(r.vec_id for r in direct.collect())
        s = sorted(r.vec_id for r in stored.collect())
        assert d == s and 7 not in s and 2 in s
        plan = stored._jdf.queryExecution().executedPlan().toString()
        py_nodes = [
            n
            for n in (
                "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython",
                "ArrowEvalPython", "MapInArrow",
            )
            if n in plan
        ]
        assert py_nodes == [], py_nodes
        assert "assignments" in plan  # actually reads the stored table

    @pytest.mark.parametrize("engine", ["sql", "arrow"])
    def test_which_to_keep_orders(self, spark, engine):
        """Angles 0/10/40 deg off the [1,0] centroid, threshold
        cos(15 deg): 'first'/'easy' keep {0 deg, 40 deg}; 'hard' scans
        edge-first so the 40-deg row survives, 10 deg survives against
        it, and the prototype 0-deg row drops against 10 deg."""
        deg = np.deg2rad([0.0, 10.0, 40.0])
        vecs = np.stack([np.cos(deg), np.sin(deg)], axis=1)
        df = self._df(spark, vecs)
        thr = float(np.cos(np.deg2rad(15)))
        cents = np.array([[1.0, 0.0]])
        def kept(order):
            out = similarity.semantic_dedup(
                df, threshold=thr, centroids=cents, assign_engine=engine,
                which_to_keep=order,
            )
            return sorted(r.vec_id for r in out.collect())
        assert kept("first") == [0, 2]
        assert kept("easy") == [0, 2]
        assert kept("hard") == [1, 2]
        with pytest.raises(ValueError, match="which_to_keep"):
            kept("bogus")

    def test_which_to_keep_hard_via_stored_table(self, spark, tmp_path):
        """The stored route carries cent_sim, so 'hard' works off disk
        and matches the direct route; an old-style table without
        cent_sim raises a clear error."""
        deg = np.deg2rad([0.0, 10.0, 40.0])
        vecs = np.stack([np.cos(deg), np.sin(deg)], axis=1)
        df = self._df(spark, vecs)
        thr = float(np.cos(np.deg2rad(15)))
        cents = np.array([[1.0, 0.0]])
        path = str(tmp_path / "idx")
        similarity.write_cluster_assignments(df, cents, path)
        out = similarity.semantic_dedup(
            df, threshold=thr, assignments=path, which_to_keep="hard"
        )
        assert sorted(r.vec_id for r in out.collect()) == [1, 2]
        legacy = similarity.read_cluster_assignments(spark, path).drop("cent_sim")
        with pytest.raises(ValueError, match="cent_sim"):
            similarity.semantic_dedup(
                df, threshold=thr, assignments=legacy, which_to_keep="hard"
            )

    @pytest.mark.parametrize("seed", [1, 2, 3])
    @pytest.mark.parametrize("order", ["first", "hard", "easy"])
    def test_numpy_twin_property(self, spark, seed, order):
        """Random corpus vs an independent numpy brute-force replica of
        the whole contract (argmax-first-max assignment, scan order,
        one-shot earlier-neighbor drop rule) — catches rule drift the
        fixed-data oracle can't."""
        rng = np.random.default_rng(seed)
        n, dim, k = 60, 6, 4
        vecs = rng.standard_normal((n, dim))
        cents = rng.standard_normal((k, dim))
        thr = 0.55

        def unit(m):
            return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

        sims = unit(vecs) @ unit(cents).T
        cluster = np.argmax(sims, axis=1)
        cent_sim = np.max(sims, axis=1)
        cos = unit(vecs) @ unit(vecs).T
        if order == "first":
            rank = np.arange(n, dtype=float)
        elif order == "hard":
            rank = np.lexsort((np.arange(n), cent_sim))  # asc
            rank = np.argsort(rank).astype(float)
        else:
            rank = np.lexsort((np.arange(n), -cent_sim))  # desc
            rank = np.argsort(rank).astype(float)
        expected = sorted(
            i
            for i in range(n)
            if not any(
                cluster[j] == cluster[i] and rank[j] < rank[i] and cos[i, j] >= thr
                for j in range(n)
            )
        )
        df = self._df(spark, vecs)
        kept = similarity.semantic_dedup(
            df, threshold=thr, centroids=cents, assign_engine="arrow",
            which_to_keep=order,
        )
        assert sorted(r.vec_id for r in kept.collect()) == expected

    def test_upsert_equals_from_scratch(self, spark, cents2d, tmp_path):
        """write(base) + upsert(new) == write(base UNION new), row for
        row — assignment is deterministic given the frozen centroids;
        already-present ids are skipped, never duplicated."""
        rng = np.random.default_rng(11)
        vecs = rng.standard_normal((40, 2))
        base = self._df(spark, vecs[:25])
        allv = self._df(spark, vecs)
        inc = str(tmp_path / "inc")
        full = str(tmp_path / "full")
        similarity.write_cluster_assignments(base, cents2d, inc)
        # overlap: ids 20-24 already stored, 25-39 genuinely new
        similarity.upsert_cluster_assignments(
            allv.filter("vec_id >= 20"), inc
        )
        similarity.write_cluster_assignments(allv, cents2d, full)
        a = sorted(
            (r.vec_id, r.cluster_id)
            for r in similarity.read_cluster_assignments(spark, inc).collect()
        )
        b = sorted(
            (r.vec_id, r.cluster_id)
            for r in similarity.read_cluster_assignments(spark, full).collect()
        )
        assert a == b and len(a) == 40
        # and the dedup answers agree through both tables
        ka = similarity.semantic_dedup(allv, threshold=0.9, assignments=inc)
        kb = similarity.semantic_dedup(allv, threshold=0.9, assignments=full)
        assert sorted(r.vec_id for r in ka.collect()) == sorted(
            r.vec_id for r in kb.collect()
        )

    def test_stored_assignments_column_mismatch_raises(self, spark, emb, cents2d):
        assigned = similarity.assign_clusters(
            emb, np.ones((2, 8)), cluster_col="wrong_name"
        )
        with pytest.raises(ValueError, match="lacks column"):
            similarity.semantic_dedup(emb, assignments=assigned)

    def test_threshold_above_one_keeps_everything(self, spark, emb):
        kept = similarity.semantic_dedup(
            emb, threshold=1.5, n_clusters=3, assign_engine="arrow"
        )
        assert kept.count() == emb.count()

    def test_empty_corpus_is_noop(self, spark, emb):
        empty = emb.filter("vec_id < 0")
        out = similarity.semantic_dedup(
            empty, threshold=0.9, n_clusters=4, keep_cluster_col=True
        )
        assert out.count() == 0
        assert "cluster_id" in out.columns

    def test_sql_engine_cluster_cap(self, spark, emb):
        with pytest.raises(ValueError, match="caps at 64"):
            similarity.assign_clusters(
                emb, np.zeros((65, 8)) + 1.0, engine="sql"
            )

    def test_unknown_engine_raises(self, spark, emb):
        with pytest.raises(ValueError, match="unknown assign engine"):
            similarity.assign_clusters(emb, np.ones((2, 8)), engine="bogus")


class TestStratifiedSample:
    @pytest.fixture(scope="class")
    def strat_df(self, spark):
        rows = [
            Row(doc_id=i, lang=["en", "de", "zh"][i % 3]) for i in range(300)
        ]
        return spark.createDataFrame(rows)

    def test_fraction_semantics(self, spark, strat_df):
        from datasketches_spark.pipeline.sampling import stratified_sample

        kept = stratified_sample(
            strat_df, "lang", {"en": 0.5, "de": 1.0}, "doc_id", salt="t"
        )
        counts = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert counts.get("de") == 100          # kept whole
        assert "zh" not in counts               # default 0 -> dropped
        assert 25 <= counts.get("en", 0) <= 75  # ~half of 100

    def test_nested_fractions_are_subsets(self, spark, strat_df):
        from datasketches_spark.pipeline.sampling import stratified_sample

        small = stratified_sample(strat_df, "lang", {"en": 0.3}, "doc_id", salt="t")
        big = stratified_sample(strat_df, "lang", {"en": 0.6}, "doc_id", salt="t")
        s = {r.doc_id for r in small.collect()}
        b = {r.doc_id for r in big.collect()}
        assert s <= b

    def test_repartition_invariant(self, spark, strat_df):
        from datasketches_spark.pipeline.sampling import stratified_sample

        frac = {"en": 0.4, "de": 0.7, "zh": 0.1}
        a = stratified_sample(strat_df, "lang", frac, "doc_id", salt="x")
        b = stratified_sample(strat_df.repartition(7), "lang", frac, "doc_id", salt="x")
        assert {r.doc_id for r in a.collect()} == {r.doc_id for r in b.collect()}

    def test_default_fraction_keeps_unlisted_strata(self, spark, strat_df):
        from datasketches_spark.pipeline.sampling import stratified_sample

        kept = stratified_sample(
            strat_df, "lang", {"en": 0.0}, "doc_id", salt="t", default=1.0
        )
        counts = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert counts == {"de": 100, "zh": 100}

    def test_validation(self, spark, strat_df):
        from datasketches_spark.pipeline.sampling import stratified_sample

        with pytest.raises(ValueError, match="non-empty"):
            stratified_sample(strat_df, "lang", {}, "doc_id")
        with pytest.raises(ValueError, match="in \\[0, 1\\]"):
            stratified_sample(strat_df, "lang", {"en": 1.5}, "doc_id")
        with pytest.raises(ValueError, match="in \\[0, 1\\]"):
            stratified_sample(strat_df, "lang", {"en": 0.5}, "doc_id", default=-0.1)

    def test_oracle_sql_twin_matches(self, spark, strat_df):
        """The DuckDB predicate builder replays the identical kept set."""
        import duckdb

        from datasketches_spark.pipeline.sampling import (
            oracle_stratified_keep_sql,
            stratified_sample,
        )

        frac = {"en": 0.37, "zh": 0.81}
        kept = stratified_sample(strat_df, "lang", frac, "doc_id", salt="s9")
        spark_ids = sorted(r.doc_id for r in kept.collect())
        pdf = strat_df.toPandas()  # noqa: F841 — duckdb reads it by name
        pred = oracle_stratified_keep_sql("lang", frac, "doc_id", salt="s9")
        duck_ids = [
            r[0]
            for r in duckdb.sql(
                f"SELECT doc_id FROM pdf WHERE {pred} ORDER BY doc_id"
            ).fetchall()
        ]
        assert spark_ids == duck_ids


class TestMultimodal:
    @pytest.fixture(scope="class")
    def bin_df(self, spark):
        return spark.createDataFrame(
            [Row(id=1, payload=b"\x89PNG\r\n fake image bytes"), Row(id=2, payload=b"RIFF fake audio")]
        )

    def test_metadata(self, spark, bin_df):
        out = {r.id: r.meta for r in bin_df.select("id", multimodal.binary_metadata("payload").alias("meta")).collect()}
        assert out[1].n_bytes == 23
        assert out[1].magic_hex == "89504E47"
        assert out[2].magic_hex == "52494646"

    def test_decode_deterministic(self, spark, bin_df):
        a = {r.id: r.features for r in multimodal.decode_image_features(bin_df, "payload", "id").collect()}
        b = {r.id: r.features for r in multimodal.decode_image_features(bin_df, "payload", "id").collect()}
        assert a == b
        if multimodal._pil() is None:  # fake path: always n_features
            assert len(a[1]) == 16
        else:  # real path: these payloads are undecodable -> NULL
            assert a[1] is None

    def test_sample_frames_explodes(self, spark, bin_df):
        if multimodal._cv2() is not None:
            pytest.skip("cv2 present: fake frame sampler inactive")
        out = multimodal.sample_frames(bin_df, "payload", "id", every_nth=5, max_frames=3)
        rows = out.collect()
        assert len(rows) > 2  # more output rows than input rows
        assert {r.frame_idx for r in rows if r.id == 1} == {0, 1, 2}

    def test_strict_never_fakes(self, spark, bin_df):
        """strict=True disables the fake tier: junk payloads either
        raise loudly (no PIL: the stdlib tier can't cover them) or
        come back NULL (PIL present: its undecodable->NULL contract).
        Either way, never fabricated features."""
        if multimodal._pil() is None:
            with pytest.raises(Exception, match="requires PIL|NotImplementedError"):
                multimodal.decode_image_features(
                    bin_df, "payload", "id", strict=True
                ).collect()
            with pytest.raises(Exception, match="requires PIL|NotImplementedError"):
                multimodal.resize_binary(
                    bin_df, "payload", "id", target_w=8, target_h=4, strict=True
                ).collect()
        else:
            out = multimodal.decode_image_features(
                bin_df, "payload", "id", strict=True
            ).collect()
            assert all(r.features is None for r in out)

    def test_stdlib_mjpeg_avi_frames_real_pixels(self, spark):
        """Round 8 video tier: an MJPEG AVI (real RIFF container, real
        baseline-JPEG frames) decodes REAL pixels through
        sample_frames with no cv2 — constant-gray frames must come
        back as their exact gray levels, every_nth/max_frames
        honored."""
        from datasketches_spark.pipeline import _stdlib_video as SV

        if multimodal._cv2() is not None:
            pytest.skip("cv2 present: stdlib video tier inactive")
        # 12 constant frames of distinct levels: JPEG is exact on
        # constant blocks (DC-only, no quantization error at any q)
        frames = [np.full((16, 16), 20 * i + 10, dtype=np.uint8) for i in range(12)]
        blob = SV.encode_mjpeg_avi(frames, fps=5)
        meta = SV.probe(blob)
        assert meta == {"n_frames": 12, "width": 16, "height": 16, "fps": 5.0}
        df = spark.createDataFrame([Row(id=1, payload=bytearray(blob))])
        rows = multimodal.sample_frames(
            df, "payload", "id", every_nth=5, max_frames=3, n_features=4
        ).collect()
        # frames 0, 5, 10 -> levels 10, 110, 210
        assert [r.frame_idx for r in rows] == [0, 1, 2]
        got = [round(r.features[0] * 255) for r in rows]
        assert got == [10, 110, 210]
        # strict=True is satisfied by the stdlib tier on AVI payloads...
        strict_rows = multimodal.sample_frames(
            df, "payload", "id", every_nth=5, max_frames=3, strict=True
        ).collect()
        assert len(strict_rows) == 3
        # ...and still raises on junk
        junk = spark.createDataFrame([Row(id=1, payload=b"not a video")])
        with pytest.raises(Exception, match="cv2|NotImplementedError"):
            multimodal.sample_frames(junk, "payload", "id", strict=True).collect()

    def test_stdlib_avi_rec_list_interleave(self):
        """AVI-1.0 'LIST rec ' interleave sublists (the CD-ROM layout
        common muxers emit) must decode — review-fix regression."""
        import struct as _s

        from datasketches_spark.pipeline import _stdlib_video as SV

        frames = [np.full((8, 8), 30 * i + 15, dtype=np.uint8) for i in range(4)]
        blob = bytearray(SV.encode_mjpeg_avi(frames, fps=10))
        # rebuild: wrap each 00dc chunk in its own LIST rec sublist
        plain = bytes(blob)
        mstart = plain.find(b"LIST", 12)
        while plain[mstart + 8 : mstart + 12] != b"movi":
            (sz,) = _s.unpack_from("<I", plain, mstart + 4)
            mstart = plain.find(b"LIST", mstart + 8 + sz + (sz & 1))
        (msz,) = _s.unpack_from("<I", plain, mstart + 4)
        body = plain[mstart + 12 : mstart + 8 + msz]
        chunks, pos = [], 0
        while pos + 8 <= len(body):
            (csz,) = _s.unpack_from("<I", body, pos + 4)
            chunks.append(body[pos : pos + 8 + csz + (csz & 1)])
            pos += 8 + csz + (csz & 1)
        recs = b"".join(
            b"LIST" + _s.pack("<I", 4 + len(c)) + b"rec " + c for c in chunks
        )
        movi = b"LIST" + _s.pack("<I", 4 + len(recs)) + b"movi" + recs
        rebuilt = plain[:mstart] + movi + plain[mstart + 8 + msz + (msz & 1):]
        rebuilt = (
            b"RIFF" + _s.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
        )
        got = SV.decode_frames(rebuilt)
        assert len(got) == 4
        assert [int(f[0, 0]) for f in got] == [15, 45, 75, 105]

    def test_stdlib_avi_corruption_never_crashes(self):
        """Bit-flip fuzz over a valid AVI: the reader yields a (possibly
        shorter) frame list or nothing — never an exception (untrusted
        corpus bytes contract, same as the image/wire fuzz)."""
        from datasketches_spark.pipeline import _stdlib_video as SV

        rng = np.random.default_rng(11)
        frames = [
            (rng.integers(0, 256, (8, 8))).astype(np.uint8) for _ in range(3)
        ]
        blob = SV.encode_mjpeg_avi(frames, fps=10)
        for _ in range(300):
            bad = bytearray(blob)
            bad[int(rng.integers(0, len(blob)))] ^= 1 << int(rng.integers(0, 8))
            out = SV.decode_frames(bytes(bad))
            assert isinstance(out, list)
            for f in out:
                assert f.dtype == np.uint8 and f.ndim == 2
        # truncations at every length class
        for cut in (0, 4, 11, 12, 40, len(blob) // 2, len(blob) - 3):
            assert isinstance(SV.decode_frames(blob[:cut]), list)
        assert SV.probe(b"RIFF\x00\x00\x00\x00AVI ") is None

    def test_stdlib_wav_audio_features_real_samples(self, spark):
        """Round 8 audio tier: PCM WAV decodes REAL samples through
        audio_features — a 440 Hz half-amplitude sine has known RMS
        (0.5/sqrt2), ZCR (2f/rate) and duration; a clipped square wave
        has clip_frac ~1; silence-padded audio reports its pad
        fraction.  strict=True passes on WAV, raises on junk."""
        from datasketches_spark.pipeline import _stdlib_audio as SA

        rate = 16000
        t = np.arange(rate) / rate
        sine = 0.5 * np.sin(2 * np.pi * 440 * t)
        square = np.sign(np.sin(2 * np.pi * 100 * t))
        padded = np.concatenate([np.zeros(rate // 4), sine, np.zeros(rate // 4)])
        df = spark.createDataFrame(
            [
                Row(id=1, payload=bytearray(SA.encode_wav_pcm16(sine, rate))),
                Row(id=2, payload=bytearray(SA.encode_wav_pcm16(square, rate))),
                Row(id=3, payload=bytearray(SA.encode_wav_pcm16(padded, rate))),
                Row(id=4, payload=None),
            ]
        )
        out = {
            r.id: r
            for r in multimodal.audio_features(df, "payload", "id", strict=True).collect()
        }
        assert out[1].duration_s == pytest.approx(1.0)
        assert out[1].sample_rate == rate
        assert out[1].rms == pytest.approx(0.5 / np.sqrt(2), abs=1e-3)
        assert out[1].zcr == pytest.approx(2 * 440 / rate, abs=2e-3)
        assert out[1].peak == pytest.approx(0.5, abs=1e-3)
        assert out[1].clip_frac == 0.0
        assert out[2].clip_frac > 0.99
        assert out[3].silence_frac == pytest.approx(1 / 3, abs=0.01)
        assert out[4].rms is None
        # multi-channel + float codec round through decode_mono
        stereo = np.stack([sine, sine], axis=1)
        m = SA.decode_mono(SA.encode_wav_pcm16(stereo, 8000))
        assert m is not None and m[1] == 8000
        assert np.abs(m[0] - sine.astype(np.float32)).max() < 1e-3
        # strict raises on non-WAV payloads
        junk = spark.createDataFrame([Row(id=1, payload=b"ID3 mp3-ish bytes")])
        with pytest.raises(Exception, match="audio codec|NotImplementedError"):
            multimodal.audio_features(junk, "payload", "id", strict=True).collect()
        # non-strict fakes deterministically
        a = multimodal.audio_features(junk, "payload", "id").first()
        b = multimodal.audio_features(junk, "payload", "id").first()
        assert a == b

    def test_media_probe_headers_only(self, spark):
        """media_probe: decode-free metadata for image/video/audio,
        NULL kind for unknowns — and it must handle a PROGRESSIVE
        JPEG's dimensions (SOF2), which the pixel decoder refuses."""
        from datasketches_spark.pipeline import _stdlib_audio as SA
        from datasketches_spark.pipeline import _stdlib_image as SI
        from datasketches_spark.pipeline import _stdlib_video as SV

        img = np.zeros((10, 20), np.uint8)
        jpeg = bytearray(SI.encode_jpeg_gray(img))
        sof = bytes(jpeg).find(b"\xff\xc0")
        prog = bytes(jpeg[:sof]) + b"\xff\xc2" + bytes(jpeg[sof + 2:])
        assert SI.decode_gray(prog) is None  # progressive: no pixel decode
        rows = [
            Row(id=1, b=bytearray(SI.encode_bmp(img))),
            Row(id=2, b=bytearray(prog)),
            Row(id=3, b=bytearray(SV.encode_mjpeg_avi([img] * 4, fps=2))),
            Row(id=4, b=bytearray(SA.encode_wav_pcm16(np.zeros(1000), 4000))),
            Row(id=5, b=b"not media"),
        ]
        out = {
            r.id: r
            for r in multimodal.media_probe(
                spark.createDataFrame(rows), "b", "id"
            ).collect()
        }
        assert (out[1].kind, out[1].width, out[1].height) == ("image", 20, 10)
        assert (out[2].kind, out[2].format, out[2].width) == ("image", "jpeg", 20)
        assert (out[3].kind, out[3].n_frames, out[3].fps) == ("video", 4, 2.0)
        assert (out[4].kind, out[4].sample_rate, out[4].duration_s) == (
            "audio", 4000, 0.25,
        )
        assert out[5].kind is None
        # header fuzz: bit-flips must yield a row or NULL kind, never raise
        rng = np.random.default_rng(5)
        for payload in (bytes(jpeg), rows[2].b, rows[3].b):
            blob = bytes(payload)
            for _ in range(100):
                bad = bytearray(blob)
                bad[int(rng.integers(0, len(blob)))] ^= 1 << int(rng.integers(0, 8))
                from datasketches_spark.pipeline import _stdlib_image as SI2
                SI2.probe(bytes(bad)); SV.probe(bytes(bad)); SA.probe(bytes(bad))

    def test_stdlib_wav_corruption_never_crashes(self):
        """Bit-flip + truncation fuzz over a valid WAV: features()
        yields a dict or None, never an exception."""
        from datasketches_spark.pipeline import _stdlib_audio as SA

        rng = np.random.default_rng(13)
        blob = SA.encode_wav_pcm16(rng.uniform(-1, 1, 2000), 8000)
        for _ in range(300):
            bad = bytearray(blob)
            bad[int(rng.integers(0, len(blob)))] ^= 1 << int(rng.integers(0, 8))
            out = SA.features(bytes(bad))
            assert out is None or isinstance(out, dict)
        for cut in (0, 4, 11, 12, 20, 43, len(blob) // 2):
            assert SA.features(blob[:cut]) is None or isinstance(
                SA.features(blob[:cut]), dict
            )
        # giant declared data chunk must not allocate
        import struct as _s
        hacked = bytearray(blob)
        dpos = bytes(blob).find(b"data")
        _s.pack_into("<I", hacked, dpos + 4, 0xFFFFFFF0)
        out = SA.features(bytes(hacked))
        assert out is None or isinstance(out, dict)

    def test_stdlib_wav_truncated_upload_keeps_prefix(self):
        """A data chunk that declares the FULL recording while the blob
        holds a truncated prefix (classic interrupted upload) must
        decode the prefix — the video tier's 'decoded so far' contract
        — for probe() and decode_mono()/features() alike."""
        import struct as _s

        from datasketches_spark.pipeline import _stdlib_audio as SA

        rate = 8000
        sine = 0.5 * np.sin(2 * np.pi * 440 * np.arange(rate) / rate)
        full = SA.encode_wav_pcm16(sine, rate)  # 1 s, 16000 data bytes
        cut = bytearray(full[: len(full) - 8000])  # drop the last 0.25 s
        # the data header still declares the full 16000-byte payload
        assert _s.unpack_from("<I", cut, bytes(full).find(b"data") + 4)[0] == 16000
        p = SA.probe(bytes(cut))
        assert p is not None and p["n_frames"] == 4000
        assert p["duration_s"] == pytest.approx(0.5)
        dec = SA.decode_mono(bytes(cut))
        assert dec is not None and dec[0].size == 4000
        assert np.abs(dec[0] - sine[:4000].astype(np.float32)).max() < 1e-3
        assert SA.features(bytes(cut))["duration_s"] == pytest.approx(0.5)

    def test_stdlib_avi_every_nth_skips_decode(self, monkeypatch):
        """Frame sampling must happen at the CHUNK walk: with
        every_nth=2 over 6 frames only the 3 sampled chunks hit the
        JPEG decoder, and a corrupt NON-sampled chunk cannot affect
        the output (it is never decoded)."""
        from datasketches_spark.pipeline import _stdlib_video as SV

        frames = [np.full((8, 8), 20 * i + 10, dtype=np.uint8) for i in range(6)]
        blob = SV.encode_mjpeg_avi(frames, fps=10)
        calls = []
        real = SV.decode_gray

        def counting(payload):
            calls.append(len(payload))
            return real(payload)

        monkeypatch.setattr(SV, "decode_gray", counting)
        got = SV.decode_frames(blob, every_nth=2)
        assert [int(f[0, 0]) for f in got] == [10, 50, 90]
        assert len(calls) == 3  # non-sampled chunks never decoded
        # zero out frame 1's JPEG payload (non-sampled): output unchanged
        chunks = list(SV.iter_frame_chunks(blob))
        start = blob.find(chunks[1])
        bad = bytearray(blob)
        bad[start : start + len(chunks[1])] = b"\x00" * len(chunks[1])
        got2 = SV.decode_frames(bytes(bad), every_nth=2)
        assert [int(f[0, 0]) for f in got2] == [10, 50, 90]

    def test_stdlib_tier_decodes_real_pixels(self, spark):
        """The pure-stdlib tier (no PIL needed) runs REAL decode →
        grayscale → grid-resample pixel math end-to-end: a constant
        128-gray image must yield features == 128/255 exactly, for
        both BMP and PNG payloads, through the whole Spark plumbing."""
        from datasketches_spark.pipeline import _stdlib_image as SI

        if multimodal._pil() is not None:
            pytest.skip("PIL present: the stdlib tier is shadowed")
        img = np.full((10, 10), 128, dtype=np.uint8)
        df = spark.createDataFrame(
            [
                Row(id=1, payload=bytearray(SI.encode_bmp(img))),
                Row(id=2, payload=bytearray(SI.encode_png(img))),
            ]
        )
        feats = {
            r.id: r.features
            for r in multimodal.decode_image_features(
                df, "payload", "id", n_features=9, strict=True
            ).collect()
        }
        for i in (1, 2):
            assert len(feats[i]) == 9
            assert all(abs(f - 128 / 255.0) < 1e-6 for f in feats[i])

    def test_stdlib_jpeg_roundtrip_and_tolerance(self, spark):
        """Baseline-DCT JPEG in the stdlib tier: our encoder's output
        decodes back within quantization error, odd (non-multiple-of-8)
        dims crop correctly, and truncated bytes yield None."""
        from datasketches_spark.pipeline import _stdlib_image as SI

        rng = np.random.default_rng(5)
        x = np.linspace(0, 4 * np.pi, 40)
        img = (
            127 + 60 * np.sin(x)[None, :] * np.cos(0.7 * x)[:, None]
            + rng.normal(0, 3, (40, 40))
        ).clip(0, 255).astype(np.uint8)
        blob = SI.encode_jpeg_gray(img, q=8)
        dec = SI.decode_gray(blob)
        assert dec is not None and dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 16
        odd = img[:33, :21]
        d2 = SI.decode_gray(SI.encode_jpeg_gray(odd, q=4))
        assert d2.shape == odd.shape
        assert np.abs(d2.astype(int) - odd.astype(int)).max() <= 10
        # sub-block shapes (1x1 up to a sliver of two MCUs) crop right
        for shape in [(1, 1), (1, 8), (8, 1), (3, 9), (16, 2)]:
            tiny = rng.integers(0, 256, shape).astype(np.uint8)
            dt = SI.decode_gray(SI.encode_jpeg_gray(tiny, q=2))
            assert dt is not None and dt.shape == shape
            assert np.abs(dt.astype(int) - tiny.astype(int)).max() <= 4
        assert SI.decode_gray(blob[:40]) is None
        assert SI.decode_gray(b"\xff\xd8\xff\xc2" + blob[4:]) is None  # progressive

    def test_stdlib_jpeg_bitflip_fuzz_never_crashes(self, spark):
        """Corruption hardening for the new decoder: 400 random
        bit-flips over a valid JPEG (plus random FFD8-prefixed junk)
        must yield None or a valid uint8 array — never an unhandled
        exception.  Mirrors the wire-blob fuzz contract."""
        from datasketches_spark.pipeline import _stdlib_image as SI

        rng = np.random.default_rng(7)
        img = (rng.integers(0, 256, (24, 24))).astype(np.uint8)
        blob = SI.encode_jpeg_gray(img, q=8)
        for _ in range(400):
            bad = bytearray(blob)
            bad[int(rng.integers(2, len(blob)))] ^= 1 << int(rng.integers(0, 8))
            out = SI.decode_gray(bytes(bad))
            if out is not None:
                assert out.dtype == np.uint8 and out.ndim == 2
        for n in (8, 40, 300):
            junk = b"\xff\xd8" + bytes(rng.integers(0, 256, n).tolist())
            out = SI.decode_gray(junk)
            if out is not None:
                assert out.dtype == np.uint8 and out.ndim == 2
        # empty segment body (seg_len == 2) used to IndexError
        import struct as _s
        assert SI.decode_gray(
            b"\xff\xd8\xff\xc0" + _s.pack(">H", 2) + b"\xff\xd9"
        ) is None

    def test_stdlib_jpeg_giant_sof_rejected_before_alloc(self):
        """A crafted SOF0 declaring 65535x65535 (~34 GB of blocks) must
        return None from the pixel cap — not attempt the allocation and
        MemoryError the Spark task (untrusted corpus bytes contract)."""
        import resource
        import struct as _s

        from datasketches_spark.pipeline import _stdlib_image as SI

        rng = np.random.default_rng(3)
        img = (rng.integers(0, 256, (16, 16))).astype(np.uint8)
        blob = bytearray(SI.encode_jpeg_gray(img, q=8))
        sof = blob.find(b"\xff\xc0")
        assert sof > 0
        # patch declared h, w to 65535x65535 (offsets: marker+len+prec)
        _s.pack_into(">HH", blob, sof + 5, 65535, 65535)
        before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        assert SI.decode_gray(bytes(blob)) is None
        after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        # ru_maxrss is KiB on linux; the 34 GB alloc would move it by GBs
        assert after - before < 1 << 20

    def test_stdlib_jpeg_encode_q_validated(self):
        """q=1 can produce AC size category 11, outside the fixed
        Huffman table — must raise up front, not KeyError mid-encode."""
        from datasketches_spark.pipeline import _stdlib_image as SI

        # max-contrast checkerboard: the q=1 KeyError repro
        img = np.indices((8, 8)).sum(0) % 2 * 255
        img = img.astype(np.uint8)
        with pytest.raises(ValueError, match="q must be"):
            SI.encode_jpeg_gray(img, q=1)
        with pytest.raises(ValueError, match="q must be"):
            SI.encode_jpeg_gray(img, q=0)
        with pytest.raises(ValueError, match="q must be"):
            SI.encode_jpeg_gray(img, q=256)
        # q=2 on the same worst-case block stays in-table and round-trips
        dec = SI.decode_gray(SI.encode_jpeg_gray(img, q=2))
        assert dec is not None and dec.shape == (8, 8)

    def test_stdlib_jpeg_cross_validates_with_java_imageio(self, spark):
        """Live-JVM oracle: javax.imageio writes standard Annex-K
        baseline JPEGs (grayscale 1-component and 4:2:0 color).  Our
        decoder must read both within +-2 of java's own decode, and
        java must read OUR encoder's output."""
        from datasketches_spark.pipeline import _stdlib_image as SI

        jvm = spark.sparkContext._jvm
        BI = jvm.java.awt.image.BufferedImage

        def j_encode(img, rgb=False):
            if rgb:
                bi = BI(img.shape[1], img.shape[0], BI.TYPE_3BYTE_BGR)
                data = img[..., ::-1].copy().tobytes()
            else:
                bi = BI(img.shape[1], img.shape[0], BI.TYPE_BYTE_GRAY)
                data = img.tobytes()
            bi.getRaster().setDataElements(
                0, 0, img.shape[1], img.shape[0], bytearray(data)
            )
            baos = jvm.java.io.ByteArrayOutputStream()
            assert jvm.javax.imageio.ImageIO.write(bi, "jpg", baos)
            return bytes(baos.toByteArray())

        def j_decode_gray(blob):
            bi = jvm.javax.imageio.ImageIO.read(
                jvm.java.io.ByteArrayInputStream(bytearray(blob))
            )
            if bi is None:
                return None
            w, h = bi.getWidth(), bi.getHeight()
            gray = BI(w, h, BI.TYPE_BYTE_GRAY)
            g2 = gray.getGraphics()
            g2.drawImage(bi, 0, 0, None)
            g2.dispose()
            data = gray.getRaster().getDataElements(0, 0, w, h, None)
            return np.frombuffer(bytes(data), dtype=np.uint8).reshape(h, w)

        x = np.linspace(0, 3 * np.pi, 48)
        img = (
            127 + 80 * np.sin(x)[None, :] * np.cos(0.7 * x)[:, None]
        ).clip(0, 255).astype(np.uint8)

        jb = j_encode(img)
        ours = SI.decode_gray(jb)
        assert ours is not None and ours.shape == img.shape
        assert np.abs(ours.astype(int) - j_decode_gray(jb).astype(int)).max() <= 1

        color = np.stack([img, np.roll(img, 7, 0), 255 - img], axis=-1)
        jcb = j_encode(color, rgb=True)
        ours_c = SI.decode_gray(jcb)  # 4:2:0 subsampled, luma-only path
        assert ours_c is not None and ours_c.shape == img.shape
        assert np.abs(
            ours_c.astype(int) - j_decode_gray(jcb).astype(int)
        ).max() <= 2

        jd = j_decode_gray(SI.encode_jpeg_gray(img, q=6))
        assert jd is not None
        assert np.abs(jd.astype(int) - img.astype(int)).max() <= 10

    def test_stdlib_tier_resize_exact(self, spark):
        """Nearest-neighbor resize through the stdlib tier: a 2x2
        checkerboard upsampled to 4x4 has an exactly predictable byte
        payload — real pixel math, not a content-hash fake."""
        from datasketches_spark.pipeline import _stdlib_image as SI

        if multimodal._pil() is not None:
            pytest.skip("PIL present: the stdlib tier is shadowed")
        img = np.array([[0, 255], [255, 0]], dtype=np.uint8)
        df = spark.createDataFrame([Row(id=1, payload=bytearray(SI.encode_png(img)))])
        r = multimodal.resize_binary(df, "payload", "id", 4, 4, strict=True).first()
        got = np.frombuffer(bytes(r.resized), dtype=np.uint8).reshape(4, 4)
        expect = np.array(
            [[0, 0, 255, 255], [0, 0, 255, 255], [255, 255, 0, 0], [255, 255, 0, 0]],
            dtype=np.uint8,
        )
        assert np.array_equal(got, expect)
        assert r.width == 4 and r.height == 4

    def test_resize_contract(self, spark, bin_df):
        if multimodal._pil() is not None:
            pytest.skip("PIL present: fake resizer inactive (see real test)")
        out = multimodal.resize_binary(bin_df, "payload", "id", target_w=8, target_h=4)
        rows = {r.id: r for r in out.collect()}
        assert all(len(r.resized) == 32 for r in rows.values())
        assert rows[1].width == 8 and rows[1].height == 4
        again = {r.id: r.resized for r in
                 multimodal.resize_binary(bin_df, "payload", "id", 8, 4).collect()}
        assert again == {i: r.resized for i, r in rows.items()}  # deterministic

    def test_real_pil_decode_and_resize(self, spark):
        """Dual-path, no skip: with PIL installed, a real PNG decodes to
        normalized grid pixels and resizes to w*h bytes; without it,
        the documented contract for a PIL-only payload (here GIF) is a
        LOUD strict-mode failure, never a fabricated answer."""
        Image = multimodal._pil()
        if Image is None:
            gif = b"GIF89a" + bytes(24)  # only the PIL tier reads GIF
            df = spark.createDataFrame([Row(id=1, payload=gif)])
            with pytest.raises(Exception, match="requires PIL"):
                multimodal.decode_image_features(
                    df, "payload", "id", strict=True
                ).collect()
            return
        import io

        img = Image.new("L", (10, 10), color=128)
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        df = spark.createDataFrame([Row(id=1, payload=buf.getvalue())])
        feats = multimodal.decode_image_features(df, "payload", "id", n_features=9).first()
        assert len(feats.features) == 9
        assert all(abs(f - 128 / 255.0) < 1e-6 for f in feats.features)
        rz = multimodal.resize_binary(df, "payload", "id", target_w=8, target_h=4).first()
        assert len(rz.resized) == 32 and rz.width == 8 and rz.height == 4

    def test_pil_branch_with_fake_module(self, monkeypatch):
        """The PIL tier of decode_image_features is exercised even on
        this PIL-less container: a minimal fake PIL module is injected
        into sys.modules so `_pil()` resolves it, and the module-level
        `_pil_image_features` helper (the exact code the executor
        closure calls) runs the open → convert("L") → resize → normalize
        chain against it, including the undecodable-payload None path."""
        import sys
        import types

        calls = {}

        class FakeImg:
            def __init__(self, px):
                self.px = px

            def convert(self, mode):
                assert mode == "L"
                calls["convert"] = True
                return self

            def resize(self, wh):
                calls["resize"] = wh
                return FakeImg(
                    np.full((wh[1], wh[0]), 128, dtype=np.uint8)
                )

            def __array__(self, dtype=None, copy=None):
                return self.px if dtype is None else self.px.astype(dtype)

        class FakeImageMod:
            @staticmethod
            def open(fp):
                blob = fp.read()
                if not blob.startswith(b"FAKEIMG"):
                    raise ValueError("cannot identify image file")
                return FakeImg(None)

        fake_pil = types.ModuleType("PIL")
        fake_pil.Image = FakeImageMod
        monkeypatch.setitem(sys.modules, "PIL", fake_pil)
        assert multimodal._pil() is FakeImageMod  # probe resolves the fake
        feats = multimodal._pil_image_features(FakeImageMod, b"FAKEIMG" + bytes(8), 9)
        assert calls["convert"] and calls["resize"] == (3, 3)
        assert feats == pytest.approx([128 / 255.0] * 9)
        assert multimodal._pil_image_features(FakeImageMod, b"junk", 9) is None


class TestIVF:
    def test_ivf_recall_vs_brute_force(self, spark):
        import numpy as np
        from pyspark.sql import Row

        rng = np.random.default_rng(3)
        vecs = rng.standard_normal((300, 16)).astype(np.float64)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(300)]
        )
        assigned, cents = similarity.ivf_build(df, n_centroids=8, sample_limit=300)
        queries = df.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = similarity.brute_force_topk(df, queries, k=5)
        approx = similarity.ivf_topk(assigned, cents, queries, k=5, n_probes=4)
        exact_sets = {}
        for r in exact.collect():
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        hit = total = 0
        for r in approx.collect():
            total += 1
            if r.neighbor_id in exact_sets[r.query_id]:
                hit += 1
        assert total > 0
        assert hit / max(len(exact_sets) * 5, 1) >= 0.5  # recall@5 with half the cells probed

    def test_ivf_topk_large_query_side_no_driver_collect(self, spark):
        """Probe assignment is a mapInPandas over the query DataFrame
        (centroid matrix in closure) — a 100k-row query side must run
        without collecting queries to the driver.  Rows-only check:
        every query gets exactly k ranked neighbors."""
        import numpy as np

        rng = np.random.default_rng(11)
        vecs = rng.standard_normal((400, 8))
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(400)],
            "vec_id long, embedding array<double>",
        )
        assigned, cents = similarity.ivf_build(corpus, n_centroids=8, sample_limit=400)
        # 25k is still far beyond anything a driver-collect formulation
        # would survive unnoticed, and the property guarded here is
        # structural (mapInPandas probe assignment, no collect of the
        # query side) — 100k bought nothing but suite wall time (r15)
        n_q = 25_000
        queries = (
            spark.range(n_q)
            .withColumnRenamed("id", "query_id")
            .withColumn(
                "query_vec",
                F.array(*[
                    F.sin((F.col("query_id") + 1) * F.lit(float(j + 1)) + 0.5)
                    for j in range(8)
                ]),
            )
        )
        out = similarity.ivf_topk(
            assigned, cents, queries, k=3, n_probes=1, broadcast_queries=False
        )
        counts = out.groupBy().agg(
            F.count("*").alias("n"), F.countDistinct("query_id").alias("q")
        ).first()
        assert counts.q == n_q and counts.n == n_q * 3

    def test_ivf_partitioned_index_prunes_scans(self, spark, tmp_path):
        """The documented scale path: persist the assignment partitioned
        by centroid_id and probe-time reads must touch only the probed
        cells' files (Catalyst partition pruning), not the whole index."""
        import numpy as np
        from pyspark.sql import Row

        rng = np.random.default_rng(5)
        vecs = rng.standard_normal((200, 8)).astype(np.float64)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(200)]
        )
        assigned, cents = similarity.ivf_build(df, n_centroids=8, sample_limit=200)
        path = str(tmp_path / "ivf_index")
        assigned.write.partitionBy("centroid_id").parquet(path)
        index = spark.read.parquet(path)
        probed = index.filter(F.col("centroid_id").isin([0, 1]))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        # the IN-filter must land in PartitionFilters (directory pruning),
        # not as a post-scan row filter
        assert "PartitionFilters" in plan and "centroid_id" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
        got = probed.select("centroid_id").distinct().collect()
        assert {r.centroid_id for r in got} <= {0, 1}
        assert probed.count() < index.count()

    def test_ivf_index_save_load_roundtrip(self, spark, tmp_path):
        """save_ivf_index/load_ivf_index: the self-contained persisted
        index (centroid-partitioned vectors + centroid table) must
        reproduce the in-memory ivf_topk results exactly."""
        import numpy as np
        from pyspark.sql import Row

        rng = np.random.default_rng(11)
        vecs = rng.standard_normal((150, 8)).astype(np.float64)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(150)]
        )
        assigned, cents = similarity.ivf_build(df, n_centroids=4, sample_limit=150)
        path = str(tmp_path / "ivf_full")
        similarity.save_ivf_index(assigned, cents, path)
        loaded, lcents = similarity.load_ivf_index(spark, path)
        assert np.allclose(cents, lcents)
        queries = df.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        want = {
            (r.query_id, r.rank): r.neighbor_id
            for r in similarity.ivf_topk(assigned, cents, queries, k=5, n_probes=4).collect()
        }
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in similarity.ivf_topk(loaded, lcents, queries, k=5, n_probes=4).collect()
        }
        assert got == want

    def test_ivf_assignment_complete(self, spark):
        import numpy as np
        from pyspark.sql import Row

        rng = np.random.default_rng(4)
        df = spark.createDataFrame(
            [
                Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(8)])
                for i in range(100)
            ]
        )
        assigned, cents = similarity.ivf_build(df, n_centroids=4, sample_limit=100)
        rows = assigned.collect()
        assert len(rows) == 100
        assert all(0 <= r.centroid_id < 4 for r in rows)

    def test_pq_index_save_load_roundtrip(self, spark, tmp_path):
        """save_pq_index/load_pq_index: the persisted (codes table +
        codebooks) must reproduce in-memory pq_topk exactly — the
        trained bytes ship with the index, no retraining."""
        import numpy as np
        from pyspark.sql import Row

        rng = np.random.default_rng(23)
        vecs = rng.standard_normal((200, 16)).astype(np.float64)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(200)]
        )
        cb = similarity.pq_train(df, m=4, nbits=4, seed=9, sample_limit=200)
        codes = similarity.pq_encode(df, cb)
        path = str(tmp_path / "pq_full")
        similarity.save_pq_index(codes, cb, path)
        lcodes, lcb = similarity.load_pq_index(spark, path)
        assert lcb.shape == cb.shape and np.allclose(cb, lcb)
        queries = df.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        want = {
            (r.query_id, r.rank): r.neighbor_id
            for r in similarity.pq_topk(codes, queries, cb, k=5).collect()
        }
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in similarity.pq_topk(lcodes, queries, lcb, k=5).collect()
        }
        assert got == want and len(got) == 15

    def test_ivfpq_index_save_load_prunes_and_matches(self, spark, tmp_path):
        """save_ivfpq_index/load_ivfpq_index: partition-pruned code
        layout (probing 2 of 4 cells must plan as PartitionFilters,
        not a post-scan row filter) AND exact result equality with the
        in-memory ivfpq_topk."""
        import numpy as np
        from pyspark.sql import Row

        rng = np.random.default_rng(29)
        vecs = rng.standard_normal((200, 16)).astype(np.float64)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(200)]
        )
        assigned, cents = similarity.ivf_build(df, n_centroids=4, sample_limit=200)
        cb = similarity.pq_train(df, m=4, nbits=4, seed=9, sample_limit=200)
        ac = assigned.select("vec_id", "centroid_id").join(
            similarity.pq_encode(df, cb), "vec_id"
        )
        path = str(tmp_path / "ivfpq_full")
        similarity.save_ivfpq_index(ac, cents, cb, path)
        lac, lcents, lcb = similarity.load_ivfpq_index(spark, path)
        assert np.allclose(cents, lcents) and np.allclose(cb, lcb)
        probed = lac.filter(F.col("centroid_id").isin([0, 1]))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "centroid_id" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
        queries = df.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        want = {
            (r.query_id, r.rank): r.neighbor_id
            for r in similarity.ivfpq_topk(
                ac, cents, cb, queries, k=5, n_probes=2
            ).collect()
        }
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in similarity.ivfpq_topk(
                lac, lcents, lcb, queries, k=5, n_probes=2
            ).collect()
        }
        assert got == want and len(got) == 15


# ---------------- sessionization ---------------------------------------


def test_sessionize_gap_semantics(spark):
    from datasketches_spark.pipeline import sessions as S

    rows = [
        (1, 100), (1, 200), (1, 5000),   # user 1: gap>1000 at 5000 -> 2 sessions
        (2, 50),                          # user 2: single event -> 1 session
        (3, 10), (3, 2000), (3, 4000),    # user 3: two gaps -> 3 sessions
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts LONG")
    out = {r["user_id"]: (r["n_sessions"], r["n_events"])
           for r in S.session_stats(df, "user_id", "ts", gap=1000).collect()}
    assert out == {1: (2, 3), 2: (1, 1), 3: (3, 3)}


def test_sessionize_assigns_monotone_ids(spark):
    from datasketches_spark.pipeline import sessions as S

    df = spark.createDataFrame(
        [(1, t) for t in (0, 10, 5000, 5010, 99999)], "user_id LONG, ts LONG"
    )
    got = [r["session_seq"] for r in
           S.sessionize(df, "user_id", "ts", gap=1000).orderBy("ts").collect()]
    assert got == [1, 1, 2, 2, 3]


class TestDecontam:
    def _corpora(self, spark):
        from datasketches_spark.pipeline import decontam as D

        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "a completely unrelated sentence with no overlap at all"),
                (3, "quick brown fox jumps over everything else entirely"),
                (4, ""),
            ],
            ["doc_id", "text"],
        )
        bench = spark.createDataFrame(
            [(100, "we saw the quick brown fox jumps over the fence")],
            ["doc_id", "text"],
        )
        return D, train, bench

    def test_contamination_counts(self, spark):
        D, train, bench = self._corpora(spark)
        got = {
            r.doc_id: r.n_contaminated
            for r in D.contamination(train, bench, "doc_id", "text", n=3).collect()
        }
        # doc 1 shares "the quick brown","quick brown fox","brown fox jumps",
        # "fox jumps over","jumps over the"; doc 3 the middle three; 2/4 none.
        assert got == {1: 5, 3: 3}

    def test_decontaminate_removes_dirty(self, spark):
        D, train, bench = self._corpora(spark)
        kept = sorted(
            r.doc_id
            for r in D.decontaminate(train, bench, "doc_id", "text", n=3).collect()
        )
        assert kept == [2, 4]

    def test_decontaminate_threshold(self, spark):
        D, train, bench = self._corpora(spark)
        kept = sorted(
            r.doc_id
            for r in D.decontaminate(
                train, bench, "doc_id", "text", n=3, max_overlap=3
            ).collect()
        )
        assert kept == [2, 3, 4]  # doc 3 has exactly 3 shared 3-grams

    def test_ngrams_shorter_than_n(self, spark):
        D, _, _ = self._corpora(spark)
        row = (
            spark.createDataFrame([("one two",)], ["t"])
            .select(D.word_ngrams(F.col("t"), 3).alias("ngs"))
            .first()
        )
        assert row.ngs == []

    def test_hash_join_matches_string_join(self, spark):
        # the xxhash64-keyed fast path must answer identically to the
        # exact string join (collisions are ~2^-64 per pair; none here)
        D, train, bench = self._corpora(spark)
        fast = {
            r.doc_id: r.n_contaminated
            for r in D.contamination(
                train, bench, "doc_id", "text", n=3, hash_join=True
            ).collect()
        }
        exact = {
            r.doc_id: r.n_contaminated
            for r in D.contamination(
                train, bench, "doc_id", "text", n=3, hash_join=False
            ).collect()
        }
        assert fast == exact == {1: 5, 3: 3}

    def test_benchmark_side_is_broadcast(self, spark):
        """The 100 TB-side contract: the plan must probe the benchmark
        n-gram set via a broadcast join, never shuffle the train side
        for the join."""
        D, train, bench = self._corpora(spark)
        plan = D.contamination(train, bench, "doc_id", "text", n=3)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_fan_out_gate_sees_through_hollow_splits(self, spark, tmp_path):
        """Parquet byte-range splits can be HOLLOW (one row group per
        file -> only the split holding the row-group start carries
        rows).  Round-9 regression: a count-only gate saw 32 reported
        partitions, skipped the fan-out, and the n-gram explode ran on
        8 productive cores (47 s vs 17 s at 10x replica scale).  The
        bytes gate must repartition whenever the input is smaller than
        one full split per core, even when the reported partition
        count looks wide."""
        from datasketches_spark.pipeline import decontam as D

        par = spark.sparkContext.defaultParallelism
        path = str(tmp_path / "narrow.parquet")
        spark.range(2000).selectExpr(
            "id AS doc_id", "repeat('word ', 50) AS text"
        ).coalesce(1).write.parquet(path)
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            # tiny splits: one row group, many hollow byte ranges
            spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
            df = spark.read.parquet(path)
            reported = df.rdd.getNumPartitions()
            fanned = D._fan_out_if_narrow(df)
            plan = fanned._jdf.queryExecution().executedPlan().toString()
            if reported >= par:
                # the regression shape: wide-looking but hollow — the
                # bytes gate must still round-robin it
                assert "RoundRobinPartitioning" in plan, (
                    f"{reported} reported partitions (par={par}) but "
                    "no fan-out — the hollow-split gate regressed"
                )
            # productive balance: no partition holds more than half
            counts = fanned.rdd.mapPartitions(
                lambda it: [sum(1 for _ in it)]
            ).collect()
            assert max(counts) < 2000 / 2
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    def test_fan_out_gate_absolute_byte_cap(self, spark, monkeypatch):
        """The per-core threshold alone scales with the cluster (1000
        cores x 128 MB = ~128 GB), which would shuffle huge raw-text
        corpora.  Above the absolute cap the gate must be a no-op even
        when plan bytes < par * maxPartitionBytes."""
        from datasketches_spark.pipeline import decontam as D

        df = spark.range(10_000).selectExpr(
            "id AS doc_id", "repeat('word ', 20) AS text"
        )
        monkeypatch.setattr(D, "_FAN_OUT_BYTE_CAP", 1)
        plan = (
            D._fan_out_if_narrow(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "RoundRobinPartitioning" not in plan


class TestRepetitionSignals:
    def test_values(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a a a a"),          # 2-grams: aa aa aa -> 1/3 distinct
                (2, "a b c d"),          # all unique
                (3, "a b a b a"),        # 2-grams: ab ba ab ba -> 2/4 distinct
                (4, ""),
            ],
            ["doc_id", "text"],
        )
        got = {
            r.doc_id: (r.u, r.t, r.g)
            for r in df.select(
                "doc_id",
                text.unique_token_ratio(F.col("text")).alias("u"),
                text.top_token_fraction(F.col("text")).alias("t"),
                text.repeated_2gram_fraction(F.col("text")).alias("g"),
            ).collect()
        }
        assert got[1] == (0.25, 1.0, 0.666667)
        assert got[2] == (1.0, 0.25, 0.0)
        assert got[3] == (0.4, 0.6, 0.5)
        assert got[4] == (1.0, 0.0, 0.0)


class TestRedaction:
    def test_email_then_number_order(self, spark):
        df = spark.createDataFrame(
            [("write to bob42@mail.example.com or call 555 0123",)], ["t"]
        )
        out = df.select(text.redact(F.col("t")).alias("r")).first().r
        assert out == "write to <EMAIL> or call <NUM> <NUM>"

    def test_no_pii_unchanged(self, spark):
        df = spark.createDataFrame([("nothing to hide here",)], ["t"])
        assert (
            df.select(text.redact(F.col("t")).alias("r")).first().r
            == "nothing to hide here"
        )


class TestNullTextMinhash:
    def test_null_text_docs_produce_no_candidates(self, spark):
        """NULL-text docs must not band together (would be O(m^2)
        candidates); NULL text gives a NULL sig, which banding drops
        (code-review regression)."""
        df = spark.createDataFrame(
            [(1, None), (2, None), (3, None), (4, "real text here ok")],
            "doc_id long, text string",
        )
        pairs = dedup.lsh_verified_near_duplicates(df, "doc_id", "text", threshold=0.1)
        assert pairs.count() == 0


class TestUnigramLm:
    def test_cms_engine_equals_exact(self, spark):
        """The sketch-backed scale path must reproduce the exact
        engine when the CMS is collision-free at this vocabulary
        (deterministic: same data, same hashes, same result)."""
        from datasketches_spark.pipeline import lm

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
            F.col("doc_id") < 150
        )
        exact = {
            r.doc_id: (r.n_tokens, None if r.logprob is None else round(r.logprob, 9))
            for r in lm.unigram_logprob(docs, engine="exact").collect()
        }
        cms = {
            r.doc_id: (r.n_tokens, None if r.logprob is None else round(r.logprob, 9))
            for r in lm.unigram_logprob(docs, engine="cms", lg_w=18).collect()
        }
        assert exact == cms and len(exact) == 150

    def test_zero_token_and_null_docs(self, spark):
        from datasketches_spark.pipeline import lm

        df = spark.createDataFrame(
            [(1, "hello hello world"), (2, ""), (3, None), (4, "  ")],
            "doc_id long, text string",
        )
        for engine in ("exact", "cms"):
            got = {
                r.doc_id: (r.n_tokens, r.logprob)
                for r in lm.unigram_logprob(df, engine=engine).collect()
            }
            assert got[2] == (0, None) and got[3] == (0, None) and got[4] == (0, None)
            n, lp = got[1]
            assert n == 3 and lp is not None
            # P(hello)=2/3, P(world)=1/3; mean of [ln(2/3), ln(2/3), ln(1/3)]
            import math

            expect = (2 * math.log(2 / 3) + math.log(1 / 3)) / 3
            assert abs(lp - expect) < 1e-12, engine

    def test_cms_bias_is_upward_only(self, spark):
        """An undersized CMS (forced collisions) may only RAISE scores
        (overestimates inflate ln p) — the conservative direction for
        a quality filter."""
        from datasketches_spark.pipeline import lm

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
            F.col("doc_id") < 150
        )
        exact = {
            r.doc_id: r.logprob
            for r in lm.unigram_logprob(docs, engine="exact").collect()
            if r.logprob is not None
        }
        tiny = {
            r.doc_id: r.logprob
            for r in lm.unigram_logprob(docs, engine="cms", lg_w=6).collect()
            if r.logprob is not None
        }
        assert all(tiny[d] >= exact[d] - 1e-12 for d in exact)

    def test_bigram_cms_engine_equals_exact(self, spark):
        from datasketches_spark.pipeline import lm

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
            F.col("doc_id") < 150
        )
        exact = {
            r.doc_id: (r.n_bigrams, None if r.logprob is None else round(r.logprob, 9))
            for r in lm.bigram_logprob(docs, engine="exact").collect()
        }
        cms = {
            r.doc_id: (r.n_bigrams, None if r.logprob is None else round(r.logprob, 9))
            for r in lm.bigram_logprob(docs, engine="cms", lg_w=18).collect()
        }
        assert exact == cms and len(exact) == 150

    def test_cms_scoring_plan_is_map_only(self, spark):
        """The 100 TB claim, assertable: once the CMS blob exists, the
        SCORING DataFrame's plan carries ZERO exchanges — documents
        stream through their scan, text never shuffles.  (The blob
        build itself is the separate blob-only two-phase job.)  The
        exact engine's plan shuffles several times — the contrast is
        the point."""
        from datasketches_spark.pipeline import lm
        from datasketches_spark.plans import scalability_report

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).filter(F.col("doc_id") < 50)
        for fn in (lm.unigram_logprob, lm.bigram_logprob):
            rep = scalability_report(fn(docs, engine="cms", lg_w=14))
            assert rep["num_exchanges"] == 0, (fn.__name__, rep["plan"])
            rep_exact = scalability_report(fn(docs, engine="exact"))
            assert rep_exact["num_exchanges"] > 0

    def test_bigram_short_doc_semantics(self, spark):
        import math

        from datasketches_spark.pipeline import lm

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "one"), (3, ""), (4, None)],
            "doc_id long, text string",
        )
        for engine in ("exact", "cms"):
            got = {
                r.doc_id: (r.n_bigrams, r.logprob)
                for r in lm.bigram_logprob(df, engine=engine).collect()
            }
            assert got[2] == (0, None) and got[3] == (0, None) and got[4] == (0, None)
            n, lp = got[1]
            assert n == 3
            # bigrams: "a b" x2, "b a" x1; c(a)=2, c(b)=2, T=5 (incl 'one')
            s_ab = math.log(0.7 * 2 / 2 + 0.3 * 2 / 5)
            s_ba = math.log(0.7 * 1 / 2 + 0.3 * 2 / 5)
            expect = (2 * s_ab + s_ba) / 3
            assert abs(lp - expect) < 1e-12, engine


class TestSegmentMeans:
    """lm._segment_means is the shared segment-reduce primitive behind
    the vectorized CMS scorers — property-checked against the naive
    per-segment loop (ragged shapes, empty segments at every position,
    all-empty batches)."""

    def test_matches_naive_on_random_raggedness(self):
        import numpy as np

        from datasketches_spark.pipeline.lm import _segment_means

        rng = np.random.default_rng(5)
        for _ in range(200):
            lens = rng.integers(0, 5, size=rng.integers(1, 12))
            vals = rng.standard_normal(int(lens.sum()))
            got = _segment_means(vals, lens.astype(np.int64))
            pos = 0
            for i, ln in enumerate(lens):
                if ln == 0:
                    assert np.isnan(got[i])
                else:
                    assert np.isclose(got[i], vals[pos : pos + ln].mean())
                    pos += ln

    def test_all_empty(self):
        import numpy as np

        from datasketches_spark.pipeline.lm import _segment_means

        out = _segment_means(np.empty(0), np.zeros(4, dtype=np.int64))
        assert out.shape == (4,) and np.isnan(out).all()


class TestPyTokensTwin:
    """lm._py_tokens must match text.tokens() token-for-token — the CMS
    model is built by the JVM expression and probed by the Python twin,
    so any divergence (a token the model never saw) yields estimate 0
    -> log(0) = -inf.  Java's \\s is ASCII-only and Spark's trim strips
    ASCII space only; Python's str.strip()/re \\s are Unicode-aware —
    the exact trap ADVICE r13 flagged."""

    CASES = [
        "hello world",
        "  padded  ",
        "a b",  # NBSP: ONE token to the JVM
        "a b",  # thin space
        "a　b",  # ideographic space
        " ",  # NBSP-only: one non-empty token
        "\thello ",  # leading tab survives trim -> leading '' token
        "a b\t",  # trailing tab -> trailing '' token (split limit=-1)
        "\t",  # -> ['', '']
        "a\x0bb",
        "a\r\nb",
        "",
        "   ",
        "Mixed CASE here",
    ]

    def test_twin_matches_jvm_tokens(self, spark):
        from datasketches_spark.pipeline import lm
        from datasketches_spark.pipeline.text import tokens

        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.CASES)], "i int, t string"
        )
        jvm = {
            r["i"]: r["tk"]
            for r in df.select("i", tokens(F.col("t")).alias("tk")).collect()
        }
        for i, c in enumerate(self.CASES):
            assert lm._py_tokens(c) == jvm[i], repr(c)

    def test_cms_equals_exact_on_unicode_whitespace(self, spark):
        """End-to-end: non-ASCII-whitespace docs score identically on
        both engines (the old Unicode-aware twin returned -inf here)."""
        import math

        from datasketches_spark.pipeline import lm

        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.CASES)], "doc_id long, text string"
        )
        for fn in (lm.unigram_logprob, lm.bigram_logprob):
            exact = {
                r.doc_id: (r[1], None if r.logprob is None else round(r.logprob, 9))
                for r in fn(df, engine="exact").collect()
            }
            cms = {
                r.doc_id: (r[1], None if r.logprob is None else round(r.logprob, 9))
                for r in fn(df, engine="cms", lg_w=12).collect()
            }
            assert exact == cms, fn.__name__
            for v in cms.values():
                assert v[1] is None or math.isfinite(v[1])


def test_semantic_decontam_flags_planted_match(spark):
    """semantic_contamination flags an exact-duplicate embedding at
    any threshold; semantic_decontaminate anti-joins it away."""
    from datasketches_spark.pipeline.decontam import (
        semantic_contamination,
        semantic_decontaminate,
    )
    from pyspark.sql import functions as F

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    train = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),      # exact leak
            (2, [0.9, 0.1, 0.0]),      # near leak
            (3, [0.0, 1.0, 0.0]),      # orthogonal
        ],
        "vec_id bigint, embedding array<double>",
    )
    pairs = {
        (r.train_id, r.bench_id)
        for r in semantic_contamination(train, bench, threshold=0.95).collect()
    }
    assert pairs == {(1, 100), (2, 100)}
    clean = {
        r.vec_id
        for r in semantic_decontaminate(train, bench, threshold=0.95).collect()
    }
    assert clean == {3}
    # the cosine expression stays JVM-side (no Python eval nodes)
    plan = (
        semantic_contamination(train, bench, threshold=0.95)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan
