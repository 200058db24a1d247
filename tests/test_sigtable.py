"""Signature-table MinHash workflow: the 100 TB dedup recipe as code.

Three claims, each asserted:
1. ROUTE EQUALITY — near-dup pairs through the stored signature table
   are row-identical to the direct in-plan route (same seeded
   signatures, same exact verify).
2. PLAN PURITY — with ``signatures=`` a stored table, the near-dup
   physical plan contains ZERO Python eval nodes (the mapInPandas
   signature pass ran once, at write time) and scans the signature
   parquet.
3. BUCKETED TABLE MODE — ``table=`` writes a catalog table bucketed by
   id whose self-join on id plans WITHOUT a shuffle exchange on the
   bucketed scans.
"""

import os

import pytest
from pyspark.sql import functions as F

from datasketches_spark.pipeline import dedup as D
from datasketches_spark.sources import read_table

SF = "/root/testdata/sf0.001"

_PY_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
)


def _docs(spark):
    return read_table(spark, SF, "documents").filter(F.col("doc_id") < 150)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sig_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sigs") / "minhash_sigs")
    D.write_minhash_signatures(_docs(spark), "doc_id", "text", path, buckets=4)
    return path


class TestRouteEquality:
    def test_lsh_verified_matches_direct(self, spark, sig_path):
        docs = _docs(spark)
        direct = D.lsh_verified_near_duplicates(
            docs, "doc_id", "text", threshold=0.8
        )
        via_table = D.lsh_verified_near_duplicates(
            docs, "doc_id", "text", threshold=0.8, signatures=sig_path
        )
        a = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in direct.collect()}
        b = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in via_table.collect()}
        spark.catalog.clearCache()
        assert a == b and len(a) > 0

    def test_estimated_route_matches_direct(self, spark, sig_path):
        docs = _docs(spark)
        direct = D.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.8)
        via_table = D.minhash_near_duplicates(
            None, "doc_id", threshold=0.8, signatures=sig_path
        )
        a = {(r.id_a, r.id_b, round(r.est_jaccard, 9)) for r in direct.collect()}
        b = {(r.id_a, r.id_b, round(r.est_jaccard, 9)) for r in via_table.collect()}
        spark.catalog.clearCache()
        assert a == b

    def test_approx_facade_passthrough(self, spark, sig_path):
        import datasketches_spark as dss

        direct = dss.approx.near_duplicates(_docs(spark), "doc_id", "text")
        via = dss.approx.near_duplicates(
            None, "doc_id", "text", signatures=sig_path
        )
        a = {(r.id_a, r.id_b) for r in direct.collect()}
        b = {(r.id_a, r.id_b) for r in via.collect()}
        spark.catalog.clearCache()
        assert a == b

    def test_fuzzy_dedup_composes_with_table(self, spark, sig_path):
        """The one-call fuzzy dedup gives the identical kept set
        through the stored-signature route."""
        docs = _docs(spark)
        direct = {r.doc_id for r in D.fuzzy_dedup(
            docs, "doc_id", "text", keep_cols=["doc_id"]).collect()}
        via = {r.doc_id for r in D.fuzzy_dedup(
            docs, "doc_id", "text", keep_cols=["doc_id"],
            signatures=sig_path).collect()}
        spark.catalog.clearCache()
        assert direct == via and 0 < len(direct) <= docs.count()

    def test_stored_signatures_match_live(self, spark, sig_path):
        live = {
            r.doc_id: tuple(r.sig) if r.sig is not None else None
            for r in D.minhash_signatures(
                _docs(spark), "doc_id", "text"
            ).collect()
        }
        stored = {
            r.doc_id: tuple(r.sig) if r.sig is not None else None
            for r in D.read_minhash_signatures(spark, sig_path).collect()
        }
        assert live == stored


class TestPlanPurity:
    def test_table_route_has_no_python_nodes(self, spark, sig_path):
        docs = _docs(spark)
        via_table = D.lsh_verified_near_duplicates(
            docs, "doc_id", "text", threshold=0.8, signatures=sig_path
        )
        plan = _plan(via_table)
        offenders = [n for n in _PY_NODES if n in plan]
        assert offenders == [], offenders
        # and it actually reads the stored signatures
        assert os.path.basename(sig_path) in plan

    def test_direct_route_does_use_python(self, spark):
        # control: the claim above is meaningful because the direct
        # route's plan DOES carry the Python signature stage
        direct = D.lsh_verified_near_duplicates(
            _docs(spark), "doc_id", "text", threshold=0.8, persist=False
        )
        assert any(n in _plan(direct) for n in _PY_NODES)

    def test_estimated_table_route_pure_jvm(self, spark, sig_path):
        via_table = D.minhash_near_duplicates(
            None, "doc_id", threshold=0.8, signatures=sig_path
        )
        plan = _plan(via_table)
        assert not any(n in plan for n in _PY_NODES)


class TestBucketedTableMode:
    def test_bucket_metadata_and_bucket_join(self, spark, tmp_path):
        table = "dsks_test_sig_bucketed"
        path = str(tmp_path / "sig_bucketed")
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        try:
            D.write_minhash_signatures(
                _docs(spark), "doc_id", "text", path, buckets=4, table=table
            )
            cols = {
                r.col_name: r.data_type
                for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
            }
            assert cols.get("Num Buckets") == "4"
            assert "doc_id" in cols.get("Bucket Columns", "")
            # bucketed self-join on id: no Exchange feeds the sorted
            # bucket scans (the whole point of bucketBy at 100 TB)
            t = spark.table(table)
            # hint past the auto-broadcast (the toy table is tiny);
            # at scale this join IS a sort-merge join, and the bucket
            # metadata is what removes both exchanges from it
            j = t.alias("a").hint("merge").join(
                t.alias("b").withColumnRenamed("sig", "sig_b"), "doc_id"
            )
            plan = _plan(j)
            assert "Exchange hashpartitioning" not in plan
            assert "Bucketed: true" in plan
            # the table route resolves catalog names too
            rt = D.read_minhash_signatures(spark, table)
            assert rt.count() == _docs(spark).count()
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestUpsert:
    """upsert_minhash_signatures: incremental == from-scratch."""

    def test_parquet_upsert_equals_from_scratch(self, spark, tmp_path):
        docs_all = read_table(spark, SF, "documents").filter(F.col("doc_id") < 200)
        base = docs_all.filter(F.col("doc_id") < 120)
        new = docs_all.filter(F.col("doc_id") >= 100)  # 100-119 already stored
        p_inc = str(tmp_path / "sigs_inc")
        D.write_minhash_signatures(base, "doc_id", "text", p_inc, buckets=4)
        D.upsert_minhash_signatures(new, "doc_id", "text", p_inc, buckets=4)
        p_full = str(tmp_path / "sigs_full")
        D.write_minhash_signatures(docs_all, "doc_id", "text", p_full, buckets=4)
        inc = {
            r.doc_id: tuple(r.sig) if r.sig is not None else None
            for r in D.read_minhash_signatures(spark, p_inc).collect()
        }
        full = {
            r.doc_id: tuple(r.sig) if r.sig is not None else None
            for r in D.read_minhash_signatures(spark, p_full).collect()
        }
        assert inc == full and len(inc) == 200  # overlap skipped, never duplicated

    def test_catalog_upsert_keeps_bucket_layout(self, spark, tmp_path):
        table = "dsks_test_sig_upsert"
        path = str(tmp_path / "sig_upsert")
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        try:
            docs_all = read_table(spark, SF, "documents").filter(
                F.col("doc_id") < 200
            )
            base = docs_all.filter(F.col("doc_id") < 150)
            new = docs_all.filter(F.col("doc_id") >= 140)
            D.write_minhash_signatures(
                base, "doc_id", "text", path, buckets=4, table=table
            )
            D.upsert_minhash_signatures(
                new, "doc_id", "text", path, buckets=4, table=table
            )
            t = spark.table(table)
            assert t.count() == 200
            assert t.select("doc_id").distinct().count() == 200
            cols = {
                r.col_name: r.data_type
                for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
            }
            assert cols.get("Num Buckets") == "4"
            live = {
                r.doc_id: tuple(r.sig)
                for r in D.minhash_signatures(docs_all, "doc_id", "text").collect()
            }
            stored = {r.doc_id: tuple(r.sig) for r in t.collect()}
            assert stored == live
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_upsert_width_mismatch_raises(self, spark, tmp_path):
        path = str(tmp_path / "sigs_w32")
        D.write_minhash_signatures(
            _docs(spark), "doc_id", "text", path, buckets=2, num_hashes=32
        )
        with pytest.raises(ValueError, match="32 hashes"):
            D.upsert_minhash_signatures(
                _docs(spark), "doc_id", "text", path, buckets=2, num_hashes=64
            )


class TestSigGeometryGuard:
    """ADVICE r13: a stored table narrower than bands*rows used to make
    F.hash(all-NULL) a CONSTANT band key — silent O(n^2) candidates."""

    def test_narrow_signatures_raise_on_both_routes(self, spark, tmp_path):
        path = str(tmp_path / "sigs_narrow")
        D.write_minhash_signatures(
            _docs(spark), "doc_id", "text", path, buckets=2, num_hashes=32
        )
        with pytest.raises(ValueError, match="bands\\*rows"):
            D.minhash_near_duplicates(
                None, "doc_id", signatures=path  # default 16x4 needs 64
            )
        with pytest.raises(ValueError, match="bands\\*rows"):
            D.lsh_verified_near_duplicates(
                _docs(spark), "doc_id", "text", signatures=path
            )
        # matching geometry passes through fine
        out = D.minhash_near_duplicates(
            None, "doc_id", signatures=path, bands=8, rows=4
        )
        assert out.count() >= 0


class TestReadDisambiguation:
    """ADVICE r13: a bare \\w+ name that is NOT a registered table must
    fall through to a parquet read, not die TABLE_OR_VIEW_NOT_FOUND."""

    def test_registered_name_wins(self, spark, sig_path):
        view = "dsks_sig_view_probe"
        D.read_minhash_signatures(spark, sig_path).createOrReplaceTempView(view)
        try:
            got = D.read_minhash_signatures(spark, view)
            assert got.count() == _docs(spark).count()
        finally:
            spark.catalog.dropTempView(view)

    def test_unregistered_bare_name_tries_parquet(self, spark):
        with pytest.raises(Exception) as ei:
            D.read_minhash_signatures(
                spark, "definitely_not_a_table_or_dir"
            ).collect()
        assert "TABLE_OR_VIEW_NOT_FOUND" not in str(ei.value)

    def test_unknown_catalog_name_reads_parquet(self, spark, sig_path):
        """A three-part name whose catalog does not exist makes
        ``tableExists`` raise AnalysisException; the name is then read
        as a parquet path (relative to the JVM's working directory)."""
        import shutil
        import uuid

        name = f"nocat{uuid.uuid4().hex}.db.sigs"
        path = os.path.join(spark.sparkContext._jvm.System.getProperty("user.dir"), name)
        D.read_minhash_signatures(spark, sig_path).write.parquet(path)
        try:
            assert D.read_minhash_signatures(spark, name).count() == _docs(spark).count()
        finally:
            shutil.rmtree(path)


class TestCrossCorpus:
    """minhash_cross_near_duplicates — the daily-incremental shape:
    new batch vs stored history, history never recomputed."""

    @pytest.fixture(scope="class")
    def split(self, spark, tmp_path_factory):
        docs = read_table(spark, SF, "documents")
        hist = docs.filter(F.col("doc_id") < 300)
        new = docs.filter(F.col("doc_id") >= 300)
        path = str(tmp_path_factory.mktemp("xsigs") / "hist_sigs")
        D.write_minhash_signatures(
            hist, "doc_id", "text", path, buckets=4, num_hashes=64, seed=1
        )
        return hist, new, path

    def test_exact_verify_matches_bruteforce(self, spark, split):
        hist, new, path = split
        got = {
            (r.new_id, r.hist_id)
            for r in D.minhash_cross_near_duplicates(
                new, "doc_id", "text", path, history_docs=hist, threshold=0.8
            ).collect()
        }
        # brute force: exact char-5-gram jaccard over the full cross
        ga = new.select(
            F.col("doc_id").alias("new_id"),
            D.char_ngrams(F.col("text"), 5).alias("g_a"),
        )
        gb = hist.select(
            F.col("doc_id").alias("hist_id"),
            D.char_ngrams(F.col("text"), 5).alias("g_b"),
        )
        inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
        union = F.size("g_a") + F.size("g_b") - inter
        want = {
            (r.new_id, r.hist_id)
            for r in ga.crossJoin(gb)
            .select(
                "new_id", "hist_id",
                (inter.cast("double") / union.cast("double")).alias("j"),
            )
            .filter(F.col("j") >= 0.8)
            .collect()
        }
        assert got == want and len(want) > 0

    def test_metadata_drives_new_side_params(self, spark, split):
        hist, new, path = split
        # deliberately pass WRONG params: the stored metadata tag must
        # override them, so the result still matches
        base = D.minhash_cross_near_duplicates(
            new, "doc_id", "text", path, history_docs=hist, threshold=0.8
        )
        skewed = D.minhash_cross_near_duplicates(
            new, "doc_id", "text", path, history_docs=hist, threshold=0.8,
            num_hashes=16, seed=99, shingle=3,
        )
        assert sorted(map(tuple, base.collect())) == sorted(
            map(tuple, skewed.collect())
        )

    def test_jvm_tagged_table_raises(self, spark, split, tmp_path):
        """A table tagged with the removed xxhash64 ``engine: "jvm"``
        family cannot band with fresh signatures: the cross join and
        the upsert both refuse it and say to re-write the table."""
        hist, new, path = split
        sigs = D.read_minhash_signatures(spark, path)
        meta = dict(D._signature_meta(sigs), engine="jvm")
        jvm_path = str(tmp_path / "jvm_sigs")
        sigs.withMetadata("sig", {D.MINHASH_META_KEY: meta}).write.parquet(jvm_path)
        with pytest.raises(ValueError, match="re-write"):
            D.minhash_cross_near_duplicates(new, "doc_id", "text", jvm_path)
        with pytest.raises(ValueError, match="re-write"):
            D.upsert_minhash_signatures(new, "doc_id", "text", jvm_path)

    def test_estimate_only_superset_at_margin(self, spark, split):
        hist, new, path = split
        est = D.minhash_cross_near_duplicates(
            new, "doc_id", "text", path, threshold=0.5
        )
        assert est.columns == ["new_id", "hist_id", "est_jaccard"]
        exact = {
            (r.new_id, r.hist_id)
            for r in D.minhash_cross_near_duplicates(
                new, "doc_id", "text", path, history_docs=hist, threshold=0.8
            ).collect()
        }
        # every exact pair at J>=0.8 appears in the 0.5-estimate set
        # (estimate error << 0.3 margin at 64 hashes)
        got = {(r.new_id, r.hist_id) for r in est.collect()}
        assert exact <= got
