"""The sketch-table read memo: a warm read runs no Spark job.

``io.read_sketch_table`` remembers, per session and per (path,
sketch_col), the table's input-file set, its inferred schema and whether
the family check passed.  A read whose file listing matches reuses both;
any other read infers and checks as a cold read does.
"""

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from datasketches_spark import compat
from datasketches_spark import io as dio
from datasketches_spark.aggregation import sketch_agg


def _theta_table(spark, path, lo=0, hi=100, mode="overwrite"):
    df = spark.range(lo, hi).selectExpr("id % 4 AS g", "id AS v")
    sk = sketch_agg(df, "v", "theta", group_cols=["g"], k=10)
    dio.write_sketch_table(sk, path, "sketch", "theta", k=10, mode=mode)


def _hll_tagged_theta(spark, path, mode="overwrite"):
    df = spark.range(0, 100).selectExpr("id % 4 AS g", "id AS v")
    sk = sketch_agg(df, "v", "hll", group_cols=["g"], k=10)  # HLL blobs...
    dio.write_sketch_table(sk, path, "sketch", "theta", mode=mode)  # ...tagged theta


def test_warm_read_runs_no_job(spark, tmp_path, job_count):
    if not compat.has_jvm(spark):
        pytest.skip("job counts need the classic status tracker")
    path = str(tmp_path / "t")
    _theta_table(spark, path)
    cold, cold_jobs = job_count(lambda: dio.read_sketch_table(spark, path))
    warm, warm_jobs = job_count(lambda: dio.read_sketch_table(spark, path))
    assert cold_jobs >= 1
    assert warm_jobs == 0
    assert warm.schema.json() == cold.schema.json()
    assert sorted(map(tuple, warm.collect())) == sorted(map(tuple, cold.collect()))


def test_append_rereads_schema_and_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    _theta_table(spark, path)
    first = dio.read_sketch_table(spark, path)
    assert first.count() == 4
    _theta_table(spark, path, 100, 200, mode="append")
    after = dio.read_sketch_table(spark, path)
    assert after.count() == 8
    assert set(after.inputFiles()) > set(first.inputFiles())
    assert dio.sketch_column_info(after, "sketch") == {
        "family": "theta", "k": 10, "format_version": 1,
    }


def test_overwrite_with_mistagged_blobs_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    _theta_table(spark, path)
    dio.read_sketch_table(spark, path)
    _hll_tagged_theta(spark, path)
    with pytest.raises(ValueError, match="family"):
        dio.read_sketch_table(spark, path)


def test_failed_check_is_not_remembered(spark, tmp_path):
    path = str(tmp_path / "t")
    _hll_tagged_theta(spark, path)
    with pytest.raises(ValueError, match="family"):
        dio.read_sketch_table(spark, path)
    with pytest.raises(ValueError, match="family"):
        dio.read_sketch_table(spark, path)


def test_unvalidated_entry_is_checked_on_validated_read(spark, tmp_path):
    path = str(tmp_path / "t")
    _hll_tagged_theta(spark, path)
    assert dio.read_sketch_table(spark, path, validate=False).count() == 4
    with pytest.raises(ValueError, match="family"):
        dio.read_sketch_table(spark, path, validate=True)


def test_sessions_do_not_share_entries(spark, tmp_path):
    # a session's own conf shapes its inferred schema: here the partition
    # column reads as a string in the second session only
    path = str(tmp_path / "t")
    df = spark.range(0, 100).selectExpr("id % 4 AS g", "id AS v")
    sk = sketch_agg(df, "v", "theta", group_cols=["g"], k=10)
    dio.write_sketch_table(sk, path, "sketch", "theta", k=10, partition_by=["g"])
    assert dict(dio.read_sketch_table(spark, path).dtypes)["g"] == "int"
    other = spark.newSession()
    other.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    assert dict(dio.read_sketch_table(other, path).dtypes)["g"] == "string"
    assert dict(dio.read_sketch_table(spark, path).dtypes)["g"] == "int"


def test_concurrent_reads_agree(spark, tmp_path):
    path = str(tmp_path / "t")
    _theta_table(spark, path)
    cold = dio.read_sketch_table(spark, path).schema.json()
    _theta_table(spark, path, 100, 200, mode="append")  # the next reads miss first
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            reads = list(pool.map(
                lambda _: dio.read_sketch_table(spark, path), range(8), timeout=300
            ))
    finally:
        sys.setswitchinterval(interval)
    assert {df.schema.json() for df in reads} == {cold}
    assert {len(df.inputFiles()) for df in reads} == {
        len(dio.read_sketch_table(spark, path).inputFiles())
    }
