import os
import uuid

import pytest
from pyspark.sql import SparkSession

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    # fastworker daemon module: cuts the ~115ms/python-task zip re-scan
    # (see datasketches_spark/fastworker.py) AND keeps its patched
    # spark-files setup exercised by the whole suite; the stock path
    # stays covered by test_fastworker.py's no-daemon session
    os.environ["PYTHONPATH"] = _REPO + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    session = (
        SparkSession.builder.master("local[4]")
        .appName("datasketches-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.python.daemon.module", "datasketches_spark.fastworker")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    from datasketches_spark import register

    register(session)
    yield session
    session.stop()


@pytest.fixture
def job_count(spark):
    """``job_count(fn) -> (fn(), number of Spark jobs fn started)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
