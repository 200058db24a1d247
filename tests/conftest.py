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


@pytest.fixture
def bloom_route(monkeypatch):
    """``bloom_route(route, *frames)`` puts a Bloom-pruning case on
    ``route``.  Cases parametrized over ["jvm", "python", "apache"]
    keep the names of the engines they once chose: "jvm" keeps the
    frames (an integral key) and "python" casts every column to STRING
    (a hashed key), both on Spark's own filter; "apache" keeps the
    frames and reports the py4j bridge absent until the test ends, as
    on Spark Connect, which takes the Apache filter."""
    from pyspark.sql import functions as F

    from datasketches_spark import compat

    def on(route, *frames):
        if route == "apache":
            monkeypatch.setattr(compat, "has_jvm", lambda obj: False)
        if route != "python":
            return frames
        return tuple(
            f.select(*[F.col(c).cast("string").alias(c) for c in f.columns]) for f in frames
        )

    return on
