"""Python-worker daemon module: two costs that stock pyspark pays for
every task a worker runs.

1. **Spark-files setup** (``_install``), below.
2. **The heap freeze** (``gc.freeze()`` before the daemon forks).  After
   every task, a reused worker returns to ``pyspark.daemon``'s loop,
   which runs a full ``gc.collect()``.  Without the freeze, that
   collection walks the ~74k container objects the worker inherited
   from the daemon (this package, pyspark, pandas, pyarrow, numpy),
   and frees at most a few dozen.  Measured on a 4-vCPU host, local[4]:
   a median 39 ms of CPU per collect (IQR 36-42 ms), run 4 times per
   2000-row stored-sketch scalar query and 8 times per 1M-row sketch
   build.  Freezing once in the daemon moves those objects to the
   permanent generation.  Each per-task collect then walks only what
   the worker allocated itself (~130-690 objects, median 0.25-0.31
   ms): worker CPU per build fell from ~0.6 to ~0.3 s.  Workers also
   stop dirtying the shared pages, so copy-on-write keeps them shared
   (perfbench peak RSS -5% on scan_build, -13% on sketch_store).

The spark-files problem: stock ``worker_util.setup_spark_files`` ends
every task with a process-wide ``importlib.invalidate_caches()``.
Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (the
standard layout), so that call makes each of the ~14 ``zipimporter``
entries on the worker's path (pyspark.zip, the py4j zip and their
sub-package entries) re-read the zip's central directory: ~0.1 s of
CPU per task on a reused worker, and 0.17-0.26 s in a fresh worker's
first task (4 vCPU, pyspark 4.1).  The fresh tables also replace the
ones the worker shares copy-on-write with the daemon, ~14 MB of PSS
per worker.

The invalidation exists for files the session ships at runtime:
``sc.addFile`` / ``sc.addPyFile`` put them in the spark-files
directory (``.py`` files in the directory itself, archives as include
paths under it).  This daemon keeps the exact wire protocol (the JVM's
writes are consumed identically) but, on every task, invalidates only
the ``FileFinder`` entries of ``sys.path_importer_cache`` at or under
that directory.  A new archive is a new ``sys.path`` entry and gets a
fresh importer anyway, and the archives already on the path do not
change during a session, so no zip is re-read (~30 us per task with
~90 importers cached).  A fresh worker reaches its first UDF after
0.006-0.011 s of CPU instead of 0.17-0.26 s, and perfbench peak RSS
fell 15% on sketch_store (12 workers) and 5% on scan_build (4).

Opt in per session (workers must be able to import this package —
in local mode the driver's cwd/PYTHONPATH suffices):

    SparkSession.builder
        .config("spark.python.daemon.module",
                "datasketches_spark.fastworker")

This module is otherwise a transparent pass-through to
``pyspark.daemon`` (fork-server protocol unchanged), so it composes
with worker reuse, memory limits, and faulthandler settings.  On a
real cluster ship the package (``--py-files`` / image) and set the
same conf; the per-task win is identical because the zip layout is.

Production deployment notes
---------------------------

``spark.python.daemon.module`` is resolved by EACH EXECUTOR's Python
at daemon start, so the module must be importable there:

- **Images (K8s / EMR / Dataproc custom image)**: install the package
  into the image's Python; nothing else needed.  This is the
  recommended path.
- **``--py-files`` / ``spark.submit.pyFiles``**: works because Spark
  prepends submitted archives to the worker ``sys.path`` BEFORE the
  daemon module import.  Ship the same archive the job code uses.
- **YARN without either**: executors fall back loudly — the daemon
  fails to import and the executor retries with a clear
  ``ModuleNotFoundError`` in its stderr.  Drop the conf rather than
  shipping a partial package.

Safety properties, all regression-tested (tests/test_fastworker.py):

- **Python version skew**: the daemon runs under
  ``spark.pyspark.python`` exactly like the stock one; this module is
  pure stdlib + pyspark imports, any CPython pyspark supports works.
  Driver/executor Python minor-version skew has the same (un)supported
  status as stock pyspark — this module does not change it.
- **pyspark upgrades**: `_install()` patches two documented-stable
  names (``pyspark.worker.setup_spark_files`` and the ``worker_util``
  twin) and binds the helpers the patch calls up front.  If a future
  pyspark moves any of them (``ImportError`` / ``AttributeError``),
  nothing is patched and workers run STOCK behavior (slower, never
  wrong); any other error propagates.  The conf absent entirely =
  stock daemon, zero interaction (test_no_daemon_conf_still_correct).
- **Semantics**: every task refreshes the spark-files directory
  listings, so ``sc.addFile`` of a ``.py`` and ``sc.addPyFile``
  mid-session import exactly as on stock (both in the subprocess
  test).
- **Cluster managers**: fork-server wire protocol is untouched, so
  YARN/K8s worker-reuse, ``spark.python.worker.memory``, and
  faulthandler confs compose unchanged.
- **Heap freeze**: frozen objects are never collected, so the freeze
  runs once, in the daemon before its first fork, and only when this
  module runs as ``__main__``; importing it freezes nothing.  What it
  freezes is the daemon's import-time state, which lives as long as
  the daemon anyway.  Objects a worker allocates, task garbage
  included, stay in the collected generations (the subprocess test
  reads ``gc.get_freeze_count()`` and ``len(gc.get_objects())`` from
  reused workers, over tasks that each leave cyclic garbage).
"""

from __future__ import annotations

import gc
import os
import sys
from importlib.machinery import FileFinder


def _install() -> None:
    """Patch the name pyspark.worker.main actually calls (it imports
    setup_spark_files into its own module namespace).  The patch is
    protocol-identical to worker_util.setup_spark_files: same reads,
    same path setup, but it invalidates only the import caches of the
    spark-files directory instead of every importer's."""
    from pyspark import worker as _worker
    from pyspark import worker_util as _worker_util
    from pyspark.serializers import read_int
    from pyspark.worker_util import add_path, is_remote_only, utf8_deserializer

    def _setup_spark_files(infile) -> None:
        spark_files_dir = utf8_deserializer.loads(infile)

        if not is_remote_only():
            from pyspark.core.files import SparkFiles

            SparkFiles._root_directory = spark_files_dir
            SparkFiles._is_running_on_worker = True

        add_path(spark_files_dir)
        for _ in range(read_int(infile)):
            add_path(os.path.join(spark_files_dir, utf8_deserializer.loads(infile)))

        # "." on cluster executors; FileFinder paths are absolute
        under = os.path.join(os.path.abspath(spark_files_dir), "")
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, FileFinder) and (finder.path + os.sep).startswith(under):
                finder.invalidate_caches()

    _worker.setup_spark_files = _setup_spark_files
    _worker_util.setup_spark_files = _setup_spark_files


try:
    _install()
except (ImportError, AttributeError):
    # a future pyspark moved a hook or helper; stock behavior is only
    # slower, so degrade to it rather than failing worker startup
    pass

# hand control to the stock daemon AFTER the patch: every forked worker
# inherits the patched setup
from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    # freeze the daemon's heap before the first fork: the per-task
    # gc.collect() in pyspark.daemon's reuse loop then skips it
    gc.collect()
    gc.freeze()
    manager()
