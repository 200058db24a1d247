"""Python-worker daemon module: two memos that stock pyspark recomputes
for every task a reused worker runs.

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

The spark-files problem (local[32], pyspark 4.1, best-of-10 warm): a
1-task mapInPandas job on 100 rows costs ~0.15 s wall while the same
shape in pure JVM costs ~0.02 s.  Phase-timing the worker main loop
(instrumented daemon) attributes ~115 ms of every Python task to
``worker_util.setup_spark_files``, whose last step is
``importlib.invalidate_caches()``: when the workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` (the standard layout), the
cached ``zipimporter`` re-reads the ~30 MB zip's central directory on
EVERY call — reproduced standalone at ~97 ms per call.

The spark-files directory and python-includes list are constant for
nearly every task a session ever runs; they only change when files are
added at runtime (``sc.addPyFile``).  This daemon keeps the exact
wire protocol (the JVM's writes are consumed identically) but re-runs
the cache invalidation ONLY when the (files dir, includes) tuple
changes — so ``addPyFile`` still invalidates, and steady-state tasks
skip the redundant zip re-scan.  Python-stage floor drops ~0.13 s per
stage, which at 15+ Python stages per bench run is ~2 s of pure
framework overhead.

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
  twin) and binds the helpers the memo calls up front.  If a future
  pyspark moves any of them (``ImportError`` / ``AttributeError``),
  nothing is patched and workers run STOCK behavior (slower, never
  wrong); any other error propagates.  The conf absent entirely =
  stock daemon, zero interaction (test_no_daemon_conf_still_correct).
- **Semantics**: the memo re-runs ``importlib.invalidate_caches()``
  whenever the (files dir, includes) state changes, so
  ``sc.addPyFile`` mid-session behaves exactly as stock (covered in
  the subprocess test).
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
import importlib
import os

_last_files_state: tuple | None = None


def _install() -> None:
    """Patch the name pyspark.worker.main actually calls (it imports
    setup_spark_files into its own module namespace).  The memo is
    protocol-identical to worker_util.setup_spark_files: same reads,
    same path setup, but importlib.invalidate_caches() runs only when
    the (spark_files_dir, includes) state actually changes."""
    from pyspark import worker as _worker
    from pyspark import worker_util as _worker_util
    from pyspark.serializers import read_int
    from pyspark.worker_util import add_path, is_remote_only, utf8_deserializer

    def _setup_spark_files_memo(infile) -> None:
        global _last_files_state
        spark_files_dir = utf8_deserializer.loads(infile)

        if not is_remote_only():
            from pyspark.core.files import SparkFiles

            SparkFiles._root_directory = spark_files_dir
            SparkFiles._is_running_on_worker = True

        add_path(spark_files_dir)
        includes = []
        for _ in range(read_int(infile)):
            filename = utf8_deserializer.loads(infile)
            includes.append(filename)
            add_path(os.path.join(spark_files_dir, filename))

        state = (spark_files_dir, tuple(includes))
        if state != _last_files_state:
            importlib.invalidate_caches()
            _last_files_state = state

    _worker.setup_spark_files = _setup_spark_files_memo
    _worker_util.setup_spark_files = _setup_spark_files_memo


try:
    _install()
except (ImportError, AttributeError):
    # a future pyspark moved a hook or helper; stock behavior is only
    # slower, so degrade to it rather than failing worker startup
    pass

# hand control to the stock daemon AFTER the patch: every forked worker
# inherits the memoized setup
from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    # freeze the daemon's heap before the first fork: the per-task
    # gc.collect() in pyspark.daemon's reuse loop then skips it
    gc.collect()
    gc.freeze()
    manager()
