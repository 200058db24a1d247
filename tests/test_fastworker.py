"""fastworker daemon module: correctness under the patched
spark-files setup (datasketches_spark/fastworker.py).

The session tests run in a SUBPROCESS because the shared test session
already owns the JVM and the daemon module is a session-construction
conf.  Covers:

- python-worker results identical to stock (sketch two-phase path);
- ``sc.addPyFile`` and ``sc.addFile`` of a ``.py`` mid-session, after
  the workers exist: the new module imports inside a task (the case
  the stock per-task invalidation exists for);
- worker reuse across jobs;
- in process, the patched setup on a synthetic protocol stream: it
  invalidates the spark-files directory's finders and leaves every
  zip importer's directory table alone;
- the heap freeze: reused workers inherit a large frozen generation,
  track only their own objects, and still free the cyclic garbage
  each task leaves behind.
"""

from __future__ import annotations

import gc
import importlib
import io
import os
import struct
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import os, sys, tempfile
    sys.path.insert(0, {repo!r})
    os.environ["PYTHONPATH"] = {repo!r} + os.pathsep + os.environ.get("PYTHONPATH", "")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("fastworker-test")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.python.daemon.module", "datasketches_spark.fastworker")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # 1) two-phase sketch path returns the exact count (worker results OK)
    from datasketches_spark.aggregation import sketch_agg
    df = spark.range(1000).withColumnRenamed("id", "k")
    out = sketch_agg(
        df, "k", "theta", k=14,
        finalize=lambda sk: {{"est": int(round(sk.get_estimate()))}},
        finalize_schema="est bigint",
    ).collect()
    assert out[0]["est"] == 1000, out

    # 2) repeated jobs reuse workers and stay correct
    for _ in range(3):
        assert sketch_agg(
            df, "k", "theta", k=14,
            finalize=lambda sk: {{"est": int(round(sk.get_estimate()))}},
            finalize_schema="est bigint",
        ).collect()[0]["est"] == 1000

    # 3) addPyFile mid-session: the new module imports inside workers
    mod_dir = tempfile.mkdtemp()
    mod_path = os.path.join(mod_dir, "fastworker_probe_mod.py")
    with open(mod_path, "w") as fh:
        fh.write("MAGIC = 40411\\n")
    spark.sparkContext.addPyFile(mod_path)

    def use_mod(it):
        import pandas as pd
        import fastworker_probe_mod as m
        for pdf in it:
            yield pd.DataFrame({{"v": [m.MAGIC] * len(pdf)}})

    got = (
        spark.range(0, 3, 1, 1).toDF("x")
        .mapInPandas(use_mod, "v long").collect()
    )
    assert [r["v"] for r in got] == [40411] * 3, got

    # 3b) addFile of a .py after the workers exist: it lands in the
    #     spark-files directory itself, whose listing the workers have
    #     cached since their first task
    file_path = os.path.join(mod_dir, "fastworker_probe_file.py")
    with open(file_path, "w") as fh:
        fh.write("MAGIC = 51522\\n")
    spark.sparkContext.addFile(file_path)

    def use_file(it):
        import pandas as pd
        import fastworker_probe_file as m
        for pdf in it:
            yield pd.DataFrame({{"v": [m.MAGIC] * len(pdf)}})

    got = (
        spark.range(0, 4, 1, 4).toDF("x")
        .mapInPandas(use_file, "v long").collect()
    )
    assert [r["v"] for r in got] == [51522] * 4, got

    # 4) the daemon froze its heap before forking.  Each task reports
    #    its worker's frozen and tracked object counts on entry, then
    #    leaves 20k self-referencing lists behind: only a collection
    #    frees them, and they outlive the task's young-generation passes
    def gc_probe(it):
        import gc, time
        import pandas as pd
        rows = []
        for pdf in it:
            rows.append((os.getpid(), time.monotonic(),
                         gc.get_freeze_count(), len(gc.get_objects())))
            junk = []
            for _ in range(20000):
                cell = []
                cell.append(cell)
                junk.append(cell)
        yield pd.DataFrame(rows, columns=["pid", "t", "frozen", "tracked"])

    probe_schema = "pid long, t double, frozen long, tracked long"
    for _ in range(2):  # reuse: every worker has run tasks before
        spark.range(0, 8, 1, 8).mapInPandas(gc_probe, probe_schema).collect()
    rows = spark.range(0, 20, 1, 20).mapInPandas(gc_probe, probe_schema).collect()
    assert len(rows) == 20, rows
    by_pid = {{}}
    for r in sorted(rows, key=lambda r: r["t"]):
        by_pid.setdefault(r["pid"], []).append(r)
    for pid, seen in by_pid.items():
        frozen = {{r["frozen"] for r in seen}}
        # frozen once, in the daemon: no worker adds to it
        assert len(frozen) == 1, (pid, seen)
        assert min(frozen) > 10000, (pid, seen)
        tracked = [r["tracked"] for r in seen]
        assert max(tracked) < min(frozen) / 10, (pid, seen)
        # 20k garbage lists per task: an uncollected task would show
        assert tracked[-1] - tracked[0] < 5000, (pid, seen)

    print("FASTWORKER_OK")
    spark.stop()
    """
).format(repo=REPO)


def test_fastworker_subprocess():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert "FASTWORKER_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-3000:]}"
    )


_NO_DAEMON_SCRIPT = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    os.environ["PYTHONPATH"] = {repo!r} + os.pathsep + os.environ.get("PYTHONPATH", "")
    from pyspark.sql import SparkSession

    # NO spark.python.daemon.module conf: the package must be plain
    # stock pyspark (graceful degradation — r10 verdict item #7)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("no-daemon-test")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.conf.get("spark.python.daemon.module", None) in (None, "pyspark.daemon")

    from datasketches_spark.aggregation import sketch_agg
    df = spark.range(1000).withColumnRenamed("id", "k")
    out = sketch_agg(
        df, "k", "theta", k=14,
        finalize=lambda sk: {{"est": int(round(sk.get_estimate()))}},
        finalize_schema="est bigint",
    ).collect()
    assert out[0]["est"] == 1000, out
    print("NO_DAEMON_OK")
    spark.stop()
    """
).format(repo=REPO)


def test_no_daemon_conf_still_correct():
    """Without the fastworker conf the package runs on the stock
    daemon — slower, never wrong.  (The main test session sets the
    conf, so this must run in its own subprocess.)"""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    r = subprocess.run(
        [sys.executable, "-c", _NO_DAEMON_SCRIPT],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert "NO_DAEMON_OK" in r.stdout, r.stdout + r.stderr


def test_install_degrades_when_pyspark_moves_the_hooks(monkeypatch):
    """A future pyspark that renames setup_spark_files must NOT break
    worker startup: _install() catches the ImportError and falls back
    to stock behavior (fastworker.py's defensive contract)."""
    import pyspark.worker as w
    import pyspark.worker_util as wu

    import datasketches_spark.fastworker as fw

    orig_w, orig_wu = w.setup_spark_files, wu.setup_spark_files
    monkeypatch.delattr(w, "setup_spark_files")
    monkeypatch.delattr(wu, "setup_spark_files")
    # removing utf8_deserializer makes _install's imports actually
    # RAISE, driving the defensive except path (not just a re-assign)
    monkeypatch.delattr(wu, "utf8_deserializer")
    try:
        importlib.reload(fw)  # import-time _install() must not raise
        # the failed install must not have half-patched anything
        assert not hasattr(w, "setup_spark_files")
    finally:
        w.setup_spark_files = orig_w
        wu.setup_spark_files = orig_wu
        monkeypatch.undo()
        importlib.reload(fw)  # restore the real patch for the session


@pytest.mark.parametrize(
    "module, name",
    [
        ("pyspark.worker_util", "utf8_deserializer"),
        ("pyspark.worker_util", "add_path"),
        ("pyspark.worker_util", "is_remote_only"),
        ("pyspark.serializers", "read_int"),
    ],
)
def test_moved_hook_leaves_stock_setup(monkeypatch, module, name):
    """Any helper the memo calls that a future pyspark moves is caught
    at install, not in every task: nothing is patched, the stock
    setup_spark_files stays in place and the daemon is stock pyspark's."""
    import pyspark.daemon
    import pyspark.worker as w
    import pyspark.worker_util as wu

    import datasketches_spark.fastworker as fw

    def stock(infile):
        pass

    monkeypatch.setattr(w, "setup_spark_files", stock)
    monkeypatch.setattr(wu, "setup_spark_files", stock)
    monkeypatch.delattr(importlib.import_module(module), name)
    try:
        importlib.reload(fw)
        assert w.setup_spark_files is stock
        assert wu.setup_spark_files is stock
        assert fw.manager is pyspark.daemon.manager
    finally:
        monkeypatch.undo()
        importlib.reload(fw)


def _utf8(text: str) -> bytes:
    raw = text.encode("utf-8")
    return struct.pack(">i", len(raw)) + raw


def test_setup_invalidates_only_spark_files_finders(tmp_path, monkeypatch):
    """The patched setup reads the JVM's stream as stock does (files
    dir, include count, includes) and invalidates only the FileFinder
    entries at or under the files dir: a zip importer keeps the
    directory table it was built with."""
    import zipfile
    import zipimport
    from importlib.machinery import FileFinder

    import pyspark.worker as w
    from pyspark.core.files import SparkFiles

    import datasketches_spark.fastworker as fw

    importlib.reload(fw)

    class CountingFinder(FileFinder):
        calls = 0

        def invalidate_caches(self):
            self.calls += 1
            super().invalidate_caches()

    files_dir = tmp_path / "userFiles"
    (files_dir / "pkg").mkdir(parents=True)
    outside = tmp_path / "elsewhere"
    outside.mkdir()
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zmod.py", "X = 1\n")
    finders = {
        "dir": CountingFinder(str(files_dir)),
        "sub": CountingFinder(str(files_dir / "pkg")),
        "outside": CountingFinder(str(outside)),
        # a sibling whose name extends the files dir's is not under it
        "sibling": CountingFinder(str(files_dir) + "2"),
    }
    zipped = zipimport.zipimporter(str(archive))
    table = zipped._files
    cache = dict(sys.path_importer_cache)
    cache.update({f.path: f for f in finders.values()})
    cache[str(archive)] = zipped
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(SparkFiles, "_root_directory", SparkFiles._root_directory)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", SparkFiles._is_running_on_worker)

    payload = _utf8(str(files_dir)) + struct.pack(">i", 1) + _utf8("dep.zip")
    for _ in range(2):  # every task, not just the first
        stream = io.BytesIO(payload)
        w.setup_spark_files(stream)
        assert stream.tell() == len(payload)  # read exactly what the JVM wrote
    assert str(files_dir) in sys.path
    assert str(files_dir / "dep.zip") in sys.path
    assert SparkFiles._root_directory == str(files_dir)
    assert {k: f.calls for k, f in finders.items()} == {
        "dir": 2, "sub": 2, "outside": 0, "sibling": 0,
    }
    assert zipped._files is table


def test_import_does_not_freeze():
    """The freeze runs only when the module is the daemon's __main__:
    importing it (driver, tests, workers) leaves the heap collectable."""
    import datasketches_spark.fastworker as fw

    before = gc.get_freeze_count()
    importlib.reload(fw)
    assert gc.get_freeze_count() == before
