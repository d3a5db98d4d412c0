"""session.get_spark and the engine's Python worker daemon
(worker_daemon): unchanged archives on a worker's path are not re-read
per task, a rewritten one is, and a session whose workers cannot import
the package keeps Spark's own daemon; the session's JVM defers C2
(session.JIT_OPTIONS), next to a caller's own Java options."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from honeywell_search_engine_spark import worker_daemon as WD
from honeywell_search_engine_spark.session import DAEMON_MODULE, JIT_OPTIONS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_daemon_skips_unchanged_archives(spark):
    """Two Python tasks: each runs in a worker forked from the engine's
    daemon, and the second one's pyspark task set-up keeps the directory
    of every unchanged archive on its path (none re-read)."""

    def _worker_counters(_):  # nested: pickled by value, not by module
        from honeywell_search_engine_spark import worker_daemon

        yield os.getpid(), worker_daemon.installed(), dict(worker_daemon.counts)

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == DAEMON_MODULE
    runs = [sc.parallelize([0], 1).mapPartitions(_worker_counters).collect()[0]
            for _ in range(2)]
    _pid, installed, counts = runs[1]
    assert installed
    assert counts["skipped"] > 0 and counts["reread"] == 0, runs


def _write_module(path, value, pad=""):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("wd_probe_mod.py", f"VALUE = {value!r}\n{pad}")


def _import_fresh():
    sys.modules.pop("wd_probe_mod", None)
    return importlib.import_module("wd_probe_mod").VALUE


def test_rewritten_archive_is_reread(monkeypatch, tmp_path):
    """An archive rewritten at the same path — replaced by a new file, or
    rewritten in place to another size — is re-read by the next
    invalidate_caches, and its new module is what imports."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", WD.invalidate_caches)
    monkeypatch.setattr(WD, "counts", {"skipped": 0, "reread": 0})
    path = str(tmp_path / "mods.zip")
    _write_module(path, 1)
    monkeypatch.syspath_prepend(path)  # calls importlib.invalidate_caches()
    assert _import_fresh() == 1
    importlib.invalidate_caches()  # the new importer's archive: read once
    assert path in WD._read_at
    skipped = WD.counts["skipped"]
    importlib.invalidate_caches()
    assert WD.counts["skipped"] > skipped
    assert _import_fresh() == 1

    _write_module(path + ".new", 2)
    os.replace(path + ".new", path)
    reread = WD.counts["reread"]
    importlib.invalidate_caches()
    assert WD.counts["reread"] > reread
    assert _import_fresh() == 2

    _write_module(path, 3, pad="# a longer archive\n")
    reread = WD.counts["reread"]
    importlib.invalidate_caches()
    assert WD.counts["reread"] > reread
    assert _import_fresh() == 3
    sys.modules.pop("wd_probe_mod", None)


def test_no_daemon_when_workers_cannot_import_package(tmp_path):
    """A driver that imports the package from a path its workers do not
    see (neither PYTHONPATH nor the working directory) gets Spark's own
    daemon and still runs Python tasks; with SPARK_GRAFT_CPUS unset the
    session is sized to the CPUs the process may use."""
    script = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {ROOT!r})
        from honeywell_search_engine_spark.session import get_spark
        spark = get_spark()
        sc = spark.sparkContext
        print("DAEMON", sc.getConf().get("spark.python.daemon.module", "unset"))
        print("MASTER", sc.master, len(os.sched_getaffinity(0)))
        print("ROWS", sc.parallelize(range(3), 1).map(lambda x: x * 2).collect())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    assert out.returncode == 0, out.stderr[-3000:]
    assert lines["DAEMON"] == "unset"
    master, n_cpus = lines["MASTER"].split()
    assert master == f"local[{n_cpus}]"
    assert lines["ROWS"] == "[0, 2, 4]"


JIT_FLAGS = JIT_OPTIONS.split()


def test_session_jvm_defers_c2(spark):
    """The engine's JVM is launched with the C2 thresholds of JIT_OPTIONS
    (spark.driver.defaultJavaOptions): its input arguments hold them."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert len(JIT_FLAGS) == 3 and all(f in args for f in JIT_FLAGS), args


def test_caller_java_options_keep_the_jit_options(tmp_path):
    """A caller's spark.driver.extraJavaOptions (perfbench puts its
    java.io.tmpdir there) applies next to the engine's JIT options: the
    JVM holds both the options and the caller's system property."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from honeywell_search_engine_spark.session import JIT_OPTIONS, get_spark
        spark = get_spark(cores=1, extra_conf={{"spark.driver.extraJavaOptions": "-Dhse.probe=1"}})
        jvm = spark.sparkContext._jvm
        args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
        print("FLAGS", all(f in args for f in JIT_OPTIONS.split()))
        print("PROBE", jvm.java.lang.System.getProperty("hse.probe"))
        spark.stop()
    """)
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    assert lines["FLAGS"] == "True" and lines["PROBE"] == "1", out.stdout


def test_extra_conf_replaces_the_default_java_options(monkeypatch):
    """extra_conf can still replace spark.driver.defaultJavaOptions (and
    with it the JIT options): the builder holds the caller's value."""
    from pyspark.sql import SparkSession

    from honeywell_search_engine_spark.session import get_spark

    class Built(Exception):
        pass

    def capture(builder):
        raise Built(dict(builder._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    for extra, want in (({}, JIT_OPTIONS), ({"spark.driver.defaultJavaOptions": "-Xss4m"}, "-Xss4m")):
        with pytest.raises(Built) as built:
            get_spark(cores=1, extra_conf=extra)
        assert built.value.args[0]["spark.driver.defaultJavaOptions"] == want
