"""Shared plumbing for the benchmark: locations, the on-disk input cache,
the Spark session, percentile helpers and the result line.

Everything the benchmark writes lives under ``.perfbench/`` at the root of
the checkout: the cached corpus and indexes, per-run scratch space, Spark's
local directories and the span files of traced runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import resource
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field


def _process_start() -> float:
    """Wall-clock start of this process, from /proc (falls back to now)."""
    try:
        with open("/proc/stat") as f:
            btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, StopIteration, ValueError, IndexError):
        return time.time()


PROCESS_START = _process_start()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench")
CACHE_ROOT = os.path.join(WORK, "cache")
RUNS = os.path.join(WORK, "runs")
TRACES = os.path.join(WORK, "traces")
TMP = os.path.join(WORK, "tmp")
ENGINE_PKG = "honeywell_search_engine_spark"

# ---- fixed input sizes -----------------------------------------------------
# The query workloads share one corpus and index. Its text is generated from
# a fixed corpus seed (the page generator's token streams depend only on the
# row id; the seed moves urls and so docids), so the 1-minute index build is
# paid once per checkout. `--seed` drives the query streams and the ingest
# deltas.
CORPUS_SEED = 20261016
CORPUS_DOCS = 8000
N_SHARDS = 16
N_BUCKETS = 32
CODEC = "pfor"
INGEST_BASE_DOCS = 1200
INGEST_SHARDS = 4
INGEST_BUCKETS = 8
TOPK = 10


def cores() -> int:
    return len(os.sched_getaffinity(0))


def engine_available() -> bool:
    return os.path.isfile(os.path.join(ROOT, ENGINE_PKG, "__init__.py"))


def use_repo_imports() -> None:
    """Make the engine importable here and in Spark's Python workers (which
    inherit the environment of the JVM this process launches)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + parts)
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable  # workers run this interpreter


def fingerprint() -> str:
    """Cache key: the engine sources plus the sizes above. Any engine edit
    rebuilds the cached indexes, so a cache never measures stale code."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, ENGINE_PKG)
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    h.update(json.dumps([CORPUS_SEED, CORPUS_DOCS, N_SHARDS, N_BUCKETS, CODEC,
                         INGEST_BASE_DOCS, INGEST_SHARDS, INGEST_BUCKETS]).encode())
    return h.hexdigest()[:16]


def cache_dir() -> str:
    return os.path.join(CACHE_ROOT, fingerprint())


def cache_meta(cdir: str) -> dict:
    with open(os.path.join(cdir, "meta.json")) as f:
        return json.load(f)


def phrase_sources(cdir: str) -> list[list[str]]:
    with open(os.path.join(cdir, "phrases.json")) as f:
        return json.load(f)


def write_trace(tracer, workload: str, seed: int, host: dict, ops: list) -> str:
    """Write the run's spans (and per-op Spark counts) under .perfbench/traces."""
    path = os.path.join(TRACES, f"{workload}-seed{seed}.jsonl")
    tracer.write(path, {"workload": workload, "seed": seed, "host": host, "ops": ops})
    return path


def get_spark(app: str):
    """A session sized to the machine: local[nproc], a 3 GiB driver heap,
    Spark scratch inside the checkout."""
    from honeywell_search_engine_spark.session import get_spark as engine_spark

    n = cores()
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    return engine_spark(
        app_name=app,
        cores=n,
        shuffle_partitions=max(n, 8),
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def jvm_process(spark):
    """The JVM child this process launched for Spark (None if attached)."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the JVM ends when its stdin pipe closes."""
    proc = jvm_process(spark)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    host: dict = field(default_factory=dict)


def host_info(spark=None) -> dict:
    info = {"nproc": cores(), "cores": cores(), "python": platform.python_version()}
    try:
        import pyspark

        info["spark"] = pyspark.__version__
    except ImportError:
        info["spark"] = None
    if spark is not None:
        info["master"] = spark.sparkContext.master
    return info


# ---- statistics ------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least 10 samples beyond it, never below the median. Nearest-rank on the
    sorted samples."""
    s = sorted(xs)
    n = len(s)
    i = max(n - 11, n // 2)
    return float(s[i]), 100.0 * (i + 1) / n, n


def rss_peak_mb() -> float:
    """Peak resident set of this process so far (`resource`)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_hwm_mb(spark) -> float:
    """Peak resident set of the Spark JVM child (/proc VmHWM), 0 if unknown."""
    proc = jvm_process(spark)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, AttributeError):
        pass
    return 0.0


def cpu_times() -> list[int]:
    """The host-wide CPU counters of /proc/stat (user ... steal), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def busy_seconds(before: list[int], after: list[int]) -> float:
    """CPU time every process of this VM used between two `cpu_times()`
    readings (user, nice, system, irq, softirq; steal and idle excluded)."""
    d = [b - a for a, b in zip(before, after)]
    return (d[0] + d[1] + d[2] + d[5] + d[6]) / os.sysconf("SC_CLK_TCK")


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this VM between two
    `cpu_times()` readings: wall times on a contended host rise with it."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def clock() -> float:
    return time.perf_counter()


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The last stdout line: `metrics` maps name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
