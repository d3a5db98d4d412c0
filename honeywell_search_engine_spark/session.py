"""SparkSession factory with the engine's standard config.

Local-mode knobs for the sandbox; on a real cluster the same settings apply
except master/memory come from spark-submit (see jobs/*.py).

``get_spark`` also runs Spark's Python workers under the engine's daemon
(``worker_daemon``), which stops the per-task re-read of every zip archive
on the worker's path, when the worker interpreter can import it.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DAEMON_MODULE = "honeywell_search_engine_spark.worker_daemon"


def _workers_can_import_package() -> bool:
    """Whether a Python worker launched by this process's JVM can import
    the package: its root is on PYTHONPATH, is the working directory
    (which ``python -m`` puts on the worker's path), or is a
    site-packages directory."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    dirs = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    dirs += [os.getcwd(), *site.getsitepackages(), site.getusersitepackages()]
    return any(os.path.realpath(d) == root for d in dirs)


def get_spark(
    app_name: str = "honeywell_search_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m advisory makes AQE coalesce mid-size shuffles to 1-2
        # partitions, serializing CPU-heavy stages on local[32]; 8m keeps
        # parallelism while still merging truly tiny partitions
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # FAIR interleaves concurrent query jobs (serving threads share the
        # session); measured ~+30% sustained q/s vs FIFO under 8 client
        # threads, no effect on single-job workloads
        .config("spark.scheduler.mode", "FAIR")
        # InferFiltersFromGenerate synthesizes `size(gen) > 0 AND
        # isnotnull(gen)` below every explode. With collapsed projections
        # `gen` is the FULL tokenize/shingle expression, so the inferred
        # filter re-evaluates it 1-2 extra times per row (it cannot skip
        # the work — it must compute the array to test it; explode already
        # emits nothing for empty arrays) and predicate pushdown parks it
        # under the spread exchange, serializing the duplicated work onto
        # the scan's 1-2 input partitions. Semantics-preserving removal:
        # term_stats_top100 -26% at sf0.1 / -47% at the 10x corpus; every
        # oracle gate re-validated hash-identical with the rule off.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if _workers_can_import_package():
        b = b.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
