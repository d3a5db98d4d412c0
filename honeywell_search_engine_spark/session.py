"""SparkSession factory with the engine's standard config.

Local-mode knobs for the sandbox; on a real cluster the same settings apply
except master/memory come from spark-submit (see jobs/*.py).

``get_spark`` also runs Spark's Python workers under the engine's daemon
(``worker_daemon``), which stops the per-task re-read of every zip archive
on the worker's path, when the worker interpreter can import it.

It launches the JVM with C2 deferred to code ten times hotter than
HotSpot's default (``JIT_OPTIONS`` in ``spark.driver.defaultJavaOptions``:
the Tier4 invocation and compile thresholds times 10, loop back-edge
threshold unchanged). A method then runs as C1 code until it has been
called 50,000 times rather than 5,000. Most of a warm point query's CPU
had been C2 compiling Spark's own planner and scheduler, code a point
query calls often but not often enough to repay C2. The per-row loops of
the engine's SQL operators run as JVM whole-stage code and are hot
enough to reach C2 still. Capping the JIT at C1 (``-XX:TieredStopAtLevel=1``)
saves more point-query CPU but makes those loops dearer: the headline
driver-table queries of ``bench.py`` took 40% longer (the figures are
beside the option). A caller's ``spark.driver.extraJavaOptions`` still
applies, as Spark appends it to the default options, and ``extra_conf``
can replace ``spark.driver.defaultJavaOptions``. The option replaces a
``spark.driver.defaultJavaOptions`` set in the installation's
``spark-defaults.conf``: a site that sets driver defaults there passes
them, with these, through ``extra_conf``. A session ``get_spark`` did not
build (``spark-submit`` of ``jobs/*.py`` on a cluster) does not get the
option; pass it with ``--conf "spark.driver.defaultJavaOptions=..."``,
the value being ``JIT_OPTIONS``.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DAEMON_MODULE = "honeywell_search_engine_spark.worker_daemon"

#: the JVM's JIT thresholds for C2, ten times HotSpot's defaults
JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
               " -XX:Tier4CompileThreshold=150000")


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
        # C2 deferred (module docstring). Measured on a 4-vCPU VM (Spark
        # 4.1.2, local[4]), HotSpot defaults -> JIT_OPTIONS, alternating
        # pairs, median (range); CPU of the whole VM from /proc/stat, per
        # JVM thread from /proc/<pid>/task:
        # - perfbench spark-point cpu_ms_p50, 10 pairs: 344 (308-395) -> 188
        #   (171-309) ms, 10 of 10 lower; -XX:TieredStopAtLevel=1 gave 143;
        # - warm point query VM CPU p50 after 100 warm-ups, 2 pairs: 170/155
        #   -> 155/150 ms (C2 threads 35/20 -> 15/20 ms);
        # - bench.py headline driver-table queries at sf0.1 (sum of min of
        #   3), 8 pairs: 5.46 (4.67-6.05) -> 5.46 (5.14-6.86) s, 4 of 8
        #   lower; VM CPU 87 -> 76 s. At C1 only, 4 pairs: 5.73-7.31 ->
        #   8.36-9.44 s, minhash_signatures 0.99-1.35 -> 2.96-3.61 s: C1
        #   code runs the operators' per-row loops (whole-stage codegen);
        # - 60000-page index build (bench.py build_index), fresh JVM, 5
        #   pairs: wall 52.3 (43.7-56.1) -> 53.1 (39.9-61.0) s, VM CPU
        #   179 -> 181 s, 3 of 5 lower; C2 threads 23.5 -> 18.3 s;
        # - 8000-page build (perfbench prepare.build_index), 2 pairs: VM CPU
        #   90.0/93.9 -> 84.1/91.8 s, wall 27.5/28.6 -> 27.4/30.3 s;
        # - perfbench ingest setup_s (the write cycle), 12 pairs: 28.0
        #   (22.6-32.8) -> 28.5 (23.2-40.5) s, 6 of 12 lower; traced, 6
        #   pairs: build.phase1_s 9.2 -> 9.1, build.phase2_s 4.3 -> 4.4,
        #   promote.s 4.5 -> 5.1 (min 4.1 -> 4.0), compact.s 2.1 -> 2.2 s.
        # The default options, not extraJavaOptions: Spark appends a
        # caller's extraJavaOptions (perfbench's java.io.tmpdir) to them.
        .config("spark.driver.defaultJavaOptions", JIT_OPTIONS)
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
