"""SparkSession factory.

Replaces the reference's parallelism control (``multiThreadLevel`` param,
MapReduceFramework.cpp:360-361; thread creation :248/:260/:287) with Spark
session configuration: the scheduler, work-stealing (batch-of-10 claims,
MapReduceFramework.cpp:106-119), stage barriers (:382, :408) and the
pipelined shuffle (:166-230) are all provided by Spark's engine and AQE.

Scale notes (100 TB design): AQE is on so shuffle partition counts,
skew-join splitting and broadcast demotion re-plan at runtime from real
sizes; locally we pin ``spark.sql.shuffle.partitions`` to the core count
to avoid the 200-partition default. On a real cluster the same code runs
unchanged -- only master/memory/partition settings move to spark-submit.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "os___mapreduceframework_spark",
    parallelism: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``parallelism`` mirrors the reference's ``multiThreadLevel``
    (MapReduceFramework.cpp:360); it sets both the local core count and
    the shuffle partition count. Defaults to $SPARK_GRAFT_CPUS or all
    cores. ``extra_conf`` overrides the factory's settings, except that
    start-up ones are joined as ``start_up_conf`` says; if a running
    SparkContext keeps any of those from taking effect, a warning names
    them.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch overhead on the
        # Pandas-UDF paths (compat API, multimodal, stateful streaming)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # size scan splits to the fixture SF so single-file tables still
        # scan in parallel (sf0.1 lineitem is ~11 MB -- one task at the
        # 128 MB default); on a real cluster at 100 TB the default is
        # right and this moves to spark-submit with the other sizing
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        )
        .config("spark.sql.files.openCostInBytes", "65536")
        # ContextCleaner starvation fix, periodic-GC half; the
        # ExplicitGCInvokesConcurrent half and its reasons are in
        # start_up_conf. Interval is env-tunable; the Spark default "30min"
        # effectively disables it for an A/B within a bench-length session.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "60s"),
        )
        # plan-string metadata (DataFilters/PushedFilters/ReadSchema) is
        # truncated at this many chars BEFORE the golden-plan normalizer
        # sees it; at the 100-char default the "..." cut lands mid
        # expression-id, so the normalized snapshot shifts whenever id
        # widths change (tests/plans goldens become order-dependent)
        .config("spark.sql.maxMetadataStringLength", "10000")
        .config("spark.ui.enabled", "false")
    )
    start_up = start_up_conf(extra_conf)
    for k, v in {**(extra_conf or {}), **start_up}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    running = spark.sparkContext.getConf()
    ignored = [k for k, v in sorted(start_up.items()) if not _took_effect(running.get(k), v)]
    if ignored:
        warnings.warn(
            "get_session reused a running SparkContext, so these settings did "
            f"not take effect: {', '.join(ignored)}",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def start_up_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """The factory's settings that Spark reads only when a SparkContext
    starts, joined with a caller's: JVM options and the workers' PYTHONPATH
    are merged (the caller's take precedence where they conflict), any
    other caller value replaces the factory's."""
    conf = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        # ContextCleaner starvation fix (r10, VERDICT r9 item 1): shuffle
        # files / checkpoint blocks of dereferenced plans are only
        # reclaimed after a driver GC, and a 32 g heap never GCs within a
        # multi-query session, so long sessions accumulate dead shuffle
        # state until the tail degrades (clusters read 7.4 s in-suite vs
        # ~2 s isolated in BENCH_r09). The r9 fix attempt (periodic GC
        # alone) traded the tail for stop-the-world full-GC pauses on
        # every query (+6.7 s suite) and was rejected; the missing half
        # is ExplicitGCInvokesConcurrent, which turns the cleaner's
        # System.gc() into a CONCURRENT G1 cycle (weak refs processed at
        # remark, mutator barely pauses).
        "spark.driver.extraJavaOptions": "-XX:+ExplicitGCInvokesConcurrent",
        # Python workers skip the per-task import-cache rebuild when
        # nothing they import from changed (worker_daemon.py); the
        # daemon starts in Spark's working directory, so the checkout
        # root goes on the workers' path for it to be importable
        "spark.python.daemon.module": "os___mapreduceframework_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": _CHECKOUT_ROOT,
    }
    for k, v in (extra_conf or {}).items():
        if k in _MERGED:
            conf[k] = _MERGED[k](conf[k], v)
        elif k in conf:
            conf[k] = v
    return conf


def _took_effect(running: str | None, wanted: str) -> bool:
    # Spark puts its own JVM module options in front of a caller's
    # extraJavaOptions, so a setting took effect if it ends the running value
    tail = wanted.split()
    return (running or "").split()[-len(tail):] == tail


_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# start-up settings where a caller's value joins the factory's
_MERGED = {
    "spark.driver.extraJavaOptions": lambda ours, theirs: f"{ours} {theirs}",
    "spark.executorEnv.PYTHONPATH": lambda ours, theirs: f"{theirs}{os.pathsep}{ours}",
}
