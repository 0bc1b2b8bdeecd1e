"""SparkSession factory tuned for the rollup workload.

Local-mode stand-in for the multi-executor deployment (BASELINE.md): the
same partitioning/batching parameters drive executor-task parallelism on a
real cluster; only ``master`` changes under spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "host_cores", "host_driver_memory", "stop_spark"]

# One Arrow batch ≈ one kernel block.  Measured across concurrency levels
# (BENCH/BASELINE.md): at 128 rows x 742 pts the batched numpy matrices
# around the C row-solver (V-curve fit/penalty, daily-interp scatter)
# stay ~760 KiB each and L2-resident, so 32 concurrent workers do not
# saturate shared cache/DRAM.  1024-row batches were 5x slower at 32
# workers (92 s vs 18 s for the 100k-row kernel pass) and 1.3x slower at
# 8; 64 gained nothing more.  The reference's analogue is its HDF5 chunk
# (= npixels/25 rows, collect.py:263).
ARROW_BATCH_ROWS = 128


def _tune_malloc_env() -> None:
    """Stop glibc from mmap/munmap-ing large numpy temporaries.

    The kernel batches allocate/free many multi-MB arrays; with default
    malloc thresholds every one is an mmap + munmap, and at 32 concurrent
    Python workers the munmap TLB shootdowns push system time to ~40%
    (measured 2.3x end-to-end speedup at 8 workers from this alone).
    Must be set BEFORE the JVM starts so forked Python workers inherit it.
    """
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")


def host_cores() -> int:
    """CPUs this process may run on (its affinity mask, not the machine's
    count: a container or ``taskset`` may grant fewer)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def host_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """A quarter of the host's RAM, at least 1 GiB (Spark's own default).

    A quarter is the JVM's default max-heap share; the rest stays for the
    Python workers, which local mode runs on the same host.  Falls back to
    ``1g`` where ``meminfo`` is unreadable.
    """
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return "1g"
    return f"{max(1024, kib // 4 // 1024)}m"


def get_spark(
    app_name: str = "modape-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local session on ``cores`` threads (default ``$SPARK_GRAFT_CPUS``,
    else ``host_cores()``) with ``driver_memory`` of heap (default
    ``host_driver_memory()``)."""
    _tune_malloc_env()
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or host_cores()
    cores = int(cores)
    if driver_memory is None:
        driver_memory = host_driver_memory()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    extra_conf = dict(extra_conf or {})
    # (the earlier spark.task.cpus=2 concurrency cap was removed: the C
    # solver's row-resident working set eliminated the memory-bandwidth
    # saturation that motivated it — BENCH/BASELINE.md)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # pin worker reuse (the default, but the scaling evidence depends
        # on it: a fresh python worker per task would re-pay module import
        # + ckernel dlopen ~100x per run)
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # dynamic: overwrite only the partitions a job writes (idempotent
        # checkpointed resume, lineage.py)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # ObjectHashAggregate (collect_list/collect_set buckets) falls back
        # to SORT-based aggregation after only 128 distinct groups per task
        # by default — measured on the LSH bucket gather: every task
        # spilled + sorted (~19k groups over 32 tasks).  4096 keeps the
        # hash path for realistic per-task group counts while still
        # bounding per-task map size; NOT a local[32] tune — the per-task
        # group count is set by shuffle partitioning at any scale.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "4096")
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Force the ICU collation class init at session build: Spark 4 routes
    # lower()/upper() through CollationAwareUTF8String, whose static init
    # loads ICU case-mapping data (~1.3 s measured).  Left to first use,
    # every task of the first text query blocks on the class-init monitor
    # (jstack: "waiting on the Class initialization monitor for
    # ...CollationAwareUTF8String").  Paying it here, once, at startup
    # moves it off the first query; local mode shares the JVM, and on a
    # cluster executors pay it per-JVM either way.
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    except Exception:
        pass  # class renamed/absent on other Spark versions: first use pays
    return spark


def stop_spark(spark: SparkSession) -> None:
    spark.stop()
