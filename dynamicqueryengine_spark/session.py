"""SparkSession factory with scale-aware defaults.

Local-mode testing (`local[N]`) but configured the way the engine should run
on a real cluster: AQE on (runtime re-plan, skew-join handling, partition
coalescing), Arrow enabled for the few Pandas-UDF paths, shuffle partitions
sized to the parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ceiling of the derived default heap: beyond it local-mode sessions
# measured no further GC relief
_DRIVER_MEMORY_MAX_GB = 32


def _driver_memory(meminfo_path: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEMORY`` when set, else
    half the host's RAM (MemTotal of ``/proc/meminfo``) in whole GiB, at
    least 1g and at most 32g. Local mode runs executors, broadcasts and
    driver state in this one heap; the other half stays for the
    Python/Arrow workers, off-heap buffers and the page cache — a heap
    sized past physical memory gets the process killed instead of
    collected. Hosts without ``/proc/meminfo`` get the ceiling."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    try:
        with open(meminfo_path) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    break
            else:
                return f"{_DRIVER_MEMORY_MAX_GB}g"
    except (OSError, ValueError, IndexError):
        return f"{_DRIVER_MEMORY_MAX_GB}g"
    gib = kib // (2 * 1024 * 1024)
    return f"{max(1, min(_DRIVER_MEMORY_MAX_GB, gib))}g"


def get_spark(
    app_name: str = "dynamicqueryengine_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default-on under AQE, pinned explicitly: runtime splitting of
        # skewed join partitions is a load-bearing 100 TB behavior, not
        # an accident of defaults (operators/skew.py documents when
        # manual salting is still required — aggregation skew and
        # both-sides-huge joins)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode runs executors, broadcasts, and driver state in ONE
        # JVM heap; 8g measured 2-3× query-time inflation late in a
        # 77-query bench session (GC pressure, not engine cost), so the
        # default is as large as the host allows. On a real cluster this
        # setting is per-daemon and modest heaps are fine.
        .config("spark.driver.memory", _driver_memory())
        # the generated-class cache defaults to 100 entries; a session
        # running ~77 distinct queries × several codegen units each cycles
        # the LRU completely, so every re-run pays janino + JIT again
        # (measured ~3s first-execution vs ~0.5s warm for one window+regex
        # plan). Static conf — must be set before the session exists.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
