"""Small shared utilities."""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, functions as F

_log = logging.getLogger(__name__)


# Size-adaptive fan-out (r15, guide §2: derive partitioning from input
# size, never a constant tuned for one deployment): bytes of input one
# spread partition should carry. Python/Arrow stages pay a fixed per-TASK
# cost (worker handshake + Arrow setup, measured 0.2-0.3 s of pure
# overhead for a 32-task stage over a 250 KB input at sf0.1), so tiny
# inputs must not fan out to full cluster parallelism; at real scale
# bytes/target exceeds the parallelism cap and this reduces to the old
# "repartition to every core" behavior. The target is deliberately small
# (64 KB) because spread guards per-row HEAVY compute — work per byte is
# high, so partitions should be much smaller than a scan split.
_SPREAD_TARGET_BYTES = 64 * 1024


def spread(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Repartition a (narrow) input for per-row heavy compute (shingle
    explode, regex batteries, Arrow decode) — SIZE-ADAPTIVE (r15).

    A small table read from one Parquet file arrives as ONE partition —
    every downstream map runs on one core; the round-robin shuffle of the
    narrow input is cheap and unlocks parallelism for the expensive
    projection that follows. But fanning a kilobyte-scale input out to
    every core buys nothing and pays a fixed Python-worker/Arrow cost per
    task, so the fan-out is derived from the optimizer's size estimate:
    ``min(parallelism, max(4, bytes / _SPREAD_TARGET_BYTES))``. At 100 TB
    the byte term dominates and this is exactly the old
    repartition-to-parallelism; when the estimate is unavailable the old
    behavior is the fallback, logged at DEBUG on this module's logger.
    :func:`spread_pinned` keeps the pre-r15 fixed fan-out for the
    code-frozen calibration-probe path."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism * multiplier
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        target = min(
            parallelism, max(4, -(-size // _SPREAD_TARGET_BYTES))
        )
    except Exception as exc:  # estimate unavailable — old fixed fan-out
        target = parallelism
        _log.debug(
            "spread: size estimate unavailable (%s); fan-out %d",
            type(exc).__name__, target,
        )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def spread_pinned(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """The pre-r15 fixed fan-out: repartition to cluster parallelism
    regardless of input size. Kept for the multimodal synth/decode path,
    for two reasons: (a) ``multimodal_bmp_decode`` is one of the three
    CODE-FROZEN tenancy-calibration probes whose cross-round
    reference values assume this plan shape — changing its partitioning
    would silently re-base every round's host_factor; (b) the blob
    synth/decode stages are genuinely compute-per-row-heavy (pixel/DCT
    walks over payload bytes), the one shape where bytes understate work
    enough that full fan-out is right even on small inputs."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism * multiplier
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)


def spark_thread_target(spark, fn):
    """Wrap ``fn`` for execution on a driver worker thread (guide §2.6
    overlap-independent-jobs) so Spark behaves as it would on the main
    thread: ``inheritable_thread_target`` carries the job group /
    description local properties, and the JVM ACTIVE SESSION is re-pinned
    inside the thread — under py4j pinned-thread mode a fresh Python
    thread maps to a fresh JVM thread with no inherited active session,
    and ``writeStream.format(...)`` resolution of session-registered
    PYTHON data sources consults exactly that thread-local (measured:
    ``format("vt").start()`` raises DATA_SOURCE_NOT_FOUND from a plain
    pool thread, succeeds after re-pinning)."""
    from pyspark import inheritable_thread_target

    def wrapped(*args, **kwargs):
        jvm = spark._jvm
        for cls in (
            "org.apache.spark.sql.classic.SparkSession",
            "org.apache.spark.sql.SparkSession",
        ):
            try:
                getattr(jvm, cls).setActiveSession(spark._jsparkSession)
                break
            except Exception:
                continue
        return fn(*args, **kwargs)

    return inheritable_thread_target(wrapped)


def bind_columns(df: DataFrame, **exprs: Column) -> DataFrame:
    """Append computed columns behind a PROJECTION BARRIER so downstream
    filters/projections reference them as plain attributes instead of
    re-inlining their defining expressions.

    ``df.withColumn("q", heavy).filter(F.col("q") > x)`` looks like it
    computes ``heavy`` once, but CollapseProject + filter pushdown inline
    the expression into every consumer — a filter over two scored columns
    evaluates both scores twice per row (measured ~2× on the regex-battery
    quality/language scores at sf0.1; worse when the expression lands
    inside a per-element lambda, where inlining turns O(dim) into
    O(dim²)). A Generate's input, by contrast, is evaluated exactly once
    per row and its outputs are attributes, so ``inline_outer`` over a
    one-element struct array is a zero-copy let-binding Catalyst cannot
    collapse away. Row counts are preserved (_outer: no emptiness filter).
    """
    return df.select(
        "*",
        F.inline_outer(
            F.array(F.struct(*[c.alias(n) for n, c in exprs.items()]))
        ),
    )
