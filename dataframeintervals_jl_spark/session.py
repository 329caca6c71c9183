"""SparkSession factory with the engine's required configs.

Centralizes the settings every entry point needs:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver's
  ``events.ts`` is parquet ``timestamp[ns]``, which Spark 4 otherwise
  rejects (``PARQUET_TYPE_ILLEGAL``); with the flag it reads as bigint
  epoch-ns, exactly our canonical unit.
- AQE on (runtime coalescing + skew-join splitting) — on a real cluster
  this is what rescues skewed interval distributions.
- shuffle partitions sized to the local core count rather than the 200
  default; on a cluster this would be tuned to ~2-3x total cores.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

#: Serializes :func:`driver_rows`' session-wide AQE flip across threads.
_AQE_FLIP_LOCK = threading.Lock()


def get_spark(app_name: str = "dataframeintervals_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # explicit (it is the default) because the engine RELIES on it:
        # the binned interval join and the LSH bucket joins produce
        # skewed keys on real data; AQE splits oversized partitions at
        # runtime, which is the engine's skew answer instead of manual
        # salting (SURVEY.md §4.3)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_configs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session.

    The driver passes us its own SparkSession; ``nanosAsLong`` is a
    runtime-settable SQL conf, so we can still flip it here before any
    parquet read.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def driver_rows(df):
    """Collect a TINY driver-side result (a scalar bounds/stats agg, a
    bucket summary, a bounded group table) in ONE scheduler round-trip.

    Under AQE, even a 1-row two-stage aggregate materializes every
    exchange as its own job — three driver round-trips where the
    non-adaptive planner runs one (measured at sf0.1: 3 jobs / 0.6-1.6s
    vs 1 job / 0.4-0.5s warm).  Adaptive re-planning cannot help these
    actions — their final stage is a single partition (or a few
    thousand tiny rows) by construction — and the engine's internal
    probes, bounds aggregates, and fixpoint reads run several of them
    per query, so the round-trips are pure latency at any scale
    (guide §1.2: the driver is a sequential resource).  Disable AQE for
    exactly this action and restore the session value.

    NOT for wide results: without AQE a grouped aggregate keeps all
    ``spark.sql.shuffle.partitions`` reduce tasks in the collecting
    job, so call this only where the result is provably tiny (call
    sites document their bounds).  The conf flip is session-scoped, so
    a module lock serializes flipping probes across threads: without
    it, a thread could read another's "false" as the value to restore.
    A session that already runs with AQE off collects without the
    flip or the lock."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    if spark.conf.get(key).lower() == "false":
        return df.collect()
    with _AQE_FLIP_LOCK:
        prev = spark.conf.get(key)
        try:
            spark.conf.set(key, "false")
            return df.collect()
        finally:
            spark.conf.set(key, prev)


def driver_row(df):
    """:func:`driver_rows`' single-row form — ``None`` when empty, the
    same contract as ``DataFrame.first()``."""
    rows = driver_rows(df)
    return rows[0] if rows else None


def driver_count(df) -> int:
    """``df.count()`` in one scheduler round-trip (see
    :func:`driver_rows`).  Fully equivalent — including the side effect
    the engine leans on everywhere: counting a just-``persist()``-ed
    frame materializes its cache."""
    from pyspark.sql import functions as F

    return int(driver_rows(df.agg(F.count(F.lit(1))))[0][0])
