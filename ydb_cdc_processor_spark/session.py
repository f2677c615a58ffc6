"""SparkSession factory tuned for the engine.

Defaults chosen for scale-out behavior (AQE, skew handling, broadcast
threshold) while remaining correct on local[*]:

- UTC session timezone: the reference decodes all instants in UTC
  (YqlQuery.java:146-152 uses ``ZoneOffset.UTC``); pinning the session zone
  makes ``to_timestamp``/``to_date`` deterministic regardless of host tz.
- AQE on (runtime coalescing + skew-join splitting) — at 100 TB the static
  shuffle partition count is always wrong for some stage; AQE re-plans.
- Arrow enabled for the few Pandas-UDF paths (similarity / multimodal).
- The driver JVM's JIT code cache pinned at 240 MB
  (``spark.driver.defaultJavaOptions``), HotSpot's tiered default.  A
  JVM limited to C1 (``-XX:TieredStopAtLevel=1``) otherwise gets 48 MB,
  which a long-running CDC loop fills; HotSpot then turns the JIT
  compiler off for the rest of the process and every later batch runs
  slower (measured on 4 vCPUs under C1: the second 1000-change IVM batch
  of a process took 8.5-8.6 s against 6.3-6.5 s for the first; with the
  240 MB cache, 6.4-7.3 s).  Callers' own
  ``spark.driver.extraJavaOptions`` are appended after it and still
  apply; this option only sets the JVM's starting flags, so it takes
  effect only when ``get_spark`` launches the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ydb-cdc-processor-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """``extra_conf``: additional builder configs (tooling only — e.g.
    the profiler's event log); ignored when a session already exists
    (getOrCreate semantics)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join pruning, pinned ON explicitly (the
        # default has moved across Spark lines): when one side of a
        # shuffle join carries a selective predicate, Spark builds a
        # bloom filter from it and prunes the OTHER side's shuffle —
        # at 100 TB that turns fact⋈filtered-dim joins from full-fact
        # shuffles into pre-filtered ones, with zero plan changes here
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # write timestamps as INT64 micros, not legacy INT96: INT96
        # columns carry NO parquet min/max statistics, which silently
        # disables file/row-group skipping on every time-range predicate
        # (functions/layout.py is built on those stats)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no ns
        # timestamp — read as long ns, converted in sources.catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet micros → plain TIMESTAMP (session tz is UTC), not NTZ
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.defaultJavaOptions",
                "-XX:ReservedCodeCacheSize=240m")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
