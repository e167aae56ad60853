"""SparkSession factory.

Centralizes the engine's session defaults so every entry point (tests, bench,
driver contract, pipeline runner) executes under the same semantics:

- UTC session timezone (the reference stores TIMESTAMP_NTZ and never converts;
  pinning UTC makes Spark's TimestampType behave identically — SURVEY.md §1.2).
- AQE on: runtime join-strategy switches, skew-join splitting and partition
  coalescing are the engine's first line of defense at 100 TB scale
  (SURVEY.md §4).
- Arrow on: any unavoidable Python boundary (pandas UDFs, toPandas) is
  Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Engine-wide defaults. Deliberately small: everything else is left to
#: Catalyst/AQE. Values chosen for the local[32]/128GiB test harness but the
#: same settings are what we would ship on a 1000-executor cluster (AQE
#: coalesces the shuffle partition count at runtime, so a static
#: ``shuffle.partitions`` only needs to be an upper bound).
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet writes: dictionary+zstd is the right default for wide fact tables.
    "spark.sql.parquet.compression.codec": "zstd",
    # Parquet TIMESTAMP(NANOS) columns read as longs (Spark rejects them
    # otherwise); set for the whole session, so one read never changes the
    # type later reads infer. driver_queries._t normalizes events.ts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Don't let tiny local tests create 200 shuffle files; AQE coalesces
    # upward-bounded partition counts anyway.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # UI off in the harness: faster session startup, no port contention.
    "spark.ui.enabled": "false",
    # local[N] runs the whole cluster in ONE JVM whose default heap is ~1g —
    # 32 concurrent tasks each sorting a shuffle partition OOM long before
    # the machine (128 GiB) is near full. 8g measured fastest across the
    # bench (1g OOMs on multi-million-row shuffles; 48g is ~35% SLOWER on
    # GC-heavy iterative jobs — bigger heaps hurt G1 locality). Ignored
    # when a JVM already exists (getOrCreate) or under spark-submit with an
    # explicit --driver-memory.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "unified-firmographic-data-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var is
    set, else whatever the environment provides (spark-submit / existing
    session). ``extra_conf`` overrides ``DEFAULT_CONF`` per key.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
