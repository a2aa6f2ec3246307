"""SparkSession factory with the engine's standard configuration.

Scale notes (design target: 10^12 docs on a 1000-executor cluster):
- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  shuffle partition counts at any scale.
- Arrow on: every Python-side rule crosses the JVM boundary in columnar
  batches, never per row.
- shuffle.partitions is a local-mode default only; on a real cluster AQE
  derives post-shuffle parallelism from advisoryPartitionSizeInBytes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    # fixture-scale scan granularity: a few hundred MB of parquet must
    # still fan out across all cores (128m default packs it into ~3
    # splits). On a real cluster reading 100 TB, raise back to 128-256m
    # so task count stays ~1e6, not 1e7.
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def default_cpus() -> int:
    """Local-mode thread count: ``SPARK_GRAFT_CPUS`` if set, else the
    CPUs this process may run on (its affinity mask, not the host's
    core count)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "luzzu_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults."""
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{default_cpus()}]")
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created
    session (the driver passes its own session into ``queries()``
    callables). Attempt EVERY default conf and let the except skip the
    genuinely non-runtime ones (review r05: the old adaptive/arrow
    prefix filter silently skipped session.timeZone=UTC, which the
    streaming/fixture TIMESTAMP_NTZ→TIMESTAMP casts depend on — a
    non-UTC driver JVM would shift every window epoch by its zone
    offset)."""
    for k, v in DEFAULT_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — defaults still fine
    return spark
