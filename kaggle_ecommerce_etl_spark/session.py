"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness harness; the config is chosen so the same
code runs unchanged on a multi-executor cluster:
- AQE on (runtime coalesce, skew-join splitting) so shuffle partition
  counts self-tune at any scale factor.
- shuffle.partitions sized to the master's thread count locally (so
  ``SPARK_GRAFT_CPUS`` moves both together); on a real cluster AQE's
  coalescing makes the initial number mostly irrelevant.
- UTC session timezone pinned for deterministic date/timestamp semantics
  (and DuckDB-oracle comparability).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def master_threads(master: str) -> int:
    """Task threads a master string runs: ``local`` → 1, ``local[n]`` /
    ``local[n,retries]`` → n; ``local[*]`` and non-local masters → the
    host's core count."""
    m = re.fullmatch(r"local(?:\[(\d+)(?:,\d+)?\])?", master)
    if m:
        return int(m.group(1) or 1)
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "kaggle-ecommerce-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = master_threads(master)

    builder = SparkSession.builder.master(master).appName(app_name)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # small dims (region/nation/month lookup) always broadcast
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.ui.enabled": "false",
        # deterministic ENGLISH month names (date_format 'MMMM', the
        # month-normalization ops) regardless of host locale. Spark's
        # TimestampFormatter pins Locale.US internally (verified under
        # -Duser.language=fr — tests/test_locale.py), so this is
        # declared insurance: visible contract + survives a Spark
        # default-locale behavior change. No-op if the JVM is already up.
        "spark.driver.extraJavaOptions": "-Duser.language=en -Duser.country=US",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # constraint propagation is O(exponential) on wide filters built
        # from many isNull terms (the mostly-null row filter over 20+
        # columns made a 50-row count take 100+ s of pure optimizer time;
        # disabling gives identical results, 75× faster compilation)
        "spark.sql.constraintPropagation.enabled": "false",
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
