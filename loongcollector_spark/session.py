"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and scaled down by env vars for
local testing:
- AQE on (runtime coalesce + skew-join splitting),
- LAST_WIN map-key dedup (our event `fields` map uses map_concat for set/overwrite
  semantics mirroring LogEvent SetContent, reference core/models/LogEvent.h:64-128),
- Arrow enabled for pandas UDF stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """min(16g, 40% of MemTotal) in whole GiB, at least 1g. 8g showed
    GC-driven CPU/row inflation at 32 threads (scaling bench cpu ratio
    1.39 → 1.16 at 16g), so a large host gets 16g; on a 16 GB machine a 16g
    heap let the JVM die under memory pressure (at semdedup_hot), so it gets
    6g there."""
    with open(meminfo) as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(16, int(0.4 * kib / 2**20)))}g"


def get_spark(
    app_name: str = "loongcollector-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local-mode JVM heap (set at FIRST JVM launch; later sessions in the
        # same process inherit it); see default_driver_memory
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to a session we didn't build (driver-owned)."""
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
