"""SparkSession factory.

One place to set the scale-oriented defaults: AQE (runtime re-planning +
skew-join handling), Arrow for every pandas-UDF boundary, and cores,
driver memory and shuffle partitions sized by argument, environment or,
failing both, the host, and the Python worker daemon of ``worker_daemon``.
On a real cluster these come from spark-submit conf; locally we emulate
with ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gpu-entity-resolver-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    # In local mode the driver JVM is the whole executor: half of physical
    # RAM (capped at 48g) leaves the other half to the python workers.
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{min(48 << 10, ram_mb // 2)}m"
    )
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the daemon imports the package from the driver's
        # environment, as the UDF closures already require
        .config(
            "spark.python.daemon.module", "gpu_entity_resolver_spark.worker_daemon"
        )
    )
    return builder.getOrCreate()
