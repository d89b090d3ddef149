"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every config choice is made for a
multi-executor cluster at 100 TB scale: AQE on (dynamic coalescing + skew-join
splitting), Arrow enabled for the pandas-UDF kernels, and a shuffle-partition
count that callers override per data scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def usable_cpus() -> int:
    """CPUs this process may run on (honours ``taskset``/cpuset pinning)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count()


def get_spark(
    app_name: str = "activity_files_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    CPUs this process may run on) so bench harnesses can pin parallelism; on
    a real cluster pass ``None`` and let spark-submit supply the master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(usable_cpus()))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism locally; on a real cluster this is set per-job
        # (rule of thumb: ~2-3x total executor cores, or rely on AQE coalesce)
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]").replace("*", cpus))
        except (IndexError, ValueError):  # yarn, local, local-cluster[...]
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
