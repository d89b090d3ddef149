"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every config choice is made for a
multi-executor cluster at 100 TB scale: AQE on (dynamic coalescing + skew-join
splitting), Arrow enabled for the pandas-UDF kernels, and a shuffle-partition
count that callers override per data scale.

On a local master whose Python workers can import this package (it is found
in the working directory or on ``$PYTHONPATH``), the workers are forked from
``activity_files_spark/_daemon.py``: pyspark's daemon run from compiled
bytecode with numpy, pandas and pyarrow already imported, so a session's
first Python job does not pay to compile pyspark and to import the Arrow
stack in every worker. Elsewhere (a cluster, or ``spark-submit --py-files``,
whose workers receive the package only per task) Spark's own daemon runs.
``extra_conf`` can set ``spark.python.daemon.module`` either way.

On a local master, streaming checkpoints are written through Hadoop's
``FileSystem`` API instead of ``FileContext``. Without Hadoop's native
library (pip's pyspark ships none), each permission or status call on a
local file forks a helper process (``chmod``, ``readlink``) from the JVM,
and ``FileContext`` makes three to four times as many as ``FileSystem``
(a first ``stream_sessionize_users`` run at sf0.1: 176 against 54). Each
child briefly counts at the JVM's RSS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def usable_cpus() -> int:
    """CPUs this process may run on (honours ``taskset``/cpuset pinning)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count()


def _is_local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def _local_conf(master: str) -> dict[str, str]:
    """Conf of a ``local``/``local[N]`` master: the streaming checkpoint
    manager (module docstring) and the worker daemon, if any."""
    if not _is_local(master):
        return {}
    return {
        "spark.sql.streaming.checkpointFileManagerClass": "org.apache.spark.sql.execution"
        ".streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        **_worker_daemon(master),
    }


def _worker_daemon(master: str) -> dict[str, str]:
    """``spark.python.daemon.module`` for ``master`` when its workers can
    import the package: a ``local``/``local[N]`` master (its workers run in
    this JVM's working directory, unlike local-cluster executors), and the
    package's root is that directory or on ``$PYTHONPATH``, which a JVM
    launched from this process hands its workers. A JVM that launched this
    driver (spark-submit) hands them its own ``$PYTHONPATH``, not the
    driver's."""
    if not _is_local(master):
        return {}
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    dirs = [os.getcwd()]
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        dirs += os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in {os.path.realpath(d) for d in dirs if d}:
        return {}
    return {"spark.python.daemon.module": "activity_files_spark._daemon"}


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
    for k, v in {**_local_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
