"""SparkSession builder tuned for the engine.

Local-mode defaults follow the container (local[32], single JVM); on a real
cluster the same config block applies minus master/driver-memory, with AQE
doing runtime re-planning at the 100 TB scale target.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def driver_memory(
    meminfo: str = "/proc/meminfo", cgroup_max: str = "/sys/fs/cgroup/memory.max"
) -> str:
    """``SPARK_DRIVER_MEMORY`` when set; else half of the memory this process
    may use, capped at 48g: the smaller of the cgroup limit (when one is
    set) and ``MemTotal``. A heap sized past physical memory lets the JVM
    grow until the kernel kills it."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    limits = [96 * 2**30]  # the 48g cap, before halving
    with contextlib.suppress(OSError), open(meminfo) as fh:
        limits += [int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal:")]
    with contextlib.suppress(OSError), open(cgroup_max) as fh:
        limits += [int(raw) for raw in [fh.read().strip()] if raw.isdigit()]  # "max": no limit
    return f"{min(limits) // 2 // 2**20}m"


def get_spark(
    app_name: str = "etl_consumer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Defaults chosen for correctness-vs-oracle and scale:
    - UTC session timezone (oracle comparisons; cluster-invariant semantics)
    - AQE on (coalesce partitions, skew-join) — the runtime optimizer that
      replaces hand-tuning at 100 TB
    - Arrow on (pandas_udf fast path for the one non-expression decoder)
    - shuffle partitions sized to cores locally; on a cluster, AQE's
      coalescePartitions makes the initial number non-critical.
    - UI off and the driver heap from :func:`driver_memory`.

    ``master=None`` takes ``SPARK_MASTER``, else ``local[SPARK_GRAFT_CPUS]``
    (32 when unset); ``master=""`` leaves the master, UI and driver heap to
    the launcher (spark-submit's flags, else pyspark's ``local[*]``, UI, 1g).
    """
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SHUFFLE_PARTITIONS", "32"))

    builder = SparkSession.builder.appName(app_name)
    if master:
        # the driver runs in this process: no UI, a heap sized to the machine
        builder = (
            builder.master(master)
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", driver_memory())
        )
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
