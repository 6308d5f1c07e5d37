"""SparkSession factory tuned for the engine.

Scale posture: on a real cluster the same settings apply except
``master``/memory; AQE handles skew-joins and partition coalescing at
100 TB, shuffle partitions are sized by the cluster not hard-coded here
(we only pin them in local mode so 32 threads aren't starved by 200
default partitions).

Two settings cut the fixed cost of every streaming micro-batch:

- ``spark.sql.streaming.checkpointFileManagerClass`` is Spark's
  ``FileSystemBasedCheckpointFileManager``. The default FileContext manager
  asks the local file system for the link status of each file it renames
  into the checkpoint (state deltas, checksum files and their ``.crc``
  sidecars, ``offsets/`` and ``commits/`` entries). Without the native
  Hadoop library that forks a ``readlink`` process per call, about a hundred
  per micro-batch of a stateful query. The FileSystem manager renames
  through ``FileSystem.rename``, atomic on a local disk, and writes the
  same checkpoint files.
- ``spark.sql.streaming.pollingDelay`` is 100 ms, not Spark's 10 ms. After a
  trigger finds no new data Spark sleeps this long before it polls the
  sources again; each ``pulsarlike`` poll is a round trip to a Python
  worker, so an idle query made about a hundred of them a second.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """A quarter of host memory, clamped to 1-48 GiB. A fixed large heap
    lets the driver JVM grow past what a small host has, and the kernel
    then kills it mid-session; ``SPARK_GRAFT_DRIVER_MEM`` overrides."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, max(1024, total_mb // 4))}m"


def get_spark(app_name: str = "pulsar_3_2_codedump_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # workers skip re-reading Spark's own archives on every task
        .config("spark.python.daemon.module", "pulsar_3_2_codedump_spark.worker_daemon")
        # checkpoint renames fork no readlink; idle queries poll 10x less
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.streaming.pollingDelay", "100ms")
        # Fixture parquet carries isAdjustedToUTC=false timestamps; read them
        # as session-TZ TIMESTAMP (session TZ is UTC) not TIMESTAMP_NTZ so
        # unix_micros/watermarks work. catalog.load also casts defensively.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
