"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every setting is chosen to also be the
right call on a 1000-executor cluster:

- AQE on: runtime coalescing of small shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace all of the reference's hand-tuned
  chunk/concurrency constants (EventStream.kt:66-73, MetadataStream.kt:34-46).
- Arrow enabled for the (few) Pandas-UDF paths.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  ``coalescePartitions`` makes the initial number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "event-stream-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MiB input splits: the right granularity for TB-scale parquet scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # naive parquet timestamps land as TIMESTAMP (LTZ) with UTC session
        # tz — epoch-verbatim, matching DuckDB's epoch_us read of the same
        # files; see queries.t() which pins the same pair for foreign sessions
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as INT64 micros, not legacy INT96: INT96 columns
        # carry NO parquet min/max footer statistics, silently defeating
        # row-group/file pruning on every time predicate over our own lakes
        # (eventlake daily files, zorder layout). INT64 micros also round-
        # trips bit-exactly with DuckDB's epoch_us view of the same files.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # streaming checkpoints through the FileSystem API, not FileContext:
        # without Hadoop's native library the FileContext manager shells out
        # to `readlink` for every local path it stats (and to `chmod` for
        # every file it creates), so a watermarked dedup over 8 state
        # partitions spawned ~370 processes per micro-batch and its state
        # commits took ~100 ms per partition, swinging with host load.  The
        # FileSystem manager keeps write-temp-then-rename (atomic on local
        # disk and HDFS) and leaves only the ~80 `chmod` spawns
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
