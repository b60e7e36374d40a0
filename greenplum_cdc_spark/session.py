"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the same config block is what
we would ship to a 1000-executor cluster, with the scale-sensitive knobs
(`shuffle.partitions`, `maxPartitionBytes`) sized by cluster instead of
hard-coded — see SURVEY.md §6.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "greenplum-cdc-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned session.

    - AQE on: runtime coalescing + skew-join handling replaces manual
      partition surgery at 100 TB.
    - UTC session timezone: parquet naive timestamps compare bit-identically
      against external oracles (DuckDB) and across clusters.
    - Arrow on: any Pandas-UDF path (multimodal stubs) is batch-columnar.
    - shuffle.partitions: 32 locally; at cluster scale set ~2-3x total
      cores (e.g. 8000 for 1000 executors x 4 cores).
    - Checkpoint logs through the FileSystem-based checkpoint manager.
      The default FileContext-based one resolves symlinks on every
      offset/commit-log rename; without Hadoop's native library that is
      a forked ``readlink`` per rename (24 per CDC poll, each failing on
      its ``file:`` URI), and it held the ``latestOffset``, ``walCommit``
      and ``commitOffsets`` phases at 14-16 ms each against 3-4 ms with
      this manager (`tools/fork_census.py`). Trade: its atomic
      add-if-absent becomes exists-then-rename (``rename(2)`` is atomic
      on the local scheme), which is safe for the one writer per
      checkpoint every query here has.
    - DataFrame debugging off (a static conf, so it is set here and not
      with ``spark.conf.set``): PySpark otherwise captures the Python
      call site on every Column call, extra py4j round trips on each
      ``F.*`` call (``F.col`` 0.52 ms with it, 0.18 ms without), paid
      again by every plan a CDC poll builds. Trade: Spark analysis
      errors lose the Python call-site fragment; the package's own named
      errors are unchanged.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS); read as long and
        # convert to micros in io.load_table (matches DuckDB truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
