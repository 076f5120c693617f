"""SparkSession factory with scale-oriented defaults.

Every config here is chosen for the 100 TB posture (AQE re-planning,
skew-join handling, partition coalescing, Arrow for the Python boundary,
a generated-class cache sized to the registry's working set) while
remaining correct on local[N] test runs. Tests/bench override
parallelism via env vars rather than hand-tuned code paths.

Streaming checkpoints (offset and commit logs, state-store files) go
through Spark's FileSystem-based checkpoint manager, not its FileContext
default: on a local ``file:`` root, the only root a ``local[N]`` session
here writes, the FileContext path makes Hadoop's local filesystem fork a
``chmod``/``readlink`` process per file operation when libhadoop is
absent, and both managers commit a file the same way (temp file, then
rename). ``file:`` is pinned to Hadoop's LocalFileSystem, whose rename
replaces an existing file as that manager expects.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 128 MiB parquet split target — matches HDFS-era block sizing and keeps
# ~100k tasks for a 100 TB scan, which Spark's scheduler handles fine.
_MAX_PARTITION_BYTES = str(128 * 1024 * 1024)

# Entries of the JVM-wide cache of compiled generated classes (whole-stage,
# projection, predicate, ordering), keyed by generated source. Spark's
# default is 100, split over Guava's 4 LRU segments. The workloads here are
# cyclic (the same plans pass after pass, every micro-batch re-planned), and
# a cyclic working set larger than an LRU cache evicts the next entry needed
# on every run: each warm pass of the 10-query benchmark mix recompiled
# 103-117 classes, of the four benchmark streams 222-310. The full registry
# compiles 2,541 distinct classes per pass at sf0.01 and 2,536 at sf0.1;
# 4096 entries give each segment 1024, at least 1.6x that working set. The
# conf is static and read once per JVM when CodeGenerator initializes.
_CODEGEN_CACHE_ENTRIES = "4096"

# Checkpoint manager of every stream's offset/commit logs (driver) and
# HDFS-backed state store (executors); each builds it from the session's
# Hadoop conf at stream start, so it is a session conf, not a query option.
# Spark's default goes through Hadoop's FileContext, whose local filesystem
# without libhadoop forks a chmod or readlink process for most files it
# writes or renames: about 3,500 processes and 8.5-11.5 s of child CPU per
# warm pass of the four benchmark streams, about 940 and 2 s with this
# manager. Atomicity is unchanged on file: (Spark 4.1.2, Hadoop 3.4.2):
# both write a temp file and rename it with File.renameTo, checking first
# that the destination is absent where overwriting is not allowed (offset
# and commit logs). get_spark only builds local[N] sessions, whose
# checkpoint roots are local. Checksums stay on (corruption detection).
_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# FileSystem of the file: scheme. The Hive jars that ship with pyspark
# register their ProxyLocalFileSystem for it, whose rename refuses an
# existing destination (HDFS's contract). The manager above commits a state
# version that a task re-runs (a foreachBatch body that reads its batch
# twice) onto the existing file, takes the refusal for a commit by another
# writer, and leaves the temp file behind: 48 leaked per benchmark pass of
# the incremental dedup stream, growing with the stream. Hadoop's own
# LocalFileSystem renames over the destination as POSIX rename does.
_LOCAL_FILE_SYSTEM = "org.apache.hadoop.fs.LocalFileSystem"


def default_parallelism() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "bitcoinminingetl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    On a real cluster the ``master`` would come from spark-submit; local[N]
    is the test harness. ``spark.sql.shuffle.partitions`` is a *starting*
    value — AQE coalesces small post-shuffle partitions and splits skewed
    ones at runtime, which is the scale-out story for 1000 executors.
    """
    cpus = cpus or default_parallelism()
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", _MAX_PARTITION_BYTES)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
        .config("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
        .config("spark.hadoop.fs.file.impl", _LOCAL_FILE_SYSTEM)
    )
    return builder.getOrCreate()


def plain_session(
    app_name: str, cpus: int = 8, driver_memory: str | None = None
) -> SparkSession:
    """The external driver's plain session: Spark's default configs
    (deliberately NOT get_spark's), 8 shuffle partitions and the UI off.
    Tools that run under driver conditions use it to catch configs our
    code wrongly assumes."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    return builder.getOrCreate()
