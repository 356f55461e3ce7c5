"""SparkSession factory.

Defaults are tuned so the same code is correct on local[32] (test rig) and
sane on a 1000-executor cluster reading 100 TB:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means we
  don't hand-tune ``spark.sql.shuffle.partitions`` per scale factor.
- ``autoBroadcastJoinThreshold`` left at default (10 MB) so dimension tables
  (customer/nation/region analogs) broadcast automatically; operators also
  broadcast explicitly where the dim side is known-small.
- Arrow enabled for the few Pandas-UDF paths (similarity, stateful ops).
- Session timezone pinned to UTC: window boundaries are epoch-aligned UTC in
  the reference (SURVEY.md §1.4) and the DuckDB oracle reads naive timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "cdc-stream-processor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession with scale-aware defaults.

    Streaming stateful operators use the default HDFSBackedStateStore
    (in-memory) for small test state. For the disk-backed store that holds
    billions of keys per executor, matching the reference's persistent
    changelog-backed stores (ABBankTopology.java:67-71), pass
    ``extra_conf={"spark.sql.streaming.stateStore.providerClass":
    ROCKSDB_PROVIDER}``.

    Streaming checkpoints (offset log, commit log, state-store delta files)
    are written through ``CHECKPOINT_FILE_MANAGER``, Spark's
    ``FileSystem``-based manager, instead of the ``FileContext`` one Spark
    picks for local and HDFS paths. Both write a temp file and rename it
    into place, and both keep Hadoop's ``.crc`` checksum files. Without
    the native Hadoop library, every ``FileContext`` rename forks
    ``readlink`` four times, so a trigger of five pipelines paid hundreds
    of milliseconds of process spawns on the alert's latency path;
    ``FileSystem.rename`` on the local filesystem is ``File.renameTo``,
    which forks nothing. It is safe because:

    - rename is atomic on local and HDFS filesystems, so a reader sees a
      whole log or delta file or none;
    - Spark itself falls back to this manager wherever ``FileContext`` is
      missing for a scheme;
    - on an overwrite-allowed write whose rename is refused because the
      destination exists (HDFS refuses, a local rename replaces), it keeps
      the file already there instead of failing;
    - on object stores neither manager makes rename atomic.

    Pass ``spark.sql.streaming.checkpointFileManagerClass`` in
    ``extra_conf`` to use another manager.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata parquet carries INT64 TIMESTAMP(NANOS) — read as
        # long and convert in sources.batch (DuckDB truncates ns→µs likewise)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # stdout stays line-oriented JSON/PASS lines: the driver's bench/gate
        # capture truncates to a tail window, and \r progress bars can push
        # the final JSON line out of it
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
