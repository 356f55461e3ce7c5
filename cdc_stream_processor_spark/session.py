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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
