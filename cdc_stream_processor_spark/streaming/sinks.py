"""foreachBatch merge sink: continuously materialize a keyed table from a
change stream with idempotent upserts — the standard Structured-Streaming
pattern for exactly-once table maintenance on top of an at-least-once
sink (the reference gets the same effect from Kafka Streams' changelogged
KTable stores; ABBankTopology.java KTable materialization path).

Exactly-once story: the checkpoint gives replay of the last un-committed
micro-batch; the merge itself is idempotent (apply_changes keeps only the
newest change per key by sequence, and re-upserting an already-applied
change rewrites the same row), so a replayed batch cannot double-apply.
That is precisely the foreachBatch + MERGE recipe the Spark docs
recommend for exactly-once table sinks; here the table is plain parquet
(snapshot read → merge → atomic directory swap), production would swap in
Delta/Iceberg MERGE with no operator change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cdc_stream_processor_spark import cdc
from cdc_stream_processor_spark.plans.layout import publish_with_audit, restore_parked


def merge_batch_into_parquet(
    spark: SparkSession,
    batch: DataFrame,
    target_dir: str,
    key: str,
    snapshot_cols: list[str],
    seq: str = "_seq",
    op_col: str = "op",
) -> None:
    """Idempotently fold one (micro-)batch of changes into a parquet table.

    Reads the current snapshot (empty on first batch), applies the batch
    via cdc.apply_changes (latest change per key wins; op 'd' deletes),
    publishes it with ``plans.layout.publish_with_audit`` (stage, then
    directory swap) — so readers never see a partial table and re-running
    the same batch reproduces the identical snapshot (asserted in tests).

    Crash recovery: a process dying between the two renames of the swap
    leaves the snapshot parked at ``.__old__`` with no target dir; it is
    restored before the snapshot read, or the next batch would silently
    treat the table as empty and rebuild from scratch, dropping all merged
    history."""
    restore_parked(target_dir)
    if os.path.isdir(target_dir):
        snapshot = spark.read.parquet(target_dir).select(*snapshot_cols)
    else:
        snapshot = spark.createDataFrame(
            [], batch.select(*snapshot_cols).schema
        )
    merged = cdc.apply_changes(snapshot, batch, key=key, seq=seq, op_col=op_col)
    publish_with_audit(merged, target_dir, checks=[])


def start_merge_sink(
    changes: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key: str,
    snapshot_cols: list[str],
    seq: str = "_seq",
    op_col: str = "op",
    name: str = "merge-sink",
    trigger_available_now: bool = True,
):
    """writeStream.foreachBatch wrapper: each micro-batch merges into the
    parquet table at target_dir. Update-capable sink from an append-mode
    stream: the merge supplies the upsert semantics."""

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        merge_batch_into_parquet(
            batch.sparkSession,
            batch,
            target_dir,
            key,
            snapshot_cols,
            seq=seq,
            op_col=op_col,
        )

    writer = (
        changes.writeStream.queryName(name)
        .outputMode("append")
        .foreachBatch(_apply)
        .option("checkpointLocation", f"{checkpoint_dir}/{name}")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
