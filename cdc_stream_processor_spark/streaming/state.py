"""Stateful balance reconciliation — Structured Streaming form of the
reference's only Processor-API node (BalanceReconciliationProcessor.java:42-152,
wired at ABBankTopology.java:310-321 with a persistent changelog-logged store).

Implemented with ``applyInPandasWithState`` (Arrow-batched per-key state):
per account the state holds the last ``balance_after``; each COMPLETED
transaction compares its ``balance_before`` against the stored value
(bootstrap: first event compares against its own ``balance_before``,
reference :72-74), emits HIGH when |diff| > ₦0.01 else LOW (:79-81,96-125),
then stores its ``balance_after`` (:89).

Scale note: state is partitioned by account_id across executors; with the
RocksDB state-store provider (spark.sql.streaming.stateStore.providerClass)
this holds billions of keys. The batch twin
(operators.pipelines.balance_reconciliation_batch) is the deterministic
replay used for the DuckDB oracle.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cdc_stream_processor_spark.operators.pipelines import (
    BALANCE_TOLERANCE,
    balance_eligible,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("account_id", T.LongType()),
        T.StructField("transaction_id", T.LongType()),
        T.StructField("balance_before", T.DoubleType()),
        T.StructField("balance_after", T.DoubleType()),
        T.StructField("discrepancy", T.DoubleType()),
        T.StructField("severity", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("last_balance", T.DoubleType())])


def _reconcile_group(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-account reconciliation over one micro-batch (rows may span
    multiple Arrow chunks): fold the rows in (initiated_at,
    transaction_id) order against the stored balance.

    Each row's expected balance is the previous row's ``balance_after``
    (the stored one for the first row, or its own ``balance_before`` on
    bootstrap), so the fold is a shift of the sorted column. With few
    state partitions one Python task runs every account of a trigger in
    series, so the fold is vectorized; only ``round`` stays per row, on
    Python floats, because NumPy's ``round`` can differ from it in the
    last digit."""
    (account_id,) = key
    chunks = list(batches)
    rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    # the order of sort_values(["initiated_at", "transaction_id"]): lexsort
    # is stable and sorts NaT and NaN last, like its na_position="last"
    order = np.lexsort(
        (rows["transaction_id"].to_numpy(), rows["initiated_at"].to_numpy())
    )
    before = rows["balance_before"].to_numpy()[order]
    after = rows["balance_after"].to_numpy()[order]
    # NoTimeout: Spark calls the fold only for keys with rows this batch
    last = state.get[0] if state.exists else None
    expected = np.concatenate(([before[0] if last is None else last], after[:-1]))
    disc = [round(d, 4) for d in np.abs(before - expected).tolist()]
    state.update((after[-1].item(),))  # store := BALANCE_AFTER (reference :89)
    yield pd.DataFrame(
        {
            "account_id": account_id,
            "transaction_id": rows["transaction_id"].to_numpy()[order],
            "balance_before": before,
            "balance_after": after,
            "discrepancy": disc,
            "severity": ["HIGH" if d > BALANCE_TOLERANCE else "LOW" for d in disc],
        }
    )


def balance_reconciliation_stream(txns: DataFrame) -> DataFrame:
    """Streaming balance reconciliation over parsed transactions.

    Input: cdc.parse_transactions output (streaming or batch DataFrame).
    Runs on any state-store provider: the HDFS-backed default, or RocksDB
    when ``spark.sql.streaming.stateStore.providerClass`` is set to
    ``session.ROCKSDB_PROVIDER``.
    """
    rows = balance_eligible(txns).select(
        "account_id", "transaction_id", "balance_before", "balance_after",
        "initiated_at",
    )
    return rows.groupBy("account_id").applyInPandasWithState(
        _reconcile_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
