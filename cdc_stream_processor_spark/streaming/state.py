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

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

BALANCE_TOLERANCE = 0.01

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
    transaction_id) order against the stored balance."""
    (account_id,) = key
    last = state.get[0] if state.exists else None
    rows = pd.concat(list(batches), ignore_index=True)
    rows = rows.sort_values(["initiated_at", "transaction_id"])
    out: list[dict[str, Any]] = []
    for r in rows.itertuples(index=False):
        expected = last if last is not None else r.balance_before
        disc = round(abs(r.balance_before - expected), 4)
        out.append(
            {
                "account_id": account_id,
                "transaction_id": r.transaction_id,
                "balance_before": r.balance_before,
                "balance_after": r.balance_after,
                "discrepancy": disc,
                "severity": "HIGH" if disc > BALANCE_TOLERANCE else "LOW",
            }
        )
        last = r.balance_after  # store := BALANCE_AFTER (reference :89)
    state.update((last,))
    yield pd.DataFrame(out, columns=[f.name for f in OUTPUT_SCHEMA.fields])


def _eligible(txns: DataFrame) -> DataFrame:
    """P9 eligibility (ABBankTopology.java:311-313): COMPLETED with
    non-negative balance_after."""
    return txns.filter(
        (F.col("transaction_status") == "COMPLETED")
        & F.col("balance_after").isNotNull()
        & (F.col("balance_after") >= 0)
    ).select(
        "account_id", "transaction_id", "balance_before", "balance_after",
        "initiated_at",
    )


def balance_reconciliation_stream(txns: DataFrame) -> DataFrame:
    """Streaming balance reconciliation over parsed transactions.

    Input: cdc.parse_transactions output (streaming or batch DataFrame).
    Runs on any state-store provider (HDFS-backed default, RocksDB opt-in).
    """
    return _eligible(txns).groupBy("account_id").applyInPandasWithState(
        _reconcile_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
