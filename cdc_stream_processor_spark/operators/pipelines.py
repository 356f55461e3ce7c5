"""The five reference notification pipelines, batch form.

Each function is a pure DataFrame transformation over parsed transactions
(see cdc.parse_transactions) so it runs identically on a batch DataFrame and
inside a streaming query (the streaming module adds watermarks + sinks).
Reference pipeline wiring: ABBankTopology.java:149-153 — fraud velocity,
high-value alert, balance reconciliation, dormancy, daily spend.

Scale notes (100 TB):
- Aggregations are plain groupBy → Catalyst plans partial (map-side) + final
  aggregation; the only shuffle is on the grouping key.
- The account-dimension join is broadcast (dimension tables are small
  relative to the fact stream, as in the reference where accounts is a
  compacted KTable held in a store).
- Window buckets are computed with `window()` — epoch-aligned UTC tumbling,
  matching Kafka Streams TimeWindows (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import is_completed, is_debit

# Reference defaults (application.conf:37-53)
HIGH_VALUE_THRESHOLD = 500_000.0
VELOCITY_MAX_TXNS = 5
VELOCITY_WINDOW = "60 seconds"
DORMANCY_GAP = "30 days"
DAILY_SPEND_THRESHOLD = 1_000_000.0
DAILY_WINDOW = "1 day"
BALANCE_TOLERANCE = 0.01  # BalanceReconciliationProcessor.java:47


def completed_debits(txns: DataFrame) -> DataFrame:
    """P6/P14 — velocity/daily-spend input filter
    (ABBankTopology.java:171-172, 383-384)."""
    return txns.filter(
        is_debit(F.col("transaction_type"))
        & is_completed(F.col("transaction_status"))
    )


def high_value_alerts(
    txns: DataFrame,
    accounts: DataFrame,
    threshold: float = HIGH_VALUE_THRESHOLD,
) -> DataFrame:
    """Pipeline 2 — high-value alert (ABBankTopology.java:213-244).

    P7 amount >= threshold (inclusive, test ABBankTopologyTest.java:296-305),
    J1 stream-table left join on account_id (broadcast: dim side), M6
    severity = HIGH if debit else MEDIUM, null account → 'N/A'
    (ABBankTopology.java:252-253,262).
    """
    hv = txns.filter(F.col("amount").isNotNull() & (F.col("amount") >= threshold))
    acc = F.broadcast(
        accounts.select(
            "account_id",
            F.col("account_number"),
            F.col("customer_id").alias("acct_customer_id"),
            F.col("balance").alias("account_balance"),
        )
    )
    joined = hv.join(acc, "account_id", "left")
    return joined.select(
        F.col("account_id"),
        F.col("transaction_id"),
        F.col("transaction_ref"),
        F.col("transaction_type"),
        F.col("amount"),
        F.when(is_debit(F.col("transaction_type")), F.lit("HIGH"))
        .otherwise(F.lit("MEDIUM"))
        .alias("severity"),
        F.coalesce(F.col("account_number"), F.lit("N/A")).alias("account_number"),
        F.col("acct_customer_id").alias("customer_id"),
        F.col("initiated_at").alias("event_time"),
    )


def transaction_velocity(
    txns: DataFrame,
    window: str = VELOCITY_WINDOW,
    max_txns: int = VELOCITY_MAX_TXNS,
) -> DataFrame:
    """Pipeline 1 — fraud velocity (ABBankTopology.java:160-206).

    A1: per-account COUNT over epoch-aligned tumbling windows of completed
    debits; P11 HAVING count >= max_txns. Batch twin emits the final count
    per qualifying (window, account) — the deterministic closed-window result
    (the reference's update-stream may emit intermediates; SURVEY.md §7.3).
    """
    w = F.window(F.col("initiated_at"), window)
    return (
        completed_debits(txns)
        .groupBy(w.alias("w"), F.col("account_id"))
        .agg(F.count(F.lit(1)).alias("txn_count"))
        .filter(F.col("txn_count") >= max_txns)
        .select(
            F.col("account_id"),
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col("txn_count"),
        )
    )


def daily_spend(
    txns: DataFrame,
    window: str = DAILY_WINDOW,
    threshold: float = DAILY_SPEND_THRESHOLD,
) -> DataFrame:
    """Pipeline 5 — daily spend summary (ABBankTopology.java:377-425).

    A2: per-account SUM of completed debit amounts per tumbling day window;
    null amount contributes 0 (ABBankTopology.java:391-392); P13 HAVING
    sum >= threshold. Sum runs over DECIMAL(18,4) so the result is
    order-independent (exact) — then cast back to double.
    """
    w = F.window(F.col("initiated_at"), window)
    amt = F.coalesce(F.col("amount"), F.lit(0.0)).cast("decimal(18,4)")
    return (
        completed_debits(txns)
        .groupBy(w.alias("w"), F.col("account_id"))
        .agg(F.sum(amt).alias("_total"))
        .filter(F.col("_total") >= threshold)
        .select(
            F.col("account_id"),
            F.col("w.start").alias("window_start"),
            F.col("_total").cast("double").alias("total_debit"),
        )
    )


def dormancy_candidates(
    txns: DataFrame,
    gap: str = DORMANCY_GAP,
) -> DataFrame:
    """Pipeline 4 — dormancy (ABBankTopology.java:329-368).

    A3: session windows with inactivity `gap` per account over completed
    debits; P12 sessions holding exactly 1 event flag a dormancy candidate
    (first activity after a long quiet period). Uses session_window() —
    Spark merges overlapping sessions exactly like Kafka Streams
    SessionWindows (SURVEY.md §2.6 A3).
    """
    sw = F.session_window(F.col("initiated_at"), gap)
    return (
        completed_debits(txns)
        .groupBy(sw.alias("sw"), F.col("account_id"))
        .agg(F.count(F.lit(1)).alias("txn_count"))
        .filter(F.col("txn_count") == 1)
        .select(
            F.col("account_id"),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            F.col("txn_count"),
        )
    )


def balance_eligible(txns: DataFrame) -> DataFrame:
    """P9 — balance-reconciliation input, shared by the batch twin and the
    stateful stream (ABBankTopology.java:311-313): COMPLETED txns with a
    non-negative balance_after."""
    return txns.filter(
        is_completed(F.col("transaction_status"))
        & F.col("balance_after").isNotNull()
        & (F.col("balance_after") >= 0)
    )


def balance_reconciliation_batch(
    txns: DataFrame,
    tolerance: float = BALANCE_TOLERANCE,
) -> DataFrame:
    """Pipeline 3 batch twin — balance reconciliation
    (BalanceReconciliationProcessor.java:42-152).

    Streaming form keeps last balance_after per account in a state store;
    the deterministic batch twin replays per-account history ordered by
    (initiated_at, transaction_id) with lag():

      expected  = lag(balance_after)  -- the stored balance
      bootstrap = first event per account: expected := balance_before
                  (BalanceReconciliationProcessor.java:72-74)
      status    = HIGH discrepancy alert if |balance_before - expected| >
                  tolerance else LOW confirmation (:79-81,96-125)

    Only balance_eligible txns participate (P9).
    """
    from pyspark.sql.window import Window

    eligible = balance_eligible(txns)
    w = Window.partitionBy("account_id").orderBy("initiated_at", "transaction_id")
    expected = F.coalesce(
        F.lag("balance_after").over(w), F.col("balance_before")
    )
    disc = F.round(F.abs(F.col("balance_before") - expected), 4)
    return eligible.select(
        F.col("account_id"),
        F.col("transaction_id"),
        F.col("balance_before"),
        F.col("balance_after"),
        disc.alias("discrepancy"),
        F.when(disc > tolerance, F.lit("HIGH")).otherwise(F.lit("LOW")).alias(
            "severity"
        ),
    )
