"""Driver-facing batch query registry.

Each entry pairs a Spark DataFrame query (spark, sf_dir) -> DataFrame with an
equivalent DuckDB oracle SQL string over the same parquet tables. The CDC
pipeline queries exercise the real envelope path (events → Debezium-style
envelopes → cdc.parse_transactions → pipeline); the oracle replays the same
deterministic arithmetic straight off the raw tables.

Column names are aliased identically on both sides (driver hash-matches by
sorted column name). Money aggregation runs over DECIMAL(18,4) on both sides
so sums are order-independent and exact, then casts back to double.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_stream_processor_spark import cdc
from cdc_stream_processor_spark.operators import pipelines as P
from cdc_stream_processor_spark.sources import batch as B
from cdc_stream_processor_spark.sources import cdc_sim

QueryFn = Callable[[SparkSession, str], DataFrame]

# Batch-twin parameters sized to the testdata distributions (events values
# are ~0.03-330; reference production defaults stay in operators.pipelines).
HV_THRESHOLD = 250.0
VELOCITY_WINDOW = "1 hour"
VELOCITY_MIN = 2
DAILY_THRESHOLD = 150.0
DORMANCY_GAP = "1 day"

_DEBITS_SQL = "('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')"

# Shared oracle CTE: the DuckDB mirror of transaction_envelopes_from_events
# followed by cdc.parse_transactions (drop op='d', account_id==0 sentinel).
TXNS_CTE = f"""
WITH txns AS (
  SELECT
    event_id                       AS transaction_id,
    user_id                        AS account_id,
    'REF-' || event_id             AS transaction_ref,
    {cdc_sim.TYPE_MAP_SQL}         AS transaction_type,
    ROUND(value, 4)                AS amount,
    'NGN'                          AS currency,
    UPPER(event_type)              AS channel,
    {cdc_sim.STATUS_SQL}           AS transaction_status,
    ts                             AS initiated_at,
    {cdc_sim.OP_SQL}               AS op
  FROM events
  WHERE event_id % 10 != 0 AND user_id != 0
)
"""


def _txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = B.load_table(spark, sf_dir, "events")
    return cdc.parse_transactions(cdc_sim.transaction_envelopes_from_events(events))


def _accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = B.load_table(spark, sf_dir, "customer")
    return cdc.parse_accounts(cdc_sim.accounts_envelopes_from_customers(customer))


# --- CDC pipeline queries ----------------------------------------------------


def q_cdc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _txns(spark, sf_dir).select(
        "transaction_id",
        "account_id",
        "transaction_ref",
        "transaction_type",
        "amount",
        "currency",
        "channel",
        "transaction_status",
        "initiated_at",
        "op",
    )


SQL_CDC_PARSE = (
    TXNS_CTE
    + """
SELECT transaction_id, account_id, transaction_ref, transaction_type,
       -- +0.0 normalizes IEEE signed zero: a source amount of -0.0 rounds
       -- to -0.0 in DuckDB but to 0.0 on the engine side (Spark round()
       -- goes through Java BigDecimal, which has no signed zero — and the
       -- reference's CdcParser.java money path is that same BigDecimal,
       -- so 0.0 is the behavior of record). Identity for every other
       -- value incl. NULL/NaN/Inf. Found by the r11 numeric divergence
       -- audit; only the raw-parse output surfaces it (downstream
       -- consumers filter or aggregate the sign away).
       amount + 0.0 AS amount,
       currency, channel, transaction_status, initiated_at, op
FROM txns
"""
)


def q_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.high_value_alerts(
        _txns(spark, sf_dir), _accounts(spark, sf_dir), threshold=HV_THRESHOLD
    )


SQL_HIGH_VALUE = (
    TXNS_CTE
    + f"""
SELECT t.account_id, t.transaction_id, t.transaction_ref, t.transaction_type,
       t.amount,
       CASE WHEN t.transaction_type IN {_DEBITS_SQL} THEN 'HIGH'
            ELSE 'MEDIUM' END AS severity,
       COALESCE(c.c_name, 'N/A') AS account_number,
       c.c_custkey AS customer_id,
       t.initiated_at AS event_time
FROM txns t LEFT JOIN customer c ON t.account_id = c.c_custkey
WHERE t.amount IS NOT NULL AND t.amount >= {HV_THRESHOLD}
"""
)


def q_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.transaction_velocity(
        _txns(spark, sf_dir), window=VELOCITY_WINDOW, max_txns=VELOCITY_MIN
    )


SQL_VELOCITY = (
    TXNS_CTE
    + f"""
SELECT account_id,
       time_bucket(INTERVAL '1 hour', initiated_at) AS window_start,
       time_bucket(INTERVAL '1 hour', initiated_at) + INTERVAL '1 hour'
         AS window_end,
       COUNT(*) AS txn_count
FROM txns
WHERE transaction_type IN {_DEBITS_SQL} AND transaction_status = 'COMPLETED'
GROUP BY 1, 2, 3
HAVING COUNT(*) >= {VELOCITY_MIN}
"""
)


def q_daily_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.daily_spend(_txns(spark, sf_dir), threshold=DAILY_THRESHOLD)


SQL_DAILY_SPEND = (
    TXNS_CTE
    + f"""
SELECT account_id,
       time_bucket(INTERVAL '1 day', initiated_at) AS window_start,
       CAST(SUM(CAST(COALESCE(amount, 0) AS DECIMAL(18,4))) AS DOUBLE)
         AS total_debit
FROM txns
WHERE transaction_type IN {_DEBITS_SQL} AND transaction_status = 'COMPLETED'
GROUP BY 1, 2
HAVING SUM(CAST(COALESCE(amount, 0) AS DECIMAL(18,4))) >= {DAILY_THRESHOLD}
"""
)


def q_dormancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.dormancy_candidates(_txns(spark, sf_dir), gap=DORMANCY_GAP)


# Session windows as gap-islands: break when the gap to the previous event is
# >= the inactivity gap (Spark session_window is [start, last+gap) —
# an event landing exactly at the boundary opens a new session).
SQL_DORMANCY = (
    TXNS_CTE
    + f"""
, d AS (
  SELECT account_id, initiated_at FROM txns
  WHERE transaction_type IN {_DEBITS_SQL} AND transaction_status = 'COMPLETED'
), m AS (
  SELECT account_id, initiated_at,
         CASE WHEN lag(initiated_at) OVER
                     (PARTITION BY account_id ORDER BY initiated_at) IS NULL
               OR initiated_at - lag(initiated_at) OVER
                     (PARTITION BY account_id ORDER BY initiated_at)
                  >= INTERVAL '{DORMANCY_GAP}'
              THEN 1 ELSE 0 END AS brk
  FROM d
), s AS (
  SELECT account_id, initiated_at,
         SUM(brk) OVER (PARTITION BY account_id ORDER BY initiated_at
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT account_id, MIN(initiated_at) AS session_start,
       MAX(initiated_at) + INTERVAL '{DORMANCY_GAP}' AS session_end,
       COUNT(*) AS txn_count
FROM s GROUP BY account_id, sid HAVING COUNT(*) = 1
"""
)


def q_balance_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    ledger = cdc_sim.with_synthetic_ledger(_txns(spark, sf_dir))
    return P.balance_reconciliation_batch(ledger)


SQL_BALANCE_RECON = (
    TXNS_CTE
    + """
, led AS (
  SELECT *,
    CAST(SUM(CAST(amount AS DECIMAL(18,4))) OVER w AS DOUBLE) AS balance_after,
    CAST(SUM(CAST(amount AS DECIMAL(18,4))) OVER w
         - CAST(amount AS DECIMAL(18,4)) AS DOUBLE)
      + CASE WHEN transaction_id % 13 = 5 THEN 7.5 ELSE 0.0 END
      AS balance_before
  FROM txns
  WINDOW w AS (PARTITION BY account_id ORDER BY initiated_at, transaction_id
               ROWS UNBOUNDED PRECEDING)
), eligible AS (
  SELECT * FROM led
  WHERE transaction_status = 'COMPLETED'
    AND balance_after IS NOT NULL AND balance_after >= 0
), recon AS (
  SELECT account_id, transaction_id, balance_before, balance_after,
    ROUND(ABS(balance_before - COALESCE(
      lag(balance_after) OVER (PARTITION BY account_id
                               ORDER BY initiated_at, transaction_id),
      balance_before)), 4) AS discrepancy
  FROM eligible
)
SELECT account_id, transaction_id, balance_before, balance_after, discrepancy,
       CASE WHEN discrepancy > 0.01 THEN 'HIGH' ELSE 'LOW' END AS severity
FROM recon
"""
)


# --- Notification rendering (M6 + F3 + C1/C2/C14) ----------------------------


def q_notifications_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full high-value notification text: severity routing, ₦-grouped
    amounts (C1), Africa/Lagos timestamp labels (C2), format_string body
    (C14) — the render layer of buildHighValueNotification
    (ABBankTopology.java:247-294), minus the uuid()/now() fields which are
    nondeterministic by design (covered by unit tests instead)."""
    from cdc_stream_processor_spark.functions import scalar as SC

    alerts = P.high_value_alerts(
        _txns(spark, sf_dir), _accounts(spark, sf_dir), threshold=HV_THRESHOLD
    )
    amount_label = SC.format_amount(F.col("amount"), F.lit("NGN"))
    time_label = SC.format_timestamp_lagos(F.col("event_time"))
    return alerts.select(
        "transaction_id",
        "account_id",
        "severity",
        F.lit("BOTH").alias("channel"),
        amount_label.alias("amount_label"),
        time_label.alias("event_time_label"),
        F.format_string(
            "High-value %s alert: %s", F.col("transaction_type"), amount_label
        ).alias("subject"),
        F.format_string(
            "A %s of %s was recorded on account %s at %s.",
            F.col("transaction_type"),
            amount_label,
            F.col("account_number"),
            time_label,
        ).alias("body"),
    )


# DuckDB lacks float thousands-grouping and (offline) ICU timezones; the
# oracle rebuilds both: integer-part grouping + 2dp cents, and Lagos as a
# fixed UTC+1 shift (no DST) labeled WAT.
_AMOUNT_LABEL_SQL = (
    "'₦' || format('{:,}', floor(round(t.amount, 2))::BIGINT) || '.' || "
    "lpad(((round(t.amount, 2) * 100)::BIGINT % 100)::VARCHAR, 2, '0')"
)
_TIME_LABEL_SQL = (
    "strftime(t.initiated_at + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') || ' WAT'"
)

SQL_NOTIFICATIONS_RENDER = (
    TXNS_CTE
    + f"""
SELECT t.transaction_id, t.account_id,
       CASE WHEN t.transaction_type IN {_DEBITS_SQL} THEN 'HIGH'
            ELSE 'MEDIUM' END AS severity,
       'BOTH' AS channel,
       {_AMOUNT_LABEL_SQL} AS amount_label,
       {_TIME_LABEL_SQL} AS event_time_label,
       'High-value ' || t.transaction_type || ' alert: ' || {_AMOUNT_LABEL_SQL}
         AS subject,
       'A ' || t.transaction_type || ' of ' || {_AMOUNT_LABEL_SQL} ||
       ' was recorded on account ' || COALESCE(c.c_name, 'N/A') ||
       ' at ' || {_TIME_LABEL_SQL} || '.' AS body
FROM txns t LEFT JOIN customer c ON t.account_id = c.c_custkey
WHERE t.amount IS NOT NULL AND t.amount >= {HV_THRESHOLD}
"""
)


# --- Changelog materialization (J2: latest-value-per-key) ---------------------


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable materialization over the events changelog: latest row per
    user via max_by partial aggregation (one shuffle, map-side combine;
    see cdc.latest_by_key). Tie-break on (ts, event_id) struct order."""
    ev = B.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev = ev.withColumn("_seq", F.struct(F.col("ts"), F.col("event_id")))
    return cdc.latest_by_key(ev, "user_id")


SQL_LATEST_EVENT_PER_USER = """
SELECT event_id, ts, user_id, event_type, value FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
"""


def q_retraction_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance over the events changelog: per
    event_type COUNT/SUM of the *current* user states, computed purely
    from ±deltas (upsert→retract rewrite) without materializing the
    latest-per-key snapshot — see cdc.retraction_aggregate."""
    ev = B.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return cdc.retraction_aggregate(
        ev, key="user_id", dim="event_type", value="value",
        order_by=["ts", "event_id"],
    )


# The delta fold telescopes to the snapshot aggregate, so the oracle
# states the snapshot form directly (latest row per user, grouped).
# NULL-key changelog rows are DROPPED (r12 --nulls audit): a changelog
# row with a NULL primary key is not a valid upsert — the reference
# behaves the same (Kafka Streams drops null-key records at
# groupBy/repartition; KGroupedStream aggregation never sees them).
SQL_RETRACTION_AGGREGATE = """
WITH latest AS (
  SELECT event_type, value FROM events
  WHERE user_id IS NOT NULL
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
)
SELECT event_type, COUNT(*) AS n_current,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM latest GROUP BY event_type
"""


DIFF_CUTOFF = "2024-01-15"


def q_user_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between the user-state table as of DIFF_CUTOFF and the
    final state: added / removed / changed / unchanged per user via one
    full-outer join (cdc.table_diff)."""
    ev = B.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev = ev.withColumn("_seq", F.struct(F.col("ts"), F.col("event_id")))
    before = cdc.latest_by_key(
        ev.filter(F.col("ts") < F.lit(DIFF_CUTOFF).cast("timestamp")), "user_id"
    )
    after = cdc.latest_by_key(ev, "user_id")
    return cdc.table_diff(
        before, after, "user_id", compare_cols=["event_type", "value"]
    )


SQL_USER_STATE_DIFF = f"""
WITH s1 AS (
  SELECT user_id, event_type, value FROM events
  WHERE ts < TIMESTAMP '{DIFF_CUTOFF}'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
), s2 AS (
  SELECT user_id, event_type, value FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
)
SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
       CASE WHEN s1.user_id IS NULL THEN 'added'
            WHEN s2.user_id IS NULL THEN 'removed'
            WHEN s1.event_type IS NOT DISTINCT FROM s2.event_type
             AND s1.value IS NOT DISTINCT FROM s2.value THEN 'unchanged'
            ELSE 'changed' END AS diff_status
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
"""


def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 over the events changelog: every event becomes a version
    row with [valid_from, valid_to) validity and an is_current flag — the
    full-history complement of latest_event_per_user (J2). Single window
    with lead(), no self-join."""
    ev = B.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    return cdc.scd2(ev, key="user_id", time_col="ts", tiebreak="event_id")


SQL_SCD2_USER_HISTORY = """
SELECT event_id, user_id, event_type, value, ts,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       (LEAD(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


PIT_TIMESTAMP = "2024-01-15 00:00:00"


def q_point_in_time_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 history: each user's version that was
    active at a fixed instant (valid_from <= t < valid_to). The validity
    filter lands on top of the same single-window scd2 plan — no extra
    shuffle or join."""
    hist = q_scd2_user_history(spark, sf_dir)
    t = F.lit(PIT_TIMESTAMP).cast("timestamp")
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "event_id", "event_type", "value", "valid_from")


SQL_POINT_IN_TIME_USER_STATE = f"""
SELECT user_id, event_id, event_type, value, valid_from FROM (
  SELECT user_id, event_id, event_type, value,
         ts AS valid_from, LEAD(ts) OVER w AS valid_to
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE valid_from <= TIMESTAMP '{PIT_TIMESTAMP}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{PIT_TIMESTAMP}')
"""


def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / changelog-apply: fold a deterministic batch of CDC changes
    (updates for custkey%10==0, deletes for %10==1, inserts keyed
    custkey+1000000 for %10==2) into the customer snapshot via
    cdc.apply_changes — one latest-per-key reduction plus one full-outer
    join, the scale shape of a continuous table materialization."""
    cust = B.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    mod = F.col("c_custkey") % 10
    upd = cust.filter(mod == 0).select(
        F.lit("u").alias("op"),
        F.lit(1).alias("_seq"),
        "c_custkey",
        F.upper("c_name").alias("c_name"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
    )
    dele = cust.filter(mod == 1).select(
        F.lit("d").alias("op"),
        F.lit(1).alias("_seq"),
        "c_custkey",
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
    )
    ins = cust.filter(mod == 2).select(
        F.lit("c").alias("op"),
        F.lit(1).alias("_seq"),
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
        "c_acctbal",
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return cdc.apply_changes(cust, changes, key="c_custkey")


SQL_CDC_APPLY_CHANGES = """
WITH changes AS (
  SELECT 'u' AS op, c_custkey, upper(c_name) AS c_name,
         ROUND(c_acctbal + 100.0, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT 'd', c_custkey, NULL, NULL FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT 'c', c_custkey + 1000000, concat('NEW ', c_name), c_acctbal
  FROM customer WHERE c_custkey % 10 = 2
)
SELECT COALESCE(s.c_custkey, ch.c_custkey) AS c_custkey,
       CASE WHEN ch.op IS NOT NULL THEN ch.c_name ELSE s.c_name END AS c_name,
       CASE WHEN ch.op IS NOT NULL THEN ch.c_acctbal ELSE s.c_acctbal END
         AS c_acctbal
FROM (SELECT c_custkey, c_name, c_acctbal FROM customer) s
FULL OUTER JOIN changes ch ON s.c_custkey = ch.c_custkey
WHERE ch.op IS NULL OR ch.op <> 'd'
"""


# --- Two-hop enrichment (J3 completion) + daily render (M8/C13) ----------------


def q_high_value_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """txn ⋈ accounts ⋈ customers — the enrichment the reference declares
    but never wires (J3, ABBankTopology.java:150,215-219): the account row
    carries customer_id, the customer row supplies the full name (C10)."""
    from cdc_stream_processor_spark.functions.scalar import full_name

    alerts = P.high_value_alerts(
        _txns(spark, sf_dir), _accounts(spark, sf_dir), threshold=HV_THRESHOLD
    )
    customers = cdc.parse_customers(
        cdc_sim.customers_envelopes_from_customers(
            B.load_table(spark, sf_dir, "customer")
        )
    ).select(
        "customer_id", full_name(F.col("first_name"), F.col("last_name")).alias(
            "customer_name"
        )
    )
    return alerts.join(F.broadcast(customers), "customer_id", "left").select(
        "transaction_id",
        "account_id",
        "amount",
        "severity",
        "account_number",
        F.coalesce(F.col("customer_name"), F.lit("N/A")).alias("customer_name"),
    )


SQL_HIGH_VALUE_ENRICHED = (
    TXNS_CTE
    + f"""
SELECT t.transaction_id, t.account_id, t.amount,
       CASE WHEN t.transaction_type IN {_DEBITS_SQL} THEN 'HIGH'
            ELSE 'MEDIUM' END AS severity,
       COALESCE(c.c_name, 'N/A') AS account_number,
       -- explicit NULL-name branch (r11 randomized-parity find): DuckDB's
       -- split_part(NULL, ...) returns '' (not NULL), so the COALESCE
       -- never fired for an UNMATCHED customer and the name rendered as
       -- a bare ' ' where the engine renders 'N/A'
       CASE WHEN c.c_name IS NULL THEN 'N/A'
            ELSE split_part(c.c_name, '#', 1) || ' ' ||
                 split_part(c.c_name, '#', 2)
       END AS customer_name
FROM txns t LEFT JOIN customer c ON t.account_id = c.c_custkey
WHERE t.amount IS NOT NULL AND t.amount >= {HV_THRESHOLD}
"""
)


def q_daily_spend_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 + C13: daily-spend alert with the Africa/Lagos DATE label (window
    boundaries stay UTC-aligned; only the label shifts — SURVEY.md §1.4)."""
    from cdc_stream_processor_spark.functions.scalar import lagos_date

    spend = P.daily_spend(_txns(spark, sf_dir), threshold=DAILY_THRESHOLD)
    return spend.select(
        "account_id",
        lagos_date(F.col("window_start")).alias("spend_date_lagos"),
        "total_debit",
        F.lit("MEDIUM").alias("severity"),
        F.lit("SMS").alias("channel"),
    )


SQL_DAILY_SPEND_RENDER = (
    TXNS_CTE
    + f"""
SELECT account_id,
       CAST(time_bucket(INTERVAL '1 day', initiated_at) + INTERVAL 1 HOUR
            AS DATE) AS spend_date_lagos,
       CAST(SUM(CAST(COALESCE(amount, 0) AS DECIMAL(18,4))) AS DOUBLE)
         AS total_debit,
       'MEDIUM' AS severity,
       'SMS' AS channel
FROM txns
WHERE transaction_type IN {_DEBITS_SQL} AND transaction_status = 'COMPLETED'
GROUP BY 1, 2
HAVING SUM(CAST(COALESCE(amount, 0) AS DECIMAL(18,4))) >= {DAILY_THRESHOLD}
"""
)


QUERIES: dict[str, tuple[QueryFn, str]] = {
    "cdc_parse": (q_cdc_parse, SQL_CDC_PARSE),
    "notifications_render": (q_notifications_render, SQL_NOTIFICATIONS_RENDER),
    "high_value_alerts": (q_high_value, SQL_HIGH_VALUE),
    "txn_velocity": (q_velocity, SQL_VELOCITY),
    "daily_spend": (q_daily_spend, SQL_DAILY_SPEND),
    "dormancy": (q_dormancy, SQL_DORMANCY),
    "balance_recon": (q_balance_recon, SQL_BALANCE_RECON),
    "latest_event_per_user": (q_latest_event_per_user, SQL_LATEST_EVENT_PER_USER),
    "retraction_aggregate": (q_retraction_aggregate, SQL_RETRACTION_AGGREGATE),
    "user_state_diff": (q_user_state_diff, SQL_USER_STATE_DIFF),
    "scd2_user_history": (q_scd2_user_history, SQL_SCD2_USER_HISTORY),
    "point_in_time_user_state": (
        q_point_in_time_user_state,
        SQL_POINT_IN_TIME_USER_STATE,
    ),
    "cdc_apply_changes": (q_cdc_apply_changes, SQL_CDC_APPLY_CHANGES),
    "high_value_enriched": (q_high_value_enriched, SQL_HIGH_VALUE_ENRICHED),
    "daily_spend_render": (q_daily_spend_render, SQL_DAILY_SPEND_RENDER),
}
