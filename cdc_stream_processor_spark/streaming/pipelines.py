"""Structured Streaming wiring for the five notification pipelines.

The reference runs one Kafka Streams topology with five sub-pipelines
(ABBankTopology.java:149-153); here each pipeline is a StreamingQuery over a
shared parsed-transaction stream. The transformation bodies are the SAME
column-expression functions used by the batch twins (operators.pipelines) —
streaming adds only sources, watermarks, output modes, and sinks.

Faithful semantics (SURVEY.md §2.10):
- zero grace: ``withWatermark(col, "0 seconds")`` (late data dropped at close)
- update-mode emission for windowed aggs (KTable update stream analog);
  append mode available for emit-once-at-close
- tumbling windows epoch-aligned UTC, labels in Africa/Lagos
- at-least-once delivery via checkpointing

Sources: Kafka (value = JSON envelope; Avro via from_avro where the
spark-avro package is on the classpath) or file streams of envelope data.
The Kafka integration jar may be absent on a bare local install — the reader
raises a clear error in that case; tests use file/memory sources.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_stream_processor_spark import cdc, schemas
from cdc_stream_processor_spark.functions import (
    format_amount,
    format_timestamp_lagos,
    lagos_date,
)
from cdc_stream_processor_spark.operators import pipelines as P
from cdc_stream_processor_spark.sources import files
from cdc_stream_processor_spark.streaming.state import balance_reconciliation_stream

# Kafka topics (reference ABBankStreamsConfig.java:19-28)
TOPIC_TRANSACTIONS = "XEPDB1.BANKDB.TRANSACTIONS"
TOPIC_ACCOUNTS = "XEPDB1.BANKDB.ACCOUNTS"
TOPIC_CUSTOMERS = "XEPDB1.BANKDB.CUSTOMERS"
SINK_TOPICS = {
    "fraud": "abbank.notifications.fraud-alerts",
    "high_value": "abbank.notifications.high-value-alerts",
    "balance": "abbank.notifications.balance-updates",
    "dormancy": "abbank.notifications.dormancy-alerts",
    "daily_spend": "abbank.notifications.daily-spend",
}


def read_kafka_envelopes(
    spark: SparkSession,
    topic: str = TOPIC_TRANSACTIONS,
    bootstrap: str = "localhost:9092",
    starting_offsets: str = "earliest",  # reference auto.offset.reset=earliest
    source_options: dict[str, str] | None = None,
) -> DataFrame:
    """Kafka CDC source (S1-S4): JSON-serialized Debezium envelopes in the
    record value. Requires the spark-sql-kafka package on the classpath.

    `source_options` pass through to the reader — in production ALWAYS set
    `maxOffsetsPerTrigger`: it bounds each micro-batch to a fixed offset
    budget so a restart against a deep backlog (or a 100 TB/day topic)
    drains as steady rate-limited batches instead of one giant batch that
    overwhelms executor memory and state-store checkpointing."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (source_options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load()
    return cdc.parse_envelope_values(
        raw.select(F.col("value"), F.col("timestamp").alias("_kafka_ts"))
    )


def read_file_envelopes(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    source_options: dict[str, str] | None = None,
) -> DataFrame:
    """File-based envelope stream (test/dev twin of the Kafka source).
    `source_options` pass through to the reader (e.g. maxFilesPerTrigger=1
    to replay a file drop as ordered micro-batches — FileStreamSource
    batches by (mtime, path) — which is what advances the watermark
    incrementally, the way a live Kafka feed would)."""
    reader = spark.readStream.format(fmt).schema(schemas.TRANSACTION_ENVELOPE)
    for k, v in (source_options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def parsed_transaction_stream(envelopes: DataFrame) -> DataFrame:
    """Shared preprocessing (§3.2): the same cdc.parse_transactions used in
    batch, plus the 0-second watermark on event time."""
    return cdc.parse_transactions(envelopes).withWatermark(
        "initiated_at", "0 seconds"
    )


def effectively_once_transactions(
    txns: DataFrame, delay: str = "10 minutes"
) -> DataFrame:
    """At-least-once → effectively-once: the reference's delivery guarantee
    is at-least-once (ABBankStreamsConfig.java:82-86), so redelivered CDC
    records reach every pipeline twice. Streaming dedup on the transaction
    primary key upgrades that to effectively-once for downstream consumers.

    Uses dropDuplicatesWithinWatermark so dedup state is BOUNDED: a key is
    remembered only `delay` past the watermark, then evicted — the property
    that keeps state finite on an unbounded 100 TB/day stream (a plain
    dropDuplicates would grow state forever). Redeliveries are assumed to
    land within `delay`.

    Takes a parsed stream WITHOUT a watermark (e.g. cdc.parse_transactions
    output) — this operator owns the watermark, since Spark disallows
    redefining one mid-plan."""
    return txns.withWatermark("initiated_at", delay).dropDuplicatesWithinWatermark(
        ["transaction_id"]
    )


# --- notification builders (M5-M8) — shared JSON output shape ---------------


def _notification_id() -> F.Column:
    """A v4 UUID string per row, taken from the JVM like
    NotificationEvent's ``UUID.randomUUID()``. Spark's ``uuid()`` would
    write a fresh seed into the generated code of every micro-batch, so
    the output stage would recompile once per batch."""
    return F.expr("reflect('java.util.UUID', 'randomUUID')")


def _notification(
    ntype: str, severity, channel: str, subject: F.Column, body: F.Column,
    account_id: F.Column, event_time: F.Column, metadata: F.Column,
) -> F.Column:
    """NotificationEvent.toJson analog (NotificationEvent.java:18-95):
    per-row uuid id and wall-clock generatedAt, nulls omitted by to_json.
    `severity` may be a literal string or a Column expression."""
    sev = F.lit(severity) if isinstance(severity, str) else severity
    return F.to_json(
        F.struct(
            _notification_id().alias("notificationId"),
            F.lit(ntype).alias("notificationType"),
            sev.alias("severity"),
            F.lit(channel).alias("channel"),
            account_id.alias("accountId"),
            subject.alias("subject"),
            body.alias("body"),
            F.date_format(event_time, "yyyy-MM-dd'T'HH:mm:ssXXX").alias("eventTime"),
            # wall clock per row, like NotificationEvent's Instant.now();
            # current_timestamp() is a per-batch literal in the generated
            # code and would recompile this stage on every batch
            F.date_format(
                F.timestamp_millis(F.expr(
                    "reflect('java.lang.System', 'currentTimeMillis')"
                ).cast("long")),
                "yyyy-MM-dd'T'HH:mm:ssXXX",
            ).alias("generatedAt"),
            metadata.alias("metadata"),
        )
    )


def fraud_velocity_notifications(txns: DataFrame, window: str = P.VELOCITY_WINDOW,
                                 max_txns: int = P.VELOCITY_MAX_TXNS) -> DataFrame:
    """Pipeline 1 output (M5, ABBankTopology.java:181-205): CRITICAL/BOTH.
    Metadata keys match the reference builder exactly: windowStartMs,
    windowEndMs, transactionCount, windowSizeSec (:199-203)."""
    hits = P.transaction_velocity(txns, window=window, max_txns=max_txns)
    body = F.format_string(
        "Fraud alert: %s transactions within window starting %s",
        F.col("txn_count").cast("string"),
        format_timestamp_lagos(F.col("window_start")),
    )
    window_size_sec = (
        (F.unix_millis(F.col("window_end")) - F.unix_millis(F.col("window_start")))
        / F.lit(1000)
    ).cast("long")
    meta = F.map_from_arrays(
        F.array(
            F.lit("windowStartMs"), F.lit("windowEndMs"),
            F.lit("transactionCount"), F.lit("windowSizeSec"),
        ),
        F.array(
            F.unix_millis(F.col("window_start")).cast("string"),
            F.unix_millis(F.col("window_end")).cast("string"),
            F.col("txn_count").cast("string"),
            window_size_sec.cast("string"),
        ),
    )
    return hits.select(
        F.col("account_id").cast("string").alias("key"),
        _notification(
            "FRAUD_ALERT", "CRITICAL", "BOTH",
            F.lit("Suspicious transaction velocity"), body,
            F.col("account_id"), F.col("window_start"), meta,
        ).alias("value"),
    )


def high_value_notifications(txns: DataFrame, accounts: DataFrame,
                             threshold: float = P.HIGH_VALUE_THRESHOLD) -> DataFrame:
    """Pipeline 2 output (M6, ABBankTopology.java:247-294)."""
    alerts = P.high_value_alerts(txns, accounts, threshold=threshold)
    body = F.format_string(
        "A %s transaction of %s was recorded on account %s at %s.",
        F.col("transaction_type"),
        format_amount(F.col("amount"), F.lit("NGN")),
        F.col("account_number"),
        format_timestamp_lagos(F.col("event_time")),
    )
    meta = F.map_from_arrays(
        F.array(F.lit("transactionRef"), F.lit("transactionType")),
        F.array(F.col("transaction_ref"), F.col("transaction_type")),
    )
    # severity already computed by the batch operator (M6 rule)
    return alerts.select(
        F.col("account_id").cast("string").alias("key"),
        _notification(
            "HIGH_VALUE_ALERT", F.col("severity"), "BOTH",
            F.lit("High value transaction alert"), body,
            F.col("account_id"), F.col("event_time"), meta,
        ).alias("value"),
    )


def _gap_days(gap: str) -> int:
    """'30 days' / '1 day' → 30 / 1 — the reference's dormancyDays config
    unit (ABBankTopology.java:362). Non-day gaps round down to whole days."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*(day|days)\s*", gap)
    if m:
        return int(m.group(1))
    m = re.fullmatch(r"\s*(\d+)\s*(hour|hours)\s*", gap)
    if m:
        return int(m.group(1)) // 24
    raise ValueError(f"cannot derive dormancyDays from gap {gap!r}")


def dormancy_notifications(txns: DataFrame, gap: str = P.DORMANCY_GAP) -> DataFrame:
    """Pipeline 4 output (M7): LOW/EMAIL. Metadata keys match the reference
    builder exactly: dormancyDays, sessionStart, sessionEnd
    (ABBankTopology.java:362-365)."""
    hits = P.dormancy_candidates(txns, gap=gap)
    body = F.format_string(
        "Account active again after dormancy; session started %s",
        format_timestamp_lagos(F.col("session_start")),
    )
    meta = F.map_from_arrays(
        F.array(F.lit("dormancyDays"), F.lit("sessionStart"), F.lit("sessionEnd")),
        F.array(
            F.lit(str(_gap_days(gap))),
            F.unix_millis(F.col("session_start")).cast("string"),
            F.unix_millis(F.col("session_end")).cast("string"),
        ),
    )
    return hits.select(
        F.col("account_id").cast("string").alias("key"),
        _notification(
            "DORMANCY_ALERT", "LOW", "EMAIL",
            F.lit("Dormant account activity"), body,
            F.col("account_id"), F.col("session_start"), meta,
        ).alias("value"),
    )


def daily_spend_notifications(txns: DataFrame,
                              threshold: float = P.DAILY_SPEND_THRESHOLD) -> DataFrame:
    """Pipeline 5 output (M8): MEDIUM/SMS with Lagos date label. Metadata
    keys match the reference builder exactly: date, totalDebit, thresholdNgn
    (ABBankTopology.java:414-417)."""
    hits = P.daily_spend(txns, threshold=threshold)
    body = F.format_string(
        "Total debits of %s on %s exceeded your daily threshold.",
        format_amount(F.col("total_debit"), F.lit("NGN")),
        lagos_date(F.col("window_start")).cast("string"),
    )
    meta = F.map_from_arrays(
        F.array(F.lit("date"), F.lit("totalDebit"), F.lit("thresholdNgn")),
        F.array(
            lagos_date(F.col("window_start")).cast("string"),
            F.col("total_debit").cast("string"),
            F.lit(threshold).cast("string"),
        ),
    )
    return hits.select(
        F.col("account_id").cast("string").alias("key"),
        _notification(
            "DAILY_SPEND_SUMMARY", "MEDIUM", "SMS",
            F.lit("Daily spend summary"), body,
            F.col("account_id"), F.col("window_start"), meta,
        ).alias("value"),
    )


def balance_notifications(txns: DataFrame) -> DataFrame:
    """Pipeline 3 output: per-txn reconciliation JSON (stateful)."""
    recon = balance_reconciliation_stream(txns)
    body = F.format_string(
        "Balance reconciliation: discrepancy %s",
        F.col("discrepancy").cast("string"),
    )
    meta = F.map_from_arrays(
        F.array(F.lit("discrepancy"), F.lit("balanceAfter")),
        F.array(
            F.col("discrepancy").cast("string"),
            F.col("balance_after").cast("string"),
        ),
    )
    return recon.select(
        F.col("account_id").cast("string").alias("key"),
        F.to_json(
            F.struct(
                _notification_id().alias("notificationId"),
                F.lit("BALANCE_UPDATE").alias("notificationType"),
                F.col("severity").alias("severity"),
                F.lit("EMAIL").alias("channel"),
                F.col("account_id").alias("accountId"),
                body.alias("body"),
                meta.alias("metadata"),
            )
        ).alias("value"),
    )


# --- query lifecycle ---------------------------------------------------------


def stream_changelog_enrich(
    txns: DataFrame,
    accounts_cdl: DataFrame,
    txn_time: str = "event_time",
    acct_time: str = "updated_at",
    key: str = "account_id",
    lookback: str = "1 HOUR",
    watermark: str = "30 minutes",
    acct_cols: list[str] | None = None,
    how: str = "inner",
    na_fill: str | None = None,
) -> DataFrame:
    """J1's stream–STREAM twin: enrich each transaction with the LATEST
    account-changelog version as of the transaction's event time
    (reference ABBankTopology.java:233-240 joins the txn KStream against
    the accounts KTABLE — a changelog materialization — at processing
    time; this is the event-time-deterministic re-expression).

    Shape: watermarked interval join (account version must fall in
    ``[txn_time - lookback, txn_time]``) → append-mode group-by on the
    full transaction row → ``max_by(version_struct, version_struct)``, so
    among all joined versions the latest one at-or-before the txn wins
    (whole-struct ordering makes equal-``acct_time`` ties deterministic).
    Chained stateful operators (join → agg) require append mode; the
    enriched row is emitted once, when the watermark passes the txn's
    event time.

    ``how`` selects the reference-parity join type:

    - ``"inner"`` (default): only enriched transactions emit. NOTE two
      documented drops: (1) a txn whose account has NO changelog version
      inside ``[txn_time - lookback, txn_time]`` never emits — the
      reference KTable join would enrich with the latest version
      regardless of age, so pick ``lookback`` >= the max realistic
      version staleness, or use ``how="left_outer"``; (2) the group-by
      runs on the full txn row, so byte-identical duplicate transaction
      rows collapse to ONE output row — feed unique rows (the CDC
      envelope's txn id makes rows unique in practice).
    - ``"left_outer"``: the reference's null-tolerant J1
      (ABBankTopology.java:233-240) — an unmatched transaction emits at
      watermark close with null account fields; ``na_fill`` (e.g.
      ``"N/A"``, ABBankTopology.java:252-253) fills string-typed account
      columns on those rows (and any legitimately-null string field of a
      matched version, exactly like the reference's builder).

    Semantics delta vs the reference (documented in SURVEY §2.10): Kafka
    Streams enriches with whatever account version the table holds at
    PROCESSING time — replay order changes results; here a late account
    update arriving within the watermark still RE-ENRICHES the pending
    transaction (the max_by group absorbs it before emission), and
    replays are deterministic. The per-batch stream–static form
    (``high_value_notifications``) remains the low-latency
    processing-time twin. Join state is watermark-bounded on both sides;
    the lookback bound lets Spark evict account versions, so state is
    O(active interval), never changelog-history-sized.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    acct_payload = acct_cols or [
        c for c in accounts_cdl.columns if c not in (key, acct_time)
    ]
    t = txns.withWatermark(txn_time, watermark)
    a = accounts_cdl.withWatermark(acct_time, watermark).select(
        F.col(key).alias("_ak"),
        F.col(acct_time).alias("_at"),
        *[F.col(c) for c in acct_payload],
    )
    joined = t.join(
        a,
        (F.col(key) == F.col("_ak"))
        & (F.col("_at") <= F.col(txn_time))
        & (
            F.col("_at")
            >= F.col(txn_time) - F.expr(f"INTERVAL {lookback}")
        ),
        how,
    )
    # latest version wins: max_by orders by the WHOLE version struct —
    # struct comparison is lexicographic on (_at, payload...), so two
    # versions with equal updated_at still resolve deterministically by
    # their payload fields instead of by arrival order
    version = F.struct(
        F.col("_at").alias(acct_time),
        *[F.col(c) for c in acct_payload],
    )
    best = joined.groupBy(*[F.col(c) for c in txns.columns]).agg(
        F.max_by(version, version).alias("_acct")
    )
    # an unmatched left-outer group is exactly one null-padded row, whose
    # version struct (all-null fields) sorts below every real version —
    # max_by returns it only when no real version exists
    out = best.select(*txns.columns, "_acct.*")
    if how == "left_outer" and na_fill is not None:
        str_cols = {
            f.name for f in accounts_cdl.schema.fields
            if f.dataType.typeName() == "string" and f.name in acct_payload
        }
        out = out.select(
            *txns.columns,
            *[
                F.coalesce(F.col(c), F.lit(na_fill)).alias(c)
                if c in str_cols
                else F.col(c)
                for c in [acct_time, *acct_payload]
            ],
        )
    return out


def stream_corpus_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    event_time: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the batch corpus-ingest gate
    (``queries_curation.q_quality_pipeline_keep``): exact dedup on
    arrival + Gopher quality flags, over a document STREAM — the shape a
    continuously-ingesting training-data pipeline runs.

    Stages (mirroring the batch reason precedence):
      1. exact dedup on ``dedup.normalized_text`` — streaming keeps the
         FIRST ARRIVAL per normalized text (the batch twin keeps min
         doc_id; identical when arrival order is id order). With
         ``event_time`` set, state is watermark-bounded via
         ``dropDuplicatesWithinWatermark``; without it, plain
         ``dropDuplicates`` holds state for every distinct text seen —
         fine for bounded replays, unbounded for true 24/7 ingest (pass
         an event-time column in production).
      2. Gopher quality flags (map-only — ``text.gopher_quality``'s
         column expressions work unchanged on a streaming frame).

    Returns the deduped stream with (doc_id, reason, keep) plus the
    gopher columns: route ``keep`` to the train sink and ``~keep`` to
    the reject/DLQ sink (duplicate arrivals are dropped in-stage, like
    every streaming ingest dedup). Append-mode friendly: no aggregation,
    so rows emit in the arriving micro-batch."""
    from cdc_stream_processor_spark.operators.dedup import normalized_text
    from cdc_stream_processor_spark.operators.text import gopher_quality

    dedup_keys = ["_nt"]
    staged = docs.withColumn("_nt", normalized_text(F.col(text_col)))
    if event_time is not None:
        staged = staged.withWatermark(event_time, watermark)
        deduped = staged.dropDuplicatesWithinWatermark(dedup_keys)
    else:
        deduped = staged.dropDuplicates(dedup_keys)
    gq = gopher_quality(deduped.drop("_nt"), text_col, id_col)
    reason = (
        F.when(~F.col("ok_word_count"), F.lit("word_count"))
        .when(~F.col("ok_mean_word_len"), F.lit("mean_word_len"))
        .when(~F.col("ok_symbol_ratio"), F.lit("symbol_ratio"))
        .when(~F.col("ok_alpha_words"), F.lit("alpha_ratio"))
        .when(~F.col("ok_stopwords"), F.lit("stopwords"))
        .otherwise(F.lit("keep"))
    )
    return gq.withColumn("reason", reason).withColumn(
        "keep", F.col("reason") == "keep"
    )


def state_partitions(spark: SparkSession) -> int:
    """Shuffle (and so state-store) partitions of one streaming query: its
    share of the executor's cores when the five pipelines run together."""
    return max(1, spark.sparkContext.defaultParallelism // len(SINK_TOPICS))


# serializes the conf swap in start_pipeline across threads
_START_LOCK = threading.Lock()


def start_pipeline(
    df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "update",
    sink_format: str = "memory",
    sink_options: dict[str, str] | None = None,
    trigger_available_now: bool = False,
):
    """Start one named StreamingQuery (reference runs 5 concurrently).
    sink_format: 'memory' (tests), 'kafka', 'parquet', 'console'.

    The query's shuffles, and so its state partitions, number
    ``state_partitions(spark)``: the cores divided by the five pipelines,
    at least one (1 on 4 cores, 6 on 32). A trigger carries a few hundred
    rows, so ``spark.sql.shuffle.partitions`` (the core count) gave every
    query a task per core per stateful stage: on 4 cores five queries
    queued about twenty state tasks per trigger round for four slots,
    each with its state-store commit and, for the balance fold, its own
    Python set-up. The count is set on the session only while ``writer.start()``
    copies the session conf into the query, and restored before this
    returns; other threads that read the session conf meanwhile see it.

    Safe on restart: a new checkpoint records the count in its offset-log
    metadata, and Spark restores that value whenever the query resumes.
    State is hash-partitioned by that count, so an existing checkpoint
    keeps the count it was created with, whatever the rule gives now."""
    spark = df.sparkSession
    writer = (
        df.writeStream.queryName(name)
        .outputMode(output_mode)
        .format(sink_format)
        .option("checkpointLocation", f"{checkpoint_dir}/{name}")
    )
    for k, v in (sink_options or {}).items():
        writer = writer.option(k, v)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    with _START_LOCK:
        session_count = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions(spark)))
        try:
            return writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", session_count)


def read_file_envelopes_with_dlq(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """JSON envelope stream split into (valid, dead-letter): corrupt lines
    are preserved verbatim and routed to a quarantine stream instead of
    being silently nulled away — drop-corrupt (F2) keeps pipelines alive,
    but a production ingest also needs the rejects auditable/replayable
    once the producer bug is fixed. Reads through
    ``files.read_jsonl_stream``, the PERMISSIVE + corrupt-column reader of
    every JSONL loader; no UDF.
    """
    raw = files.read_jsonl_stream(spark, path, schemas.TRANSACTION_ENVELOPE)
    corrupt = F.col(files.CORRUPT_COL)
    valid = raw.filter(corrupt.isNull()).drop(files.CORRUPT_COL)
    # Spark refuses a scan whose projection is ONLY the corrupt column
    # (populated lazily alongside parsed fields), so the quarantine carries
    # one parsed column too — null for rejects, and it documents op anyway
    dead = raw.filter(corrupt.isNotNull()).select(
        corrupt.alias("raw_record"), F.col("op")
    )
    return valid, dead
