"""CDC envelope normalization.

Implements the shared preprocessing stage of every reference pipeline
(SURVEY.md §2.3 P1-P5, §2.4 M1-M3): drop null envelopes, drop deletes
(op='d'; snapshots op='r' processed like inserts — reference
ABBankTopology.java:86-102 and test :243-250), extract the `after` row image,
and normalize types (double IDs → long, money → 4dp, Debezium micro/milli
timestamps → TimestampType).

Pure column expressions — the same functions work on batch DataFrames and
streaming DataFrames (readStream + from_json/from_avro), so every pipeline
has a batch twin for DuckDB-oracle checking.

Decoding lives here too: ``parse_envelope_values`` (JSON) and
``envelopes_from_avro`` (Avro) turn record values into envelopes, and
every ingress path drops corrupt and non-envelope values by one rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_stream_processor_spark import schemas
from cdc_stream_processor_spark.functions import (
    micros_to_ts,
    millis_to_ts,
    money4,
    safe_long,
)


def drop_deletes(df: DataFrame) -> DataFrame:
    """P1 + P2/P4 — keep non-null envelopes with op != 'd'
    (ABBankTopology.java:87-92)."""
    return df.filter(F.col("op").isNotNull() & (F.col("op") != "d"))


def parse_transactions(df: DataFrame) -> DataFrame:
    """M1 + P3 — envelope → typed transaction rows (17 fields).

    Mirrors TransactionEvent.fromAvro (TransactionEvent.java:39-64): double
    IDs truncated to long (null→0), money to 4dp HALF_UP, MicroTimestamp →
    timestamp. Rows with null `after` or account_id==0 are dropped
    (ABBankTopology.java:98-99; 0 is the mapper's null sentinel).
    """
    a = "after."
    out = drop_deletes(df).filter(F.col("after").isNotNull())
    out = out.select(
        safe_long(F.col(a + "TRANSACTION_ID")).alias("transaction_id"),
        safe_long(F.col(a + "ACCOUNT_ID")).alias("account_id"),
        F.col(a + "TRANSACTION_REF").alias("transaction_ref"),
        F.col(a + "TRANSACTION_TYPE").alias("transaction_type"),
        money4(F.col(a + "AMOUNT")).alias("amount"),
        F.coalesce(F.col(a + "CURRENCY"), F.lit("NGN")).alias("currency"),
        money4(F.col(a + "BALANCE_BEFORE")).alias("balance_before"),
        money4(F.col(a + "BALANCE_AFTER")).alias("balance_after"),
        F.col(a + "DESCRIPTION").alias("description"),
        F.col(a + "COUNTERPARTY_NAME").alias("counterparty_name"),
        F.col(a + "COUNTERPARTY_ACCT").alias("counterparty_acct"),
        F.col(a + "CHANNEL").alias("channel"),
        F.col(a + "TRANSACTION_STATUS").alias("transaction_status"),
        micros_to_ts(F.col(a + "INITIATED_AT")).alias("initiated_at"),
        micros_to_ts(F.col(a + "COMPLETED_AT")).alias("completed_at"),
        micros_to_ts(F.col(a + "CREATED_AT")).alias("created_at"),
        micros_to_ts(F.col(a + "UPDATED_AT")).alias("updated_at"),
        F.col("op").alias("op"),
    )
    return out.filter(F.col("account_id") != 0)


def parse_accounts(df: DataFrame) -> DataFrame:
    """M2 — envelope → typed account rows (AccountEvent.java:27-46)."""
    a = "after."
    return (
        drop_deletes(df)
        .filter(F.col("after").isNotNull())
        .select(
            safe_long(F.col(a + "ACCOUNT_ID")).alias("account_id"),
            safe_long(F.col(a + "CUSTOMER_ID")).alias("customer_id"),
            F.col(a + "ACCOUNT_NUMBER").alias("account_number"),
            F.col(a + "ACCOUNT_TYPE").alias("account_type"),
            F.coalesce(F.col(a + "CURRENCY"), F.lit("NGN")).alias("currency"),
            money4(F.col(a + "BALANCE")).alias("balance"),
            money4(F.col(a + "AVAILABLE_BALANCE")).alias("available_balance"),
            F.col(a + "ACCOUNT_STATUS").alias("account_status"),
            millis_to_ts(F.col(a + "OPENED_DATE")).alias("opened_date"),
            F.coalesce(F.col("source.scn").cast("long"), F.col("ts_ms")).alias("_seq"),
        )
    )


def parse_customers(df: DataFrame) -> DataFrame:
    """M3 — envelope → typed customer rows (CustomerEvent.java:27-44)."""
    a = "after."
    return (
        drop_deletes(df)
        .filter(F.col("after").isNotNull())
        .select(
            safe_long(F.col(a + "CUSTOMER_ID")).alias("customer_id"),
            F.col(a + "FIRST_NAME").alias("first_name"),
            F.col(a + "LAST_NAME").alias("last_name"),
            F.col(a + "EMAIL").alias("email"),
            F.col(a + "PHONE").alias("phone"),
            millis_to_ts(F.col(a + "DATE_OF_BIRTH")).alias("date_of_birth"),
            F.col(a + "CUSTOMER_STATUS").alias("customer_status"),
            F.coalesce(F.col("source.scn").cast("long"), F.col("ts_ms")).alias("_seq"),
        )
    )


def latest_by_key(df: DataFrame, key: str, seq: str = "_seq") -> DataFrame:
    """J2 — changelog → latest-value-per-key table (KTable materialization,
    ABBankTopology.java:119-123,140-144).

    Uses max_by over all columns: a single shuffle with partial aggregation
    (map-side combine), which at 100 TB beats the window-function
    row_number() formulation (full sort per partition, no partial agg).
    """
    cols = [c for c in df.columns if c != seq]
    packed = F.struct(*[F.col(c) for c in cols])
    out = df.groupBy(key).agg(F.max_by(packed, F.col(seq)).alias("_row"))
    return out.select([F.col(f"_row.{c}").alias(c) for c in cols])


def scd2(
    df: DataFrame,
    key: str,
    time_col: str,
    tiebreak: str,
) -> DataFrame:
    """Changelog → SCD Type 2 versioned history: every change row becomes a
    version with ``valid_from`` = its own time and ``valid_to`` = the next
    change's time for the same key (null = still current).

    The natural completion of :func:`latest_by_key` (which keeps only the
    newest row): downstream time-travel queries join on
    ``valid_from <= t < valid_to``. One shuffle + one sort per key
    partition (a single Window with lead()); no self-join, so the plan is
    O(shuffle+sort) and survives keys with millions of versions.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(time_col, tiebreak)
    return df.select(
        "*",
        F.col(time_col).alias("valid_from"),
        F.lead(time_col).over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    seq: str = "_seq",
    op_col: str = "op",
) -> DataFrame:
    """MERGE-style changelog apply: fold a batch of CDC changes into a
    snapshot — the batch twin of continuously materializing a table from a
    change stream (upsert for op c/u/r, delete for op 'd'; only the
    newest change per key counts).

    Shape at scale: one shuffle to reduce ``changes`` to latest-per-key
    (max_by partial aggregation — the change batch collapses map-side), one
    shuffled full-outer equi join against the snapshot. No window over the
    snapshot, no broadcast of the big side; AQE may still broadcast a small
    change batch, which is exactly right for trickle updates.

    ``changes`` must carry ``key``, ``op_col``, ``seq``, and the snapshot's
    payload columns (null payload allowed for deletes).
    """
    cols = snapshot.columns
    latest = latest_by_key(
        changes.select(op_col, seq, *cols).withColumnRenamed(seq, "_seq"),
        key,
    )
    ch = latest.select(
        F.col(key).alias("_ck"),
        F.col(op_col).alias("_op"),
        *[F.col(c).alias(f"_c_{c}") for c in cols if c != key],
    )
    joined = snapshot.join(ch, F.col(key) == F.col("_ck"), "full_outer")
    merged = joined.filter(
        (F.col("_op").isNull() | (F.col("_op") != "d"))
    ).select(
        F.coalesce(F.col(key), F.col("_ck")).alias(key),
        *[
            F.when(F.col("_op").isNotNull(), F.col(f"_c_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in cols
            if c != key
        ],
    )
    return merged


def table_diff(
    before: DataFrame,
    after: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff: classify every key as added / removed / changed /
    unchanged between two table versions — the validation twin of
    :func:`apply_changes` (replaying a changelog onto `before` must yield
    a diff of exactly the applied changes; asserted in tests).

    One shuffled full-outer equi-join on the key; the change test packs
    the compared columns into a struct so null-safe equality is a single
    JVM comparison per row, and unchanged rows can be filtered out before
    any downstream collect. At 100 TB both sides shuffle once — there is
    no per-column join or driver-side compare.
    """
    cols = compare_cols or [c for c in before.columns if c != key]
    lpack = F.struct(*[F.col(f"_l_{c}").alias(c) for c in cols])
    rpack = F.struct(*[F.col(f"_r_{c}").alias(c) for c in cols])
    l = before.select(
        F.col(key).alias("_lk"), *[F.col(c).alias(f"_l_{c}") for c in cols]
    )
    r = after.select(
        F.col(key).alias("_rk"), *[F.col(c).alias(f"_r_{c}") for c in cols]
    )
    joined = l.join(r, F.col("_lk") == F.col("_rk"), "full_outer")
    status = (
        F.when(F.col("_lk").isNull(), F.lit("added"))
        .when(F.col("_rk").isNull(), F.lit("removed"))
        .when(lpack.eqNullSafe(rpack), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.coalesce(F.col("_lk"), F.col("_rk")).alias(key),
        status.alias("diff_status"),
    )


def retraction_aggregate(
    changelog: DataFrame,
    key: str,
    dim: str,
    value: str,
    order_by: list[str],
) -> DataFrame:
    """Incremental (retraction-stream) aggregate maintenance: COUNT/SUM per
    *dimension of the current state*, computed from a keyed changelog
    without materializing the snapshot. Each new version of a key emits an
    insert delta (+1, +value) for its dimension and a retraction
    (-1, -previous value) for the previous version's dimension — the
    upsert→retract rewrite Flink applies to aggregates over changelogs;
    the reference's KTable re-aggregation has the same semantics
    (ABBankTopology.java KTable groupBy/aggregate subtractor path).

    Folding the deltas telescopes: every non-final version contributes
    +v then -v and cancels exactly (values are DECIMAL(18,4), so the
    cancellation is bit-exact), leaving the aggregate of the latest row
    per key grouped by `dim` — the form the oracle states directly.

    Plan shape at 100 TB: ONE shuffle on the key (window lag), a map-side
    explode into ±delta pairs, then a partial-agg groupBy on the (tiny)
    dimension — the changelog streams through once, with no join against
    a materialized snapshot and no second wide shuffle.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_by])
    val = F.col(value).cast("decimal(18,4)")
    # window exprs can't sit inside a generator: project the lags first
    versions = changelog.select(
        F.col(dim).alias("_d"),
        val.alias("_v"),
        F.lag(F.col(dim)).over(w).alias("_pd"),
        F.lag(val).over(w).alias("_pv"),
    )
    deltas = F.array(
        F.struct(
            F.col("_d").alias("d"), F.lit(1).alias("c"), F.col("_v").alias("v")
        ),
        F.struct(
            F.col("_pd").alias("d"),
            F.lit(-1).alias("c"),
            (-F.col("_pv")).alias("v"),
        ),
    )
    return (
        versions.select(F.explode(deltas).alias("_delta"))
        .select("_delta.*")
        .filter(F.col("d").isNotNull())
        .groupBy(F.col("d").alias(dim))
        .agg(
            F.sum("c").alias("n_current"),
            F.sum("v").cast("double").alias("total_value"),
        )
        # snapshot semantics: a dimension whose contributions fully
        # telescope away (no key's LATEST row has it) has no row in the
        # snapshot groupBy — without this filter it would surface as a
        # (dim, 0, 0.0) row the snapshot form never produces
        .filter(F.col("n_current") > 0)
    )


def strip_confluent_framing(value_col: str = "value") -> F.Column:
    """Drop the 5-byte Confluent wire-format header (0x00 magic + 4-byte
    big-endian schema id) from a binary Kafka value, leaving the raw Avro
    body (reference AvroSerdes.java:35-58 reads via Schema Registry, which
    performs the same strip). substring is 1-based: the body starts at
    byte 6 and runs length-5 bytes."""
    return F.expr(f"substring({value_col}, 6, length({value_col}) - 5)")


def parse_envelope_values(
    values: DataFrame, envelope_schema=schemas.TRANSACTION_ENVELOPE
) -> DataFrame:
    """JSON record value → envelope columns, with corrupt values DROPPED
    (F2 semantics). The one JSON-to-envelope step: the Kafka JSON source
    and both pure-Python Avro decoders (which re-emit each decoded record
    as JSON) end here, so a corrupt or non-envelope value is dropped the
    same way whatever its wire format.

    Spark's from_json never errors in its default PERMISSIVE mode — a
    malformed value yields a struct of ALL-NULL fields, not a NULL
    struct (so a bare ``env.isNotNull()`` drops nothing), and so does a
    well-formed record of another schema. Any non-``value`` columns (e.g.
    the Kafka record timestamp) pass through untouched."""
    extra = [c for c in values.columns if c != "value"]
    parsed = values.select(
        F.from_json(F.col("value").cast("string"), envelope_schema).alias("env"),
        *[F.col(c) for c in extra],
    )
    return _drop_non_envelopes(parsed, extra)


def _drop_non_envelopes(parsed: DataFrame, extra: list[str]) -> DataFrame:
    """Keep rows whose ``env`` struct carries the envelope's mandatory
    ``op`` discriminator: every Debezium change event has one, and a
    corrupt or non-envelope value decodes to a null ``op``."""
    return parsed.filter(F.col("env.op").isNotNull()).select("env.*", *extra)


def envelopes_from_avro(
    raw: DataFrame,
    avro_schema_json: str | None = None,
    value_col: str = "value",
    confluent_framed: bool = False,
    registry=None,
    spark_envelope_schema=None,
) -> DataFrame:
    """F1 — Avro bytes → envelope struct via from_avro (SURVEY.md §2.2).

    The reference consumes Confluent-framed Avro through Schema Registry
    (AvroSerdes.java:35-58); ``confluent_framed=True`` strips the 5-byte
    magic+schema-id header before decoding.  Two schema-resolution modes:

    - explicit writer schema: pass ``avro_schema_json`` (JVM ``from_avro``
      path).  Without the spark-avro jar on the classpath, Spark raises
      ``AnalysisException`` [AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE] when
      the plan is built.  The tested pure-Python twin
      ``sources.avro_codec.envelopes_from_avro_py`` decodes the same wire
      format with identical downstream semantics.
    - registry resolution: pass ``registry=`` (a
      ``sources.schema_registry.SchemaRegistry`` — Dict- or HTTP-backed)
      plus ``spark_envelope_schema``; the writer schema is then resolved
      PER RECORD from each frame's Confluent schema id, matching the
      reference's AvroSerdes exactly — no hand-passed schema JSON.

    Both modes drop a value whose decoded ``op`` is null, as
    :func:`parse_envelope_values` does: PERMISSIVE ``from_avro`` turns a
    malformed value into a row of nulls.
    """
    if registry is not None:
        if spark_envelope_schema is None:
            raise ValueError(
                "registry mode needs spark_envelope_schema (the typed "
                "envelope StructType to parse decoded records into)"
            )
        from cdc_stream_processor_spark.sources.schema_registry import (
            envelopes_from_avro_registry,
        )

        return envelopes_from_avro_registry(
            raw, registry, spark_envelope_schema, value_col
        )
    if avro_schema_json is None:
        raise ValueError(
            "pass either avro_schema_json (explicit writer schema) or "
            "registry= (Confluent schema-id resolution)"
        )
    from pyspark.sql.avro.functions import from_avro

    payload = F.col(value_col)
    if confluent_framed:
        payload = strip_confluent_framing(value_col)
    decoded = raw.select(
        from_avro(payload, avro_schema_json, {"mode": "PERMISSIVE"}).alias("env")
    )
    return _drop_non_envelopes(decoded, [])
