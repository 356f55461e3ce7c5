"""Batch-twin tests mirroring the reference scenario matrix
(ABBankTopologyTest.java:208-348; see SURVEY.md §5 / FIXTURES.md §5)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cdc_stream_processor_spark import cdc
from cdc_stream_processor_spark.operators import pipelines as P
from tests import fixtures as fx

US = 1_000_000


def _parse(spark, envs):
    return cdc.parse_transactions(fx.make_txn_df(spark, envs))


def _accounts(spark):
    return cdc.parse_accounts(
        fx.make_account_df(spark, [fx.account_image(101.0, "ACC-101", 9.0)])
    )


# --- high-value alerts (ABBankTopologyTest.java:208-260) ---------------------


def test_high_value_debit_alerts_high(spark):
    txns = _parse(spark, [fx.envelope(fx.txn_image(amount=600_000.0))])
    out = P.high_value_alerts(txns, _accounts(spark)).collect()
    assert len(out) == 1
    assert out[0].severity == "HIGH"
    assert out[0].account_number == "ACC-101"
    assert out[0].customer_id == 9


def test_below_threshold_no_alert(spark):
    txns = _parse(spark, [fx.envelope(fx.txn_image(amount=100_000.0))])
    assert P.high_value_alerts(txns, _accounts(spark)).count() == 0


def test_credit_alerts_medium(spark):
    for t in ("CREDIT", "TRANSFER_IN"):
        txns = _parse(spark, [fx.envelope(fx.txn_image(txn_type=t, amount=750_000.0))])
        out = P.high_value_alerts(txns, _accounts(spark)).collect()
        assert [r.severity for r in out] == ["MEDIUM"]


def test_snapshot_processed_like_insert(spark):
    txns = _parse(spark, [fx.envelope(fx.txn_image(amount=600_000.0), op="r")])
    assert P.high_value_alerts(txns, _accounts(spark)).count() == 1


def test_delete_dropped(spark):
    txns = _parse(spark, [fx.envelope(fx.txn_image(amount=600_000.0), op="d")])
    assert txns.count() == 0


def test_threshold_boundary_inclusive(spark):
    txns = _parse(
        spark,
        [
            fx.envelope(fx.txn_image(txn_id=1.0, amount=500_000.0)),
            fx.envelope(fx.txn_image(txn_id=2.0, amount=499_999.99)),
        ],
    )
    out = P.high_value_alerts(txns, _accounts(spark)).collect()
    assert [r.transaction_id for r in out] == [1]


def test_unknown_account_is_na(spark):
    txns = _parse(
        spark, [fx.envelope(fx.txn_image(account_id=999.0, amount=600_000.0))]
    )
    out = P.high_value_alerts(txns, _accounts(spark)).collect()
    assert out[0].account_number == "N/A"
    assert out[0].customer_id is None


# --- CDC normalization (ABBankTopologyTest.java:286-348) ---------------------


def test_null_envelope_and_zero_account_dropped(spark):
    envs = [
        fx.envelope(fx.txn_image(account_id=0.0, amount=600_000.0)),  # sentinel
        fx.envelope(fx.txn_image(amount=600_000.0)),
    ]
    assert _parse(spark, envs).count() == 1


def test_micro_timestamp_conversion(spark):
    # reference asserts eventTime == Instant.ofEpochMilli(1_700_000_000_000)
    txns = _parse(
        spark, [fx.envelope(fx.txn_image(initiated_at_us=1_700_000_000_000_000))]
    )
    ts = txns.collect()[0].initiated_at
    assert ts == dt.datetime(2023, 11, 14, 22, 13, 20)


def test_money_rounded_4dp_half_up(spark):
    txns = _parse(spark, [fx.envelope(fx.txn_image(amount=123.45675))])
    assert txns.collect()[0].amount == 123.4568


def test_id_double_to_long_truncation(spark):
    txns = _parse(spark, [fx.envelope(fx.txn_image(txn_id=42.9, account_id=7.9))])
    row = txns.collect()[0]
    assert row.transaction_id == 42 and row.account_id == 7


def test_null_currency_defaults_ngn(spark):
    txns = _parse(spark, [fx.envelope(fx.txn_image(currency=None))])
    assert txns.collect()[0].currency == "NGN"


# --- balance reconciliation (ABBankTopologyTest.java:262-283) ----------------


def _ts(i):  # strictly increasing event times
    return (1_700_000_000 + i * 60) * US


def test_balance_emits_per_completed_txn_and_bootstrap(spark):
    envs = [
        fx.envelope(
            fx.txn_image(
                txn_id=1.0, balance_before=100.0, balance_after=90.0,
                initiated_at_us=_ts(0),
            )
        ),
        fx.envelope(
            fx.txn_image(
                txn_id=2.0, balance_before=90.0, balance_after=70.0,
                initiated_at_us=_ts(1),
            )
        ),
    ]
    out = (
        P.balance_reconciliation_batch(_parse(spark, envs))
        .orderBy("transaction_id")
        .collect()
    )
    # first event bootstraps from BALANCE_BEFORE -> zero discrepancy LOW
    assert [r.severity for r in out] == ["LOW", "LOW"]
    assert [r.discrepancy for r in out] == [0.0, 0.0]


def test_balance_discrepancy_high(spark):
    envs = [
        fx.envelope(
            fx.txn_image(
                txn_id=1.0, balance_before=100.0, balance_after=90.0,
                initiated_at_us=_ts(0),
            )
        ),
        # claims before=95 but stored is 90 -> discrepancy 5 > 0.01
        fx.envelope(
            fx.txn_image(
                txn_id=2.0, balance_before=95.0, balance_after=75.0,
                initiated_at_us=_ts(1),
            )
        ),
    ]
    out = (
        P.balance_reconciliation_batch(_parse(spark, envs))
        .orderBy("transaction_id")
        .collect()
    )
    assert [r.severity for r in out] == ["LOW", "HIGH"]
    assert out[1].discrepancy == 5.0


def test_balance_tolerance_one_kobo(spark):
    envs = [
        fx.envelope(
            fx.txn_image(
                txn_id=1.0, balance_before=100.0, balance_after=90.0,
                initiated_at_us=_ts(0),
            )
        ),
        fx.envelope(
            fx.txn_image(
                txn_id=2.0, balance_before=90.01, balance_after=75.0,
                initiated_at_us=_ts(1),
            )
        ),
    ]
    out = (
        P.balance_reconciliation_batch(_parse(spark, envs))
        .orderBy("transaction_id")
        .collect()
    )
    # |90.01 - 90| = 0.01 is NOT > 0.01 -> LOW (tolerance is exclusive)
    assert [r.severity for r in out] == ["LOW", "LOW"]


def test_balance_pending_excluded(spark):
    envs = [
        fx.envelope(
            fx.txn_image(
                txn_id=1.0, status="PENDING", balance_before=1.0, balance_after=2.0,
                initiated_at_us=_ts(0),
            )
        )
    ]
    assert P.balance_reconciliation_batch(_parse(spark, envs)).count() == 0


# --- velocity / daily spend / dormancy (windowed aggs) -----------------------


def test_velocity_fires_at_5_in_60s(spark):
    base = 1_700_000_000 * US
    envs = [
        fx.envelope(fx.txn_image(txn_id=float(i), initiated_at_us=base + i * 5 * US))
        for i in range(5)
    ]
    out = P.transaction_velocity(_parse(spark, envs)).collect()
    assert len(out) == 1 and out[0].txn_count == 5


def test_velocity_4_txns_no_alert(spark):
    base = 1_700_000_000 * US
    envs = [
        fx.envelope(fx.txn_image(txn_id=float(i), initiated_at_us=base + i * 5 * US))
        for i in range(4)
    ]
    assert P.transaction_velocity(_parse(spark, envs)).count() == 0


def test_velocity_credits_dont_count(spark):
    base = 1_700_000_000 * US
    envs = [
        fx.envelope(
            fx.txn_image(
                txn_id=float(i), txn_type="CREDIT", initiated_at_us=base + i * US
            )
        )
        for i in range(6)
    ]
    assert P.transaction_velocity(_parse(spark, envs)).count() == 0


def test_velocity_windows_epoch_aligned(spark):
    # 1_700_000_000 % 60 == 20 -> events at :58,:59 and :00,:01 of the next
    # minute fall in different tumbling windows even though only 3s apart
    base = (1_700_000_003 - 5) * US  # 1699999998 -> window [...:60)
    envs = [
        fx.envelope(fx.txn_image(txn_id=float(i), initiated_at_us=base + i * US))
        for i in range(5)
    ]
    out = P.transaction_velocity(_parse(spark, envs), max_txns=2).collect()
    starts = {r.window_start for r in out}
    assert all(s.second % 60 == 0 for s in starts)


def test_daily_spend_sums_and_thresholds(spark):
    base = 1_699_920_000 * US  # UTC day boundary; all 3 events in one window
    envs = [
        fx.envelope(
            fx.txn_image(txn_id=float(i), amount=400_000.0,
                         initiated_at_us=base + i * 3600 * US)
        )
        for i in range(3)
    ]
    out = P.daily_spend(_parse(spark, envs)).collect()
    assert len(out) == 1 and out[0].total_debit == 1_200_000.0


def test_daily_spend_below_threshold_silent(spark):
    envs = [fx.envelope(fx.txn_image(amount=999_999.0))]
    assert P.daily_spend(_parse(spark, envs)).count() == 0


def test_dormancy_single_event_session(spark):
    gap_days = 30 * 24 * 3600
    base = 1_700_000_000
    envs = [
        fx.envelope(fx.txn_image(txn_id=1.0, initiated_at_us=base * US)),
        # 31 days later: previous session closed with exactly 1 event
        fx.envelope(
            fx.txn_image(txn_id=2.0, initiated_at_us=(base + gap_days + 86_400) * US)
        ),
    ]
    out = P.dormancy_candidates(_parse(spark, envs)).collect()
    assert len(out) == 2  # both isolated events are single-event sessions


def test_dormancy_sessions_merge(spark):
    base = 1_700_000_000
    envs = [
        fx.envelope(fx.txn_image(txn_id=1.0, initiated_at_us=base * US)),
        fx.envelope(fx.txn_image(txn_id=2.0, initiated_at_us=(base + 86_400) * US)),
    ]
    # two events 1 day apart with 30-day gap -> one session with 2 events
    assert P.dormancy_candidates(_parse(spark, envs)).count() == 0


def test_latest_by_key(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], "k int, v string, _seq int"
    )
    out = {r.k: r.v for r in cdc.latest_by_key(df, "k").collect()}
    assert out == {1: "b", 2: "c"}


def test_scd2_versions_chain_and_current_flag(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 5, "x")],
        "k int, t int, v string",
    )
    rows = {
        (r.k, r.v): (r.valid_from, r.valid_to, r.is_current)
        for r in cdc.scd2(df, key="k", time_col="t", tiebreak="v").collect()
    }
    # versions chain: each valid_to equals the next version's valid_from
    assert rows[(1, "a")] == (10, 20, False)
    assert rows[(1, "b")] == (20, 30, False)
    assert rows[(1, "c")] == (30, None, True)
    assert rows[(2, "x")] == (5, None, True)


def test_apply_changes_upsert_delete_latest_wins(spark):
    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            ("u", 1, 1, "a2"),   # superseded by seq 2 below
            ("u", 2, 1, "a3"),   # latest change for key 1 wins
            ("d", 1, 2, None),   # delete key 2
            ("c", 1, 9, "new"),  # insert unseen key
            ("d", 1, 42, None),  # delete of a key not in the snapshot: no-op
        ],
        "op string, _seq int, k int, v string",
    )
    out = {
        r.k: r.v for r in cdc.apply_changes(snap, changes, key="k").collect()
    }
    assert out == {1: "a3", 3: "c", 9: "new"}


def test_scalar_format_amount(spark):
    df = spark.createDataFrame(
        [(1_234_567.891, "NGN"), (50.0, "USD"), (None, None)], "amt double, cur string"
    )
    from cdc_stream_processor_spark.functions import format_amount

    out = [r[0] for r in df.select(format_amount(F.col("amt"), F.col("cur"))).collect()]
    assert out == ["₦1,234,567.89", "USD 50.00", "₦0.00"]


def test_envelopes_from_avro_gated_without_package(spark):
    """Without the spark-avro jar the JVM path must raise Spark's own clear
    error (AnalysisException from the unloaded data source) rather than
    silently misparse. Skipped where the jar is on the classpath."""
    import pytest
    from pyspark.errors import AnalysisException

    from cdc_stream_processor_spark import cdc
    from tests.test_avro import _jvm_avro_available

    if _jvm_avro_available(spark):
        pytest.skip("spark-avro jar on classpath")
    raw = spark.createDataFrame([(bytearray(b"\x00\x00\x00\x00\x01x"),)], "value binary")
    schema = '{"type":"record","name":"r","fields":[{"name":"id","type":"long"}]}'
    with pytest.raises(Exception, match="[Aa]vro") as ei:
        cdc.envelopes_from_avro(raw, schema, confluent_framed=True).collect()
    assert isinstance(ei.value, AnalysisException)
    assert ei.value.getCondition() == "AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE"
