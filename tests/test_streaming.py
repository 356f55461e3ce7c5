"""Structured Streaming tests: file envelope source → pipelines → memory sink.

Mirrors the reference's TopologyTestDriver style (synchronous in-process,
no broker — ABBankTopologyTest.java:175-198): write envelope fixtures as
parquet, stream them with availableNow triggers, read the memory sink.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from cdc_stream_processor_spark import cdc, schemas
from cdc_stream_processor_spark.streaming import pipelines as SP
from cdc_stream_processor_spark.streaming.state import balance_reconciliation_stream
from tests import fixtures as fx

US = 1_000_000


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="sgs-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_envelopes(spark, path, envs):
    fx.make_txn_df(spark, envs).write.mode("append").parquet(path)


def _run_to_memory(spark, df, name, ckpt, output_mode="update"):
    q = SP.start_pipeline(
        df, name, ckpt, output_mode=output_mode, trigger_available_now=True
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_file_stream_high_value_end_to_end(spark, tmpdirs):
    src, ckpt = f"{tmpdirs}/src", f"{tmpdirs}/ckpt"
    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(fx.txn_image(txn_id=1.0, amount=600_000.0)),
            fx.envelope(fx.txn_image(txn_id=2.0, amount=100.0)),
            fx.envelope(fx.txn_image(txn_id=3.0, amount=750_000.0), op="d"),
        ],
    )
    envs = SP.read_file_envelopes(spark, src)
    assert envs.isStreaming
    txns = SP.parsed_transaction_stream(envs)
    accounts = cdc.parse_accounts(
        fx.make_account_df(spark, [fx.account_image(101.0, "ACC-101")])
    )
    out = _run_to_memory(
        spark,
        SP.high_value_notifications(txns, accounts),
        "hv_sink",
        ckpt,
        output_mode="append",
    ).collect()
    # only txn 1 passes: 2 below threshold, 3 is a delete
    assert len(out) == 1
    assert out[0].key == "101"
    assert '"severity":"HIGH"' in out[0].value
    assert '"notificationType":"HIGH_VALUE_ALERT"' in out[0].value
    assert "ACC-101" in out[0].value


def test_stream_velocity_update_mode(spark, tmpdirs):
    src, ckpt = f"{tmpdirs}/src", f"{tmpdirs}/ckpt"
    base = 1_700_000_000
    aligned = base - (base % 60)
    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(
                fx.txn_image(txn_id=float(i), initiated_at_us=(aligned + i) * US)
            )
            for i in range(5)
        ],
    )
    txns = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))
    out = _run_to_memory(
        spark,
        SP.fraud_velocity_notifications(txns, window="60 seconds", max_txns=5),
        "velocity_sink",
        ckpt,
    ).collect()
    assert len(out) == 1
    assert '"severity":"CRITICAL"' in out[0].value
    assert '"transactionCount":"5"' in out[0].value


def test_stream_balance_state_across_batches(spark, tmpdirs):
    """State persists across micro-batches: batch 2 reconciles against the
    balance stored by batch 1 (bootstrap + update, reference :72-74, :89)."""
    src, ckpt, out_dir = f"{tmpdirs}/src", f"{tmpdirs}/ckpt", f"{tmpdirs}/out"

    def run_batch():
        # parquet sink: supports checkpoint recovery across restarts
        t = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))
        q = SP.start_pipeline(
            balance_reconciliation_stream(t),
            "balance_sink",
            ckpt,
            output_mode="append",
            sink_format="parquet",
            sink_options={"path": out_dir},
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).collect()

    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(
                fx.txn_image(
                    txn_id=1.0, balance_before=100.0, balance_after=90.0,
                    initiated_at_us=1_700_000_000 * US,
                )
            )
        ],
    )
    out1 = run_batch()
    assert [(r.transaction_id, r.severity) for r in out1] == [(1, "LOW")]

    # batch 2: claims before=95 but stored balance is 90 -> HIGH
    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(
                fx.txn_image(
                    txn_id=2.0, balance_before=95.0, balance_after=80.0,
                    initiated_at_us=1_700_000_060 * US,
                )
            )
        ],
    )
    out2 = run_batch()
    by_txn = {r.transaction_id: r for r in out2}
    assert by_txn[2].severity == "HIGH"
    assert by_txn[2].discrepancy == 5.0


def test_stream_daily_spend_and_dormancy_smoke(spark, tmpdirs):
    src, ckpt = f"{tmpdirs}/src", f"{tmpdirs}/ckpt"
    day = 1_699_920_000  # UTC day boundary
    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(
                fx.txn_image(
                    txn_id=float(i), amount=600_000.0,
                    initiated_at_us=(day + i * 3600) * US,
                )
            )
            for i in range(2)
        ],
    )
    txns = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))
    out = _run_to_memory(
        spark,
        SP.daily_spend_notifications(txns),
        "daily_sink",
        ckpt,
    ).collect()
    assert len(out) == 1
    assert '"notificationType":"DAILY_SPEND_SUMMARY"' in out[0].value
    assert '"severity":"MEDIUM"' in out[0].value


def test_dormancy_session_window_closes_once_on_watermark_advance(
    spark, tmpdirs
):
    """A4/§2.10 semantics the reference never tests: a session window must
    stay open until the watermark passes its end, then close and emit its
    dormancy notification EXACTLY once in append mode — later batches must
    not re-emit it. Watermark advancement is driven by three availableNow
    runs against one checkpoint (file micro-batches), each adding an event
    1h + gap later that closes the previous account's session."""
    src, ckpt = f"{tmpdirs}/src", f"{tmpdirs}/ckpt"
    out_dir = f"{tmpdirs}/dormancy_parquet"
    gap_s = 3600  # "1 hour" session gap keeps the fixture arithmetic small
    t0 = 1_700_000_000

    def run_batch(envs):
        _write_envelopes(spark, src, envs)
        txns = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))
        q = SP.start_pipeline(
            SP.dormancy_notifications(txns, gap="1 hour"),
            "dormancy_files", ckpt, output_mode="append",
            sink_format="parquet", sink_options={"path": out_dir},
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        try:
            return sorted(r.key for r in spark.read.parquet(out_dir).collect())
        except Exception:  # sink dir not created until first emission
            return []

    # run 1: account A's lone txn opens session [t0, t0+gap); the 0s-delay
    # watermark reaches only t0, so nothing closes, nothing is emitted
    a = fx.envelope(fx.txn_image(
        txn_id=1.0, account_id=101.0, initiated_at_us=t0 * US))
    assert run_batch([a]) == []

    # run 2: account B's txn sits past A's session end → watermark passes
    # it → A's session closes, emitted exactly once
    t1 = t0 + 2 * gap_s
    b = fx.envelope(fx.txn_image(
        txn_id=2.0, account_id=202.0, initiated_at_us=t1 * US))
    assert run_batch([b]) == ["101"]

    # run 3: account C closes B's session; A must NOT be re-emitted
    t2 = t1 + 2 * gap_s
    c = fx.envelope(fx.txn_image(
        txn_id=3.0, account_id=303.0, initiated_at_us=t2 * US))
    assert run_batch([c]) == ["101", "202"]


def test_stream_dedup_within_watermark_drops_redeliveries(spark, tmpdirs):
    """At-least-once redelivery (same transaction_id piped twice, plus a
    second batch re-sending an old id) collapses to one row per key while
    dedup state stays bounded by the watermark delay."""
    src, ckpt = f"{tmpdirs}/src", f"{tmpdirs}/ckpt"
    base_us = 1_700_000_000 * US
    env1 = fx.envelope(fx.txn_image(txn_id=1.0, initiated_at_us=base_us))
    env2 = fx.envelope(fx.txn_image(txn_id=2.0, initiated_at_us=base_us + US))
    _write_envelopes(spark, src, [env1, env1, env2])  # duplicate in-batch
    txns = cdc.parse_transactions(SP.read_file_envelopes(spark, src))
    deduped = SP.effectively_once_transactions(txns, delay="10 minutes")
    out = _run_to_memory(
        spark, deduped, "dedup_sink", ckpt, output_mode="append"
    ).collect()
    assert sorted(r.transaction_id for r in out) == [1, 2]

    # redelivery in a later run: restart against the SAME checkpoint (it
    # carries both source offsets and dedup state — memory sinks can't
    # recover, so this leg writes parquet). Run 1 emits {1,2}; run 2 reads
    # only the new file and recognizes txn 1 as a duplicate.
    out_dir = f"{tmpdirs}/deduped_parquet"
    for envs_batch in ([], [env1]):
        if envs_batch:
            _write_envelopes(spark, src, envs_batch)
        q = SP.start_pipeline(
            deduped, "dedup_files", ckpt, output_mode="append",
            sink_format="parquet", sink_options={"path": out_dir},
            trigger_available_now=True,
        )
        q.awaitTermination(120)
    final = spark.read.parquet(out_dir).collect()
    assert sorted(r.transaction_id for r in final) == [1, 2]


def test_full_topology_five_concurrent_queries(spark, tmpdirs):
    """The reference runs ONE topology with five sub-pipelines off a shared
    transaction stream (ABBankTopology.java:149-153). Same here: five
    StreamingQueries started concurrently over one source; each sees every
    record. The fixture transaction trips high-value, velocity (5 debits in
    a minute), daily-spend, and balance pipelines in a single pass."""
    src, ckpt = f"{tmpdirs}/src", f"{tmpdirs}/ckpt"
    base = 1_700_000_000
    aligned = base - (base % 86_400)
    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(
                fx.txn_image(
                    txn_id=float(i),
                    amount=600_000.0,
                    initiated_at_us=(aligned + i) * US,
                    balance_before=5_000_000.0 - 600_000.0 * i,
                    balance_after=5_000_000.0 - 600_000.0 * (i + 1),
                )
            )
            for i in range(5)
        ],
    )
    txns = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))
    accounts = cdc.parse_accounts(
        fx.make_account_df(spark, [fx.account_image(101.0, "ACC-101")])
    )
    raw = cdc.parse_transactions(SP.read_file_envelopes(spark, src))
    flows = {
        "t_fraud": (SP.fraud_velocity_notifications(txns), "update"),
        "t_hv": (SP.high_value_notifications(txns, accounts), "append"),
        "t_balance": (balance_reconciliation_stream(txns), "append"),
        "t_daily": (SP.daily_spend_notifications(txns), "update"),
        "t_dedup": (SP.effectively_once_transactions(raw), "append"),
    }
    queries = [
        SP.start_pipeline(df, name, ckpt, output_mode=mode,
                          trigger_available_now=True)
        for name, (df, mode) in flows.items()
    ]
    for q in queries:
        q.awaitTermination(180)
    counts = {n: spark.sql(f"select * from {n}").count() for n in flows}
    assert counts["t_hv"] == 5        # every txn is a 600k debit
    assert counts["t_fraud"] >= 1     # 5 debits inside one 60s window
    assert counts["t_daily"] >= 1     # 3M total >= 1M threshold
    assert counts["t_balance"] == 5   # one reconciliation per txn
    assert counts["t_dedup"] == 5     # all ids distinct


def test_corrupt_json_envelope_skipped_not_fatal(spark, tmpdirs):
    """F2 resilience (JsonSerde.java:29-53 deserialize-error → null-skip;
    ABBankStreamsConfig.java:93-96 log-and-continue): a corrupt JSON line
    yields an all-null row in PERMISSIVE mode, which the null-envelope /
    null-after filters drop; valid records still flow."""
    import json

    src, ckpt = f"{tmpdirs}/jsrc", f"{tmpdirs}/jckpt"
    good = {
        "after": {"TRANSACTION_ID": 1.0, "ACCOUNT_ID": 101.0,
                  "AMOUNT": 50.0, "TRANSACTION_TYPE": "DEBIT",
                  "TRANSACTION_STATUS": "COMPLETED",
                  "INITIATED_AT": 1_700_000_000 * US},
        "op": "c", "ts_ms": 1,
    }
    import os

    os.makedirs(src, exist_ok=True)
    with open(f"{src}/data.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write("{this is not json at all\n")
    txns = cdc.parse_transactions(SP.read_file_envelopes(spark, src, fmt="json"))
    out = _run_to_memory(
        spark,
        txns.withWatermark("initiated_at", "0 seconds"),
        "json_sink",
        ckpt,
        output_mode="append",
    ).collect()
    assert [r.transaction_id for r in out] == [1]


def test_notification_metadata_keys_match_reference(spark):
    """Metadata key sets mirror the reference builders exactly:
    fraud ABBankTopology.java:199-203 (incl. windowSizeSec), dormancy
    :362-365 (dormancyDays/sessionStart/sessionEnd), daily :414-417
    (date/totalDebit/thresholdNgn), high-value :283-285."""
    import json

    base = 1_700_000_000 - (1_700_000_000 % 86_400)
    txns = cdc.parse_transactions(
        fx.make_txn_df(
            spark,
            [
                fx.envelope(
                    fx.txn_image(
                        txn_id=float(i), amount=600_000.0,
                        initiated_at_us=(base + i) * US,
                    )
                )
                for i in range(5)
            ],
        )
    )
    fraud = SP.fraud_velocity_notifications(txns).collect()
    meta = json.loads(fraud[0].value)["metadata"]
    assert set(meta) == {
        "windowStartMs", "windowEndMs", "transactionCount", "windowSizeSec"
    }
    assert meta["windowSizeSec"] == "60"
    assert meta["transactionCount"] == "5"

    dorm = SP.dormancy_notifications(txns.limit(1)).collect()
    dmeta = json.loads(dorm[0].value)["metadata"]
    assert set(dmeta) == {"dormancyDays", "sessionStart", "sessionEnd"}
    assert dmeta["dormancyDays"] == "30"
    assert (
        int(dmeta["sessionEnd"]) - int(dmeta["sessionStart"])
        == 30 * 86_400 * 1000
    )

    daily = SP.daily_spend_notifications(txns).collect()
    ymeta = json.loads(daily[0].value)["metadata"]
    assert set(ymeta) == {"date", "totalDebit", "thresholdNgn"}
    assert ymeta["thresholdNgn"] == "1000000.0"

    accounts = cdc.parse_accounts(
        fx.make_account_df(spark, [fx.account_image(101.0, "ACC-101")])
    )
    hv = SP.high_value_notifications(txns, accounts).collect()
    hmeta = json.loads(hv[0].value)["metadata"]
    assert set(hmeta) == {"transactionRef", "transactionType"}


def test_balance_state_on_rocksdb_provider(spark, tmpdirs):
    """The balance store runs on the RocksDB state-store provider — the
    disk-backed store matching the reference's persistent changelog-backed
    stores (ABBankTopology.java:67-71). State must survive across batches
    (restart from checkpoint) exactly as on the default provider."""
    import json

    from cdc_stream_processor_spark.session import ROCKSDB_PROVIDER

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    src, ckpt, out_dir = f"{tmpdirs}/src", f"{tmpdirs}/ckpt", f"{tmpdirs}/out"
    try:
        def run_batch():
            t = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))
            q = SP.start_pipeline(
                balance_reconciliation_stream(t),
                "balance_rocks",
                ckpt,
                output_mode="append",
                sink_format="parquet",
                sink_options={"path": out_dir},
                trigger_available_now=True,
            )
            q.awaitTermination(120)
            return q

        _write_envelopes(
            spark,
            src,
            [
                fx.envelope(
                    fx.txn_image(
                        txn_id=1.0, balance_before=100.0, balance_after=90.0,
                        initiated_at_us=1_700_000_000 * US,
                    )
                )
            ],
        )
        q1 = run_batch()
        # the provider actually engaged: RocksDB custom metrics in progress
        assert "rocksdb" in json.dumps(q1.recentProgress, default=str).lower()
        _write_envelopes(
            spark,
            src,
            [
                fx.envelope(
                    fx.txn_image(
                        txn_id=2.0, balance_before=95.0, balance_after=80.0,
                        initiated_at_us=1_700_000_060 * US,
                    )
                )
            ],
        )
        run_batch()
        by_txn = {r.transaction_id: r for r in spark.read.parquet(out_dir).collect()}
        assert by_txn[1].severity == "LOW"
        assert by_txn[2].severity == "HIGH" and by_txn[2].discrepancy == 5.0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_confluent_framing_strip_offsets(spark):
    """F1 framing arithmetic (AvroSerdes.java:35-58): 0x00 magic + 4-byte
    schema id stripped, body preserved byte-for-byte — no spark-avro jar
    needed to verify the substring offsets."""
    framed = b"\x00\x00\x00\x00\x07" + b"avro-body-bytes"
    header_only = b"\x00\x00\x00\x02\x19"
    df = spark.createDataFrame(
        [(1, bytearray(framed)), (2, bytearray(header_only))],
        "id long, value binary",
    )
    out = {
        r.id: bytes(r.body) if r.body is not None else None
        for r in df.select(
            "id", cdc.strip_confluent_framing("value").alias("body")
        ).collect()
    }
    assert out[1] == b"avro-body-bytes"
    assert out[2] == b""  # header-only frame -> empty Avro body


def test_supervisor_restarts_failed_query_and_serves_health(spark, tmpdirs):
    """Failure injection: the sink throws on its first batch; the supervisor
    restarts the query from its checkpoint (ABBankStreamsApp.java:55-68
    REPLACE_THREAD analog) and the record is delivered on the retry;
    /healthz reports UP (HealthServer.java:40-52 analog)."""
    import urllib.request

    from cdc_stream_processor_spark.streaming.lifecycle import (
        PipelineSupervisor,
        serve_health,
    )

    src, ckpt, out_dir = f"{tmpdirs}/src", f"{tmpdirs}/ckpt", f"{tmpdirs}/out"
    _write_envelopes(
        spark,
        src,
        [fx.envelope(fx.txn_image(txn_id=1.0, initiated_at_us=1_700_000_000 * US))],
    )
    poison = {"armed": True}

    def build():
        t = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))

        def sink(df, epoch_id):
            if poison["armed"]:
                poison["armed"] = False
                raise RuntimeError("injected sink failure")
            df.write.mode("append").parquet(out_dir)

        return (
            t.writeStream.queryName("supervised_txns")
            .foreachBatch(sink)
            .option("checkpointLocation", f"{ckpt}/supervised")
            .trigger(availableNow=True)
            .start()
        )

    sup = PipelineSupervisor(max_restarts=2)
    sup.register("txns", build)
    sup.start_all()
    sup.await_all(timeout_s=120)
    st = sup.status()["txns"]
    assert st["restarts"] == 1
    assert "injected sink failure" in st["last_error"]
    assert st["active"] is False and st["exception"] is None
    assert [r.transaction_id for r in spark.read.parquet(out_dir).collect()] == [1]

    code, _body = sup.healthz()
    assert code == 200
    server, port, _thread = serve_health(sup)
    try:
        resp = urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz")
        assert resp.status == 200
        assert b'"status": "UP"' in resp.read()
    finally:
        server.shutdown()


def test_supervisor_exhausted_restart_budget_serves_503(spark, tmpdirs):
    """The DOWN path the reference reaches when its uncaught-exception
    handler gives up: a query that fails on EVERY attempt exhausts the
    restart budget, healthz() flips to 503/DOWN, and the HTTP endpoint
    serves the same — the signal an orchestrator's liveness probe kills
    the pod on."""
    import json
    import urllib.error
    import urllib.request

    from cdc_stream_processor_spark.streaming.lifecycle import (
        PipelineSupervisor,
        serve_health,
    )

    src, ckpt = f"{tmpdirs}/src", f"{tmpdirs}/ckpt"
    _write_envelopes(
        spark,
        src,
        [fx.envelope(fx.txn_image(txn_id=1.0, initiated_at_us=1_700_000_000 * US))],
    )

    def build():
        t = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))

        def sink(df, epoch_id):
            raise RuntimeError("permanent sink failure")

        return (
            t.writeStream.queryName("doomed_txns")
            .foreachBatch(sink)
            .option("checkpointLocation", f"{ckpt}/doomed")
            .trigger(availableNow=True)
            .start()
        )

    sup = PipelineSupervisor(max_restarts=1)
    sup.register("txns", build)
    sup.start_all()
    sup.await_all(timeout_s=120)
    st = sup.status()["txns"]
    assert st["active"] is False
    assert st["restarts"] == 1  # budget spent, retry also failed
    assert "permanent sink failure" in st["exception"]

    code, body = sup.healthz()
    assert code == 503
    assert json.loads(body)["status"] == "DOWN"

    server, port, _thread = serve_health(sup)
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz")
        assert ei.value.code == 503
        assert json.load(ei.value)["status"] == "DOWN"
    finally:
        server.shutdown()


def test_progress_summary_slices_last_progress():
    """The /healthz progress block is a fixed operator-facing slice of
    lastProgress: None before the first batch, and the stuck-pipeline
    signals (rates, duration, state rows) after."""
    from cdc_stream_processor_spark.streaming.lifecycle import (
        _progress_summary,
    )

    assert _progress_summary(None) is None
    assert _progress_summary({}) is None  # pre-first-batch empty dict
    got = _progress_summary(
        {
            "batchId": 7,
            "timestamp": "2026-01-01T00:00:00.000Z",
            "numInputRows": 1200,
            "inputRowsPerSecond": 240.0,
            "processedRowsPerSecond": 600.0,
            "batchDuration": 2000,
            "stateOperators": [
                {"numRowsTotal": 10},
                {"numRowsTotal": 5},
                # r9 ADVICE: a non-stateful operator entry can carry an
                # explicit null — must coerce to 0, not raise int(None)
                {"numRowsTotal": None},
                {},
            ],
            "sources": ["ignored — not part of the operator slice"],
        }
    )
    assert got == {
        "batch_id": 7,
        "timestamp": "2026-01-01T00:00:00.000Z",
        "num_input_rows": 1200,
        "input_rows_per_second": 240.0,
        "processed_rows_per_second": 600.0,
        "batch_duration_ms": 2000,
        "state_rows_total": 15,
    }


def test_kafka_source_unavailable_is_clear(spark):
    """Without the kafka integration jar the reader should fail with the
    standard DATA_SOURCE_NOT_FOUND guidance, not something cryptic."""
    try:
        df = SP.read_kafka_envelopes(spark)
        df.printSchema()  # pragma: no cover - only if jar present
    except Exception as e:  # noqa: BLE001
        assert "kafka" in str(e).lower()


def test_envelope_json_value_roundtrip_matches_kafka_serde(spark):
    """The serde contract the (broker-gated) Kafka roundtrip test relies
    on, proven WITHOUT a broker: serializing an envelope to a JSON record
    value with to_json(struct(*)) and parsing it back through the SAME
    parse_envelope_values the Kafka source uses reproduces the parsed
    transaction exactly — so the gated test can only fail on
    broker/classpath issues, never on the serialization. Also pins the
    corrupt-drop semantics: Spark's PERMISSIVE from_json yields an
    ALL-NULL struct (not a NULL struct) for malformed input, so the drop
    must key on the mandatory `op` discriminator — a bare env.isNotNull()
    silently keeps garbage rows (caught live writing this test)."""
    from pyspark.sql import functions as F

    envs = [
        fx.envelope(
            fx.txn_image(
                txn_id=1.0, amount=600_000.0,
                initiated_at_us=1_700_000_000 * US,
            )
        ),
        fx.envelope(fx.txn_image(txn_id=2.0, amount=100.0), op="d"),
    ]
    df = fx.make_txn_df(spark, envs)
    values = df.select(F.to_json(F.struct("*")).alias("value"))
    parsed_back = SP.parse_envelope_values(values)
    want = [r.asDict(recursive=True) for r in cdc.parse_transactions(df).collect()]
    got = [
        r.asDict(recursive=True)
        for r in cdc.parse_transactions(parsed_back).collect()
    ]
    assert len(want) == 1  # delete dropped on both paths
    assert got == want

    # corrupt record values are DROPPED, valid ones keep extra columns
    mixed = spark.createDataFrame(
        [("{not json", 7), ("[]", 8)], "value string, _kafka_off long"
    ).union(
        values.limit(1).select("value", F.lit(9).alias("_kafka_off"))
    )
    kept = SP.parse_envelope_values(mixed)
    assert kept.count() == 1
    row = kept.select("_kafka_off", "op").first()
    assert (row["_kafka_off"], row["op"]) == (9, "c")


def _kafka_env_or_skip(spark):
    """Environment gate for the `--source kafka` deployment shape, in the
    same auto-unskip style as the protobuf/spark-avro probes: needs the
    spark-sql-kafka package on the classpath AND a reachable broker at
    $KAFKA_BOOTSTRAP_SERVERS. Returns the bootstrap string."""
    import os
    import socket

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception:
        pytest.skip("spark-sql-kafka package not on the classpath")
    bootstrap = os.environ.get("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092")
    host, _, port = bootstrap.partition(":")
    try:
        socket.create_connection((host, int(port or 9092)), timeout=2).close()
    except OSError:
        pytest.skip(f"no Kafka broker reachable at {bootstrap}")
    return bootstrap


def test_kafka_roundtrip_rate_limited(spark, tmpdirs):
    """The reference's actual deployment shape (S1-S4: Debezium JSON
    envelopes on XEPDB1.BANKDB.TRANSACTIONS), end-to-end through a real
    broker with the production rate-limit knob: seed the topic via a batch
    Kafka write, stream it back with maxOffsetsPerTrigger small enough to
    force MULTIPLE micro-batches, and drain the high-value pipeline.
    Env-gated exactly like the protobuf/avro skips — auto-unskips when a
    broker + the spark-sql-kafka package appear."""
    import uuid

    from pyspark.sql import functions as F

    bootstrap = _kafka_env_or_skip(spark)
    topic = f"abbank.it.{uuid.uuid4().hex[:12]}"
    envs = [
        fx.envelope(
            fx.txn_image(
                txn_id=float(i),
                amount=600_000.0,  # all trip the 500k high-value threshold
                initiated_at_us=(1_700_000_000 + i) * US,
            )
        )
        for i in range(6)
    ]
    fx.make_txn_df(spark, envs).select(
        F.to_json(F.struct("*")).alias("value")
    ).write.format("kafka").option(
        "kafka.bootstrap.servers", bootstrap
    ).option("topic", topic).save()

    env_stream = SP.read_kafka_envelopes(
        spark,
        topic=topic,
        bootstrap=bootstrap,
        source_options={"maxOffsetsPerTrigger": "2"},  # 6 records -> >=3 batches
    ).drop("_kafka_ts")
    txns = SP.parsed_transaction_stream(env_stream)
    alerts = SP.high_value_notifications(
        txns, cdc.parse_accounts(fx.make_account_df(spark, [])),
        threshold=500_000.0,
    )
    q = SP.start_pipeline(
        alerts,
        f"kafka_it_{topic.rsplit('.', 1)[-1]}",
        f"{tmpdirs}/ckpt",
        output_mode="append",
        sink_format="memory",
        trigger_available_now=True,
    )
    q.awaitTermination(180)
    got = spark.sql(f"select * from {q.name}").count()
    assert got == 6  # every seeded debit alerts (empty accounts -> "N/A" path)
    # the rate limit actually sliced the drain into multiple micro-batches
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3


def test_foreachbatch_merge_sink_materializes_and_is_idempotent(spark, tmpdirs):
    """The foreachBatch merge sink must (1) continuously materialize the
    keyed table across micro-batches — inserts, updates, deletes — and
    (2) be replay-safe: re-merging an already-applied batch reproduces the
    identical snapshot (the exactly-once-via-idempotence contract)."""
    from cdc_stream_processor_spark.streaming import sinks as SK

    src = f"{tmpdirs}/changes_src"
    target = f"{tmpdirs}/merged_table"
    ckpt = f"{tmpdirs}/merge_ckpt"
    schema = "id long, tag string, value double, op string, _seq long"
    cols = ["id", "tag", "value"]

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = SK.start_merge_sink(
            stream, target, ckpt, key="id", snapshot_cols=cols
        )
        q.awaitTermination(120)

    # batch 1: three inserts
    run([(1, "a", 1.0, "c", 1), (2, "b", 2.0, "c", 2), (3, "c", 3.0, "c", 3)])
    got = {r.id: (r.tag, r.value) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 1.0), 2: ("b", 2.0), 3: ("c", 3.0)}

    # batch 2: update 1, delete 2, insert 4; within-batch 4 updated twice
    run([
        (1, "a2", 1.5, "u", 4),
        (2, None, None, "d", 5),
        (4, "d", 4.0, "c", 6),
        (4, "d2", 4.5, "u", 7),
    ])
    got = {r.id: (r.tag, r.value) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a2", 1.5), 3: ("c", 3.0), 4: ("d2", 4.5)}

    # replay safety: manually re-apply batch 2 — snapshot must not change
    replay = spark.createDataFrame(
        [(1, "a2", 1.5, "u", 4), (2, None, None, "d", 5),
         (4, "d", 4.0, "c", 6), (4, "d2", 4.5, "u", 7)],
        schema,
    )
    SK.merge_batch_into_parquet(spark, replay, target, "id", cols)
    again = {r.id: (r.tag, r.value) for r in spark.read.parquet(target).collect()}
    assert again == got

    # crash recovery: simulate dying between the two renames (snapshot
    # parked at .__old__, no target dir) — the next merge must restore the
    # parked snapshot and fold into it, not rebuild from empty
    import os

    os.rename(target, f"{target}.__old__")
    more = spark.createDataFrame([(5, "e", 5.0, "c", 8)], schema)
    SK.merge_batch_into_parquet(spark, more, target, "id", cols)
    recovered = {
        r.id: (r.tag, r.value) for r in spark.read.parquet(target).collect()
    }
    assert recovered == {**got, 5: ("e", 5.0)}
    assert not os.path.isdir(f"{target}.__old__")


def test_stream_stream_interval_join_with_watermarks(spark, tmpdirs):
    """Stream-stream inner join bounded by an event-time interval: orders
    stream joins payments stream arriving within 10 minutes, both sides
    watermarked so join state is dropped once the interval expires —
    Structured Streaming's stateful two-stream join (the reference's DAG
    has only stream-table joins; this completes the family)."""
    from pyspark.sql import functions as F

    left_src = f"{tmpdirs}/ss_left"
    right_src = f"{tmpdirs}/ss_right"
    ckpt = f"{tmpdirs}/ss_ckpt"
    base = 1_700_000_000
    lrows = [(1, base), (2, base + 60), (3, base + 7200)]
    rrows = [
        (1, base + 300),    # within 10 min of order 1 → joins
        (2, base + 3000),   # 49 min after order 2 → outside bound
        (3, base + 7260),   # within bound of order 3 → joins
    ]
    spark.createDataFrame(lrows, "order_id long, o_epoch long").write.mode(
        "append"
    ).parquet(left_src)
    spark.createDataFrame(rrows, "pay_id long, p_epoch long").write.mode(
        "append"
    ).parquet(right_src)

    lstream = (
        spark.readStream.schema("order_id long, o_epoch long")
        .parquet(left_src)
        .withColumn("o_time", F.timestamp_seconds("o_epoch"))
        .withWatermark("o_time", "30 minutes")
    )
    rstream = (
        spark.readStream.schema("pay_id long, p_epoch long")
        .parquet(right_src)
        .withColumn("p_time", F.timestamp_seconds("p_epoch"))
        .withWatermark("p_time", "30 minutes")
    )
    joined = lstream.join(
        rstream,
        (F.col("order_id") == F.col("pay_id"))
        & (F.col("p_time") >= F.col("o_time"))
        & (F.col("p_time") <= F.col("o_time") + F.expr("INTERVAL 10 MINUTES")),
    ).select("order_id", "o_epoch", "p_epoch")
    out = _run_to_memory(
        spark, joined, "ss_join_sink", ckpt, output_mode="append"
    ).collect()
    assert sorted(r.order_id for r in out) == [1, 3]


def test_stream_changelog_join_late_account_update_re_enriches(
    spark, tmpdirs
):
    """J1's stream-stream changelog twin (ABBankTopology.java:233-240):
    each txn is enriched with the LATEST account version as of its event
    time. Run 1 processes the txns plus account v1; run 2 delivers a LATE
    account v2 (version time before the txn, arrival after) while the
    watermark is still open — the pending enrichment must absorb v2 and
    emit the v2 balance once the watermark closes, proving late changelog
    rows re-enrich instead of being lost (delta vs the reference's
    processing-time KTable join, see SURVEY §2.10)."""
    from pyspark.sql import functions as F

    txn_src = f"{tmpdirs}/cl_txn"
    acct_src = f"{tmpdirs}/cl_acct"
    ckpt = f"{tmpdirs}/cl_ckpt"
    base = 1_700_000_000

    def txn_stream():
        return (
            spark.readStream.schema("txn_id long, account_id long, epoch long")
            .parquet(txn_src)
            .withColumn("event_time", F.timestamp_seconds("epoch"))
            .drop("epoch")
        )

    def acct_stream():
        return (
            spark.readStream.schema(
                "account_id long, v_epoch long, balance double"
            )
            .parquet(acct_src)
            .withColumn("updated_at", F.timestamp_seconds("v_epoch"))
            .drop("v_epoch")
        )

    out_dir = f"{tmpdirs}/cl_out"

    def run():
        enriched = SP.stream_changelog_enrich(
            txn_stream(), acct_stream(), watermark="30 minutes"
        )
        q = SP.start_pipeline(
            enriched, "cl_sink", ckpt, output_mode="append",
            sink_format="parquet", sink_options={"path": out_dir},
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        try:
            return spark.read.parquet(out_dir)
        except Exception:  # sink dir not created until first emission
            return spark.range(0).select(
                F.lit(None).cast("long").alias("txn_id")
            )

    # run 1: two txns at t=2000; acct 7 v1 (t=1500, bal 100) and acct 8
    # v1 (t=1900, bal 50). Watermark (2000 - 1800s) stays before the txn
    # times, so nothing is finalized yet.
    spark.createDataFrame(
        [(1, 7, base + 2000), (2, 8, base + 2000)],
        "txn_id long, account_id long, epoch long",
    ).write.mode("append").parquet(txn_src)
    spark.createDataFrame(
        [(7, base + 1500, 100.0), (8, base + 1900, 50.0)],
        "account_id long, v_epoch long, balance double",
    ).write.mode("append").parquet(acct_src)
    assert run().count() == 0

    # run 2: LATE account 7 v2 — version time t=1800 (before the txn,
    # after v1) arriving a whole run later, within the 30-min watermark —
    # plus far-future rows on both streams to push the watermark past the
    # txn event times and close the pending groups.
    spark.createDataFrame(
        [(7, base + 1800, 999.0), (99, base + 100_000, 1.0)],
        "account_id long, v_epoch long, balance double",
    ).write.mode("append").parquet(acct_src)
    spark.createDataFrame(
        [(9, 99, base + 100_000)],
        "txn_id long, account_id long, epoch long",
    ).write.mode("append").parquet(txn_src)
    out = {r.txn_id: r for r in run().collect()}

    assert set(out) == {1, 2}  # future dummy txn not finalized
    assert out[1].balance == 999.0  # late v2 won over v1 (1800 > 1500)
    assert out[2].balance == 50.0
    assert out[1].updated_at.timestamp() == base + 1800


def test_stream_changelog_left_outer_emits_unmatched_txn_with_na(
    spark, tmpdirs
):
    """The reference's J1 is a null-tolerant LEFT join
    (ABBankTopology.java:233-240) with an "N/A" fallback (:252-253): a
    transaction whose account has NO changelog version inside the
    lookback must still emit — with null account fields, string columns
    filled "N/A" — once the watermark passes its event time. The inner
    form documents this drop; ``how="left_outer"`` closes it."""
    from pyspark.sql import functions as F

    txn_src = f"{tmpdirs}/lo_txn"
    acct_src = f"{tmpdirs}/lo_acct"
    ckpt = f"{tmpdirs}/lo_ckpt"
    out_dir = f"{tmpdirs}/lo_out"
    base = 1_700_000_000

    def run():
        txns = (
            spark.readStream.schema("txn_id long, account_id long, epoch long")
            .parquet(txn_src)
            .withColumn("event_time", F.timestamp_seconds("epoch"))
            .drop("epoch")
        )
        accts = (
            spark.readStream.schema(
                "account_id long, v_epoch long, balance double,"
                " acct_name string"
            )
            .parquet(acct_src)
            .withColumn("updated_at", F.timestamp_seconds("v_epoch"))
            .drop("v_epoch")
        )
        enriched = SP.stream_changelog_enrich(
            txns, accts, watermark="30 minutes",
            how="left_outer", na_fill="N/A",
        )
        q = SP.start_pipeline(
            enriched, "lo_sink", ckpt, output_mode="append",
            sink_format="parquet", sink_options={"path": out_dir},
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        try:
            return spark.read.parquet(out_dir)
        except Exception:  # sink dir not created until first emission
            return spark.range(0).select(
                F.lit(None).cast("long").alias("txn_id")
            )

    # run 1: txn 1 → account 7 (version exists in lookback), txn 2 →
    # account 42 (NO changelog version at all).
    spark.createDataFrame(
        [(1, 7, base + 2000), (2, 42, base + 2000)],
        "txn_id long, account_id long, epoch long",
    ).write.mode("append").parquet(txn_src)
    spark.createDataFrame(
        [(7, base + 1500, 100.0, "alice")],
        "account_id long, v_epoch long, balance double, acct_name string",
    ).write.mode("append").parquet(acct_src)
    run()

    # run 2: far-future rows on both streams push the watermark past the
    # txn event times, closing both the matched and the UNMATCHED group.
    spark.createDataFrame(
        [(99, base + 100_000, 1.0, "zz")],
        "account_id long, v_epoch long, balance double, acct_name string",
    ).write.mode("append").parquet(acct_src)
    spark.createDataFrame(
        [(9, 99, base + 100_000)],
        "txn_id long, account_id long, epoch long",
    ).write.mode("append").parquet(txn_src)
    out = {r.txn_id: r for r in run().collect()}

    assert set(out) == {1, 2}
    assert out[1].balance == 100.0 and out[1].acct_name == "alice"
    assert out[2].balance is None  # unmatched: numeric stays null
    assert out[2].acct_name == "N/A"  # string fallback, ref :252-253
    assert out[2].updated_at is None


def test_stream_corpus_gate_dedup_and_quality(spark, tmpdirs):
    """Streaming corpus-ingest gate twin of quality_pipeline_keep: first
    arrival survives dedup (checkpointed ACROSS runs), whitespace-variant
    duplicates are dropped, quality rejects carry the batch twin's reason
    codes, and good docs pass."""
    from pyspark.sql import functions as F

    src = f"{tmpdirs}/cg_src"
    ckpt = f"{tmpdirs}/cg_ckpt"
    out_dir = f"{tmpdirs}/cg_out"

    good = (
        "the cat and the dog walked to a market that was busy and "
        "loud with many people buying fresh fruit and warm bread today"
    )
    short = "too few words here"

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            src
        )
        gated = SP.stream_corpus_gate(stream)
        q = SP.start_pipeline(
            gated.select("doc_id", "reason", "keep"),
            "cg_sink", ckpt, output_mode="append",
            sink_format="parquet", sink_options={"path": out_dir},
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir)

    spark.createDataFrame(
        [(1, good), (2, "  " + good + "  "), (3, short)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    out1 = {r.doc_id: r for r in run().collect()}
    assert set(out1) == {1, 3}  # doc 2 is a whitespace-variant duplicate
    assert out1[1].keep and out1[1].reason == "keep"
    assert not out1[3].keep and out1[3].reason == "word_count"

    # run 2: cross-RUN duplicate of doc 1 plus one genuinely new doc —
    # the checkpointed dedup state must still drop the duplicate
    spark.createDataFrame(
        [(4, good), (5, good + " extra unique tail words")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    out2 = {r.doc_id: r for r in run().collect()}
    assert set(out2) == {1, 3, 5}  # doc 4 deduped against run-1 state


def test_max_files_per_trigger_paces_backlog(spark, tmpdirs):
    """Source rate limiting: a 6-file backlog with maxFilesPerTrigger=2
    must drain in 3 paced micro-batches (backpressure knob for replaying
    deep history without a mega-batch), with every row delivered exactly
    once to the sink."""
    src = f"{tmpdirs}/paced_src"
    ckpt = f"{tmpdirs}/paced_ckpt"
    out_dir = f"{tmpdirs}/paced_out"
    for i in range(6):
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(4)], "id long"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    q = (
        stream.writeStream.queryName("paced")
        .outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3  # 6 files / 2 per trigger
    assert all(p["numInputRows"] == 8 for p in batches)  # 2 files × 4 rows
    got = sorted(r.id for r in spark.read.parquet(out_dir).collect())
    assert got == sorted(i * 10 + j for i in range(6) for j in range(4))


def test_corrupt_envelopes_route_to_dead_letter_queue(spark, tmpdirs):
    """The DLQ split: valid envelopes flow to the pipeline, corrupt lines
    land VERBATIM in the quarantine sink (auditable + replayable), and
    neither kills the query."""
    import json as _json
    import os

    src = f"{tmpdirs}/dlq_src"
    ckpt = f"{tmpdirs}/dlq_ckpt"
    dlq_out = f"{tmpdirs}/dlq_out"
    os.makedirs(src, exist_ok=True)
    good = {
        "after": {"TRANSACTION_ID": 1.0, "ACCOUNT_ID": 7.0, "AMOUNT": 50.0,
                  "TRANSACTION_TYPE": "DEBIT", "TRANSACTION_STATUS": "COMPLETED",
                  "CURRENCY": "NGN", "INITIATED_AT": 1_700_000_000_000_000},
        "op": "c", "ts_ms": 1_700_000_000_000,
    }
    bad_line = "{definitely not json"
    with open(f"{src}/data.json", "w") as f:
        f.write(_json.dumps(good) + "\n")
        f.write(bad_line + "\n")

    valid, dead = SP.read_file_envelopes_with_dlq(spark, src)
    q1 = SP.start_pipeline(
        cdc.parse_transactions(valid), "dlq_valid", ckpt,
        output_mode="append", trigger_available_now=True,
    )
    q2 = (
        dead.writeStream.queryName("dlq_dead")
        .outputMode("append")
        .format("parquet")
        .option("path", dlq_out)
        .option("checkpointLocation", f"{ckpt}/dead")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    ok = spark.sql("select * from dlq_valid").collect()
    quarantined = spark.read.parquet(dlq_out).collect()
    assert [r.transaction_id for r in ok] == [1]
    assert [r.raw_record for r in quarantined] == [bad_line]


def test_map_only_corpus_operators_run_unchanged_on_streams(spark, tmpdirs):
    """Batch/streaming unification of the map-only corpus surface: the
    SAME operator functions (gopher_quality, text_profile stage exprs,
    batch_inference) applied to a streaming DataFrame plan and run —
    pure column expressions and mapInPandas are streamable as-is, so one
    operator definition serves both modes (the engine's analog of the
    reference running one topology continuously)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cdc_stream_processor_spark.operators import inference as I
    from cdc_stream_processor_spark.operators.text import gopher_quality

    src, ckpt = f"{tmpdirs}/docs_src", f"{tmpdirs}/docs_ckpt"
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    batch = spark.createDataFrame(
        [(1, "the quick brown fox and all of that have been with us again "
             "now for many long years of steady text"),
         (2, "tiny")],
        schema,
    )
    batch.write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)

    out1 = gopher_quality(stream)
    assert out1.isStreaming
    q = (
        out1.writeStream.format("memory")
        .queryName("gopher_stream")
        .option("checkpointLocation", f"{ckpt}/g")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.sql("select * from gopher_stream").collect()}
    want = {r["doc_id"]: r for r in gopher_quality(batch).collect()}
    assert got.keys() == want.keys()
    assert all(got[d]["keep"] == want[d]["keep"] for d in got)

    out2 = I.batch_inference(stream)
    assert out2.isStreaming
    q2 = (
        out2.writeStream.format("memory")
        .queryName("infer_stream")
        .option("checkpointLocation", f"{ckpt}/i")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = {r["doc_id"]: r["embedding"]
            for r in spark.sql("select * from infer_stream").collect()}
    want2 = {r["doc_id"]: r["embedding"] for r in I.batch_inference(batch).collect()}
    assert got2 == want2

    # url_rule_filter (r8): same map-only contract — the first-stage
    # curation filter must run unchanged on a document stream
    from cdc_stream_processor_spark.operators.urlrules import url_rule_filter

    urls = stream.select(
        F.col("doc_id"),
        F.concat(
            F.lit("https://site1.com/item"), F.col("doc_id").cast("string")
        ).alias("url"),
    )
    out3 = url_rule_filter(urls)
    assert out3.isStreaming
    q3 = (
        out3.writeStream.format("memory")
        .queryName("url_stream")
        .option("checkpointLocation", f"{ckpt}/u")
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(120)
    got3 = {r["doc_id"]: r["reason"]
            for r in spark.sql("select * from url_stream").collect()}
    assert got3 == {1: "keep", 2: "keep"}


def test_progress_recorder_captures_batch_metrics(spark, tmpdirs):
    """The ProgressRecorder listener must record one row per micro-batch
    with the true input row count — the JMX-metrics analog of the
    reference's streams observability."""
    from pyspark.sql import types as T

    from cdc_stream_processor_spark.streaming.metrics import ProgressRecorder

    src, ckpt = f"{tmpdirs}/met_src", f"{tmpdirs}/met_ckpt"
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    spark.createDataFrame([(i, f"doc {i}") for i in range(25)], schema).write.mode(
        "append"
    ).parquet(src)

    rec = ProgressRecorder(query_name="metered")
    spark.streams.addListener(rec)
    try:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("memory")
            .queryName("metered")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener bus is async; wait briefly for delivery
        import time

        for _ in range(40):
            if rec.metrics_df(spark).count() > 0:
                break
            time.sleep(0.25)
        m = rec.metrics_df(spark).collect()
        assert sum(r["num_input_rows"] for r in m) == 25
        assert all(r["query_name"] == "metered" for r in m)
    finally:
        spark.streams.removeListener(rec)


def test_stream_hopping_counts_match_batch_trending(spark, tmpdirs):
    """The trending query's aggregation core (hopping-window counts) runs
    UNCHANGED on a streaming DataFrame: availableNow over the events
    parquet must produce exactly the batch counts (complete mode — every
    window's final value), proving the batch twin is the streaming
    semantics, not an approximation of it."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.sources import batch as B

    sf_dir = "/root/testdata/sf0.001"
    ev_batch = B.load_table(spark, sf_dir, "events")
    schema = ev_batch.schema
    src = f"{tmpdirs}/events_src"
    ev_batch.write.mode("overwrite").parquet(src)

    def hopping(df):
        return (
            df.groupBy(
                F.window("ts", "2 hours", "1 hour").alias("w"),
                F.col("event_type"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "event_type",
                "n_events",
            )
        )

    stream = spark.readStream.schema(schema).parquet(src)
    assert stream.isStreaming
    q = (
        hopping(stream)
        .writeStream.format("memory")
        .queryName("trending_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdirs}/ckpt_trend")
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start_us, r.event_type): r.n_events
        for r in spark.sql("select * from trending_stream").collect()
    }
    exp = {
        (r.window_start_us, r.event_type): r.n_events
        for r in hopping(ev_batch).collect()
    }
    assert got == exp and len(exp) > 0


def test_stream_dynamic_gap_session_window(spark, tmpdirs):
    """session_window with a per-row GAP EXPRESSION on a stream — the
    streaming twin of operators.relational.dynamic_sessions: a 45-min
    silence after a purchase (1h gap) stays one session; the same
    silence after a view (30min gap) closes it. availableNow + complete
    checkpointed run, asserted on the final session rows."""
    import datetime

    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    mins = datetime.timedelta(minutes=1)
    rows = [
        (1, t0, 1, "purchase"),
        (2, t0 + 45 * mins, 1, "view"),
        (3, t0, 2, "view"),
        (4, t0 + 45 * mins, 2, "view"),
    ]
    src = f"{tmpdirs}/dyn_src"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.parquet(src)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    stream = spark.readStream.schema(schema).parquet(src)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("1 hour")
    ).otherwise(F.lit("30 minutes"))
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("dyn_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdirs}/ckpt_dyn")
        .start()
    )
    q.awaitTermination(120)
    got = {}
    for r in spark.sql("select * from dyn_sessions").collect():
        got.setdefault(r.user_id, []).append(r.n_events)
    # user 1: one 2-event session (purchase's 1h gap spans the silence);
    # user 2: two 1-event sessions (view's 30min gap doesn't)
    assert sorted(got[1]) == [2]
    assert sorted(got[2]) == [1, 1]


def test_corrupt_far_future_event_poisons_watermark_and_audit_detects(
    spark, tmpdirs
):
    """Watermark poisoning — the production streaming failure the r11
    timestamp_health_audit exists to prevent: ONE corrupt far-future
    event (a unit-confused feed value) advances the velocity pipeline's
    event-time watermark to year 9999, and every legitimate event that
    arrives afterwards is silently late-dropped — the stream keeps
    running and reports NOTHING. This test documents the hazard
    end-to-end (a burst that MUST alert produces no alert once poisoned)
    and proves the audit flags the poison row on the batch twin, which
    is exactly why the audit runs at ingest, before the watermark ever
    sees the row.
    """
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.operators import profiling as PF

    src, ckpt, out_dir = f"{tmpdirs}/src", f"{tmpdirs}/ckpt", f"{tmpdirs}/out"
    base = 1_700_000_000
    aligned = base - (base % 60)
    year_9999_us = 253_402_300_799_000_000

    def run():
        t = SP.parsed_transaction_stream(SP.read_file_envelopes(spark, src))
        q = SP.start_pipeline(
            SP.fraud_velocity_notifications(
                t, window="60 seconds", max_txns=5
            ),
            "poison_sink",
            ckpt,
            output_mode="append",
            sink_format="parquet",
            sink_options={"path": out_dir},
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).collect()

    # run 1: normal burst in window W0 — nothing emits yet (append mode:
    # the window is still open)
    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(
                fx.txn_image(
                    txn_id=float(i), initiated_at_us=(aligned + i) * US
                )
            )
            for i in range(5)
        ],
    )
    assert run() == []

    # run 2: THE POISON — one corrupt year-9999 event slams the
    # watermark past every sane event time; W0 closes and its CRITICAL
    # alert emits (sanity: the pipeline works)
    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(
                fx.txn_image(txn_id=100.0, initiated_at_us=year_9999_us)
            )
        ],
    )
    out = run()
    assert len(out) == 1 and '"transactionCount":"5"' in out[0].value

    # run 3 + flush run 4: a fresh 5-txn burst one hour later — would
    # alert on a healthy stream, but every row is watermark-late now and
    # is dropped at input; the stream keeps running and reports NOTHING
    _write_envelopes(
        spark,
        src,
        [
            fx.envelope(
                fx.txn_image(
                    txn_id=float(200 + i),
                    initiated_at_us=(aligned + 3600 + i) * US,
                )
            )
            for i in range(5)
        ],
    )
    run()
    _write_envelopes(
        spark,
        src,
        [fx.envelope(fx.txn_image(txn_id=300.0,
                                  initiated_at_us=(aligned + 7200) * US))],
    )
    out = run()
    assert len(out) == 1  # still ONLY the W0 alert: the burst is lost

    # the detection story: the audit's batch twin flags the poison row
    # BEFORE any watermark sees it (epoch-us grid, collectable always)
    all_txns = cdc.parse_transactions(
        fx.make_txn_df(
            spark,
            [
                fx.envelope(
                    fx.txn_image(txn_id=100.0, initiated_at_us=year_9999_us)
                ),
                fx.envelope(
                    fx.txn_image(txn_id=1.0, initiated_at_us=aligned * US)
                ),
            ],
        )
    )
    audit = PF.timestamp_health_audit(
        [("txns.initiated_at", all_txns, "initiated_at")]
    ).collect()[0]
    assert audit.n_post_sane == 1
    assert audit.n_outside_pandas_ns == 1
    assert audit.max_epoch_us == year_9999_us
