"""Tests for the pure-Python Avro binary codec (jar-free F1 ingress).

The schema below mirrors the *shape* of the reference writer schema
(src/main/avro/transactions_value.avsc): a Debezium envelope record with
nullable-union row images, a named-type re-reference ("Value" defined at
`before`, referenced at `after`), annotated-long timestamps, and an
annotated-string enum — every schema form the codec must handle.
"""

from __future__ import annotations

import json

import pytest

from cdc_stream_processor_spark import cdc, schemas
from cdc_stream_processor_spark.sources import avro_codec as AC

VALUE_FIELDS = [
    ("TRANSACTION_ID", "double"),
    ("ACCOUNT_ID", "double"),
    ("TRANSACTION_REF", "string"),
    ("TRANSACTION_TYPE", "string"),
    ("AMOUNT", "double"),
    ("CURRENCY", ["null", "string"]),
    ("BALANCE_BEFORE", ["null", "double"]),
    ("BALANCE_AFTER", ["null", "double"]),
    ("TRANSACTION_STATUS", ["null", "string"]),
    (
        "INITIATED_AT",
        [
            "null",
            {"type": "long", "connect.name": "io.debezium.time.MicroTimestamp"},
        ],
    ),
]

ENVELOPE_SCHEMA = {
    "type": "record",
    "name": "Envelope",
    "namespace": "XEPDB1.BANKDB.TRANSACTIONS",
    "fields": [
        {
            "name": "before",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "Value",
                    "fields": [{"name": n, "type": t} for n, t in VALUE_FIELDS],
                },
            ],
            "default": None,
        },
        {"name": "after", "type": ["null", "Value"], "default": None},
        {"name": "op", "type": "string"},
        {"name": "ts_ms", "type": ["null", "long"], "default": None},
        {
            "name": "snapshot",
            "type": [
                {"type": "string", "connect.name": "io.debezium.data.Enum"},
                "null",
            ],
            "default": "false",
        },
    ],
}


def _image(txn_id=1.0, amount=50.0, status="COMPLETED"):
    return {
        "TRANSACTION_ID": txn_id,
        "ACCOUNT_ID": 101.0,
        "TRANSACTION_REF": f"REF-{int(txn_id)}",
        "TRANSACTION_TYPE": "DEBIT",
        "AMOUNT": amount,
        "CURRENCY": "NGN",
        "BALANCE_BEFORE": None,
        "BALANCE_AFTER": 90.25,
        "TRANSACTION_STATUS": status,
        "INITIATED_AT": 1_700_000_000 * 1_000_000,
    }


def _envelope(img, op="c"):
    return {
        "before": None,
        "after": img,
        "op": op,
        "ts_ms": 7,
        "snapshot": "false",
    }


def test_roundtrip_exact():
    env = _envelope(_image())
    blob = AC.encode_record(ENVELOPE_SCHEMA, env)
    assert AC.decode_record(ENVELOPE_SCHEMA, blob) == env


def test_roundtrip_null_branches_and_delete():
    env = {
        "before": _image(),
        "after": None,
        "op": "d",
        "ts_ms": None,
        "snapshot": None,
    }
    blob = AC.encode_record(ENVELOPE_SCHEMA, env)
    assert AC.decode_record(ENVELOPE_SCHEMA, blob) == env


def test_confluent_header_layout():
    env = _envelope(_image())
    framed = AC.encode_record(ENVELOPE_SCHEMA, env, confluent_schema_id=42)
    assert framed[0] == 0  # magic byte
    assert int.from_bytes(framed[1:5], "big") == 42
    assert AC.decode_record(ENVELOPE_SCHEMA, framed[5:]) == env


def test_zigzag_negative_and_large_longs():
    schema = {
        "type": "record",
        "name": "L",
        "fields": [{"name": "v", "type": "long"}],
    }
    for v in (0, -1, 1, -64, 63, 64, -65, 2**40, -(2**40), 2**62):
        blob = AC.encode_record(schema, {"v": v})
        assert AC.decode_record(schema, blob) == {"v": v}


def test_unknown_type_reference_raises():
    with pytest.raises(ValueError, match="unknown Avro type reference"):
        AC.decode_record(
            {"type": "record", "name": "R", "fields": [{"name": "x", "type": "Nope"}]},
            b"\x00",
        )


def test_envelopes_from_avro_py_end_to_end(spark):
    """Framed Avro values → envelopes → the standard parse_transactions
    path; a corrupt frame degrades to a dropped null envelope (F2), and a
    delete envelope is dropped by the P2 filter."""
    schema_json = json.dumps(ENVELOPE_SCHEMA)
    good = AC.encode_record(
        ENVELOPE_SCHEMA, _envelope(_image(1.0, 600_000.0)), confluent_schema_id=7
    )
    delete = AC.encode_record(
        ENVELOPE_SCHEMA,
        {"before": _image(2.0), "after": None, "op": "d", "ts_ms": 1,
         "snapshot": "false"},
        confluent_schema_id=7,
    )
    corrupt = b"\x00\x00\x00\x00\x07\x01\x02 not avro"
    raw = spark.createDataFrame(
        [(bytearray(good),), (bytearray(delete),), (bytearray(corrupt),)],
        "value binary",
    )
    envs = AC.envelopes_from_avro_py(
        raw, schema_json, schemas.TRANSACTION_ENVELOPE
    )
    rows = cdc.parse_transactions(envs).collect()
    assert [(r.transaction_id, r.amount) for r in rows] == [(1, 600_000.0)]


def _jvm_avro_available(spark) -> bool:
    """True iff the from_avro SQL function is actually usable — probe by
    evaluating it (class-presence checks lie: the wrapper classes can be on
    the classpath while the Avro data source is not loaded, raising
    AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE at analysis time)."""
    try:
        from pyspark.sql import functions as F
        from pyspark.sql.avro.functions import from_avro

        probe_schema = json.dumps(
            {"type": "record", "name": "p", "fields": [{"name": "x", "type": "long"}]}
        )
        spark.range(1).select(
            from_avro(F.lit(bytearray(b"\x02")), probe_schema)
        ).collect()
        return True
    except Exception:
        return False


def test_envelopes_from_avro_jvm_matches_python_codec(spark):
    """Classpath parity (reference AvroSerdes.java:35-58): the JVM
    from_avro path must decode the same Confluent-framed bytes to the same
    envelopes as the pure-Python codec. Auto-skips where the spark-avro
    jar isn't shipped (this container), runs wherever it is."""
    if not _jvm_avro_available(spark):
        pytest.skip("spark-avro jar not on classpath")
    schema_json = json.dumps(ENVELOPE_SCHEMA)
    good = AC.encode_record(
        ENVELOPE_SCHEMA, _envelope(_image(1.0, 600_000.0)), confluent_schema_id=7
    )
    raw = spark.createDataFrame([(bytearray(good),)], "value binary")
    got_jvm = cdc.parse_transactions(
        cdc.envelopes_from_avro(raw, schema_json, confluent_framed=True)
    ).collect()
    got_py = cdc.parse_transactions(
        AC.envelopes_from_avro_py(raw, schema_json, schemas.TRANSACTION_ENVELOPE)
    ).collect()
    assert [tuple(r) for r in got_jvm] == [tuple(r) for r in got_py]


# --- Schema Registry resolution (reference AvroSerdes.java:35-44) -------------


def test_subject_name_topic_name_strategy():
    from cdc_stream_processor_spark.sources import schema_registry as SR

    assert SR.subject_name("bankdb.transactions") == "bankdb.transactions-value"
    assert SR.subject_name("bankdb.transactions", is_key=True) == (
        "bankdb.transactions-key"
    )


def test_extract_schema_id_and_guards():
    from cdc_stream_processor_spark.sources import schema_registry as SR

    framed = AC.encode_record(
        ENVELOPE_SCHEMA, _envelope(_image()), confluent_schema_id=99
    )
    assert SR.extract_schema_id(framed) == 99
    with pytest.raises(ValueError):
        SR.extract_schema_id(b"\x01\x00\x00\x00\x07rest")  # wrong magic
    with pytest.raises(ValueError):
        SR.extract_schema_id(b"\x00\x00")  # too short


def test_dict_registry_lookup_and_miss():
    from cdc_stream_processor_spark.sources import schema_registry as SR

    reg = SR.DictSchemaRegistry({7: json.dumps(ENVELOPE_SCHEMA)})
    assert json.loads(reg.get_schema(7)) == ENVELOPE_SCHEMA
    with pytest.raises(LookupError, match="schema id 8"):
        reg.get_schema(8)


def test_http_registry_pickles_without_cache():
    import pickle

    from cdc_stream_processor_spark.sources import schema_registry as SR

    reg = SR.HttpSchemaRegistry("http://registry:8081/")
    reg._cache[1] = "cached"
    clone = pickle.loads(pickle.dumps(reg))
    assert clone.base_url == "http://registry:8081"
    assert clone._cache == {}  # executors start cold, refetch once per id


def test_envelopes_from_avro_registry_end_to_end(spark):
    """Framed fixtures round-trip through envelopes_from_avro(registry=...)
    with NO hand-passed writer schema: ids resolve per record (two distinct
    ids in one batch), an unknown id and a corrupt frame both degrade to
    dropped null envelopes (F2 log-and-continue)."""
    from cdc_stream_processor_spark.sources import schema_registry as SR

    reg = SR.DictSchemaRegistry(
        {7: json.dumps(ENVELOPE_SCHEMA), 8: json.dumps(ENVELOPE_SCHEMA)}
    )
    rows = [
        AC.encode_record(
            ENVELOPE_SCHEMA, _envelope(_image(1.0, 600_000.0)),
            confluent_schema_id=7,
        ),
        AC.encode_record(
            ENVELOPE_SCHEMA, _envelope(_image(2.0, 700_000.0)),
            confluent_schema_id=8,
        ),
        AC.encode_record(  # id 9 not registered → dropped
            ENVELOPE_SCHEMA, _envelope(_image(3.0)), confluent_schema_id=9
        ),
        b"\x00\x00\x00\x00\x07\x01\x02 not avro",  # corrupt → dropped
    ]
    raw = spark.createDataFrame([(bytearray(b),) for b in rows], "value binary")
    envs = cdc.envelopes_from_avro(
        raw, registry=reg, spark_envelope_schema=schemas.TRANSACTION_ENVELOPE
    )
    out = cdc.parse_transactions(envs).collect()
    assert sorted((r.transaction_id, r.amount) for r in out) == [
        (1, 600_000.0),
        (2, 700_000.0),
    ]


def test_registry_infra_failure_propagates(spark):
    """A registry whose resolver dies with an IO error (registry down,
    HTTP 5xx) must FAIL the task — not silently drop every record as
    corrupt.  Only data-shaped errors (bad framing, unknown id, bad Avro)
    take the null-envelope drop path; the reference AvroSerdes likewise
    propagates resolver failures (AvroSerdes.java:35-44)."""
    from cdc_stream_processor_spark.sources import schema_registry as SR

    class DownRegistry:
        def get_schema(self, schema_id: int) -> str:
            raise OSError("connection refused: registry unreachable")

    good = AC.encode_record(
        ENVELOPE_SCHEMA, _envelope(_image(1.0, 600_000.0)),
        confluent_schema_id=7,
    )
    raw = spark.createDataFrame([(bytearray(good),)], "value binary")
    envs = SR.envelopes_from_avro_registry(
        raw, DownRegistry(), schemas.TRANSACTION_ENVELOPE
    )
    with pytest.raises(Exception, match="registry unreachable"):
        envs.collect()


def test_envelopes_from_avro_requires_schema_or_registry(spark):
    raw = spark.createDataFrame([(bytearray(b"x"),)], "value binary")
    with pytest.raises(ValueError, match="avro_schema_json"):
        cdc.envelopes_from_avro(raw)
    with pytest.raises(ValueError, match="spark_envelope_schema"):
        cdc.envelopes_from_avro(raw, registry=object())


KEY_SCHEMA = {
    "type": "record",
    "name": "Key",
    "fields": [{"name": "TRANSACTION_ID", "type": "double"}],
}


def test_envelope_decoders_agree_and_drop_non_envelopes(spark):
    """One drop rule on every ingress path: an insert, a delete, a corrupt
    value and a decodable record of a NON-envelope schema (the topic's key
    schema, under its own schema id) give the same envelope rows through
    the Kafka JSON step, the fixed-schema Python Avro decoder, registry
    resolution and, where the jar is shipped, JVM from_avro. The
    non-envelope record parses to an all-null struct, so only a drop keyed
    on ``op`` removes it."""
    from cdc_stream_processor_spark.sources import schema_registry as SR

    insert = _envelope(_image(1.0, 600_000.0))
    delete = {"before": _image(2.0), "after": None, "op": "d", "ts_ms": 1,
              "snapshot": "false"}
    key = {"TRANSACTION_ID": 3.0}
    env_frames = [
        AC.encode_record(ENVELOPE_SCHEMA, r, confluent_schema_id=7)
        for r in (insert, delete)
    ]
    key_frame = AC.encode_record(KEY_SCHEMA, key, confluent_schema_id=8)
    corrupt = b"\x00\x00\x00\x00\x07\x01\x02 not avro"

    def frames(blobs):
        return spark.createDataFrame(
            [(bytearray(b),) for b in blobs], "value binary"
        )

    def fixed_py(blobs, schema):
        return AC.envelopes_from_avro_py(
            frames(blobs), json.dumps(schema), schemas.TRANSACTION_ENVELOPE
        )

    def envelope_rows(envs):
        return sorted(
            (r.asDict(recursive=True) for r in envs.collect()),
            key=lambda r: str(r["op"]),
        )

    json_values = spark.createDataFrame(
        [(json.dumps(r),) for r in (insert, delete, key)] + [("{not json",)],
        "value string",
    )
    want = envelope_rows(cdc.parse_envelope_values(json_values))
    assert [r["op"] for r in want] == ["c", "d"]
    assert want[0]["after"]["AMOUNT"] == 600_000.0

    # a fixed-schema consumer decodes every value with one writer schema,
    # so the key record comes through a reader of its own schema
    got_py = fixed_py(env_frames + [corrupt], ENVELOPE_SCHEMA).union(
        fixed_py([key_frame], KEY_SCHEMA)
    )
    registry = SR.DictSchemaRegistry(
        {7: json.dumps(ENVELOPE_SCHEMA), 8: json.dumps(KEY_SCHEMA)}
    )
    got_registry = cdc.envelopes_from_avro(
        frames(env_frames + [key_frame, corrupt]),
        registry=registry,
        spark_envelope_schema=schemas.TRANSACTION_ENVELOPE,
    )
    assert envelope_rows(got_py) == want
    assert envelope_rows(got_registry) == want

    if _jvm_avro_available(spark):
        # from_avro yields the writer schema's own struct, so compare the
        # fields both schemas carry
        got_jvm = cdc.envelopes_from_avro(
            frames(env_frames + [corrupt]),
            json.dumps(ENVELOPE_SCHEMA),
            confluent_framed=True,
        )
        cols = ["op", "ts_ms", "before.TRANSACTION_ID", "after.TRANSACTION_ID"]
        assert sorted(got_jvm.select(cols).collect()) == sorted(
            got_registry.select(cols).collect()
        )
