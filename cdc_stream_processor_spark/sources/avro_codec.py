"""Minimal pure-Python Avro binary codec for the Debezium CDC envelopes.

The reference's primary ingress is Confluent-framed Avro via Schema Registry
(AvroSerdes.java:35-58; writer schemas in src/main/avro/*.avsc). Spark's
native path is `from_avro` (sql/avro), but that function needs the external
spark-avro jar on the classpath. This module implements the Avro *binary
encoding* spec (varint zigzag longs, length-prefixed strings/bytes, IEEE
little-endian floats/doubles, union-index prefix, record = field
concatenation — the public Apache Avro 1.x specification) for the subset of
schema forms the CDC envelopes use:

    null | boolean | int | long | float | double | string | bytes
    records (with named-type re-references, e.g. "after": ["null","Value"])
    unions, enums-as-annotated-strings (connect Enum ⇒ plain "string")

Logical/connect annotations (MicroTimestamp etc.) ride on the underlying
primitive and are left untouched — exactly how Debezium emits them.

The decoder (``_decode_envelopes``) runs inside an Arrow-batched
``mapInPandas`` (one Python pass per batch of Kafka values — no
row-at-a-time UDF), emits the envelope as a JSON string, and hands it to
the SAME ``cdc.parse_envelope_values`` step the JSON serde uses, so all
downstream parsing/tests are shared between the two wire formats.
"""

from __future__ import annotations

import json
import struct
from typing import Any, Callable, Iterator

CONFLUENT_HEADER_LEN = 5  # 0x00 magic + 4-byte big-endian schema id

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "string", "bytes"}


def _resolve(schema: Any, names: dict[str, Any]) -> Any:
    """Normalize a schema node: parse named-type references, register
    record names (short and namespace-qualified) on first definition."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        if schema in names:
            return names[schema]
        raise ValueError(f"unknown Avro type reference: {schema!r}")
    if isinstance(schema, list):
        return schema
    t = schema.get("type")
    if t == "record":
        name = schema["name"]
        names[name] = schema
        ns = schema.get("namespace")
        if ns:
            names[f"{ns}.{name}"] = schema
        # register nested names eagerly (fields may re-reference them)
        for f in schema["fields"]:
            ft = f["type"]
            if isinstance(ft, (dict, list)):
                _prewalk(ft, names)
        return schema
    if t in _PRIMITIVES:
        # annotated primitive: logical/connect types (MicroTimestamp,
        # io.debezium.data.Enum-as-string, ...) ride the base encoding
        return t
    raise ValueError(f"unsupported Avro schema node: {schema!r}")


def _prewalk(schema: Any, names: dict[str, Any]) -> None:
    if isinstance(schema, list):
        for b in schema:
            if isinstance(b, (dict, list)):
                _prewalk(b, names)
        return
    if isinstance(schema, dict) and schema.get("type") == "record":
        _resolve(schema, names)


# --- decoding ----------------------------------------------------------------


def _read_long(data: bytes, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos  # zigzag


def _decode(schema: Any, data: bytes, pos: int, names: dict[str, Any]):
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union: long index, then branch
        idx, pos = _read_long(data, pos)
        return _decode(schema[idx], data, pos, names)
    if isinstance(schema, dict):  # record
        out: dict[str, Any] = {}
        for f in schema["fields"]:
            out[f["name"]], pos = _decode(f["type"], data, pos, names)
        return out, pos
    if schema == "null":
        return None, pos
    if schema == "boolean":
        return data[pos] != 0, pos + 1
    if schema in ("int", "long"):
        return _read_long(data, pos)
    if schema == "float":
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if schema == "double":
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if schema in ("string", "bytes"):
        n, pos = _read_long(data, pos)
        raw = data[pos : pos + n]
        return (raw.decode("utf-8") if schema == "string" else raw), pos + n
    raise ValueError(f"unsupported Avro type: {schema!r}")


def decode_record(schema_json: str | dict, payload: bytes) -> dict[str, Any]:
    """Decode one Avro-binary record against its writer schema."""
    schema = (
        json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    )
    names: dict[str, Any] = {}
    value, _pos = _decode(schema, payload, 0, names)
    return value


# --- encoding (test/fixture side) --------------------------------------------


def _write_long(buf: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _encode(schema: Any, value: Any, buf: bytearray, names: dict[str, Any]) -> None:
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union: null branch iff value is None
        for i, branch in enumerate(schema):
            is_null = branch == "null" or (
                isinstance(branch, dict) and branch.get("type") == "null"
            )
            if (value is None) == is_null:
                _write_long(buf, i)
                _encode(branch, value, buf, names)
                return
        raise ValueError(f"no union branch for value {value!r} in {schema!r}")
    if isinstance(schema, dict):  # record
        for f in schema["fields"]:
            _encode(f["type"], value.get(f["name"]), buf, names)
        return
    if schema == "null":
        return
    if schema == "boolean":
        buf.append(1 if value else 0)
        return
    if schema in ("int", "long"):
        _write_long(buf, int(value))
        return
    if schema == "float":
        buf += struct.pack("<f", float(value))
        return
    if schema == "double":
        buf += struct.pack("<d", float(value))
        return
    if schema in ("string", "bytes"):
        raw = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        _write_long(buf, len(raw))
        buf += raw
        return
    raise ValueError(f"unsupported Avro type: {schema!r}")


def encode_record(
    schema_json: str | dict,
    value: dict[str, Any],
    confluent_schema_id: int | None = None,
) -> bytes:
    """Encode a record to Avro binary; with confluent_schema_id, prepend the
    5-byte Confluent wire header (0x00 magic + big-endian id)."""
    schema = (
        json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    )
    buf = bytearray()
    if confluent_schema_id is not None:
        buf += b"\x00" + struct.pack(">I", confluent_schema_id)
    names: dict[str, Any] = {}
    _encode(schema, value, buf, names)
    return bytes(buf)


# --- Spark integration --------------------------------------------------------


def envelopes_from_avro_py(
    raw,
    avro_schema_json: str,
    spark_envelope_schema,
    value_col: str = "value",
    confluent_framed: bool = True,
):
    """Jar-free F1 path: binary Kafka values → envelope rows, every value
    decoded against one writer schema (after skipping the 5-byte
    Confluent header when ``confluent_framed``). Works on batch and
    streaming DataFrames alike; see ``_decode_envelopes``."""
    schema = json.loads(avro_schema_json)
    offset = CONFLUENT_HEADER_LEN if confluent_framed else 0
    return _decode_envelopes(
        raw, lambda frame: (schema, frame[offset:]), spark_envelope_schema, value_col
    )


def _decode_envelopes(
    raw,
    resolve: Callable[[bytes], tuple[Any, bytes]],
    spark_envelope_schema,
    value_col: str,
):
    """The Python Avro decoder behind both jar-free F1 paths.

    ``resolve`` maps one frame to (parsed writer schema, Avro body); the
    fixed-schema and registry paths differ only there. An Arrow-batched
    mapInPandas decodes each value and re-emits it as JSON, which goes
    through ``cdc.parse_envelope_values``, the step the JSON serde uses,
    so corrupt and non-envelope values are dropped (F2 log-and-continue)
    instead of failing the query.

    Only DATA-shaped failures take the drop path (bad framing, schema id
    missing from the registry, malformed Avro or schema JSON);
    infrastructure failures (registry unreachable, HTTP 5xx —
    ``OSError``/``URLError``) PROPAGATE so the task fails and Spark
    retries, as the reference's AvroSerdes lets resolver failures bubble
    rather than silently dropping valid records.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark import cdc

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for v in pdf[value_col]:
                try:
                    schema, body = resolve(bytes(v))
                    out.append(json.dumps(decode_record(schema, body)))
                except (
                    ValueError,  # bad framing / malformed Avro / bad schema JSON
                    LookupError,  # id absent from registry; varint off the buffer
                    TypeError,  # null / non-bytes value cell
                    struct.error,  # truncated Avro primitive
                ):
                    out.append(None)
            yield pd.DataFrame({"value": pd.Series(out, dtype="object")})

    decoded = raw.select(F.col(value_col)).mapInPandas(
        decode_batch, schema="value string"
    )
    return cdc.parse_envelope_values(decoded, spark_envelope_schema)
