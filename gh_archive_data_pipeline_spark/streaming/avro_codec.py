"""Confluent-framed Avro codec helpers (SURVEY.md §2.1 S6, §2.2 K7).

The Confluent wire format is: magic byte 0x00 + 4-byte big-endian schema id
+ Avro body (reference producer: /root/reference/pipeline/data_ingestion/
kafka_producer/produce_fake_data.py:88-118). The reference imported
``from_avro`` but left the decode commented out
(spark_structured_datastream.py:8,64-70); here the header handling is a
real, unit-tested column expression, and the Avro body decode delegates to
``pyspark.sql.avro.functions.from_avro`` when the spark-avro jar is present
(it is an external package, so it is import-gated).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CONFLUENT_HEADER_BYTES = 5


def confluent_schema_id(value: Column) -> Column:
    """Extract the 4-byte big-endian schema id from a Confluent-framed
    message (bytes 2-5): hex-encode those bytes and parse base-16 — pure
    built-ins, no UDF."""
    return (
        F.conv(F.hex(F.substring(value, 2, 4)), 16, 10)
        .cast("bigint")
        .alias("schema_id")
    )


def strip_confluent_header(value: Column) -> Column:
    """Drop the 5-byte header, leaving the raw Avro body."""
    # substring clamps to the input length, so "rest of the bytes" is just a
    # max-int length — works on the passed column, whatever its name.
    return F.substring(value, CONFLUENT_HEADER_BYTES + 1, (1 << 31) - 1)


def encode_confluent_header(schema_id: int) -> bytes:
    """Producer-side framing: magic 0x00 + schema id (big-endian int32)."""
    return b"\x00" + schema_id.to_bytes(4, "big")


# ---------------------------------------------------------------------------
# Pure-Python Avro BINARY body codec for the events record
# ---------------------------------------------------------------------------
# The spark-avro SQL module (to_avro/from_avro) is an EXTERNAL package absent
# from this environment (installs forbidden), so the q396 streaming decode
# query carries its own implementation of the Avro binary encoding
# (https://avro.apache.org/docs/current/specification/ — zigzag-varint longs,
# length-prefixed utf-8 strings, little-endian IEEE-754 doubles). This is the
# actual wire format: bytes produced here are decodable by any Avro reader
# with the matching schema; with the package on the classpath,
# ``from_avro(strip_confluent_header(value), schema_json)`` is the JVM-side
# decode.

EVENTS_AVRO_SCHEMA = {
    "type": "record",
    "name": "event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": "string"},
    ],
}


def _zigzag_varint(n: int) -> bytes:
    """Avro long: zigzag-map to unsigned, then base-128 little-endian
    varint with the high bit as the continuation flag."""
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """(decoded long, next position) — inverse of :func:`_zigzag_varint`."""
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def encode_event_body(event_id: int, user_id: int, event_type: str,
                      value: float, props: str) -> bytes:
    """Avro binary body for one events row (field order = schema order)."""
    import struct

    et = event_type.encode("utf-8")
    pr = props.encode("utf-8")
    return (_zigzag_varint(event_id)
            + _zigzag_varint(user_id)
            + _zigzag_varint(len(et)) + et
            + struct.pack("<d", value)
            + _zigzag_varint(len(pr)) + pr)


def decode_event_body(body: bytes) -> tuple[int, int, str, float, str]:
    """Inverse of :func:`encode_event_body`."""
    import struct

    event_id, pos = _read_varint(body, 0)
    user_id, pos = _read_varint(body, pos)
    n, pos = _read_varint(body, pos)
    event_type = body[pos:pos + n].decode("utf-8")
    pos += n
    value = struct.unpack("<d", body[pos:pos + 8])[0]
    pos += 8
    n, pos = _read_varint(body, pos)
    props = body[pos:pos + n].decode("utf-8")
    return event_id, user_id, event_type, value, props
