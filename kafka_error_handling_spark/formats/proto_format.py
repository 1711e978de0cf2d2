"""Proto3 wire-format rendering of the dead-letter struct, byte-compatible
with the reference's ``ProtoDeadLetter``
(``error-handling-proto/src/main/proto/bakdata/kafka/proto/v1/deadletter.proto``):

    message ProtoDeadLetter {
        message Cause { StringValue message=1; StringValue stack_trace=2;
                        StringValue error_class=3; }
        string description = 1;  Cause cause = 2;
        StringValue input_value = 3;  StringValue topic = 4;
        Int32Value partition = 5;  Int64Value offset = 6;
        google.protobuf.Timestamp input_timestamp = 7;
    }

spark-protobuf isn't bundled here, so this encodes the *public* proto3 wire
format directly (tag = field<<3 | wiretype; LEN-prefixed submessages;
wrapper types = one-field messages).  Null handling mirrors
``ProtoDeadLetterConverter.java:41-78``: absent optional fields are simply
omitted (wrappers encode presence); proto3 default-suppression means an
empty string description is zero bytes, matching any standard decoder.
It runs on the Arrow record path (:func:`.wire.struct_encoder`):
``input_timestamp`` is the instant, whatever the session time zone, and a
NULL dead letter encodes to NULL.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column

from .wire import flat_record, from_epoch_micros, read_varint, struct_encoder, varint

__all__ = [
    "PROTO_DEAD_LETTER_SCHEMA",
    "encode_proto_dead_letter",
    "decode_proto_dead_letter",
    "to_proto_dead_letter",
    "jvm_protobuf_available",
]

# Canonical schema text — the registry registration payload (what a
# Confluent proto serde registers; reproduces the reference's
# ``deadletter.proto`` message layout for interop).
PROTO_DEAD_LETTER_SCHEMA = """\
syntax = "proto3";
package bakdata.kafka.proto.v1;
import "google/protobuf/wrappers.proto";
import "google/protobuf/timestamp.proto";
message ProtoDeadLetter {
  message Cause {
    google.protobuf.StringValue message = 1;
    google.protobuf.StringValue stack_trace = 2;
    google.protobuf.StringValue error_class = 3;
  }
  string description = 1;
  Cause cause = 2;
  google.protobuf.StringValue input_value = 3;
  google.protobuf.StringValue topic = 4;
  google.protobuf.Int32Value partition = 5;
  google.protobuf.Int64Value offset = 6;
  google.protobuf.Timestamp input_timestamp = 7;
}
"""


def _tag(field: int, wire: int) -> bytes:
    return varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + varint(len(payload)) + payload


def _signed(v: int) -> int:
    """Two's-complement 64-bit varint value → int."""
    return v - (1 << 64) if v >= 1 << 63 else v


def _string_value(field: int, s: Optional[str]) -> bytes:
    """google.protobuf.StringValue submessage (field 1, string); absent
    when ``s`` is None."""
    if s is None:
        return b""
    raw = s.encode("utf-8")
    return _len_field(field, _len_field(1, raw) if raw else b"")  # proto3 default suppression


def _int_value(field: int, v: Optional[int]) -> bytes:
    """Int32Value/Int64Value submessage (field 1, varint, two's-complement
    64-bit for negatives, per proto spec); absent when ``v`` is None."""
    if v is None:
        return b""
    v = int(v)
    return _len_field(field, _tag(1, 0) + varint(v & 0xFFFFFFFFFFFFFFFF) if v else b"")


def _timestamp(us: Optional[int]) -> bytes:
    """google.protobuf.Timestamp (seconds=1, nanos=2) of epoch micros."""
    if us is None:
        return b""
    seconds, nanos = divmod(us, 1_000_000)
    out = _tag(1, 0) + varint(seconds & 0xFFFFFFFFFFFFFFFF) if seconds else b""
    if nanos:
        out += _tag(2, 0) + varint(nanos * 1000)
    return _len_field(7, out)


_CAUSE = ("message", "stack_trace", "error_class")  # Cause fields 1..3


def _encode(rec: dict) -> bytes:
    """Flat dead letter (:func:`.wire.flat_record` shape) → wire bytes,
    fields in ascending number order."""
    desc = (rec.get("description") or "").encode("utf-8")
    cause = b"".join(_string_value(i, rec.get(f"cause.{n}")) for i, n in enumerate(_CAUSE, 1))
    return b"".join(
        [
            _len_field(1, desc) if desc else b"",
            _len_field(2, cause),
            _string_value(3, rec.get("input_value")),
            _string_value(4, rec.get("topic")),
            _int_value(5, rec.get("partition")),
            _int_value(6, rec.get("offset")),
            _timestamp(rec.get("input_timestamp")),
        ]
    )


def encode_proto_dead_letter(d: dict) -> bytes:
    """dict (DEAD_LETTER_SCHEMA shape) → proto3 wire bytes.  A naive
    ``input_timestamp`` is read as UTC."""
    return _encode(flat_record(d))


def _decode_fields(buf: bytes) -> dict[int, list]:
    pos, out = 0, {}
    while pos < len(buf):
        key, pos = read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = read_varint(buf, pos)
        elif wire == 2:
            n, pos = read_varint(buf, pos)
            v = buf[pos : pos + n]
            pos += n
        else:  # pragma: no cover - no other wire types in this schema
            raise ValueError(f"unexpected wire type {wire}")
        out.setdefault(field, []).append(v)
    return out


def _get_wrapper_str(fields: dict, n: int) -> Optional[str]:
    if n not in fields:
        return None
    inner = _decode_fields(fields[n][-1])
    return inner.get(1, [b""])[-1].decode("utf-8") if 1 in inner else ""


def _get_wrapper_int(fields: dict, n: int) -> Optional[int]:
    if n not in fields:
        return None
    inner = _decode_fields(fields[n][-1])
    return _signed(inner.get(1, [0])[-1])


def decode_proto_dead_letter(buf: bytes) -> dict:
    """Standard-decoder stand-in for round-trip tests; ``input_timestamp``
    comes back as a naive UTC ``datetime``."""
    f = _decode_fields(buf)
    out = {
        "description": f.get(1, [b""])[-1].decode("utf-8") if 1 in f else "",
        "input_value": _get_wrapper_str(f, 3),
        "topic": _get_wrapper_str(f, 4),
        "partition": _get_wrapper_int(f, 5),
        "offset": _get_wrapper_int(f, 6),
    }
    cf = _decode_fields(f[2][-1]) if 2 in f else None
    out["cause"] = {} if cf is None else {n: _get_wrapper_str(cf, i) for i, n in enumerate(_CAUSE, 1)}
    out["input_timestamp"] = None
    if 7 in f:
        tf = _decode_fields(f[7][-1])
        secs = _signed(tf.get(1, [0])[-1])
        out["input_timestamp"] = from_epoch_micros(secs * 1_000_000 + tf.get(2, [0])[-1] // 1000)
    return out


_JVM_PROTO = {"checked": False, "ok": False}


def jvm_protobuf_available(spark=None) -> bool:
    """True iff the spark-protobuf module is loaded (probed once: the
    import succeeds without the jar; only analysis raises)."""
    if _JVM_PROTO["checked"]:
        return _JVM_PROTO["ok"]
    _JVM_PROTO["checked"] = True
    try:
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F  # noqa: F401
        from pyspark.sql.protobuf.functions import to_protobuf  # noqa: F401

        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            return False
        # no descriptor-free probe exists for protobuf; reflect on the JVM
        # class registry instead of building a throwaway descriptor file
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.CatalystDataToProtobuf"
        )
        _JVM_PROTO["ok"] = True
    except Exception:  # noqa: BLE001 - any failure means "use the fallback"
        _JVM_PROTO["ok"] = False
    return _JVM_PROTO["ok"]


def to_proto_dead_letter(
    dead_letter: Column, desc_file_path: Optional[str] = None
) -> Column:
    """Column converter (the ``ProtoDeadLetterConverter`` analog,
    ``ProtoDeadLetterConverter.java:40-78``).

    JVM dispatch: when ``desc_file_path`` (a protoc ``FileDescriptorSet``
    for the reference's ``deadletter.proto``) is supplied AND the
    spark-protobuf module is loaded, encodes via the built-in
    ``to_protobuf`` — no Python in the hot path.  Otherwise falls back to
    the spec encoder above (proto3 wire bytes are deterministic for this
    schema: fields ascend by number, wrappers suppress defaults — both
    encoders emit identical bytes)."""
    if desc_file_path is not None and jvm_protobuf_available():
        from pyspark.sql.protobuf.functions import to_protobuf

        return to_protobuf(dead_letter, "ProtoDeadLetter", desc_file_path)
    return struct_encoder(_encode)(dead_letter)
