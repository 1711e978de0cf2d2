"""Avro binary rendering of the dead-letter struct, byte-compatible with the
reference's generated ``DeadLetter`` class
(``error-handling-avro/src/main/avro/DeadLetter.avsc``).

``to_avro_dead_letter`` uses the JVM ``to_avro(struct, DEAD_LETTER_AVSC)``
whenever the spark-avro module is loaded (probed once per session: the
import alone succeeds without the jar), with no Python in the hot path, the
reference's ``AvroDeadLetterConverter.java:34-49`` cost profile.  Without
the jar it runs the public Avro binary spec (zig-zag varint longs,
length-prefixed UTF-8, union branch indices): :func:`avro_flat_codec` over
the DeadLetter record flattened (``cause`` is a non-null record, so Avro
writes its fields inline) on the Arrow record path
(:func:`.wire.struct_encoder`).  Both write the same bytes: Avro binary is
fully determined by (schema, value), and the JVM path gets the struct
re-projected into .avsc field order:

    input_value?, topic?, partition?, offset?, description,
    cause{error_class?, message?, stack_trace?}, input_timestamp?(millis)

``input_timestamp`` is the instant, whatever the session time zone; a NULL
dead letter encodes to NULL.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import Column

from .wire import flat_record, from_epoch_micros, read_varint, struct_encoder, varint

__all__ = [
    "DEAD_LETTER_AVSC",
    "encode_dead_letter",
    "decode_dead_letter",
    "to_avro_dead_letter",
    "jvm_avro_available",
]

# The reference schema, reproduced for interop (schema-registry-less writers
# embed nothing; readers need this JSON).
DEAD_LETTER_AVSC = json.dumps(
    {
        "type": "record",
        "name": "DeadLetter",
        "namespace": "com.bakdata.kafka",
        "fields": [
            {"name": "input_value", "type": ["null", "string"]},
            {"name": "topic", "type": ["null", "string"], "default": None},
            {"name": "partition", "type": ["null", "int"], "default": None},
            {"name": "offset", "type": ["null", "long"], "default": None},
            {"name": "description", "type": "string"},
            {
                "name": "cause",
                "type": {
                    "type": "record",
                    "name": "ErrorDescription",
                    "fields": [
                        {"name": "error_class", "type": ["null", "string"], "default": None},
                        {"name": "message", "type": ["null", "string"]},
                        {"name": "stack_trace", "type": ["null", "string"]},
                    ],
                },
            },
            {
                "name": "input_timestamp",
                "type": ["null", {"type": "long", "logicalType": "timestamp-millis"}],
                "default": None,
            },
        ],
    }
)


def _zigzag(n: int) -> bytes:
    """Avro long: zig-zag + base-128 varint (public Avro spec)."""
    return varint((n << 1) ^ (n >> 63))


def _string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _zigzag(len(raw)) + raw


def _opt_string(s: Optional[str]) -> bytes:
    return b"\x00" if s is None else b"\x02" + _string(s)


def _opt_long(v: Optional[int]) -> bytes:
    return b"\x00" if v is None else b"\x02" + _zigzag(int(v))


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    z, pos = read_varint(buf, pos)
    return (z >> 1) ^ -(z & 1), pos


# Flat-record codec: a record of primitives like the reference's serde
# round-trip surface ``TestValue.avsc:1-29`` (three nullable strings).  The
# INPUT edge decodes real Avro payloads with it (decode failures go to the
# error branch via sources.serde.from_avro_captured); DeadLetter is one too.
_FLAT_WRITERS = {
    "string": _opt_string,
    "int": _opt_long,  # Avro int/long share the varint encoding
    "long": _opt_long,
    "required string": _string,  # plain "string", not a union with null
}


def avro_flat_codec(fields):
    """(encode, decode) for a flat record of primitives.

    ``fields`` is a list of (name, type) with type in
    {"string", "int", "long", "required string"} — every field but a
    required string is the Avro union ``["null", type]`` (the TestValue
    shape).  The decoder raises ``ValueError`` on truncated buffers, bad
    union branches, and trailing bytes — the exact failures a serde
    surfaces as SerializationException.
    """
    for _, t in fields:
        if t not in _FLAT_WRITERS:
            raise ValueError(f"unsupported flat-record field type {t!r}")
    writers = [(n, _FLAT_WRITERS[t]) for n, t in fields]

    def encode(d: dict) -> bytes:
        return b"".join([w(d.get(n)) for n, w in writers])

    def decode(buf: bytes) -> dict:
        def rd(pos, t):
            if t != "required string":
                branch, pos = _read_long(buf, pos)
                if branch == 0:
                    return None, pos
                if branch != 1:
                    raise ValueError(f"bad union branch {branch} at {pos}")
            if not t.endswith("string"):
                return _read_long(buf, pos)
            n, pos = _read_long(buf, pos)
            if n < 0 or pos + n > len(buf):
                raise ValueError("truncated string")
            return buf[pos : pos + n].decode("utf-8"), pos + n

        pos = 0
        out = {}
        try:
            for n, t in fields:
                out[n], pos = rd(pos, t)
        except IndexError as exc:
            raise ValueError("truncated record") from exc
        if pos != len(buf):
            raise ValueError(f"trailing bytes after record ({len(buf) - pos})")
        return out

    return encode, decode


# DeadLetter in .avsc order, ``cause`` inline, named the way
# wire.struct_encoder hands the struct's fields over.
_DEAD_LETTER_FIELDS = [
    ("input_value", "string"), ("topic", "string"), ("partition", "int"),
    ("offset", "long"), ("description", "required string"),
    ("cause.error_class", "string"), ("cause.message", "string"),
    ("cause.stack_trace", "string"), ("input_timestamp", "long"),
]
_CAUSE = ("error_class", "message", "stack_trace")
_encode_flat, _decode_flat = avro_flat_codec(_DEAD_LETTER_FIELDS)


def _encode(rec: dict) -> bytes:
    us = rec["input_timestamp"]
    rec["input_timestamp"] = None if us is None else us // 1000  # timestamp-millis
    return _encode_flat(rec)


def encode_dead_letter(d: dict) -> bytes:
    """dict (DEAD_LETTER_SCHEMA shape) → Avro binary, .avsc field order.
    A naive ``input_timestamp`` is read as UTC."""
    return _encode(flat_record(d))


def decode_dead_letter(buf: bytes) -> dict:
    """Inverse of :func:`encode_dead_letter` (round-trip testing /
    consumers); ``input_timestamp`` comes back as a naive UTC ``datetime``.
    Raises ``ValueError`` on a truncated buffer or trailing bytes."""
    d = _decode_flat(buf)
    d["cause"] = {k: d.pop(f"cause.{k}") for k in _CAUSE}
    ms = d["input_timestamp"]
    d["input_timestamp"] = None if ms is None else from_epoch_micros(ms * 1000)
    return d


_JVM_AVRO = {"checked": False, "ok": False}


def jvm_avro_available(spark=None) -> bool:
    """True iff the spark-avro module is loaded in this session.

    ``from pyspark.sql.avro.functions import to_avro`` succeeds even
    without the jar (the column builds lazily and only analysis raises
    ``AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE``), so the probe forces a
    one-row analysis once and caches the answer."""
    if _JVM_AVRO["checked"]:
        return _JVM_AVRO["ok"]
    _JVM_AVRO["checked"] = True
    try:
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        from pyspark.sql.avro.functions import to_avro as _probe_to_avro

        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            return False
        probe = spark.range(1).select(
            _probe_to_avro(F.struct(F.lit("x").alias("a")))
        )
        probe.schema  # eager analysis; raises if the avro source is absent
        _JVM_AVRO["ok"] = True
    except Exception:  # noqa: BLE001 - any failure means "use the fallback"
        _JVM_AVRO["ok"] = False
    return _JVM_AVRO["ok"]


def _avsc_ordered(dead_letter: Column) -> Column:
    """Re-project the engine's dead-letter struct into exact .avsc field
    order (the engine struct leads with description/cause for readability;
    Avro binary encoding is positional)."""
    from pyspark.sql import functions as F

    cause = F.struct(*[dead_letter["cause"][n].alias(n) for n in _CAUSE])
    top = dict.fromkeys(n.split(".")[0] for n, _ in _DEAD_LETTER_FIELDS)
    return F.struct(*[(cause if n == "cause" else dead_letter[n]).alias(n) for n in top])


def to_avro_dead_letter(dead_letter: Column) -> Column:
    """Column converter: dead-letter struct → Avro binary bytes
    (the ``AvroDeadLetterConverter`` analog, ``AvroDeadLetterConverter.java:34-49``).

    Uses the built-in JVM ``to_avro`` when the spark-avro module is loaded
    (:func:`jvm_avro_available`), the spec encoder otherwise."""
    if jvm_avro_available():
        from pyspark.sql.avro.functions import to_avro as _jvm_to_avro

        return _jvm_to_avro(_avsc_ordered(dead_letter), DEAD_LETTER_AVSC)
    return struct_encoder(_encode)(dead_letter)
