"""Confluent schema-registry wire framing for dead-letter payloads.

The reference's serde round-trip tests run against a (mock) schema
registry (``AvroDeadLetterProcessorTest.java:61-120`` — ``mock://``
``SpecificAvroSerde``): the bytes a registry-aware consumer reads are NOT
bare Avro/proto record bytes but the Confluent wire format::

    byte 0      magic byte, always 0x00
    bytes 1-4   schema id, big-endian int32
    [proto only] message-indexes varint list — a single 0x00 byte for the
                first message in the file (the common case, and ours)
    bytes 5..   the record payload (Avro binary / proto wire bytes)

This module adds that framing around the existing converters as pure
column expressions (``concat`` of a binary literal — no UDF, codegen'd),
plus an in-memory :class:`SchemaRegistryStub` that mirrors the subject →
id behavior of the reference's ``mock://`` registry for tests and
air-gapped deployments.  Against a real registry, register the schema out
of band and pass the returned id — the frame bytes are identical.
"""

from __future__ import annotations

import struct
from typing import Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "CONFLUENT_MAGIC",
    "SchemaRegistryStub",
    "frame_confluent",
    "unframe_confluent",
    "schema_id_col",
    "payload_col",
    "to_avro_dead_letter_framed",
    "to_proto_dead_letter_framed",
]

CONFLUENT_MAGIC = 0x00


class SchemaRegistryStub:
    """Minimal in-memory registry: subject → (id, schema string).

    Mirrors what the reference's tests get from ``mock://`` registries —
    monotonically increasing ids per new schema, idempotent registration
    of an identical schema under the same subject."""

    def __init__(self) -> None:
        self._by_subject: dict[str, list[tuple[int, str]]] = {}
        self._by_id: dict[int, str] = {}
        self._next = 1

    def register(self, subject: str, schema: str) -> int:
        versions = self._by_subject.setdefault(subject, [])
        for sid, s in versions:
            if s == schema:
                return sid
        sid = self._next
        self._next += 1
        versions.append((sid, schema))
        self._by_id[sid] = schema
        return sid

    def get_by_id(self, schema_id: int) -> str:
        return self._by_id[schema_id]

    def latest(self, subject: str) -> Tuple[int, str]:
        return self._by_subject[subject][-1]


def _frame_prefix(schema_id: int, message_indexes: bool = False) -> bytes:
    if not 0 <= schema_id <= 0x7FFFFFFF:
        raise ValueError(f"schema id out of int32 range: {schema_id}")
    head = struct.pack(">bI", CONFLUENT_MAGIC, schema_id)
    # proto framing carries the message-indexes list; [0] encodes as 0x00
    return head + b"\x00" if message_indexes else head


def frame_confluent(
    payload: Column, schema_id: int, message_indexes: bool = False
) -> Column:
    """``payload`` (binary column) → Confluent-framed bytes — one codegen'd
    ``concat`` with a 5- (Avro) or 6-byte (proto) literal prefix."""
    return F.concat(F.lit(_frame_prefix(schema_id, message_indexes)), payload)


def unframe_confluent(buf: bytes, message_indexes: bool = False) -> Tuple[int, bytes]:
    """Python-side consumer helper: framed bytes → (schema_id, payload).

    Raises ``ValueError`` on a wrong magic byte — the signal a consumer
    sees when someone wrote bare record bytes to a registry-framed topic."""
    if not buf or buf[0] != CONFLUENT_MAGIC:
        raise ValueError(
            f"not Confluent-framed: magic byte {buf[0] if buf else None!r}"
        )
    if len(buf) < 5:
        # struct.unpack would raise struct.error (class name 'error'),
        # breaking the documented ValueError contract consumers dispatch on
        raise ValueError(f"truncated frame: {len(buf)} bytes")
    (schema_id,) = struct.unpack(">I", buf[1:5])
    body = buf[5:]
    if message_indexes:
        # only the single-0x00 ("first message") index list is produced by
        # frame_confluent; accept exactly that on the way back in
        if not body or body[0] != 0x00:
            raise ValueError("unsupported proto message-index list")
        body = body[1:]
    return schema_id, body


def schema_id_col(framed: Column) -> Column:
    """Schema id of a framed binary column, JVM-side (consumer dispatch)."""
    return F.conv(F.hex(F.substring(framed, 2, 4)), 16, 10).cast("int")


def payload_col(framed: Column, message_indexes: bool = False) -> Column:
    """Payload bytes of a framed binary column, JVM-side."""
    start = 7 if message_indexes else 6
    return F.substring(framed, start, 2_147_483_647)


def to_avro_dead_letter_framed(
    dead_letter: Column,
    registry: Optional[SchemaRegistryStub] = None,
    subject: str = "dead-letter-value",
    schema_id: Optional[int] = None,
) -> Column:
    """Registry-framed Avro dead letter (what a ``SpecificAvroSerde``
    consumer with the same registry reads back).

    Either pass an explicit ``schema_id`` (real registry, registered out
    of band) or a :class:`SchemaRegistryStub` — the DeadLetter .avsc is
    registered under ``subject`` and the assigned id is framed in."""
    from .avro_format import DEAD_LETTER_AVSC, to_avro_dead_letter

    if schema_id is None:
        if registry is None:
            raise ValueError("pass either registry or schema_id")
        schema_id = registry.register(subject, DEAD_LETTER_AVSC)
    return frame_confluent(to_avro_dead_letter(dead_letter), schema_id)


def to_proto_dead_letter_framed(
    dead_letter: Column,
    registry: Optional[SchemaRegistryStub] = None,
    subject: str = "dead-letter-value",
    schema_id: Optional[int] = None,
    desc_file_path: Optional[str] = None,
) -> Column:
    """Registry-framed proto dead letter (Confluent proto wire format,
    message-indexes = [0] for the first message in the file)."""
    from .proto_format import PROTO_DEAD_LETTER_SCHEMA, to_proto_dead_letter

    if schema_id is None:
        if registry is None:
            raise ValueError("pass either registry or schema_id")
        schema_id = registry.register(subject, PROTO_DEAD_LETTER_SCHEMA)
    return frame_confluent(
        to_proto_dead_letter(dead_letter, desc_file_path=desc_file_path),
        schema_id,
        message_indexes=True,
    )
