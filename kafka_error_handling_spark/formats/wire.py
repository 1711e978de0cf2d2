"""Pieces the Avro and proto dead-letter encoders share: base-128 varints,
epoch-microsecond timestamps, and the struct-column encoder.

The column encoder runs on the Arrow record path, like the capture loop in
``operators/capture.py``: an ``arrow_udf`` reads the struct's child columns
directly, so there is no pandas and no null sentinel.  A timestamp child
is cast to int64 epoch microseconds, which is the instant whatever the
session time zone, and an order of magnitude cheaper to read than
``to_pylist()`` of tz-aware timestamps.  A NULL struct encodes to NULL.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Callable, Iterator

import pyarrow as pa

from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BinaryType

_BYTE = [bytes([b]) for b in range(0x80)]
_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)


def varint(n: int) -> bytes:
    """Base-128 varint of a non-negative int, low group first."""
    if n < 0x80:
        return _BYTE[n]
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Inverse of :func:`varint` at ``pos`` → ``(value, next pos)``;
    ``IndexError`` when ``buf`` ends inside it."""
    shift = acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7


def from_epoch_micros(us: int) -> datetime:
    """Naive UTC ``datetime`` (equal to the naive ``pd.Timestamp`` of the
    same instant)."""
    return _EPOCH + us * _US


def flat_record(d: dict) -> dict:
    """A dead-letter dict (``DEAD_LETTER_SCHEMA`` shape) in the shape
    :func:`struct_encoder` hands records over: ``cause`` fields dotted,
    ``input_timestamp`` in epoch microseconds.  The timestamp may be a
    ``datetime`` (``pd.Timestamp`` included) or an ISO-8601 string; a naive
    one is read as UTC."""
    out = {k: v for k, v in d.items() if k != "cause"}
    out.update((f"cause.{k}", v) for k, v in (d.get("cause") or {}).items())
    ts = d.get("input_timestamp")
    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    if ts is not None and ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    out["input_timestamp"] = None if ts is None else (ts - _EPOCH) // _US
    return out


def _leaves(structs: pa.Array, prefix: str = "") -> Iterator[tuple[str, list]]:
    for f in structs.type:
        col = structs.field(f.name)
        if pa.types.is_struct(f.type):
            yield from _leaves(col, f"{prefix}{f.name}.")
            continue
        if pa.types.is_timestamp(f.type):
            col = col.cast(pa.int64())
        yield prefix + f.name, col.to_pylist()


def struct_encoder(encode: Callable[[dict], bytes]) -> Callable[[Column], Column]:
    """Struct column → binary column: ``encode(record)`` per non-NULL row.

    ``record`` is a flat dict of the struct's leaf fields, nested ones
    named with dots (``"cause.message"``); a SQL NULL is ``None`` and a
    timestamp is int epoch microseconds."""

    @arrow_udf(BinaryType())
    def _encode(structs: pa.Array) -> pa.Array:
        names, cols = zip(*_leaves(structs))
        recs = (dict(zip(names, row)) for row in zip(*cols))
        valid = structs.is_valid().to_pylist()
        return pa.array([encode(r) if ok else None for ok, r in zip(valid, recs)], pa.binary())

    return _encode
