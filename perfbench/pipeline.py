"""The captured pipeline the streaming workload runs, and the per-record
outcome check against the generator's ground truth.

Each call into a package layer sits in its own span, so the traced run can
attribute time per layer; untraced, the spans and boundaries are no-ops.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from kafka_error_handling_spark import (
    capture_map_values,
    capture_process_values,
    dead_letters,
)
from kafka_error_handling_spark.formats.avro_format import decode_dead_letter
from kafka_error_handling_spark.formats.registry import (
    to_avro_dead_letter_framed,
    unframe_confluent,
)

from . import gen

SCHEMA_ID = 1
DESCRIPTION = "price_total failed"


def _process(rec: dict) -> list:
    return [gen.price_total(rec["value"])]


def capture(df, decorator: str, tracer):
    """``df`` through one capture decorator -> frame with struct column
    ``r = struct<result, error>``."""
    with tracer.span(f"operators.{decorator}"):
        if decorator == "capture_map_values":
            out = capture_map_values(df, gen.price_total, LongType(), value_col="value")
        else:
            p = capture_process_values(df, _process, LongType(), input_value_col="value")
            out = p.select(
                *[c for c in p.columns if c not in ("result", "error")],
                F.struct("result", "error").alias("r"),
            )
        return tracer.boundary(out)


def dead_letter_queue(err, tracer):
    """Error branch -> (key, Confluent-framed Avro dead letter)."""
    with tracer.span("functions.dead_letters"):
        dl = tracer.boundary(dead_letters(
            err, DESCRIPTION, key_cols=["key"], topic_col="topic",
            partition_col="partition", offset_col="offset",
            timestamp_col="timestamp",
        ))
    with tracer.span("formats.avro_encode"):
        return tracer.boundary(dl.select(
            "key",
            to_avro_dead_letter_framed(F.col("dead_letter"), schema_id=SCHEMA_ID).alias("value"),
        ))


def decode_dlq(dlq) -> list:
    """[(key, error_class)] read back from the framed Avro dead letters."""
    out = []
    for row in dlq.toArrow().to_pylist():
        schema_id, payload = unframe_confluent(row["value"])
        d = decode_dead_letter(payload)
        ok = schema_id == SCHEMA_ID and d["description"] == DESCRIPTION
        out.append((row["key"], d["cause"]["error_class"] if ok else None))
    return out


def count_failed(truth: dict, keys: list, ok_rows: list, err_rows: list) -> int:
    """Records among ``keys`` that are lost, duplicated, on the wrong branch,
    carry a wrong ``error_class`` or a wrong result; output rows whose key is
    not among ``keys`` count too."""
    expected = set(keys)
    seen = Counter()
    bad = set()
    for k, res in ok_rows:
        seen[k] += 1
        kind, want = truth.get(k, (None, None))
        if k not in expected or kind != "ok" or res != want:
            bad.add(k)
    for k, cls in err_rows:
        seen[k] += 1
        kind, _ = truth.get(k, (None, None))
        if k not in expected or gen.ERROR_CLASS.get(kind) != cls:
            bad.add(k)
    bad.update(k for k in expected if seen[k] != 1)
    return len(bad)


def error_payload_bytes(err) -> tuple:
    """(error rows, summed bytes of input_value + message + stack_trace)."""
    e = F.col("error")
    size = sum(
        F.coalesce(F.octet_length(e[f]), F.lit(0))
        for f in ("input_value", "message", "stack_trace")
    )
    row = err.agg(F.count("*").alias("n"), F.sum(size).alias("b")).first()
    return int(row["n"]), int(row["b"] or 0)


def dlq_bytes(dlq) -> int:
    return int(dlq.agg(F.sum(F.octet_length("value"))).first()[0] or 0)
