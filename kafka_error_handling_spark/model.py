"""Core data model for the PySpark error-handling engine.

Re-expresses the reference's algebraic sum types as nullable Spark SQL
columns (SURVEY.md §1.3):

- ``ProcessedValue<V, VR>``  (reference ``ProcessedValue.java:35-52``,
  ``SuccessValue.java:34-53``, ``ErrorValue.java:35-55``) becomes one row
  with two nullable columns: ``result`` (the wrapped function's output)
  and ``error`` (:data:`ERROR_SCHEMA` struct) — exactly one is non-null.
- ``ProcessingError<V>`` (reference ``ProcessingError.java:43-47``)
  becomes the ``error`` struct carrying the rendered input value, the
  exception class name, message, and a full Python traceback (the
  analog of commons-lang ``ExceptionUtils.getStackTrace`` used at
  ``DeadLetterProcessor.java:96``).
- ``DeadLetterDescription`` (reference ``DeadLetterDescription.java:39-60``)
  becomes :data:`DEAD_LETTER_SCHEMA`, byte-compatible field-for-field with
  the reference's Avro schema (``error-handling-avro/src/main/avro/DeadLetter.avsc``)
  and proto3 schema (``error-handling-proto/src/main/proto/.../deadletter.proto``).

Everything here is pure schema + small helpers; no SparkSession needed.
"""

from __future__ import annotations

import traceback
from typing import Any, Callable, Optional

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "ERROR_SCHEMA",
    "DEAD_LETTER_SCHEMA",
    "ProcessingException",
    "RecordTooLargeError",
    "ResultTypeError",
    "is_recoverable",
    "render_value",
    "error_payload",
    "processed_schema",
]

# ``ProcessingError<V>`` rendered as a Spark struct.  ``input_value`` is the
# string rendering of the failing input (reference ``ErrorUtil.toString``,
# ``ErrorUtil.java:102-169``); the throwable is decomposed into class name,
# message, and stack trace (reference ``DeadLetterDescription.Cause``,
# ``DeadLetterDescription.java:47-51``).
ERROR_SCHEMA = StructType(
    [
        StructField("input_value", StringType(), True),
        StructField("error_class", StringType(), True),
        StructField("message", StringType(), True),
        StructField("stack_trace", StringType(), True),
    ]
)

# ``DeadLetterDescription`` (reference ``DeadLetterDescription.java:39-60``):
# description is required; everything else nullable.  Field names mirror the
# Avro schema ``DeadLetter.avsc`` so ``to_avro``-style converters are a pure
# projection.
DEAD_LETTER_SCHEMA = StructType(
    [
        StructField("description", StringType(), False),
        StructField(
            "cause",
            StructType(
                [
                    StructField("message", StringType(), True),
                    StructField("stack_trace", StringType(), True),
                    StructField("error_class", StringType(), True),
                ]
            ),
            False,
        ),
        StructField("input_value", StringType(), True),
        StructField("topic", StringType(), True),
        StructField("partition", IntegerType(), True),
        StructField("offset", LongType(), True),
        StructField("input_timestamp", TimestampType(), True),
    ]
)


def _render_for_message(value: Any) -> str:
    """Message-template rendering only: Python ``None`` renders as ``null``
    like Java's ``Objects.toString(null)`` (``ErrorUtil.java:102-169``) —
    dead-letter *fields* keep SQL NULL via :func:`render_value`."""
    rendered = render_value(value)
    return "null" if rendered is None else rendered


class ProcessingException(RuntimeError):
    """Enriched rethrow wrapper (reference ``ProcessingException.java:30-39``).

    Message contract matches the reference exactly:
    ``Cannot process <value>`` for value-only shapes and
    ``Cannot process ('<key>', '<value>')`` for key-value shapes;
    null inputs render as ``null``, Java-style.
    """

    @classmethod
    def for_value(cls, value: Any, cause: BaseException) -> "ProcessingException":
        exc = cls(f"Cannot process {_render_for_message(value)}")
        exc.__cause__ = cause
        return exc

    @classmethod
    def for_key_value(
        cls, key: Any, value: Any, cause: BaseException
    ) -> "ProcessingException":
        exc = cls(
            "Cannot process "
            f"('{_render_for_message(key)}', '{_render_for_message(value)}')"
        )
        exc.__cause__ = cause
        return exc


class RecordTooLargeError(ValueError):
    """Analog of Kafka's ``RecordTooLargeException`` — message-specific,
    so NOT recoverable even though it originates in the transport layer
    (reference ``ErrorUtil.java:72-92`` excludes it from the recoverable set).
    """


class ResultTypeError(TypeError):
    """A wrapped function returned a value that does not convert to the
    declared result type (a ``str`` for an ``int`` column, ``2**40`` for
    ``int``, ``1.5`` for ``bigint``).  Raised by the record loop for that one
    record and handled exactly like an exception from the function; a data
    error, so not recoverable.
    """


# Exception types considered transient infrastructure failures.  The
# reference classifies an exception as recoverable iff its class lives in
# ``org.apache.kafka.common.errors`` / ``org.apache.kafka.streams.errors``
# except ``RecordTooLargeException`` (``ErrorUtil.java:54-59,72-92``): crash
# and let the execution environment retry the offset.  The Python analog:
# OS/network/timeout errors are retryable; data-shaped errors are not.
_RECOVERABLE_TYPES = (
    ConnectionError,
    TimeoutError,
    InterruptedError,
    BrokenPipeError,
)
_RECOVERABLE_MODULE_PREFIXES = ("kafka.", "confluent_kafka")


def is_recoverable(exc: BaseException) -> bool:
    """Default error filter (reference ``ErrorUtil.isRecoverable``,
    ``ErrorUtil.java:54-59``): recoverable exceptions are *rethrown* so the
    task retries / the query restarts from the checkpoint; everything else
    is captured into the error branch.
    """
    if isinstance(exc, RecordTooLargeError):
        return False
    if isinstance(exc, _RECOVERABLE_TYPES):
        return True
    module = type(exc).__module__ or ""
    return module.startswith(_RECOVERABLE_MODULE_PREFIXES)


def render_value(value: Any) -> Optional[str]:
    """Render an input value for dead letters (reference
    ``ErrorUtil.toString``, ``ErrorUtil.java:102-169``): structured records
    are rendered as JSON by the caller before reaching here (Spark side uses
    ``to_json``); plain objects use ``str``; ``None`` renders as ``"null"``
    to match Java's ``Objects.toString(null)`` contract only inside message
    templates — as a standalone dead-letter field it stays NULL.
    """
    if value is None:
        return None
    return str(value)


# Frame-text cache for stack-trace rendering, keyed by the raise site
# ((filename, function, lineno) per frame): the frame portion of a trace
# is a pure function of the code path, and a hot capture loop hitting the
# same raise site thousands of times per batch was spending ~50 µs/error
# re-formatting identical text (measured: the whole capture-vs-plain body
# delta at a 1% error rate).  Only the exception-only tail (class +
# message) varies per record.  Chained exceptions (__cause__/__context__)
# fall back to the full renderer — their text interleaves multiple traces.
_TB_CACHE: dict = {}
_TB_CACHE_MAX = 1024


def _stack_trace(exc: BaseException) -> str:
    if exc.__cause__ is not None or exc.__context__ is not None:
        return "".join(traceback.format_exception(type(exc), exc, exc.__traceback__))
    tb = exc.__traceback__
    if tb is None:
        return "".join(traceback.format_exception_only(type(exc), exc))
    sig = []
    t = tb
    while t is not None:
        code = t.tb_frame.f_code
        # tb_lasti (instruction offset) must be part of the key: on
        # Python 3.11+ two raise sites on the SAME line render different
        # fine-grained ~^~ caret anchors — a (file, fn, lineno)-only key
        # replays the first site's carets for the second (round-4 review,
        # reproduced live)
        sig.append((code.co_filename, code.co_name, t.tb_lineno, t.tb_lasti))
        t = t.tb_next
    key = tuple(sig)
    frames = _TB_CACHE.get(key)
    if frames is None:
        frames = "".join(traceback.format_tb(tb))
        if len(_TB_CACHE) < _TB_CACHE_MAX:
            _TB_CACHE[key] = frames
    return (
        "Traceback (most recent call last):\n"
        + frames
        + "".join(traceback.format_exception_only(type(exc), exc))
    )


def error_payload(value: Any, exc: BaseException) -> dict:
    """Build the :data:`ERROR_SCHEMA` dict for a captured exception."""
    return {
        "input_value": render_value(value),
        "error_class": type(exc).__name__,
        "message": str(exc) or None,
        "stack_trace": _stack_trace(exc),
    }


def processed_schema(result_type) -> StructType:
    """Schema of the ``ProcessedValue`` analog: ``struct<result, error>``."""
    return StructType(
        [
            StructField("result", result_type, True),
            StructField("error", ERROR_SCHEMA, True),
        ]
    )


ErrorFilter = Callable[[BaseException], bool]
