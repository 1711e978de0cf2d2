"""Error-capturing decorators — route per-record failures to an error branch.

Spark-native re-expression of the reference's ``captureErrors`` family
(SURVEY.md §2.1; reference ``ErrorCapturingKeyValueMapper.java:94-107``,
``ErrorCapturingValueMapper.java:86-95``, ``ErrorCapturingFlatValueMapper.java:89-98``,
``ErrorCapturingProcessor.java:164-176``).

Shared semantics, identical to the reference:

- call the wrapped function once per record;
- on success, emit the result with a NULL ``error`` column;
- on ``Exception e``: if ``error_filter(e)`` is true (default
  :func:`~kafka_error_handling_spark.model.is_recoverable`) **re-raise** —
  the Spark task fails and retries, preserving the reference's
  crash-and-retry-at-least-once contract (``ErrorCapturingValueMapper.java:57-60``);
  otherwise emit a NULL result with a populated ``error`` struct;
- exceptions that are not ``Exception`` (``KeyboardInterrupt``,
  ``SystemExit``, … — the Python analog of Java ``Error``/``Throwable``)
  are never caught (``ErrorCapturingKeyValueMapperTopologyTest.java:117-125``);
- a result that does not convert to the declared result type is handled
  exactly like an exception from the wrapped function, as a
  :class:`~kafka_error_handling_spark.model.ResultTypeError` (in Java the
  mapper's generic types make such a result impossible).

Architecture notes (scale):

- Capture, log and describe share one record loop over Arrow batches, with
  no pandas in between: column shapes run it in a nondeterministic
  ``arrow_udf`` (``ArrowEvalPython``), processor shapes in ``mapInArrow``.
  Inputs are read with ``to_pylist()``, so SQL NULL reaches the function as
  ``None`` and a NaN double as NaN, at every type.
- Results convert to Arrow in one ``pa.array(results, type)`` call.  Only
  when that raises does the loop convert row by row, so one wrong-typed
  result costs one error row, not the task, and the healthy path pays
  nothing.  Floats bound for integral fields are checked first: pyarrow
  would truncate them silently.
- Processor pass-through columns never leave Arrow: the output batch is the
  input's ``take(row_index)`` plus the result and error columns.
- Capture UDFs are marked ``asNondeterministic()`` so Catalyst never
  duplicates them into both the success and the error branch — the wrapped
  function must run exactly once per record (SURVEY.md §4).
- Splitting success/error is two cheap JVM-side ``filter`` + ``select``
  projections of one DataFrame; in streaming, pair with
  ``streaming.runner.run_captured`` (single ``foreachBatch`` + persist).
"""

from __future__ import annotations

import reprlib
from numbers import Integral, Number
from operator import itemgetter
from typing import Any, Callable, Iterable, Optional, Sequence, Union

import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegralType,
    MapType,
    StructField,
    StructType,
)

from ..model import (
    ERROR_SCHEMA,
    ErrorFilter,
    ResultTypeError,
    error_payload,
    is_recoverable,
    processed_schema,
)

__all__ = [
    "capture_udf",
    "capture_map_values",
    "capture_map_values_with_key",
    "capture_map",
    "capture_flat_map_values",
    "capture_flat_map_values_with_key",
    "capture_flat_map",
    "capture_process",
    "capture_process_values",
    "values",
    "errors",
    "kv_struct_type",
]

# Column names used for the ProcessedValue analog.
RESULT_COL = "result"
ERROR_COL = "error"

_ERROR_ARROW = to_arrow_type(ERROR_SCHEMA)
_CONVERT_ERRORS = (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError)


def _drop_payload(exc: Exception) -> dict:
    """Minimal error payload for the log-and-drop path: the error row is
    filtered out immediately, so skip the (expensive) traceback rendering
    (a fresh dict per call — rows must not alias one mutable payload)."""
    return {
        "input_value": None,
        "error_class": type(exc).__name__,
        "message": None,
        "stack_trace": None,
    }


def _pylist(col: pa.Array) -> list:
    """One Arrow column as Python values.  Maps become dicts, as in a Spark
    ``Row`` (pyarrow lists them as key/value tuples)."""
    vals = col.to_pylist()
    if pa.types.is_map(col.type):
        return [None if v is None else dict(v) for v in vals]
    return vals


def _records(batch: pa.RecordBatch) -> list:
    """One Arrow batch as row dicts, column name → value."""
    names = batch.schema.names
    return [dict(zip(names, row)) for row in zip(*map(_pylist, batch.columns))]


def _non_integral(v: Any) -> bool:
    """A number pyarrow would truncate into an integral type (``1.5`` → ``1``)."""
    if type(v) is int or not isinstance(v, Number) or isinstance(v, Integral):
        return False
    try:
        return v != int(v)
    except (TypeError, ValueError, OverflowError):
        return False  # NaN, inf, complex: pyarrow rejects these itself


def _truncated(t: DataType) -> Optional[Callable[[Any], bool]]:
    """Predicate for results pyarrow would convert into ``t`` with silent
    loss: a non-integral number where ``t`` has an integral type, at any
    depth (``pa.array([1.5], pa.int64())`` is ``[1]``).  None when ``t`` has
    no integral part."""
    if isinstance(t, IntegralType):
        return _non_integral
    if isinstance(t, ArrayType):
        el = _truncated(t.elementType)
        return el and (lambda v: isinstance(v, (list, tuple)) and any(map(el, v)))
    if isinstance(t, MapType):
        k, w = _truncated(t.keyType), _truncated(t.valueType)
        if not (k or w):
            return None
        return lambda v: isinstance(v, dict) and any(
            (k and k(a)) or (w and w(b)) for a, b in v.items()
        )
    if isinstance(t, StructType):
        fs = [(i, f.name, p) for i, f in enumerate(t.fields) if (p := _truncated(f.dataType))]
        if not fs:
            return None
        return lambda v: any(
            p(v.get(n)) if isinstance(v, dict) else isinstance(v, tuple) and i < len(v) and p(v[i])
            for i, n, p in fs
        )
    return None


class _RecordLoop:
    """The per-record wrapper every family runs, one Arrow batch at a time.

    Each record (a tuple of arguments) goes through ``fn`` exactly once —
    through ``wrap``, the log or describe layer, when given.  An
    ``Exception`` becomes an error row whose ``input_value`` is
    ``value(args)``, or propagates when ``error_filter`` says so.  A result
    that does not convert to ``result_type`` is handled the same way, as a
    :class:`ResultTypeError` that is first raised through the same ``wrap``
    instance (without calling ``fn`` again), so log and describe see it like
    an exception from ``fn``.  With ``forwards``, ``fn`` returns 0..n results
    per record (processor shapes), drained inside the call so that a
    generator failing halfway is a failure of its record; otherwise exactly
    one result.
    """

    def __init__(self, fn, result_type, error_filter, full_payload=True, wrap=None,
                 forwards=False, value=itemgetter(-1)):
        if not callable(fn):
            # build-time contract: the reference throws NPE from the factory
            # on null args (ErrorCapturingKeyValueMapperTopologyTest.java:79-91)
            raise TypeError(f"wrapped function must be callable, got {type(fn).__name__}")
        if isinstance(result_type, str):
            result_type = DataType.fromDDL(result_type)
        self.fn = _as_list(fn) if forwards else fn
        self.forwards, self.value = forwards, value
        self.flt = error_filter or is_recoverable
        self.full_payload = full_payload
        self.result_type = result_type
        self.arrow_type = to_arrow_type(result_type)
        self.truncated = _truncated(result_type)
        self.pending = []
        self.call = wrap(self._run) if wrap is not None else self.fn

    def _run(self, *args):
        if self.pending:
            raise self.pending.pop()
        return self.fn(*args)

    def _fail(self, exc: Exception, args: tuple) -> dict:
        if self.flt(exc):
            raise exc
        if self.full_payload:
            return error_payload(self.value(args), exc)
        return _drop_payload(exc)

    def _reject(self, exc: ResultTypeError, args: tuple) -> dict:
        if self.call is not self.fn:
            self.pending.append(exc)
            try:
                self.call(*args)
            except Exception as replayed:  # noqa: BLE001
                exc = replayed
            self.pending.clear()
        return self._fail(exc, args)

    def _why_not(self, r: Any) -> Optional[str]:
        if self.truncated is not None and self.truncated(r):
            return "pyarrow would truncate it"
        try:
            pa.array([r], self.arrow_type)
        except _CONVERT_ERRORS as exc:
            return str(exc)
        return None

    def run(self, records: list) -> tuple:
        """``records`` → ``(take, result array, error array)``; output row
        ``j`` belongs to record ``take[j]``."""
        call, fail, forwards = self.call, self._fail, self.forwards
        take, results, errs = [], [], []
        for i, args in enumerate(records):
            try:
                out = call(*args)
            except Exception as exc:  # noqa: BLE001 — Throwables pass through untouched
                take.append(i)
                results.append(None)
                errs.append(fail(exc, args))
                continue
            for r in (out or ()) if forwards else (out,):
                take.append(i)
                results.append(r)
                errs.append(None)
        try:
            if self.truncated is None or not any(map(self.truncated, results)):
                return take, pa.array(results, self.arrow_type), pa.array(errs, _ERROR_ARROW)
        except _CONVERT_ERRORS:
            pass
        # row by row: a record with a result that does not convert keeps one
        # row, its error row, in place of its first result
        failed = {}
        for i, r, e in zip(take, results, errs):
            why = None if e is not None or i in failed else self._why_not(r)
            if why is not None:
                failed[i] = ResultTypeError(
                    f"{type(r).__name__} result {reprlib.repr(r)} does not convert "
                    f"to {self.result_type.simpleString()}: {why}"
                )
        rows = []
        for i, r, e in zip(take, results, errs):
            exc = failed.get(i)
            if exc is None:
                rows.append((i, r, e))
            elif exc is not True:
                rows.append((i, None, self._reject(exc, records[i])))
                failed[i] = True
        take, results, errs = (list(c) for c in zip(*rows)) if rows else ([], [], [])
        return take, pa.array(results, self.arrow_type), pa.array(errs, _ERROR_ARROW)


def _column_udf(loop: _RecordLoop):
    @arrow_udf(processed_schema(loop.result_type))
    def _capture(*cols: pa.Array) -> pa.Array:
        _, res, err = loop.run(list(zip(*map(_pylist, cols))))
        return pa.StructArray.from_arrays([res, err], names=[RESULT_COL, ERROR_COL])

    return _capture.asNondeterministic()


def capture_udf(
    fn: Callable[..., Any],
    result_type: Union[DataType, str],
    error_filter: Optional[ErrorFilter] = None,
    full_payload: bool = True,
):
    """Column-level capture primitive.

    Returns a nondeterministic Arrow UDF mapping any number of input columns
    to ``struct<result: result_type, error: ERROR_SCHEMA>``.  The rendered
    ``input_value`` in the error payload is the *last* argument (the value;
    key-value shapes pass ``(key, value)``), matching the reference where
    ``ProcessingError`` carries the input value (``ProcessingError.java:43-47``).
    """
    return _column_udf(_RecordLoop(fn, result_type, error_filter, full_payload))


def _apply_capture(
    df: DataFrame,
    fn: Callable[..., Any],
    result_type: DataType,
    in_cols: Sequence[Union[str, Column]],
    error_filter: Optional[ErrorFilter],
    processed_col: str,
    full_payload: bool = True,
    wrap: Optional[Callable[[Callable], Callable]] = None,
) -> DataFrame:
    udf = _column_udf(_RecordLoop(fn, result_type, error_filter, full_payload, wrap))
    cols = [F.col(c) if isinstance(c, str) else c for c in in_cols]
    return df.withColumn(processed_col, udf(*cols))


def kv_struct_type(key_type: DataType, value_type: DataType) -> StructType:
    """Result type for key-changing shapes: ``struct<key, value>``."""
    return StructType(
        [StructField("key", key_type, True), StructField("value", value_type, True)]
    )


def _as_list(fn: Callable[..., Any]) -> Callable[..., Any]:
    """``fn(...) -> iterable`` as an array result (None stays None).  A
    ``(key, value)`` pair converts to a ``struct<key, value>`` as it is."""

    def _flat(*args):
        out = fn(*args)
        return None if out is None else list(out)

    return _flat


# ---------------------------------------------------------------------------
# DataFrame-level decorator matrix (SURVEY.md §2.1 table)
# ---------------------------------------------------------------------------


def capture_map_values(
    df: DataFrame,
    fn: Callable[[Any], Any],
    result_type: DataType,
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
    full_payload: bool = True,
) -> DataFrame:
    """``ErrorCapturingValueMapper.captureErrors`` (``ErrorCapturingValueMapper.java:57,86-95``).

    Adds ``processed_col = struct<result, error>``; the key (all other
    columns) is untouched.  Split with :func:`values` / :func:`errors`.
    """
    return _apply_capture(
        df, fn, result_type, [value_col], error_filter, processed_col, full_payload
    )


def capture_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    result_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
    full_payload: bool = True,
) -> DataFrame:
    """``ErrorCapturingValueMapperWithKey`` (``ErrorCapturingValueMapperWithKey.java:60,90-99``).

    ``fn(key, value)``; the key column is read-only and still untouched in
    the output.
    """
    return _apply_capture(
        df, fn, result_type, [key_col, value_col], error_filter, processed_col, full_payload
    )


def capture_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    key_type: DataType,
    value_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
    full_payload: bool = True,
) -> DataFrame:
    """``ErrorCapturingKeyValueMapper.captureErrors`` (``ErrorCapturingKeyValueMapper.java:63,94-107``).

    ``fn(key, value) -> (new_key, new_value)``.  On success the result struct
    carries the new key+value; on error the new key is NULL and the *old*
    key survives as the original ``key_col`` column ("new key is only
    relevant if no error occurs", ``ErrorCapturingKeyValueMapper.java:103-105``).
    """
    return _apply_capture(
        df,
        fn,
        kv_struct_type(key_type, value_type),
        [key_col, value_col],
        error_filter,
        processed_col,
        full_payload,
    )


def capture_flat_map_values(
    df: DataFrame,
    fn: Callable[[Any], Iterable[Any]],
    element_type: DataType,
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
    full_payload: bool = True,
) -> DataFrame:
    """``ErrorCapturingFlatValueMapper`` (``ErrorCapturingFlatValueMapper.java:60,89-98``).

    ``fn(value) -> iterable``; result column is ``array<element_type>``.
    :func:`values` explodes it (``explode_outer`` never drops error rows
    because they are filtered to the other branch first).
    """
    return _apply_capture(
        df, _as_list(fn), ArrayType(element_type), [value_col], error_filter, processed_col,
        full_payload,
    )


def capture_flat_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[Any]],
    element_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
    full_payload: bool = True,
) -> DataFrame:
    """``ErrorCapturingFlatValueMapperWithKey`` (``...WithKey.java:62,92-101``)."""
    return _apply_capture(
        df,
        _as_list(fn),
        ArrayType(element_type),
        [key_col, value_col],
        error_filter,
        processed_col,
        full_payload,
    )


def capture_flat_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[Any]],
    key_type: DataType,
    value_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
    full_payload: bool = True,
) -> DataFrame:
    """``ErrorCapturingFlatKeyValueMapper`` (``ErrorCapturingFlatKeyValueMapper.java:67,102-115``).

    ``fn(key, value) -> iterable[(new_key, new_value)]``; result column is
    ``array<struct<key, value>>``.
    """
    return _apply_capture(
        df,
        _as_list(fn),
        ArrayType(kv_struct_type(key_type, value_type)),
        [key_col, value_col],
        error_filter,
        processed_col,
        full_payload,
    )


# ---------------------------------------------------------------------------
# Split projections — the consumer-side API
# (reference ``ProcessedKeyValue.getValues/getErrors``,
#  ``ProcessedKeyValue.java:64-83``; usage ``README.md:79-83``)
# ---------------------------------------------------------------------------


def values(
    df: DataFrame,
    processed_col: str = "r",
    result_alias: Optional[str] = RESULT_COL,
) -> DataFrame:
    """Success branch: rows whose ``error`` is NULL, result column surfaced.

    Array results (the ``flat_map*`` shapes) are exploded — the 0-or-1 /
    0-or-n element contract of ``SuccessValue.getValues``
    (``SuccessValue.java:48-52``).
    """
    r = F.col(processed_col)
    out = df.filter(r[ERROR_COL].isNull())
    result = r[RESULT_COL]
    field = dict(zip(df.schema[processed_col].dataType.names, df.schema[processed_col].dataType.fields))
    rt = field[RESULT_COL].dataType
    if isinstance(rt, ArrayType):
        result = F.explode(result)
    keep = [c for c in df.columns if c != processed_col]
    return out.select(*keep, result.alias(result_alias))


def errors(df: DataFrame, processed_col: str = "r") -> DataFrame:
    """Error branch: the ``ProcessingError`` struct fields next to the
    original input columns — the old key is preserved for free because Spark
    never destroys input columns (``ErrorKeyValue.java:48-51``,
    ``ProcessedKeyValue.java:64-67``).
    """
    r = F.col(processed_col)
    keep = [c for c in df.columns if c != processed_col]
    return df.filter(r[ERROR_COL].isNotNull()).select(
        *keep, r[ERROR_COL].alias(ERROR_COL)
    )


# ---------------------------------------------------------------------------
# Processor shapes — arbitrary 0..n forwards per record via mapInArrow
# (reference ``ErrorCapturingProcessor.java:164-176``,
#  ``ErrorCapturingValueProcessor.java:159-168``)
# ---------------------------------------------------------------------------


def _process(
    df: DataFrame,
    processor: Callable[[dict], Optional[Iterable[Any]]],
    result_type: DataType,
    error_filter: Optional[ErrorFilter],
    pass_through: Optional[Sequence[str]] = None,
    input_value_col: Optional[str] = None,
    full_payload: bool = True,
    wrap: Optional[Callable[[Callable], Callable]] = None,
) -> DataFrame:
    """:func:`capture_process`, with ``wrap`` (the log or describe layer)
    around ``processor``."""
    keep = list(pass_through) if pass_through is not None else list(df.columns)
    ival = input_value_col or df.columns[-1]
    out_names = keep + [RESULT_COL, ERROR_COL]
    out_schema = StructType(
        [df.schema[c] for c in keep]
        + [
            StructField(RESULT_COL, result_type, True),
            StructField(ERROR_COL, ERROR_SCHEMA, True),
        ]
    )
    loop = _RecordLoop(
        processor, result_type, error_filter, full_payload, wrap,
        forwards=True, value=lambda args: args[0].get(ival),
    )

    def _map(batches):
        for batch in batches:
            take, res, err = loop.run([(rec,) for rec in _records(batch)])
            passed = batch.select(keep).take(pa.array(take, pa.int64()))
            yield pa.RecordBatch.from_arrays(passed.columns + [res, err], names=out_names)

    return df.mapInArrow(_map, out_schema)


def capture_process(
    df: DataFrame,
    processor: Callable[[dict], Optional[Iterable[Any]]],
    result_type: DataType,
    error_filter: Optional[ErrorFilter] = None,
    pass_through: Optional[Sequence[str]] = None,
    input_value_col: Optional[str] = None,
) -> DataFrame:
    """``ErrorCapturingProcessor.captureErrors`` — the general ``process`` shape.

    ``processor(row_dict)`` may forward 0..n results (the Spark analog of
    ``context.forward`` — ``ErrorCapturingApiProcessorContext.java:31-59``:
    every forward is re-wrapped as a success).  Output schema:
    ``pass_through`` columns (default: all input columns) + ``result``
    (nullable ``result_type``) + ``error``.  Success rows: one per forward,
    error NULL.  Error rows: one, result NULL.

    Implemented with ``mapInArrow`` so multi-forward and per-row capture
    stay inside one Arrow-batched pass — no driver involvement, scales with
    partitions.
    """
    return _process(df, processor, result_type, error_filter, pass_through, input_value_col)


#: ``ErrorCapturingValueProcessor`` — fixed-key ``processValues`` shape
#: (``ErrorCapturingValueProcessor.java:68,159-168``): forwards carry only a
#: new value of any ``result_type``; key columns pass through unchanged.
capture_process_values = capture_process
