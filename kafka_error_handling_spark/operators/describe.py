"""Error-describing decorators — fail fast with an enriched message.

Spark-native re-expression of the reference's ``describeErrors`` family
(SURVEY.md §2.3; ``ErrorDescribingKeyValueMapper.java:59,65-71``,
``ErrorDescribingValueMapper.java:57,63-69``,
``ErrorDescribingProcessor.java:101-107``).

Semantics: catch any ``Exception``, rethrow
``ProcessingException("Cannot process ('<key>', '<value>')") from exc``
(``ProcessingException.java:30-39``) — the query still fails, but the Spark
task failure / driver exception now names the exact record that killed it.
No error filter: everything is described.  Non-``Exception`` throwables
pass through untouched.

These wrappers are **type-transparent** (the wrapped return type passes
straight through), so the same three shapes also serve the flat variants —
exactly as in the reference, where the flat tests reuse
``ErrorDescribingKeyValueMapper.describeErrors`` with ``flatMap``
(``ErrorDescribingFlatKeyValueMapperTopologyTest.java:68``).

Architecture notes: this module has no record loop of its own.  Every
``describe_*`` transform is the capture loop of
:mod:`~kafka_error_handling_spark.operators.capture` (an ``arrow_udf`` for
column shapes, ``mapInArrow`` for processors; no pandas) with the describe
wrapper around the function and an error filter that rethrows everything,
projected to its ``result`` column.  A result that does not convert to the
declared type therefore also fails naming the record.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from ..model import ProcessingException
from . import capture as C

__all__ = [
    "describe_flat_map_values",
    "describe_flat_map",
    "describe_errors",
    "describe_errors_with_key",
    "describe_udf",
    "describe_map_values",
    "describe_map_values_with_key",
    "describe_map",
    "describe_process",
]


def _rethrow(exc: BaseException) -> bool:
    """Error filter of the describe family: every failure is rethrown."""
    return True


def describe_errors(fn: Callable[..., Any]) -> Callable[..., Any]:
    """``ErrorDescribingValueMapper.describeErrors`` — value-only message
    (``ErrorDescribingValueMapper.java:63-69``)."""

    def _wrapped(*args):
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001
            raise ProcessingException.for_value(args[-1], exc) from exc

    return _wrapped


def describe_errors_with_key(fn: Callable[..., Any]) -> Callable[..., Any]:
    """``ErrorDescribingKeyValueMapper`` / ``...ValueMapperWithKey`` —
    key-and-value message (``ErrorDescribingKeyValueMapper.java:65-71``)."""

    def _wrapped(key, value, *rest):
        try:
            return fn(key, value, *rest)
        except Exception as exc:  # noqa: BLE001
            raise ProcessingException.for_key_value(key, value, exc) from exc

    return _wrapped


def describe_udf(
    fn: Callable[..., Any],
    result_type: DataType,
    with_key: bool = False,
) -> Callable[..., Column]:
    """The column-level primitive: ``describe_udf(fn, t)(*cols)`` is a
    column of type ``t``.

    The capture record loop with :func:`describe_errors` (or
    :func:`describe_errors_with_key`) around ``fn`` and an always-rethrow
    error filter: the first failing record aborts the task with a
    ``ProcessingException`` naming it (fail-fast is the point).  A result
    that does not convert to ``result_type`` fails the same way.
    """
    wrap = describe_errors_with_key if with_key else describe_errors
    udf = C._column_udf(C._RecordLoop(fn, result_type, _rethrow, wrap=wrap))
    return lambda *cols: udf(*cols)[C.RESULT_COL]


def _describe(
    df: DataFrame,
    fn: Callable[..., Any],
    result_type: DataType,
    cols: Sequence[str],
    result_col: str,
    with_key: bool,
) -> DataFrame:
    out = df.withColumn(result_col, describe_udf(fn, result_type, with_key)(*map(F.col, cols)))
    if isinstance(result_type, StructType):
        # a None result reads as a struct of NULL fields, not a NULL struct
        r = F.col(result_col)
        out = out.withColumn(
            result_col, F.struct(*[r[f.name].alias(f.name) for f in result_type.fields])
        )
    return out


def describe_map_values(
    df: DataFrame,
    fn: Callable[[Any], Any],
    result_type: DataType,
    value_col: str = "value",
    result_col: str = "result",
) -> DataFrame:
    """``describeErrors`` over the ``mapValues`` shape (also serves
    ``flatMapValues`` with an array ``result_type`` — type-transparent)."""
    return _describe(df, fn, result_type, [value_col], result_col, with_key=False)


def describe_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    result_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    result_col: str = "result",
) -> DataFrame:
    """``ErrorDescribingValueMapperWithKey`` (``ErrorDescribingValueMapperWithKey.java:58,64-70``)
    and ``ErrorDescribingKeyValueMapper`` over ``map``/``flatMap``
    (``ErrorDescribingKeyValueMapper.java:59``): ``fn(key, value)`` with the
    key-value message; return type passes through (tuple-shaped results use a
    ``struct<key, value>`` ``result_type``)."""
    return _describe(df, fn, result_type, [key_col, value_col], result_col, with_key=True)


#: ``ErrorDescribingKeyValueMapper`` — the same transform: describe does not
#: interpret the result, so a key change is just a ``struct<key, value>`` result
describe_map = describe_map_values_with_key


def describe_process(
    df: DataFrame,
    processor: Callable[[dict], Optional[Iterable[dict]]],
    result_type: DataType,
    pass_through: Optional[Sequence[str]] = None,
    key_cols: Optional[Sequence[str]] = None,
    value_col: Optional[str] = None,
) -> DataFrame:
    """``ErrorDescribingProcessor`` / ``ErrorDescribingValueProcessor``
    (``ErrorDescribingProcessor.java:64,101-107``): the capture processor
    loop re-raising enriched; multi-forward supported like
    :func:`~kafka_error_handling_spark.operators.capture.capture_process`.
    """
    vcol = value_col or df.columns[-1]
    kcols = list(key_cols) if key_cols else []

    def _wrap(proc):
        def _described(rec):
            try:
                return proc(rec)
            except Exception as exc:  # noqa: BLE001
                if kcols:
                    key = tuple(rec.get(k) for k in kcols)
                    key = key[0] if len(key) == 1 else key
                    raise ProcessingException.for_key_value(key, rec.get(vcol), exc) from exc
                raise ProcessingException.for_value(rec.get(vcol), exc) from exc

        return _described

    out = C._process(df, processor, result_type, _rethrow, pass_through, vcol, wrap=_wrap)
    return out.drop(C.ERROR_COL)


# Type-transparent flat aliases — the reference reuses the same describing
# mapper classes for flatMap shapes (ErrorDescribingFlatKeyValueMapperTopologyTest.java:68);
# pass an ArrayType result_type and explode downstream.
describe_flat_map_values = describe_map_values
describe_flat_map = describe_map
