"""Stateful processing under error-capture decoration (SURVEY.md §2.7
"stateful ops").

The reference's capturing/logging processors forward the wrapped supplier's
``stores()`` so user state keeps working under decoration
(``ErrorCapturingProcessor.java:140-143``, ``ErrorLoggingProcessor.java:134-137``).
The Spark analog runs the user's per-record stateful function through the
capture record loop (``operators.capture._RecordLoop``) inside
``applyInPandasWithState``, PySpark's only ``GroupState`` API: the function
sees the **same GroupState handle** it would see undecorated, and an
exception or a forward that does not convert to ``result_type`` is captured
into the error column (or rethrown if recoverable) **without poisoning the
group's state or the batch**.

pandas stays at that boundary.  Each input frame goes back to Arrow with the
input schema, so records follow the capture loop's input contract (NULL as
``None``, an int as ``int``, a timestamp as a tz-aware ``datetime`` in the
session zone), except that pandas cannot tell a NaN double from a NULL one:
both arrive as ``None``.  State lives in the state store keyed by group —
per-key partition parallel, no driver involvement.
"""

from __future__ import annotations

from typing import Callable, Iterable, Optional

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructField, StructType, TimestampType

from ..model import ERROR_SCHEMA, ErrorFilter
from ..operators.capture import ERROR_COL, RESULT_COL, _RecordLoop, _records

__all__ = ["capture_stateful_process"]


def capture_stateful_process(
    df: DataFrame,
    key_cols: list,
    fn: Callable[[tuple, dict, GroupState], Optional[Iterable[dict]]],
    result_type: StructType,
    state_type: StructType,
    error_filter: Optional[ErrorFilter] = None,
    timeout: str = GroupStateTimeout.NoTimeout,
    output_mode: str = "append",
    input_value_col: Optional[str] = None,
) -> DataFrame:
    """``ErrorCapturingProcessor`` for stateful shapes.

    ``fn(key_tuple, row_dict, state)`` may read/update/remove ``state`` and
    forward 0..n result dicts.  Output rows: key columns + ``result``
    (nullable ``result_type`` struct) + ``error`` (nullable) — the
    ``ProcessedKeyValue`` contract with state in the loop.
    """
    ival = input_value_col
    out_schema = StructType(
        [df.schema[c] for c in key_cols]
        + [
            StructField(RESULT_COL, result_type, True),
            StructField(ERROR_COL, ERROR_SCHEMA, True),
        ]
    )
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    stamps = [f.name for f in df.schema if isinstance(f.dataType, TimestampType)]
    in_schema = pa.schema(
        (f.name, pa.timestamp("us", tz) if f.name in stamps else to_arrow_type(f.dataType))
        for f in df.schema
    )
    loop = _RecordLoop(
        fn, result_type, error_filter, forwards=True,
        value=lambda args: args[1].get(ival) if ival else args[1],
    )

    def _proc(key, pdfs, state):
        for pdf in pdfs:
            for c in stamps:  # pandas carries session wall time, tz-naive
                pdf[c] = pdf[c].dt.tz_localize(tz, ambiguous=False)
            batch = pa.RecordBatch.from_pandas(pdf, schema=in_schema, preserve_index=False)
            _, res, err = loop.run([(key, rec, state) for rec in _records(batch)])
            out = pa.RecordBatch.from_arrays([res, err], names=[RESULT_COL, ERROR_COL]).to_pandas()
            for i, (c, k) in enumerate(zip(key_cols, key)):
                out.insert(i, c, k)
            yield out

    return df.groupBy(*key_cols).applyInPandasWithState(
        _proc, out_schema, state_type, output_mode, timeout
    )
