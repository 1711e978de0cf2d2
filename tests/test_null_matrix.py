"""Null matrix + contract-edge tests, completing the reference's per-class
assertion coverage (SURVEY.md §5: null key/value inputs, null results,
error-on-null, null factory args → NPE analog)."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType

import kafka_error_handling_spark as keh
from kafka_error_handling_spark.model import render_value


def kv_df(spark, rows):
    return spark.createDataFrame(rows, "key int, value string")


def test_null_key_with_key_shapes(spark):
    df = kv_df(spark, [(None, "5")])
    p = keh.capture_map_values_with_key(
        df, lambda k, v: int(v) if k is None else -1, IntegerType()
    )
    ok = keh.values(p).collect()
    assert ok[0].result == 5  # null key reaches the fn as None


def test_flat_null_result_emits_nothing(spark):
    # reference: null iterable result -> no output records, no error
    df = kv_df(spark, [(1, "x")])
    p = keh.capture_flat_map_values(df, lambda v: None, StringType())
    assert keh.values(p).count() == 0
    assert keh.errors(p).count() == 0


def test_flat_empty_result_emits_nothing(spark):
    df = kv_df(spark, [(1, "x")])
    p = keh.capture_flat_map_values(df, lambda v: [], StringType())
    assert keh.values(p).count() == 0


def test_capture_map_null_kv_result(spark):
    # mapper returning None -> result struct is NULL (allowed; SuccessValue
    # null contract), not an error
    df = kv_df(spark, [(1, "a")])
    p = keh.capture_map(df, lambda k, v: None, IntegerType(), StringType())
    rows = keh.values(p).collect()
    assert rows[0].result is None
    assert keh.errors(p).count() == 0


def test_error_on_null_value(spark):
    df = kv_df(spark, [(1, None)])

    def f(v):
        return len(v)  # TypeError on None

    p = keh.capture_map_values(df, f, IntegerType())
    e = keh.errors(p).collect()[0]
    assert e.error.error_class == "TypeError"
    assert e.error.input_value is None


def test_non_callable_fn_raises_at_build_time(spark):
    # reference: null factory args -> NPE at build time
    # (ErrorCapturingKeyValueMapperTopologyTest.java:79-91); Python analog:
    # TypeError from the decorator factory, before any job runs
    df = kv_df(spark, [(1, "a")])
    with pytest.raises(TypeError, match="callable"):
        keh.capture_map_values(df, None, IntegerType())


def test_render_value_contract():
    assert render_value(None) is None
    assert render_value(5) == "5"
    assert render_value("abc") == "abc"
    # struct-ish values render via to_json at the column level; the plain
    # renderer falls back to str() like Objects.toString
    assert render_value({"a": 1}) == "{'a': 1}"


def test_struct_input_rendered_as_json_in_dlq(spark):
    """ErrorUtil.toString renders records as JSON (ErrorUtil.java:102-169):
    for struct-typed value columns, pre-render with to_json so the DLQ
    input_value is JSON."""
    df = spark.createDataFrame([(1, {"a": 7})], "key int, value map<string,int>")
    rendered = df.withColumn("value_json", F.to_json("value"))
    p = keh.capture_map_values(
        rendered, lambda v: (_ for _ in ()).throw(ValueError("no")), IntegerType(),
        value_col="value_json",
    )
    e = keh.errors(p).collect()[0]
    assert e.error.input_value == '{"a":7}'


# --- one input contract for every family ----------------------------------
# SQL NULL reaches the wrapped function as None at every type, and a real
# NaN double reaches it as NaN (Java ``Double.NaN`` is a value, not null) —
# the same for capture, log and describe, column and processor shapes.

def _seen(v):
    if v is None:
        return "None"
    if isinstance(v, float) and v != v:
        return "nan"
    return type(v).__name__


def _contract_df(spark):
    return spark.sql(
        "SELECT 0 AS id, CAST(NULL AS INT) AS i, CAST(NULL AS DOUBLE) AS d, "
        "CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS ARRAY<INT>) AS a "
        "UNION ALL SELECT 1, 5, CAST('NaN' AS DOUBLE), "
        "TIMESTAMP'2024-01-01 00:00:00', ARRAY(1, 2)"
    )


_SEEN_AT_ID1 = {"i": "int", "d": "nan", "ts": "datetime", "a": "list"}


@pytest.mark.parametrize("col", ["i", "d", "ts"])
@pytest.mark.parametrize("family", ["capture", "log", "describe"])
def test_column_shapes_see_null_as_none_and_nan_as_nan(spark, family, col):
    df = _contract_df(spark)
    if family == "capture":
        out = keh.values(keh.capture_map_values(df, _seen, StringType(), value_col=col))
    elif family == "log":
        out = keh.log_map_values(df, _seen, StringType(), value_col=col, observe=False)
    else:
        out = keh.describe_map_values(df, _seen, StringType(), value_col=col)
    got = {r.id: r.result for r in out.collect()}
    assert got == {0: "None", 1: _SEEN_AT_ID1[col]}


@pytest.mark.parametrize("family", ["capture", "log", "describe"])
def test_processor_shapes_see_null_as_none_and_nan_as_nan(spark, family):
    df = _contract_df(spark)
    cols = list(_SEEN_AT_ID1)

    def proc(rec):
        return [",".join(_seen(rec[c]) for c in cols)]

    if family == "capture":
        out = keh.capture_process_values(df, proc, StringType())
    elif family == "log":
        out = keh.log_process_values(df, proc, StringType())
    else:
        out = keh.describe_process(df, proc, StringType())
    got = {r.id: r.result for r in out.collect()}
    assert got == {0: ",".join(["None"] * len(cols)), 1: ",".join(_SEEN_AT_ID1.values())}
