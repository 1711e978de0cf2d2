"""Wrong-typed results: one record whose result does not convert to the
declared type is handled exactly like an exception from the wrapped
function for that record — an error row (``ResultTypeError``) for capture,
a counted drop for log, a failure naming the record for describe — and
never fails the job or loses a neighbouring row's result.

Each case puts one bad record among 20, so with 7-record Arrow batches the
bad record sits in the middle batch and good records fill all three.
"""

import pytest

from pyspark.sql.types import IntegerType, LongType, StringType

import kafka_error_handling_spark as keh

N = 20
BAD_KEY = 9

# case -> (bad result, declared type, good result for value v)
CASES = {
    "str_for_int": ("x", IntegerType(), int),
    "2**40_for_int": (2**40, IntegerType(), int),
    "dict_for_string": ({"a": 1}, StringType(), lambda v: "s" + v),
    "1.5_for_bigint": (1.5, LongType(), int),
}


def _frame(spark):
    return spark.createDataFrame([(k, str(k)) for k in range(N)], "key int, value string")


def _fn(case):
    bad, _, good = CASES[case]
    return lambda v: bad if v == str(BAD_KEY) else good(v)


def _expected(case):
    good = CASES[case][2]
    return {k: good(str(k)) for k in range(N) if k != BAD_KEY}


def _check_capture(rows, case):
    got = {r.key: (r.result, r.error) for r in rows}
    assert set(got) == set(range(N))  # no row lost, none duplicated
    assert {k: res for k, (res, err) in got.items() if err is None} == _expected(case)
    res, err = got[BAD_KEY]
    assert res is None
    assert err.error_class == "ResultTypeError"
    assert err.input_value == str(BAD_KEY)
    assert "does not convert" in err.message


@pytest.fixture(params=["default", "batch7"])
def batches(request):
    if request.param == "batch7":
        request.getfixturevalue("small_arrow_batches")


@pytest.mark.parametrize("case", list(CASES))
def test_capture_map_values_wrong_type_is_error_row(spark, batches, case):
    p = keh.capture_map_values(_frame(spark), _fn(case), CASES[case][1])
    _check_capture(p.select("key", "r.result", "r.error").collect(), case)


@pytest.mark.parametrize("case", list(CASES))
def test_capture_process_values_wrong_type_is_error_row(spark, batches, case):
    fn = _fn(case)
    p = keh.capture_process_values(
        _frame(spark), lambda rec: [fn(rec["value"])], CASES[case][1]
    )
    _check_capture(p.collect(), case)


@pytest.mark.parametrize("case", list(CASES))
def test_log_map_values_wrong_type_dropped_and_counted(spark, batches, case):
    out = keh.log_map_values(_frame(spark), _fn(case), CASES[case][1])
    got = {r.key: r.result for r in out.collect()}
    assert got == _expected(case)
    metrics = out._jdf.queryExecution().observedMetrics()
    keys = metrics.keys().toSeq()
    names = [n for n in map(keys.apply, range(keys.size())) if n.startswith("keh_dropped")]
    assert len(names) == 1
    row = metrics.get(names[0]).get()
    assert (row.getLong(0), row.getLong(1)) == (1, N)  # (dropped, total)


@pytest.mark.parametrize("case", list(CASES))
def test_describe_map_values_wrong_type_fails_naming_record(spark, batches, case):
    out = keh.describe_map_values(_frame(spark), _fn(case), CASES[case][1])
    with pytest.raises(Exception) as ei:
        out.collect()
    assert f"ProcessingException: Cannot process {BAD_KEY}" in str(ei.value)


def test_processor_record_with_one_bad_forward_becomes_one_error_row(spark, batches):
    """A bad forward discards the record's other forwards, as if the
    processor had raised: one error row, and the other records' forwards
    are untouched."""
    df = _frame(spark)

    def proc(rec):
        k = int(rec["value"])
        return [k, 1.5, k] if k == BAD_KEY else [k, k]

    rows = keh.capture_process_values(df, proc, LongType()).collect()
    ok = sorted((r.key, r.result) for r in rows if r.error is None)
    assert ok == sorted([(k, k) for k in range(N) if k != BAD_KEY] * 2)
    bad = [r for r in rows if r.error is not None]
    assert [(r.key, r.error.error_class) for r in bad] == [(BAD_KEY, "ResultTypeError")]


def test_recoverable_filter_rethrows_wrong_type(spark):
    """The unconvertible result goes through the same error filter as an
    exception from the function: a filter claiming it rethrows it."""
    p = keh.capture_map_values(
        _frame(spark), _fn("str_for_int"), IntegerType(),
        error_filter=lambda e: type(e).__name__ == "ResultTypeError",
    )
    with pytest.raises(Exception) as ei:
        p.collect()
    assert "ResultTypeError" in str(ei.value)


def test_integral_float_converts_without_loss(spark):
    """Only a float that pyarrow would truncate is rejected: ``2.0`` for a
    ``bigint`` loses nothing and stays a success."""
    p = keh.capture_map_values(_frame(spark), lambda v: float(v), LongType())
    rows = p.select("key", "r.result", "r.error").collect()
    assert all(r.error is None and r.result == r.key for r in rows)
