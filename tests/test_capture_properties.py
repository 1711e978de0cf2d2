"""Property-based checks of the capture sum-type invariants.

The reference pins these with hand-picked cases
(ErrorCapturingKeyValueMapperTopologyTest null matrix); hypothesis lets us
assert them for arbitrary inputs:

- exactly one of (result, error) is non-null per row (ProcessedValue);
- the wrapped fn's successes pass through bit-identically;
- failures never lose the input row, and the original key survives;
- drop-and-log output == success subset, regardless of failure pattern.

One session-scoped Spark round-trip per example would be seconds-slow, so
each property runs ONE Spark job over a hypothesis-generated batch of rows
(deadline disabled; the data volume, not the example count, carries the
coverage).
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from kafka_error_handling_spark.operators import (
    capture_map_values_with_key,
    errors,
    log_map_values_with_key,
    values,
)

# printable payloads incl. None; keys incl. None (the reference's null matrix)
_vals = st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       min_value=-1e6, max_value=1e6))
_keys = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))
_rows = st.lists(st.tuples(_keys, _vals), min_size=1, max_size=30)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _fn(k, v):
    # deterministic failure pattern over both key and value, incl. nulls
    if v is None:
        raise ValueError("null value")
    if k is not None and k % 3 == 0:
        raise RuntimeError("unlucky key")
    return v * 2.0


def _expected(rows):
    ok, bad = {}, set()
    for i, (k, v) in enumerate(rows):
        try:
            ok[i] = _fn(k, v)
        except Exception:
            bad.add(i)
    return ok, bad


def _check_exactly_one_branch(spark, rows):
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)],
        "idx int, key int, value double",
    )
    p = capture_map_values_with_key(
        df, _fn, DoubleType(), key_col="key", value_col="value"
    )
    flat = p.select(
        "idx", "key", F.col("r.result").alias("res"), F.col("r.error").alias("err")
    ).collect()
    exp_ok, exp_bad = _expected(rows)

    assert len(flat) == len(rows)  # no row ever lost
    for r in flat:
        assert (r.res is None) != (r.err is None)  # exactly one branch
        assert r.key == rows[r.idx][0]  # original key preserved on BOTH branches
        if r.err is None:
            assert r.res == exp_ok[r.idx]
        else:
            assert r.idx in exp_bad
            assert r.err.error_class in ("ValueError", "RuntimeError")


@given(_rows)
@_SETTINGS
def test_exactly_one_branch_and_key_preserved(spark, rows):
    _check_exactly_one_branch(spark, rows)


@given(_rows)
@_SETTINGS
def test_exactly_one_branch_and_key_preserved_small_batches(
    spark, small_arrow_batches, rows
):
    """Same property with 7-record Arrow batches: up to 30 rows span several
    batches, so the record loop's per-batch state must stay batch-local."""
    _check_exactly_one_branch(spark, rows)


@given(_rows)
@_SETTINGS
def test_log_drop_equals_success_subset(spark, rows):
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)],
        "idx int, key int, value double",
    )
    p = capture_map_values_with_key(
        df, _fn, DoubleType(), key_col="key", value_col="value"
    )
    captured_ok = {(r.idx, r.result) for r in values(p).collect()}
    logged = log_map_values_with_key(
        df, _fn, DoubleType(), key_col="key", value_col="value", observe=False
    )
    dropped_ok = {(r.idx, r.result) for r in logged.collect()}
    assert captured_ok == dropped_ok


@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda p: p[0] != p[1]),
        max_size=40,
    )
)
@_SETTINGS
def test_neardup_components_match_union_find(spark, edges):
    """neardup_components agrees with exact union-find for any pair set
    over 25 docs.  Since r8 it wraps the CONVERGED pointer-jumping
    fixpoint (plans.graph.connected_components) — `rounds` is accepted
    for compatibility and ignored, so this pins converged semantics on
    arbitrary graphs (chains included), not diameter-bounded ones."""
    from kafka_error_handling_spark.datapipe.dedup import neardup_components

    docs = spark.createDataFrame([(i,) for i in range(25)], "doc_id long")
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(0, 0)],
        "id_a long, id_b long",
    ).filter("id_a <> id_b")

    # exact union-find on the driver
    parent = list(range(25))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i in range(25)}

    # the deprecated rounds= bound must WARN (it is ignored — the fixpoint
    # is converged; ADVICE r8) and still return the converged labels
    with pytest.warns(DeprecationWarning, match="rounds"):
        clustered = neardup_components(pairs, docs, rounds=25)
    got = {r.doc_id: r.keep_id for r in clustered.collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# HLL register-merge properties (pure-Python model, no Spark)
# ---------------------------------------------------------------------------


def _hll_model(values):
    import hashlib

    regs = [0] * 64
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)
        bucket, w = h >> 42, h % (1 << 42)
        rho = 43 if w == 0 else 43 - w.bit_length()
        regs[bucket] = max(regs[bucket], rho)
    return regs


@given(
    st.lists(st.integers(min_value=0, max_value=10**6), max_size=60),
    st.lists(st.integers(min_value=0, max_value=10**6), max_size=60),
    st.lists(st.integers(min_value=0, max_value=10**6), max_size=60),
)
def test_hll_merge_associative_commutative_idempotent(a, b, c):
    """Register merge is elementwise max — the semigroup the streaming
    foreachBatch accumulation and any partition split rely on: order,
    grouping, and duplication of batches must not change the sketch."""
    merge = lambda x, y: [max(p, q) for p, q in zip(x, y)]  # noqa: E731
    ra, rb, rc = _hll_model(a), _hll_model(b), _hll_model(c)
    assert merge(merge(ra, rb), rc) == merge(ra, merge(rb, rc))
    assert merge(ra, rb) == merge(rb, ra)
    assert merge(ra, ra) == ra
    # batch union = register merge
    assert _hll_model(a + b) == merge(ra, rb)
