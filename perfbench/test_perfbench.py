"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

from perfbench import gen, probes
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("mix", sorted(gen.MIXES))
def test_records_deterministic_per_seed(mix):
    a = gen.kafka_records(2_000, gen.MIXES[mix], seed=7)
    b = gen.kafka_records(2_000, gen.MIXES[mix], seed=7)
    c = gen.kafka_records(2_000, gen.MIXES[mix], seed=8)
    assert gen.records_table(a).equals(gen.records_table(b))
    assert np.array_equal(a["kind"], b["kind"]) and np.array_equal(a["expected"], b["expected"])
    assert a["value"] != c["value"]


def test_registry_tables_deterministic_per_seed():
    a = gen.registry_tables(3, scale=0.001)
    b = gen.registry_tables(3, scale=0.001)
    c = gen.registry_tables(4, scale=0.001)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


@pytest.mark.parametrize("mix", sorted(gen.MIXES))
def test_error_kind_shares_match_spec(mix):
    n = 20_000
    rec = gen.kafka_records(n, gen.MIXES[mix], seed=1)
    counts = np.bincount(rec["kind"], minlength=len(gen.KINDS))
    for i, kind in enumerate(gen.KINDS[1:], start=1):
        assert counts[i] == round(n * gen.MIXES[mix].get(kind, 0.0)), kind
    assert counts.sum() == n


def test_ground_truth_matches_user_function():
    """Every record fails with its kind's exception class, or returns the
    expected result: the checker's ground truth is what the program must produce."""
    rec = gen.kafka_records(3_000, gen.MIXES["stream_error_storm"], seed=5)
    for value, kind, want in zip(rec["value"], rec["kind"], rec["expected"]):
        name = gen.KINDS[kind]
        try:
            got = gen.price_total(value)
        except Exception as exc:  # noqa: BLE001
            assert type(exc).__name__ == gen.ERROR_CLASS[name]
        else:
            assert name == "ok" and got == want


def test_metric_and_workload_names():
    spec = _spec()
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(set(m["name"] for m in metrics)) == len(metrics)
    assert all(UNIT.fullmatch(m["unit"]) for m in metrics)
    assert all(m["better"] in ("higher", "lower") for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])


def test_workloads_match_entry_point():
    from perfbench.run import WORKLOADS

    assert tuple(w["name"] for w in _spec()["workloads"]) == WORKLOADS


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 41))  # 40 samples
    value, pct = probes.tail(xs)
    assert value == 30 and sum(x > value for x in xs) == 10 and pct == 75
    assert probes.tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_self_time_excludes_children():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    st = tr.self_times()
    assert inner["parent"] == outer["id"]
    assert st["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))


def test_count_failed_flags_every_defect():
    pipeline = pytest.importorskip("perfbench.pipeline")
    truth = {"a": ("ok", 5), "b": ("zero", 0), "c": ("ok", 7), "d": ("missing", 0)}
    keys = list(truth)
    good_ok, good_err = [("a", 5), ("c", 7)], [("b", "ZeroDivisionError"), ("d", "KeyError")]
    assert pipeline.count_failed(truth, keys, good_ok, good_err) == 0
    assert pipeline.count_failed(truth, keys, [("a", 5)], good_err) == 1  # lost
    assert pipeline.count_failed(truth, keys, good_ok + [("a", 5)], good_err) == 1  # duplicated
    assert pipeline.count_failed(truth, keys, [("a", 6), ("c", 7)], good_err) == 1  # wrong result
    assert pipeline.count_failed(
        truth, keys, good_ok, [("b", "KeyError"), ("d", "KeyError")]) == 1  # wrong class
    assert pipeline.count_failed(
        truth, keys, good_ok + [("b", 0)], [("d", "KeyError")]) == 1  # wrong branch


def test_pass_count_follows_seconds_only():
    pytest.importorskip("perfbench.pipeline")
    from perfbench.basket import BasketWorkload
    from perfbench.run import pass_count
    from perfbench.stream import StreamWorkload

    seconds = _spec()["run_seconds"]
    assert pass_count(StreamWorkload, seconds) == 5
    assert pass_count(BasketWorkload, seconds) == 2
    assert pass_count(StreamWorkload, 1) == 1 and pass_count(BasketWorkload, 1) == 2
