"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (numpy ``default_rng``), so
the same seed gives byte-identical inputs.  Generators return the records
the program under test receives plus the ground truth the checker compares
against; the ground truth never reaches Spark.

Kafka-shaped records carry ``key, value, topic, partition, offset,
timestamp``.  ``value`` is a JSON object ``{"id", "price", "qty", "div"}``
and the wrapped user function computes ``price * qty // div``.  Error kinds
are injected in exact counts (not Bernoulli draws) so the shares are the
spec, not an estimate of it:

- ``malformed``: truncated JSON -> ``json.JSONDecodeError`` (carries
  ``__context__``, so the dead-letter stack trace takes the uncached render);
- ``missing``: no ``qty`` field -> ``KeyError``;
- ``zero``: ``div == 0`` -> ``ZeroDivisionError``.

Wrong-typed user results are deliberately NOT a kind: one such row fails the
whole job today (see NOTES.md, "Known exclusion").
"""

from __future__ import annotations

import json
import os

import numpy as np

KINDS = ("ok", "malformed", "missing", "zero")
ERROR_CLASS = {
    "malformed": "JSONDecodeError",
    "missing": "KeyError",
    "zero": "ZeroDivisionError",
}

# error-kind shares per workload (fractions of all records); the rest is ok
MIXES = {
    "stream_error_storm": {"malformed": 0.20, "missing": 0.15, "zero": 0.15},
}

TOPIC = "orders"
PARTITIONS = 8
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def price_total(value: str) -> int:
    """The wrapped user function: parse, then ``price * qty // div``."""
    d = json.loads(value)
    return d["price"] * d["qty"] // d["div"]


def kind_counts(n: int, mix: dict) -> dict:
    """Exact record count per kind for ``n`` records under ``mix``."""
    counts = {k: int(round(n * mix.get(k, 0.0))) for k in KINDS[1:]}
    counts["ok"] = n - sum(counts.values())
    return counts


def kafka_records(n: int, mix: dict, seed: int) -> dict:
    """``n`` Kafka-shaped records with error kinds injected per ``mix``.

    Returns column lists/arrays ready for ``pyarrow.table`` plus ground
    truth: ``kind`` (index into :data:`KINDS`) and ``expected`` (the user
    function's result, 0 for error rows)."""
    rng = np.random.default_rng(seed)
    counts = kind_counts(n, mix)
    kind = np.repeat(np.arange(len(KINDS), dtype=np.int8), [counts[k] for k in KINDS])
    rng.shuffle(kind)
    price = rng.integers(1, 10_000, n)
    qty = rng.integers(1, 100, n)
    div = rng.integers(1, 10, n)
    div[kind == KINDS.index("zero")] = 0
    expected = np.where(kind == 0, price * qty // np.maximum(div, 1), 0)
    partition = np.arange(n, dtype=np.int32) % PARTITIONS
    offset = np.arange(n, dtype=np.int64) // PARTITIONS
    ts = T0_US + np.cumsum(rng.integers(1, 2_000, n))
    values = []
    for i in range(n):
        k = kind[i]
        if k == 2:  # missing qty
            values.append(f'{{"id": {i}, "price": {price[i]}, "div": {div[i]}}}')
            continue
        v = f'{{"id": {i}, "price": {price[i]}, "qty": {qty[i]}, "div": {div[i]}}}'
        values.append(v[: len(v) // 2] if k == 1 else v)
    return {
        "key": [f"k{i:09d}" for i in range(n)],
        "value": values,
        "topic": TOPIC,
        "partition": partition,
        "offset": offset,
        "timestamp_us": ts,
        "kind": kind,
        "expected": expected,
    }


def records_table(rec: dict):
    """The Kafka-shaped records as a pyarrow table (no ground truth)."""
    import pyarrow as pa

    n = len(rec["key"])
    return pa.table(
        {
            "key": pa.array(rec["key"], pa.string()),
            "value": pa.array(rec["value"], pa.string()),
            "topic": pa.array([rec["topic"]] * n, pa.string()),
            "partition": pa.array(rec["partition"], pa.int32()),
            "offset": pa.array(rec["offset"], pa.int64()),
            "timestamp": pa.array(rec["timestamp_us"], pa.timestamp("us")),
        }
    )


def truth_by_key(rec: dict) -> dict:
    """key -> (kind name, expected result) for the checker."""
    return {
        k: (KINDS[int(c)], int(e))
        for k, c, e in zip(rec["key"], rec["kind"], rec["expected"])
    }


# ---------------------------------------------------------------------------
# Registry tables: the star schema + events/documents/embeddings the
# registry queries read, with the column names and value domains of the
# repository's test data.
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PWORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
           "new", "old", "plate", "red", "ring", "rod", "small", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]
_DAY_US = 86_400_000_000
_D1995_US = 788_918_400_000_000  # 1995-01-01


def registry_tables(seed: int, scale: float = 0.01) -> dict:
    """name -> pyarrow table for the ten registry tables at ``scale``
    (lineitem = 6M x scale rows, like the repository's sf layout)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_evt = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = 500, 500
    ts = lambda a: pa.array(a, pa.timestamp("us"))  # noqa: E731
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    t = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_PWORDS[a]} {_PWORDS[b]}"
                       for a, b in rng.integers(0, len(_PWORDS), (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
        }),
    }
    odate = _D1995_US + rng.integers(0, 2404, n_ord) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": ts(odate),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    linenum = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line])) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": linenum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": ts(odate[l_order] + rng.integers(1, 122, n_line) * _DAY_US),
    })
    n_users = max(15, n_evt // 67)
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts(np.sort(T0_US + rng.integers(0, 30 * _DAY_US, n_evt))),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(60.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:  # exact re-posts for the dedup queries
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        words = rng.integers(0, len(_VOCAB), int(rng.integers(8, 90)))
        texts.append(" ".join(_VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(tables: dict, out_dir: str) -> dict:
    """Write each table to ``out_dir/<name>.parquet``; returns row counts."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in tables.items()}
