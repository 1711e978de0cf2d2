"""Workload ``registry_basket``: one query per defining module, taken from
the frozen headline basket in ``bench.py``, over seeded registry tables.

Expected row counts come from each query's DuckDB oracle SQL
(``oracle_sql()`` in the registry) run over the same generated tables at
set-up; a query that raises or returns another row count fails.
"""

from __future__ import annotations

import os
import time

from . import gen, probes
from .trace import Tracer

# one basket query per defining module, the cheapest of each at the
# repository's sf0.01 layout, so a pass fits the run length
QUERIES = {
    "plans.relational": "q1_pricing_summary",
    "plans.error_queries": "capture_map_values_dlq",
    "plans.advanced": "q14_promo_revenue",
    "plans.subqueries": "q18_large_volume_orders",
    "plans.tpch_rest": "q2_min_cost_supplier",
    "plans.asof": "asof_join_last_purchase",
    "datapipe.dedup": "dedup_exact",
    "datapipe.text": "text_quality",
    "datapipe.similarity": "embedding_knn",
    "datapipe.ranking": "text_bm25_topk",
    "datapipe.clustering": "embedding_kmeans",
}
SCALE = 0.01


def expected_rows(tables_dir: str, names) -> dict:
    """Row count of each query's DuckDB oracle over ``tables_dir``."""
    import duckdb

    from kafka_error_handling_spark.plans import registry

    oracle = registry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in os.listdir(tables_dir):
            name = t.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, t)}')")
        return {q: len(con.sql(oracle[q]).fetchall()) for q in names}
    finally:
        con.close()


class BasketWorkload:
    # each query's share of a pass is its median over the passes
    MIN_PASSES = 2
    PASS_S = 10.0  # nominal wall time of one pass

    def __init__(self, seed: int, work_dir: str, cores: int) -> None:
        self.seed = seed
        self.dir = os.path.join(work_dir, "tables")
        self.expected: dict = {}

    def input_facts(self) -> dict:
        return {"scale": SCALE, "table_rows": self.table_rows,
                "queries": QUERIES, "expected_rows": self.expected}

    def stage(self, spark) -> None:
        import bench
        from kafka_error_handling_spark.plans import registry

        missing = set(QUERIES.values()) - set(bench.HEADLINE_BASKET)
        if missing:
            raise KeyError(f"not in the frozen basket: {sorted(missing)}")
        self.fns = registry.queries()
        self.table_rows = gen.write_tables(gen.registry_tables(self.seed, SCALE), self.dir)

    def warm(self, spark) -> dict:
        t0 = time.perf_counter()
        self.expected = expected_rows(self.dir, QUERIES.values())
        oracle_s = time.perf_counter() - t0
        p = self.run_pass(spark, Tracer(False))
        p["check_s"] += oracle_s
        return p

    def run_pass(self, spark, tracer) -> dict:
        from kafka_error_handling_spark import memo

        ledger = probes.StageLedger(spark) if tracer.enabled else None
        memo0 = _memo_totals(memo.STATS)
        batch_ms, cpu_s, failed, layer = [], [], 0, {}
        for module, q in QUERIES.items():
            cpu0 = probes.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span(f"{module}.query"):
                    n = len(self.fns[q](spark, self.dir).collect())
            except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
                print(f"perfbench: {q} raised {type(exc).__name__}: {exc}", flush=True)
                n = None
            batch_ms.append((time.perf_counter() - t0) * 1000.0)
            cpu_s.append(probes.tree_cpu_s() - cpu0)
            failed += n != self.expected.get(q, n)
            if ledger is not None:
                layer[f"{module}.shuffle_write_bytes"] = ledger.take_shuffle_write_bytes()
        hits, builds = (a - b for a, b in zip(_memo_totals(memo.STATS), memo0))
        layer.update({"memo.hits": hits, "memo.builds": builds})
        return {"run_s": sum(batch_ms) / 1000.0, "cpu_s": sum(cpu_s), "batch_ms": batch_ms,
                "query_ms": dict(zip(QUERIES.values(), batch_ms)),
                "query_cpu_s": dict(zip(QUERIES.values(), cpu_s)),
                "rows": sum(self.table_rows.values()), "attempted": len(QUERIES),
                "failed": failed, "check_s": 0.0, "layer": layer}

    def layers(self, tracer, traced: list) -> dict:
        n = len(traced)
        st = tracer.self_times()
        out = {}
        for module in QUERIES:
            out[f"{module}.query_s"] = st.get(f"{module}.query", 0.0) / n
            out[f"{module}.shuffle_write_bytes"] = sum(
                p["layer"][f"{module}.shuffle_write_bytes"] for p in traced) / n
        for k in ("memo.hits", "memo.builds"):
            out[k] = sum(p["layer"][k] for p in traced) / n
        return out


def _memo_totals(stats: dict) -> tuple:
    return (sum(v[0] for v in stats.values()), sum(v[1] for v in stats.values()))
