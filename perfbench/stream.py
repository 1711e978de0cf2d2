"""Workload ``stream_error_storm``: closed-loop backlog drains under an
error storm.

Set-up stages a backlog of Kafka-shaped parquet files, one per task slot,
half of them bad records of three kinds.  One drain reads the backlog with
``readStream`` under ``availableNow`` and ``maxFilesPerTrigger`` = task
slots (the micro-batch spans as many input splits as slots, like a topic
with that many partitions) and runs ``run_captured``.  Its transform sends
the records of even Kafka partitions through ``capture_map_values`` and
those of odd partitions through ``capture_process_values``: two processors
that share one dead-letter sink.  Each batch commits to a fresh
``TransactionalDualSink``: the ok branch as (key, result), the error branch
as Avro-framed dead letters.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from kafka_error_handling_spark.streaming.runner import run_captured
from kafka_error_handling_spark.streaming.txn_sink import TransactionalDualSink

from . import gen, pipeline, probes
from .trace import Tracer

FILE_RECORDS = 2_500
BATCHES = 1
MIX = gen.MIXES["stream_error_storm"]
PROGRESS_KEYS = {
    "addBatch": "add_batch_ms",
    "getBatch": "get_batch_ms",
    "latestOffset": "latest_offset_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}


class StreamWorkload:
    MIN_PASSES = 1
    PASS_S = 3.5  # nominal wall time of one drain, checks included

    def __init__(self, seed: int, work_dir: str, cores: int) -> None:
        self.seed, self.cores, self.work = seed, cores, work_dir
        self.files = cores * BATCHES
        self.records = self.files * FILE_RECORDS
        self.drains = 0

    def input_facts(self) -> dict:
        return {"records_per_drain": self.records, "files": self.files,
                "files_per_trigger": self.cores, "mix": MIX}

    def stage(self, spark) -> None:
        rec = gen.kafka_records(self.records, MIX, self.seed)
        self.truth = gen.truth_by_key(rec)
        self.keys = rec["key"]
        table = gen.records_table(rec)
        self.schema = spark.createDataFrame(table.slice(0, 1).to_pandas()).schema
        d = os.path.join(self.work, "backlog")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for f in range(self.files):
            part = table.slice(f * FILE_RECORDS, FILE_RECORDS)
            pq.write_table(part, os.path.join(d, f"part-{f:05d}.parquet"))

    def warm(self, spark) -> dict:
        return self.run_pass(spark, Tracer(False))

    def run_pass(self, spark, tracer) -> dict:
        """One drain of the backlog into a fresh sink and checkpoint."""
        self.drains += 1
        base = os.path.join(self.work, "drains", f"d{self.drains}")
        sink = TransactionalDualSink(os.path.join(base, "sink"))
        keys = self.keys
        layer: dict = {}

        def transform(batch_df):
            even = F.col("partition") % 2 == 0
            parts = [pipeline.capture(batch_df.where(cond), dec, tracer)
                     for cond, dec in ((even, "capture_map_values"),
                                       (~even, "capture_process_values"))]
            if tracer.enabled:
                for p in parts:
                    probes.accumulate(layer, **probes.python_sql_metrics(p))
            return parts[0].unionByName(parts[1])

        def write_values(df, batch_id):
            with tracer.span("functions.split"):
                df = tracer.boundary(df)
            with tracer.span("streaming.sink_values"):
                sink.write_values(df.select("key", "result"), batch_id)

        def write_errors(df, batch_id):
            with tracer.span("functions.split"):
                err = tracer.boundary(df)
            dlq = pipeline.dead_letter_queue(err, tracer)
            with tracer.span("streaming.sink_errors_commit"):
                sink.write_errors(dlq, batch_id)
            if tracer.enabled:
                n, nb = pipeline.error_payload_bytes(err)
                probes.accumulate(layer, err_rows=n, err_bytes=nb,
                                  dlq_bytes=pipeline.dlq_bytes(dlq))
            tracer.release()

        stream = (spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", self.cores)
                  .parquet(os.path.join(self.work, "backlog")))
        cpu0 = probes.cpu_split()
        t0 = time.perf_counter()
        with tracer.span("drain"):
            q = run_captured(stream, transform, write_values, write_errors,
                             os.path.join(base, "checkpoint"),
                             trigger={"availableNow": True},
                             query_name=f"perfbench_drain_{self.drains}")
            q.awaitTermination()
        run_s = time.perf_counter() - t0
        cpu = {k: v - cpu0[k] for k, v in probes.cpu_split().items()}
        cpu_s = cpu["python"] + cpu["jvm"]
        t1 = time.perf_counter()
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.get("numInputRows")]
        failed, n_ok, n_err = self._check(spark, sink, progress, keys)
        probes.accumulate(layer, rows_ok=n_ok, rows_error=n_err)
        shutil.rmtree(base, ignore_errors=True)
        dur = probes.progress_durations(progress)
        return {"run_s": run_s, "cpu_s": cpu_s, "cpu_split": cpu,
                "batch_ms": dur.get("triggerExecution", []),
                "rows": len(keys), "attempted": len(keys), "failed": failed,
                "check_s": time.perf_counter() - t1, "progress": dur,
                "batches": len(progress), "layer": layer}

    def _check(self, spark, sink, progress, keys) -> tuple:
        """(failed, committed ok rows, committed dead letters).  Failed are
        records lost, duplicated, misrouted or misclassified in the committed
        output; a committed-batch set that differs from the progress batch
        set fails every record of the drain."""
        if sink.committed_batches() != sorted(p["batchId"] for p in progress):
            return len(keys), 0, 0
        ok_rows = [(r["key"], r["result"]) for r in
                   sink.read_committed(spark, "values").toArrow().to_pylist()]
        errs = sink.read_committed(spark, "errors")
        err_rows = pipeline.decode_dlq(errs) if errs is not None else []
        failed = pipeline.count_failed(self.truth, keys, ok_rows, err_rows)
        return failed, len(ok_rows), len(err_rows)

    def layers(self, tracer, traced: list) -> dict:
        n = len(traced)
        st = tracer.self_times()
        batches = sum(p["batches"] for p in traced)
        tot: dict = {}
        for p in traced:
            probes.accumulate(tot, **p["layer"])
        out = {
            f"streaming.{m}": statistics.median(
                [v for p in traced for v in p["progress"].get(k, [])])
            for k, m in PROGRESS_KEYS.items()
        }
        out.update({
            "streaming.sink_values_ms": st.get("streaming.sink_values", 0.0) * 1000.0 / batches,
            "streaming.sink_errors_commit_ms":
                st.get("streaming.sink_errors_commit", 0.0) * 1000.0 / batches,
            "streaming.batches": batches / n,
            "operators.rows_ok": tot["rows_ok"] / n,
            "operators.rows_error": tot["rows_error"] / n,
            "streaming.rows_per_batch": sum(p["rows"] for p in traced) / batches,
            "operators.capture_map_values_s": st.get("operators.capture_map_values", 0.0) / n,
            "operators.capture_process_values_s":
                st.get("operators.capture_process_values", 0.0) / n,
            "functions.split_s": st.get("functions.split", 0.0) / n,
            "functions.dead_letters_s": st.get("functions.dead_letters", 0.0) / n,
            "formats.avro_encode_s": st.get("formats.avro_encode", 0.0) / n,
            "model.error_payload_bytes_per_error": tot["err_bytes"] / max(tot["err_rows"], 1),
            "formats.dlq_bytes_per_error": tot["dlq_bytes"] / max(tot["err_rows"], 1),
        })
        for v in probes.PYTHON_SQL_METRICS.values():
            out[f"operators.{v}"] = tot[v] / n
        return out

    def single_core(self, spark) -> tuple:
        """The single-threaded baseline on a one-core session: a warm-up
        drain, then one untraced drain of the backlog.  Returns
        (records per second, the checked passes)."""
        passes = [self.warm(spark), self.run_pass(spark, Tracer(False))]
        return self.records / passes[-1]["run_s"], passes

