"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the inputs from ``--seed``, sets up
(Spark session + input staging + an untimed warm-up unit), measures for
``--seconds`` (at least one pass), checks every output against
the generator's ground truth, and prints one JSON object as the last line of
stdout.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run.  Metric definitions, workload
choices and the layer map are in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("stream_error_storm", "registry_basket")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``; make the
    package importable by the driver and by Python workers."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def new_session(cores: int, work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                # fixed JIT compiler threads: one that exits mid-pass would
                # take its CPU time out of the JIT share tree_cpu_s removes
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark and the JVM it runs in, then wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    from .probes import descendants

    deadline = time.monotonic() + 60
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def make_workload(name: str, seed: int, work: str, cores: int):
    if name == "stream_error_storm":
        from .stream import StreamWorkload

        return StreamWorkload(seed, work, cores)
    from .basket import BasketWorkload

    return BasketWorkload(seed, work, cores)


def pass_count(wl, seconds: float) -> int:
    """Timed passes for a window of ``seconds``: as many as the window holds
    at the workload's nominal pass length on a 4-CPU host, at least
    ``MIN_PASSES``.  The count depends on ``seconds`` alone, never on the
    speed of the run, so every run of the same code does the same work and
    the ongoing warm-up (the first passes cost more than later ones) never
    shifts a median."""
    return max(wl.MIN_PASSES, round(seconds / wl.PASS_S))


def measure(wl, spark, tracer, seconds: float) -> list:
    """``pass_count`` timed passes.  A full garbage collection in the JVM
    and in Python comes first, so the timed passes do not pay for the
    set-up's garbage."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    return [wl.run_pass(spark, tracer) for _ in range(pass_count(wl, seconds))]


def facts(spark, nproc: int, cores: int, wl) -> dict:
    import pandas
    import pyarrow
    import pyspark

    from kafka_error_handling_spark.formats.avro_format import jvm_avro_available

    return {
        "nproc": nproc,
        "task_slots": cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": sys.version.split()[0],
        "jvm_avro_available": jvm_avro_available(spark),
        "input": wl.input_facts(),
    }


def _spec() -> dict:
    """End-to-end and per-layer metric names and units from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def end_to_end(setup_s: float, passes: list, rss_by_process: dict) -> tuple:
    """(gated metrics, detail).  The gated throughput is per CPU-second of
    the process tree and the gated memory covers the Python processes; the
    wall-clock figures and the JVM's memory go to the detail line (see
    NOTES.md, "Why CPU time" and "Why Python memory")."""
    from .probes import tail

    if "query_ms" in passes[0]:
        # the queries of a pass differ: each query's median over the
        # passes, summed for the pass and pooled for the per-unit median
        def per_query(key):
            return {q: statistics.median([p[key][q] for p in passes]) for q in passes[0][key]}

        wall_ms = per_query("query_ms")
        run_s = sum(wall_ms.values()) / 1000.0
        cpu_s = sum(per_query("query_cpu_s").values())
        units = list(wall_ms.values())
    else:
        run_s = statistics.median([p["run_s"] for p in passes])
        cpu_s = statistics.median([p["cpu_s"] for p in passes])
        units = [ms for p in passes for ms in p["batch_ms"]]
    rows = passes[0]["rows"]
    batches = [ms for p in passes for ms in p["batch_ms"]]
    metrics = {
        "setup_s": setup_s,
        "rows_per_cpu_s": rows / cpu_s,
        "python_peak_rss_mb": sum(mb for name, mb in rss_by_process.items()
                                  if name.startswith("python")),
    }
    detail = {"passes": len(passes), "batches": len(batches),
              "peak_rss_mb": sum(rss_by_process.values()),
              "peak_rss_mb_by_process": rss_by_process,
              "cpu_s": cpu_s, "run_s": run_s, "rows_per_s": rows / run_s,
              "batch_p50_ms": statistics.median(units),
              "batch_tail": dict(zip(("ms", "percentile"), tail(batches))),
              "run_s_all": [p["run_s"] for p in passes],
              "cpu_s_all": [p["cpu_s"] for p in passes]}
    if "cpu_split" in passes[0]:
        detail["cpu_split_all"] = [p["cpu_split"] for p in passes]
    if "query_ms" in passes[0]:
        detail["query_ms"] = [p["query_ms"] for p in passes]
    return metrics, detail


def traced_layers(wl, spark, args, work: str, names: dict, untraced_run_s: float,
                  detail: dict) -> tuple:
    """Per-layer metrics from a traced measurement; every per-layer metric
    of BENCHMARK.json is returned, a layer this workload does not run
    reads 0.  Returns (metrics, checked passes, session to stop)."""
    from .trace import Tracer

    tracer = Tracer(True)
    checked = measure(wl, spark, tracer, args.seconds)
    layer = wl.layers(tracer, checked)
    layer["trace.overhead_s"] = statistics.median([p["run_s"] for p in checked]) - untraced_run_s
    tracer.dump(os.path.join(work, f"spans-seed{args.seed}.json"))
    detail["self_time_s"] = tracer.self_times()
    if hasattr(wl, "single_core"):
        spark.stop()
        spark = new_session(1, work)
        layer["streaming.single_core_rows_per_s"], single = wl.single_core(spark)
        checked += single
    unknown = set(layer) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {name: layer.get(name, 0) for name in names}, checked, spark


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kafka_error_handling_spark", "__init__.py")):
        print(f"perfbench: package kafka_error_handling_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    spec = _spec()
    units = spec[args.trace]
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    _prepare_env(work)
    nproc = len(os.sched_getaffinity(0))
    # a Python-UDF task keeps a JVM task thread and a Python worker busy:
    # half as many task slots as CPUs keeps the busy threads at nproc
    cores = max(1, nproc // 2)

    from .probes import peak_rss_mb, steal_s
    from .trace import Tracer

    wl = make_workload(args.workload, args.seed, work, cores)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = new_session(cores, work)
        t1 = time.perf_counter()
        wl.stage(spark)
        t2 = time.perf_counter()
        warm = wl.warm(spark)
        # the checker's own time is not set-up work
        setup_s = time.perf_counter() - t0 - warm["check_s"]
        phases = {"session_s": t1 - t0, "stage_s": t2 - t1,
                  "warm_s": setup_s - (t2 - t0), "warm_check_s": warm["check_s"]}
        steal0 = steal_s()
        passes = measure(wl, spark, Tracer(False), args.seconds)
        steal = steal_s() - steal0
        metrics, detail = end_to_end(setup_s, passes, peak_rss_mb())
        detail.update(setup_phases=phases, steal_s=steal,
                      facts=facts(spark, nproc, cores, wl))
        checked = [warm] + passes
        if args.trace:
            metrics, traced, spark = traced_layers(
                wl, spark, args, work, spec[1], detail["run_s"], detail)
            checked += traced
    finally:
        if spark is not None:
            stop_all(spark)
    if set(metrics) != set(units):
        raise KeyError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    attempted = sum(p["attempted"] for p in checked)
    failed = sum(p["failed"] for p in checked)
    detail["failed_ratio"] = failed / attempted
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
