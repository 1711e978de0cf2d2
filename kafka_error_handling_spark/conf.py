"""Cluster-scale configuration profile.

One place for the Spark confs this engine assumes at 100 TB, with the
reasoning attached.  Call :func:`configure_for_scale` right after session
creation (idempotent; every knob is a public Spark conf).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["SCALE_CONFS", "configure_for_scale", "driver_max_result_bytes"]

SCALE_CONFS: dict[str, str] = {
    # AQE: runtime re-planning — coalesces small shuffle partitions, splits
    # skewed ones, switches SMJ→broadcast when a side turns out tiny.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas/createDataFrame; the capture layer's Arrow UDFs,
    # mapInArrow and applyInPandasWithState always transfer Arrow batches,
    # whose size bounds Python-worker memory per batch (rows, not bytes).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Scan parallelism: 128 MiB splits keep per-task memory flat however
    # large the table is; openCostInBytes biases against tiny-file tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.files.openCostInBytes": "4194304",
    # Deterministic timestamp rendering vs timezone-less oracles/sinks.
    "spark.sql.session.timeZone": "UTC",
    # Nanosecond parquet timestamps read as longs (normalized by
    # sources.files.load_table) instead of failing the scan.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure_for_scale(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply :data:`SCALE_CONFS`; ``shuffle_partitions`` defaults to
    2× default parallelism (the AQE coalescer shrinks over-provisioned
    partitions for free; under-provisioning causes spill)."""
    for k, v in SCALE_CONFS.items():
        spark.conf.set(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism * 2
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def driver_max_result_bytes(spark: SparkSession, default: int = 1 << 30) -> int:
    """``spark.driver.maxResultSize`` in bytes, or ``default`` when unset /
    unparseable / unlimited (0).

    This conf is the one hard budget Spark itself enforces on anything
    collected to (and re-broadcast through) the driver, which makes it the
    natural source for broadcast-vs-shuffle regime crossovers
    (``plans/graph.py`` pagerank/CC label frames, ``datapipe/dedup.py``
    minhash signature prefilter).  NB: it is a bytesConf whose plain-number
    unit is MiB — "1024" means 1 GiB, not 1024 bytes (ADVICE r7).
    """
    try:
        raw = spark.conf.get("spark.driver.maxResultSize", "1g")
    except Exception:
        return default
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    s = str(raw).strip().lower()
    # Spark's byteStringAs: a lone trailing 'b' means BYTES ("100b" = 100
    # bytes); strip the 'b' only when it follows a k/m/g/t unit letter
    # ("2gb" = 2 GiB) — ADVICE r8.
    if s.endswith("b") and s[-2:-1] in units:
        s = s[:-1]
    if s.endswith("b") and s[:-1].isdigit():
        return int(s[:-1]) or default
    mult = units.get(s[-1:], None)
    try:
        nbytes = int(float(s[:-1]) * mult) if mult else int(s) * (1 << 20)
    except ValueError:
        return default
    return nbytes if nbytes > 0 else default
