"""Cluster-scale configuration profile.

One place for the Spark confs this engine assumes at 100 TB, with the
reasoning attached.  Call :func:`configure_for_scale` right after session
creation (idempotent; every knob is a public Spark conf).

Also the one place that decides driver-vs-distributed regimes against
``spark.driver.maxResultSize`` (:func:`bounded_collect`,
:func:`fits_driver`) and parses the ``auto|true|false`` regime confs
(:func:`regime_mode`).
"""

from __future__ import annotations

import json
import logging

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "SCALE_CONFS",
    "bounded_collect",
    "configure_for_scale",
    "driver_max_result_bytes",
    "fits_driver",
    "regime_mode",
]

# one "keh.regime {json}" line per driver-vs-distributed decision
_regime_log = logging.getLogger("kafka_error_handling_spark.regime")

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
    """``spark.driver.maxResultSize`` in bytes, or ``default`` when it is
    0 (unlimited).

    This conf is the one hard budget Spark itself enforces on anything
    collected to (and re-broadcast through) the driver, so every
    driver-vs-distributed crossover is priced against it.  The value is
    read through Spark's own parser (``JavaUtils.byteStringAsBytes``, the
    one behind the conf's ``bytesConf(ByteUnit.BYTE)``), so a plain number
    means bytes exactly as the limit Spark enforces reads it.
    """
    raw = spark.conf.get("spark.driver.maxResultSize", "1g")
    nbytes = SparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    return nbytes or default


def regime_mode(spark: SparkSession, key: str) -> bool | None:
    """A regime conf (``auto|true|false``, case and surrounding spaces
    ignored): ``None`` for auto, else the pinned bool.  Any other value
    raises ``ValueError`` — a typo must not silently fall back to auto."""
    raw = spark.conf.get(key, "auto")
    mode = str(raw).strip().lower()
    if mode == "auto":
        return None
    if mode in ("true", "false"):
        return mode == "true"
    raise ValueError(f"{key}={raw!r}: expected auto, true or false")


def _record(site: str, decision: str, rows: int | None, budget: int) -> None:
    _regime_log.info(
        "keh.regime %s",
        json.dumps({"site": site, "decision": decision, "rows": rows, "budget": budget}),
    )


def fits_driver(spark: SparkSession, n_rows: int, bytes_per_row: int, site: str) -> bool:
    """True while ``n_rows`` rows of ``bytes_per_row`` fit the driver
    budget (:func:`driver_max_result_bytes`) — the crossover for sites
    that already know their row count (a broadcast of a materialized
    one-row-per-node frame, say).  Logs the decision."""
    budget = driver_max_result_bytes(spark) // bytes_per_row
    fits = n_rows <= budget
    _record(site, "driver" if fits else "distributed", n_rows, budget)
    return fits


def bounded_collect(df: DataFrame, bytes_per_row: int, conf_key: str) -> list | None:
    """Rows of ``df`` when the driver regime applies, else ``None``.

    The regime conf ``conf_key`` (:func:`regime_mode`) pins it: ``true``
    collects every row, ``false`` returns ``None`` without touching
    ``df``.  On auto, one ``take(budget + 1)`` both probes and collects —
    the rows if they fit the ``bytes_per_row``-priced driver budget,
    ``None`` if they do not (over budget the probe stops early: the
    CollectLimit reads only as many partitions as it needs).  Logs the
    decision."""
    spark = df.sparkSession
    mode = regime_mode(spark, conf_key)
    budget = driver_max_result_bytes(spark) // bytes_per_row
    if mode is False:
        _record(conf_key, "distributed", None, budget)
        return None
    rows = df.collect() if mode else df.take(budget + 1)
    fits = mode or len(rows) <= budget
    _record(conf_key, "driver" if fits else "distributed", len(rows), budget)
    return rows if fits else None
