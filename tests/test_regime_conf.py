"""Regime confs are strict, and every driver-vs-distributed decision is
logged once.

Each ``auto|true|false`` regime conf must reject a typo at its entry call
instead of silently falling back to auto, and an auto decision must
leave exactly one ``keh.regime`` record (site, decision, rows, budget)
on the ``kafka_error_handling_spark.regime`` logger.
"""

import json
import logging

import pytest

from kafka_error_handling_spark.conf import driver_max_result_bytes
from kafka_error_handling_spark.datapipe import dedup as D
from kafka_error_handling_spark.plans import graph as G

# 6-clique + a peeling tail (the k-core regime-identity test's graph)
_EDGES = [(i, j) for i in range(1, 7) for j in range(i + 1, 7)] + [(6, 10), (10, 11)]


def _edges(spark):
    return spark.createDataFrame(_EDGES, "src long, dst long")


_ENTRY_CALLS = {
    G.KCORE_DRIVER_CONF: lambda spark, sf_dir: G.kcore_rounds(_edges(spark)),
    G.CC_DRIVER_UF_CONF: lambda spark, sf_dir: G.connected_components(_edges(spark)),
    D.SIG_BROADCAST_CONF: lambda spark, sf_dir: D.q_dedup_minhash_lsh(spark, sf_dir),
}


@pytest.mark.parametrize("conf_key", list(_ENTRY_CALLS))
def test_regime_conf_rejects_typos(spark, sf_dir, conf_key):
    call = _ENTRY_CALLS[conf_key]
    try:
        for bad in ("flase", "1", "yes"):
            spark.conf.set(conf_key, bad)
            with pytest.raises(ValueError, match=conf_key.replace(".", r"\.")):
                call(spark, sf_dir)
        for good in ("AUTO", " False "):
            spark.conf.set(conf_key, good)
            call(spark, sf_dir).collect()
    finally:
        spark.conf.unset(conf_key)


def test_auto_kcore_logs_one_regime_record(spark, caplog):
    caplog.set_level(logging.INFO, logger="kafka_error_handling_spark.regime")
    G.kcore_rounds(_edges(spark))
    records = [r for r in caplog.records if r.getMessage().startswith("keh.regime ")]
    assert len(records) == 1
    rec = json.loads(records[0].getMessage()[len("keh.regime ") :])
    assert rec["site"] == G.KCORE_DRIVER_CONF
    assert rec["decision"] == "driver"
    assert rec["rows"] == len(_EDGES)
    assert rec["budget"] == driver_max_result_bytes(spark) // G.CC_BYTES_PER_EDGE
