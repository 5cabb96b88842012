"""Session-factory decisions that need no Spark: the default core count
and which confs count as local-mode only."""

from __future__ import annotations

import os

from polygon_daily_market_data_pipeline_spark.session import (
    effective_master,
    local_cores,
    local_mode_conf,
)

THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def test_local_cores_defaults_to_the_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3


def test_effective_master_order(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    assert effective_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    assert effective_master() == "spark://head:7077"
    assert effective_master("local[2]") == "local[2]"


def test_local_only_confs_stay_off_clusters(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    local = local_mode_conf()
    assert local[THRESHOLD] == str(2**31 - 1)
    assert local["spark.driver.memory"] == "8g"
    assert local_mode_conf("yarn") == {}

    # the master is left to spark-submit, but it is still a cluster
    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    assert local_mode_conf() == {}
    assert local_mode_conf("local[2]")[THRESHOLD] == str(2**31 - 1)

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert "spark.driver.memory" not in local_mode_conf("local[2]")
