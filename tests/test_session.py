"""Session-factory decisions (the default core count, which confs count
as local-mode only) and ``with_conf``, the one way evaluation sets a
conf: on a clone of the caller's session, never on the caller."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.session import (
    effective_master,
    local_cores,
    local_mode_conf,
    with_conf,
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


TZ = "spark.sql.session.timeZone"
WIDTH = "spark.sql.shuffle.partitions"


def _caller(spark):
    caller = spark.newSession()
    caller.conf.set(TZ, "America/New_York")
    caller.conf.set(WIDTH, "3")
    return caller


def test_with_conf_leaves_the_caller_unchanged(spark):
    caller = _caller(spark)
    before = caller.conf.getAll
    clone = with_conf(caller, {TZ: "UTC", "spark.sql.adaptive.enabled": "false"})
    assert caller.conf.getAll == before
    assert clone.conf.get(TZ) == "UTC"
    assert clone.conf.get("spark.sql.adaptive.enabled") == "false"
    # a runtime setting the clone does not override is inherited
    assert clone.conf.get(WIDTH) == "3"


def test_with_conf_frame_keeps_the_clone_zone(spark):
    caller = _caller(spark)
    df = with_conf(caller, {TZ: "UTC"}).range(1).select(
        F.current_timezone().alias("tz")
    )
    caller.conf.set(TZ, "Asia/Tokyo")
    assert df.collect()[0].tz == "UTC"
    # a built frame rebinds to a clone: execution confs apply, the
    # caller keeps its own
    rebound = with_conf(caller.range(10), {WIDTH: "5"})
    assert rebound.sparkSession.conf.get(WIDTH) == "5"
    assert rebound.count() == 10
    assert caller.conf.get(WIDTH) == "3"


def test_drain_on_a_clone_reaches_caller_listeners(spark, tmp_path):
    from pyspark.sql.streaming import StreamingQueryListener

    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )

    caller = _caller(spark)
    seen: list[str] = []

    class Seen(StreamingQueryListener):
        def onQueryStarted(self, event):
            seen.append("started")

        def onQueryProgress(self, event):
            seen.append("progress")

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            seen.append("terminated")

    caller.streams.addListener(Seen())
    src = str(tmp_path / "src")
    caller.range(5).write.parquet(src)
    got = run_available_now(caller.readStream.schema("id long").parquet(src), "t_seen")
    assert got.count() == 5
    deadline = time.time() + 30
    while "terminated" not in seen and time.time() < deadline:
        time.sleep(0.1)
    assert {"started", "progress", "terminated"} <= set(seen)
    assert caller.conf.get(WIDTH) == "3"


def test_drains_leave_the_listener_bus_alone(spark, tmp_path):
    """Each drain starts its stream on a fresh clone, whose streaming
    manager adds a listener bus to the context's LiveListenerBus; the
    drain removes it once the stream has terminated, with or without a
    caller listener."""
    from pyspark.sql.streaming import StreamingQueryListener

    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )

    class Quiet(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    plain, heard = _caller(spark), _caller(spark)
    heard.streams.addListener(Quiet())
    for caller in (plain, heard):
        stream = caller.readStream.schema("id long").parquet(src)
        run_available_now(stream, "t_bus")  # one-time shared-state setup
        before = bus.listeners().size()
        for _ in range(5):
            assert run_available_now(stream, "t_bus").count() == 5
        assert bus.listeners().size() == before


def test_with_conf_leaves_the_listener_bus_alone(spark):
    """A clone gets the caller's own streaming listeners only: Spark's
    shared streaming-UI status listener is registered by every new
    StreamingQueryManager itself, and copying it created one manager
    per clone, each adding a never-removed bus to the context's
    LiveListenerBus. With no user listener a clone registers nothing —
    top level or nested."""
    spark.streams.active  # the caller's manager exists, as once streamed
    bus = spark.sparkContext._jsc.sc().listenerBus()
    with_conf(spark, {WIDTH: "3"})  # one-time shared-state setup
    before = bus.listeners().size()
    for _ in range(200):
        with_conf(spark, {WIDTH: "3"})
    for _ in range(20):
        with_conf(with_conf(spark, {WIDTH: "3"}).range(1), {WIDTH: "5"})
    assert bus.listeners().size() == before
