"""SparkSession construction with scale-aware defaults.

The reference pins a Snowflake warehouse per script
(``/root/reference/dags/sql/copy_to_raw.sql:1``); our equivalent is a
session factory with the configuration we would ship to a 1000-executor
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), broadcast threshold tuned, Arrow enabled for the few
pandas-interop paths, session timezone pinned (the reference computes
trading dates in a fixed TZ — ``get_securities_data.py:14``; we pin UTC
so Spark and the DuckDB oracle agree on date arithmetic).

``with_conf`` is the one way evaluation sets a conf: it runs the scope
on a clone of the caller's session, so the caller is never written.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# One BLAS thread per task: Spark supplies the parallelism; nested
# OpenBLAS threads inside pandas-UDF workers only oversubscribe cores.
# Set on import, so before the JVM and its Python workers start: workers
# inherit the driver env in local mode; on a cluster ship the same via
# spark.executorEnv.OPENBLAS_NUM_THREADS.
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")


# Confs every registered query plans under (``analytics.register`` runs
# each on a clone that carries them). The testdata timestamps are naive
# UTC: a UTC session makes hour windows and date_trunc agree with the
# DuckDB oracle whatever zone the caller runs in; naive parquet
# timestamps surface as TIMESTAMP, not TIMESTAMP_NTZ, because
# watermarks, unix_micros and epoch casts need TIMESTAMP; and
# events.parquet's TIMESTAMP(NANOS), which Spark otherwise rejects
# (PARQUET_TYPE_ILLEGAL), reads as a long that ``load_table`` truncates
# to micros the way DuckDB does. All three are read at analysis.
QUERY_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def with_conf(
    target: SparkSession | DataFrame, conf: dict[str, str]
) -> SparkSession | DataFrame:
    """``target`` (a SparkSession or a DataFrame) on a clone of its
    session with ``conf`` set; the caller's session is never written.

    The clone shares the SparkContext and the cache, and starts from the
    caller's current conf, temp views, UDFs and own streaming-query
    listeners (a stream started on the clone reports to them). A conf
    read at analysis (session time zone, parquet timestamp inference)
    must be set on the session before its frames are built; a conf read
    at execution (shuffle width, AQE, state-store provider, output
    timestamp type) may be set by rebinding a built frame, whose plan
    then runs on the clone."""
    spark = target if isinstance(target, SparkSession) else target.sparkSession
    jclone = spark._jsparkSession.cloneSession()
    for listener in _own_listeners(spark._jsparkSession):
        jclone.streams().addListener(listener)
    clone = SparkSession(spark.sparkContext, jclone)
    for k, v in conf.items():
        clone.conf.set(k, str(v))
    if isinstance(target, SparkSession):
        return clone
    dataset = clone._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(dataset.ofRows(jclone, target._jdf.logicalPlan()), clone)


def release_stream_bus(clone: SparkSession) -> None:
    """Take ``clone``'s streaming listener bus off the context's
    ``LiveListenerBus``; call it once the clone's last stream has
    terminated. Starting a stream creates the session's
    ``StreamingQueryManager``, whose bus is never removed, so every
    drain on a fresh ``with_conf`` clone would leak one. The terminate
    event is posted before ``awaitTermination`` returns; waiting for the
    bus to drain first delivers it to the listeners. If the bus does not
    drain within 10 s, the clone's bus is left in place: a leaked bus
    is better than a lost event."""
    from py4j.protocol import Py4JJavaError

    manager = clone._jsparkSession.streams()
    field = manager.getClass().getDeclaredField("listenerBus")
    field.setAccessible(True)
    live = clone.sparkContext._jsc.sc().listenerBus()
    try:
        live.waitUntilEmpty(10_000)
    except Py4JJavaError:
        return
    live.removeListener(field.get(manager))


def _own_listeners(jsession) -> list:
    """The session's own ``StreamingQueryListener``s: all but Spark's
    shared streaming-UI status listener, which every new
    ``StreamingQueryManager`` registers itself. A session whose manager
    was never created has none and is not given one — a manager adds a
    listener bus to the context's ``LiveListenerBus`` that is never
    removed, so copying onto every clone leaked one per call."""
    from py4j.protocol import Py4JError

    state = jsession.sessionState()
    try:
        # the lazy val's backing field stays null until first use
        field = state.getClass().getDeclaredField("streamingQueryManager")
        field.setAccessible(True)
        if field.get(state) is None:
            return []
    except Py4JError:
        pass  # another layout: list through the manager
    status = jsession.sharedState().streamingQueryStatusListener()
    return [
        listener
        for listener in jsession.streams().listListeners()
        if not (status.isDefined() and listener.equals(status.get()))
    ]


def local_cores() -> int:
    """Task threads for a local session: ``$SPARK_GRAFT_CPUS``, else the
    cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def effective_master(master: str | None = None) -> str:
    """The master a session runs on: ``master``, else ``$SPARK_MASTER``
    (a deployment that leaves the master to spark-submit), else
    ``local[local_cores()]``."""
    return master or os.environ.get("SPARK_MASTER") or f"local[{local_cores()}]"


def local_mode_conf(master: str | None = None) -> dict[str, str]:
    """Confs that hold only when the driver JVM is also the executor:
    empty for a cluster master."""
    if not effective_master(master).startswith("local"):
        return {}
    conf = {
        # List partition dirs on the driver, never as a Spark job. Local
        # "executors" are driver threads on the same disk, so a listing
        # job only adds scheduling: one spark.read.parquet of a table
        # with 41/250/2000 date partitions took 0.40/1.07/7.07 s with the
        # default threshold (32 paths) and 0.10/0.12/0.36 s listed on the
        # driver (local[4]).
        "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
    }
    if not os.environ.get("SPARK_DRIVER_MEMORY"):
        # driver heap IS the executor heap; the 1g default dies on
        # legitimate AQE broadcasts around 10⁵-row candidate frames
        # (see SCALE.md scaling probe)
        conf["spark.driver.memory"] = "8g"
    return conf


def get_spark(
    app_name: str = "polygon-eod-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[local_cores()]``.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # plan like the registered queries, so a direct load_table call
        # (tests, tools) reads the testdata the same way
        .config(map=QUERY_CONF)
        # AQE: runtime shuffle-partition coalescing, skew-join handling,
        # dynamic broadcast conversion — essential at 100 TB where static
        # planning misguesses cardinalities.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the pandas-UDF paths (multimodal, embedding ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Write timestamps as INT64 TIMESTAMP_MICROS, not Spark's legacy
        # INT96 default: INT96 records NO footer min/max statistics,
        # which silently disables file pruning on time predicates and
        # blinds every envelope consumer (data skipping, fast_aggregate,
        # transform partition tags) on ts columns. commit_version
        # carries a timezone-free aggregate fallback for vanilla
        # sessions, but MICROS makes the metadata path free here.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Dynamic partition overwrite = the reference's FORCE=TRUE +
        # idempotent per-date re-load (copy_to_raw.sql:38).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or local_cores()),
        )
        # ANSI off: the reference uses TRY_TO_* semantics (NULL on
        # malformed input, copy_to_raw.sql:21-25); we use try_cast
        # explicitly but keep permissive arithmetic like Snowflake's
        # loader path.
        .config("spark.sql.ansi.enabled", "false")
        # zstd parquet: ~30-40% smaller than snappy at similar scan
        # speed — at 100 TB the IO saved dominates the encode cost.
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if master or not os.environ.get("SPARK_MASTER"):
        builder = builder.master(effective_master(master))
    for k, v in {**local_mode_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
