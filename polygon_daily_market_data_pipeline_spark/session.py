"""SparkSession construction with scale-aware defaults.

The reference pins a Snowflake warehouse per script
(``/root/reference/dags/sql/copy_to_raw.sql:1``); our equivalent is a
session factory with the configuration we would ship to a 1000-executor
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), broadcast threshold tuned, Arrow enabled for the few
pandas-interop paths, session timezone pinned (the reference computes
trading dates in a fixed TZ — ``get_securities_data.py:14``; we pin UTC
so Spark and the DuckDB oracle agree on date arithmetic).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One BLAS thread per task: Spark supplies the parallelism; nested
# OpenBLAS threads inside pandas-UDF workers only oversubscribe cores.
# Set on import, so before the JVM and its Python workers start: workers
# inherit the driver env in local mode; on a cluster ship the same via
# spark.executorEnv.OPENBLAS_NUM_THREADS.
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")


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
        .config("spark.sql.session.timeZone", "UTC")
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
