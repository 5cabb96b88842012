"""Per-branch Spark-job census for the warehouse trio (VERDICT r15 #1).

Runs each warehouse branch script in isolation (serial, oracle off) and
reports the DAGScheduler job-count delta + wall-clock per branch, so the
job-merging work prices against named branches instead of the trio
total. Usage::

    python tools/job_census.py [sf_dir] [branch ...]

With no branch args, runs every branch in ``_BRANCH_DEFS`` plus the
three registered trio queries end-to-end (the end-to-end numbers are
what BENCH_r{N}.json's ``jobs`` field reports).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from pyspark.sql import SparkSession  # noqa: E402


def n_jobs(spark) -> int:
    """Monotone DAGScheduler job counter (jobs submitted so far)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("job_census")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.ansi.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from polygon_daily_market_data_pipeline_spark.plans import warehouse_ops as W

    # warm-up: python worker pool + codegen
    from polygon_daily_market_data_pipeline_spark.plans.analytics import QUERIES

    warm = "/root/testdata/sf0.001"
    if Path(warm).exists():
        QUERIES["pricing_summary"](spark, warm).collect()
        spark.range(0, 64, 1, int(cpus)).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()

    names = only or [n for n, _f, _c in W._BRANCH_DEFS]
    total_jobs = 0
    total_wall = 0.0
    print(f"{'branch':<22} {'jobs':>5} {'wall_s':>7}")
    for name in names:
        import shutil
        import uuid

        base = os.path.join(
            tempfile.gettempdir(), f"job_census_{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(base)
        try:
            with W._utc_pin(spark), W._audit_scheduling_pin(
                spark
            ), W._narrow_shuffle_pin(spark):
                j0, t0 = n_jobs(spark), time.monotonic()
                out = W.build_maintenance_union(
                    spark, sf_dir, base, timed=False, branches=[name],
                    ord_df=W._ord_slice(spark, sf_dir),
                ).localCheckpoint(eager=True)
                out.collect()
                j1, t1 = n_jobs(spark), time.monotonic()
        finally:
            shutil.rmtree(base, ignore_errors=True)
        total_jobs += j1 - j0
        total_wall += t1 - t0
        print(f"{name:<22} {j1 - j0:>5} {t1 - t0:>7.2f}")
    print(f"{'TOTAL':<22} {total_jobs:>5} {total_wall:>7.2f}")

    if not only:
        for q in (
            "warehouse_maintenance",
            "warehouse_lifecycle",
            "warehouse_streaming",
        ):
            j0, t0 = n_jobs(spark), time.monotonic()
            QUERIES[q](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            j1, t1 = n_jobs(spark), time.monotonic()
            print(f"E2E {q:<22} {j1 - j0:>5} {t1 - t0:>7.2f}")


if __name__ == "__main__":
    main()
