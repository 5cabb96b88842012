"""Dump ``explain("formatted")`` for every registered query to
``plans/$SPARK_GRAFT_PLANS_DIR/<query>_<tag>.txt`` (optimization-round
evidence; the dir defaults to ``r17``).

Usage::

    SPARK_GRAFT_PLANS_DIR=r17 python tools/dump_plans.py <tag> [sf_dir] [query ...]

The two ``*_stream`` queries are skipped (their builders RUN the stream
to a memory sink — the returned frame's plan is a memory scan; their
streaming plans are audited in tests/test_streaming.py). The three
``warehouse_*`` queries dump the LAZY audit union via
``build_maintenance_union`` (the registered wrapper returns a
checkpoint scan, which would dump as a blank plan) — note building it
RUNS the branch scripts, so these three are slow to dump.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from pathlib import Path

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from pyspark.sql import SparkSession  # noqa: E402

SKIP = {"events_hourly_stream", "events_sessionize_stream"}


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = set(sys.argv[3:])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = _REPO / "plans" / os.environ.get("SPARK_GRAFT_PLANS_DIR", "r17")
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = (
        SparkSession.builder.appName("dump_plans")
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

    from polygon_daily_market_data_pipeline_spark.plans import (  # noqa: F401
        llm_ops,
        media_ops,
        streaming_queries,
        warehouse_ops,
    )
    from polygon_daily_market_data_pipeline_spark.plans.analytics import QUERIES
    from polygon_daily_market_data_pipeline_spark.plans import warehouse_ops as W

    for name, fn in QUERIES.items():
        if name in SKIP or name == "zz_sentinel_tail":
            continue
        if only and name not in only:
            continue
        try:
            if name.startswith("warehouse_"):
                base = tempfile.mkdtemp(prefix=f"dump_plans_{name}_")
                try:
                    with W._utc_pin(spark), W._audit_scheduling_pin(
                        spark
                    ), W._narrow_shuffle_pin(spark):
                        df = W.build_maintenance_union(
                            spark,
                            sf_dir,
                            base,
                            branches=W.WAREHOUSE_QUERIES[name],
                            ord_df=W._ord_slice(spark, sf_dir),
                        )
                        plan = df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"
                        )
                finally:
                    shutil.rmtree(base, ignore_errors=True)
            else:
                df = fn(spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            (out_dir / f"{name}_{tag}.txt").write_text(plan)
            print(f"ok   {name} ({len(plan)} chars)")
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: {exc}")


if __name__ == "__main__":
    main()
