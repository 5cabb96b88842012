"""Single-process orchestration of the daily EOD pipeline (SURVEY.md §3.1).

Replaces the Airflow DAG ``polygon_modern_elt_v2``
(``/root/reference/dags/get_securities_data.py:71-230``) with one driver
function. Task graph preserved:

    ingest → validate → copy_to_raw → check_loaded → premerge →
    merge_core → {merge_dim_security ∥ merge_dim_date} → merge_facts →
    postmerge

The XCom metadata dict becomes a local ``BatchMeta``; Jinja date
injection becomes a parameter; retries are a driver-side wrapper
(Spark task retries are free underneath). Warehouse tables are parquet
dirs partitioned by ``trade_date``, and each per-date step reads only
its date's partition dir: RAW after the load, CORE before and after its
merge, FACT before and after its merge. So each day lists and touches
one partition of RAW/CORE/FACT, never the full table, which is what
makes this run unchanged against a 100 TB history. The two DIMs are
small unpartitioned tables and are read whole.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession

from polygon_daily_market_data_pipeline_spark import schemas
from polygon_daily_market_data_pipeline_spark.operators import quality
from polygon_daily_market_data_pipeline_spark.plans import star
from polygon_daily_market_data_pipeline_spark.sources.csv_landing import typed_raw_load

REQUIRED_META_KEYS = ("landing_path", "trading_date", "row_count")  # :152-158


@dataclasses.dataclass
class BatchMeta:
    """The inter-task metadata record (get_securities_data.py:138-143)."""

    landing_path: str
    trading_date: str
    row_count: int

    def validate(self) -> "BatchMeta":
        for k in REQUIRED_META_KEYS:
            if getattr(self, k, None) in (None, ""):
                raise quality.DataQualityError(f"metadata missing key {k!r} (P7)")
        if self.row_count < quality.MIN_EXPECTED_TICKERS:
            raise quality.DataQualityError(
                f"metadata row_count {self.row_count} < "
                f"{quality.MIN_EXPECTED_TICKERS}"
            )
        return self


class Warehouse:
    """Parquet-backed medallion warehouse (RAW/CORE/DIM/FACT), each table
    a directory; CORE/FACT/RAW partitioned by trade_date.

    ``read(table, schema)`` lists every partition dir of the table;
    ``read(table, schema, trade_date)`` lists only that date's dir."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(self._path(table))

    def read(self, table: str, schema, trade_date: str | None = None) -> DataFrame:
        """The table, or with ``trade_date`` (``YYYY-MM-DD``) only its
        ``trade_date=<d>`` partition; ``basePath`` keeps ``trade_date`` a
        column of the declared type. A missing table or partition reads
        as an empty frame of ``schema``."""
        path = self._path(table)
        reader = self.spark.read.schema(schema)
        if trade_date is not None:
            reader = reader.option("basePath", path)
            path = os.path.join(path, f"trade_date={trade_date}")
        if not os.path.exists(path):
            # where("false") makes the optimizer see an empty relation, so
            # joins against a day not yet loaded fold away before running
            return self.spark.createDataFrame([], schema).where("false")
        return reader.parquet(path)

    def overwrite(self, df: DataFrame, table: str, partition_by: str | None = None):
        # localCheckpoint severs lineage so a write can target a path its
        # own plan reads (read-modify-write merges). The checkpointed data
        # is at most one date partition or a dimension — never table-sized.
        w = df.localCheckpoint(eager=True).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(self._path(table))

    def overwrite_partitions(self, df: DataFrame, table: str, partition_by: str):
        """Dynamic partition overwrite — only the partitions present in
        ``df`` are replaced (idempotent per-date re-load). The mode is a
        per-write option, so the session conf is left as it was."""
        if not self.exists(table):
            self.overwrite(df, table, partition_by)
            return
        (
            df.localCheckpoint(eager=True)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_by)
            .parquet(self._path(table))
        )


def run_eod_pipeline(
    spark: SparkSession,
    warehouse_root: str,
    landing_path: str,
    trading_date: str | dt.date,
    fixed_ts: dt.datetime | None = None,
) -> dict[str, DataFrame]:
    """Run one daily batch end-to-end; returns the audit DataFrames.

    ``fixed_ts`` pins ``_ingest_ts``/``load_ts`` for deterministic tests
    (SURVEY.md §7.3.6); production leaves it None → current_timestamp().

    Raises ``SkipBatch`` on an empty landing file (Q2) and
    ``DataQualityError`` on gate failures (Q1/Q3) — the skip-vs-fail
    split of the reference (get_securities_data.py:109-115).
    """
    wh = Warehouse(spark, warehouse_root)
    # zero-padded, so a CLI date like 2024-1-5 names its partition dir
    d = dt.datetime.strptime(str(trading_date), "%Y-%m-%d").date().isoformat()

    # -- upload/validate (S7/S8 + Q1/Q2 + P7) --------------------------------
    raw_batch = typed_raw_load(spark, landing_path, d, ingest_ts=fixed_ts)
    n = quality.min_cardinality_gate(raw_batch)
    BatchMeta(landing_path=landing_path, trading_date=d, row_count=n).validate()

    # -- copy_to_raw + check_loaded (S8, Q3) ----------------------------------
    wh.overwrite_partitions(raw_batch, "raw_eod_prices", "trade_date")
    raw = wh.read("raw_eod_prices", schemas.RAW_EOD_PRICES, d)
    quality.check_loaded(raw, d)

    # -- premerge audit (Q4) ---------------------------------------------------
    core = wh.read("eod_prices", schemas.CORE_EOD_PRICES, d)
    pre = quality.premerge_metrics(raw.where(f"trade_date = DATE'{d}'"), core)
    pre_row = pre.collect()  # materialize before core is rewritten

    # -- merge_core (W1 + J5) --------------------------------------------------
    # The source is a single date, so the MERGE touches exactly one
    # partition: upsert into the date's partition slice and dynamically
    # overwrite only it. Against a 100 TB history this reads+writes one
    # day, never the table (the reference's per-date WHERE on the MERGE
    # achieves the same via Snowflake pruning — merge_core.sql:12).
    src = star.core_source_rows(raw, d, load_ts=fixed_ts)
    core_slice = core.where(f"trade_date = DATE'{d}'")
    merged_slice = star.core_upsert(core_slice, src)
    wh.overwrite_partitions(merged_slice, "eod_prices", "trade_date")
    core = wh.read("eod_prices", schemas.CORE_EOD_PRICES, d)

    # -- dim merges (J6, parallel in the reference; cheap sequential here) ----
    batch = core.where(f"trade_date = DATE'{d}'")
    dim_sec = star.dim_security_merge(
        wh.read("dim_security", schemas.DIM_SECURITY), batch
    )
    wh.overwrite(dim_sec, "dim_security")
    dim_sec = wh.read("dim_security", schemas.DIM_SECURITY)

    dim_date = star.dim_date_merge(wh.read("dim_date", schemas.DIM_DATE), batch)
    wh.overwrite(dim_date, "dim_date")
    dim_date = wh.read("dim_date", schemas.DIM_DATE)

    # -- merge_facts (J2/J3 + W1 + J5) — same partition-scoped merge ----------
    fact = wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE, d)
    fact_src = star.fact_source_rows(batch, dim_sec, dim_date, load_ts=fixed_ts)
    fact_slice = fact.where(f"trade_date = DATE'{d}'")
    merged_fact_slice = star.fact_upsert(fact_slice, fact_src)
    wh.overwrite_partitions(merged_fact_slice, "fact_daily_price", "trade_date")
    fact = wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE, d)

    # -- postmerge reconciliation (Q5) ----------------------------------------
    post = quality.postmerge_metrics(core, fact, d)
    return {
        "premerge": spark.createDataFrame(pre_row, pre.schema),
        "postmerge": post,
    }


def backfill(
    spark: SparkSession,
    warehouse_root: str,
    landing_root: str,
    start: str,
    end: str,
    datasource_options: dict[str, str] | None = None,
    fixed_ts: dt.datetime | None = None,
) -> list[str]:
    """Backfill a date range: ingest every date IN PARALLEL through the
    ``polygon_eod`` DataSource (one task per date — the reference's
    serial catchup loop becomes a single distributed read), land one CSV
    dir per trading day (the reference's 1-file-per-day S3 layout), then
    run the per-date merge pipeline in date order (merges are
    sequential by nature: each day's upsert reads the prior state).

    Returns the trading dates processed. Idempotent: re-running
    overwrites the same landing partitions and the merges converge.
    """
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.sources import polygon_datasource

    polygon_datasource.register(spark)
    reader = (
        spark.read.format("polygon_eod").option("start", start).option("end", end)
    )
    for k, v in (datasource_options or {}).items():
        reader = reader.option(k, v)
    # persisted for its two actions (the landing write, then the date
    # list) so each date is fetched from the API once: a second read
    # would spend rate-limited quota and could see a different answer
    # than the one that landed
    feed = reader.load().persist()
    try:
        # one header-ed CSV dir per date: partition column duplicated so
        # the in-file layout keeps the reference's (trade_date, symbol,
        # ...) order; dynamic overwrite replaces only the fetched dates'
        # dirs, whatever the session's partitionOverwriteMode
        (
            feed.withColumn("_pdate", F.col("trade_date"))
            .write.partitionBy("_pdate")
            .option("header", True)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .csv(landing_root)
        )
        dates = sorted(
            r[0].isoformat()
            for r in feed.select("trade_date").distinct().collect()
        )
    finally:
        feed.unpersist()
    for d in dates:
        run_eod_pipeline(
            spark,
            warehouse_root,
            os.path.join(landing_root, f"_pdate={d}"),
            d,
            fixed_ts=fixed_ts,
        )
    return dates


def _main() -> None:
    import argparse

    from polygon_daily_market_data_pipeline_spark.session import get_spark

    p = argparse.ArgumentParser(
        description="Daily EOD pipeline (single day or parallel backfill)"
    )
    p.add_argument("command", choices=["daily", "backfill"])
    p.add_argument("--warehouse", required=True)
    p.add_argument("--landing", required=True)
    p.add_argument("--date", help="trading date for 'daily' (YYYY-MM-DD)")
    p.add_argument("--start", help="backfill range start")
    p.add_argument("--end", help="backfill range end")
    p.add_argument(
        "--transport", default="synthetic", choices=["synthetic", "http"]
    )
    p.add_argument("--api-key", default="")
    args = p.parse_args()

    spark = get_spark("eod-pipeline")
    if args.command == "daily":
        audits = run_eod_pipeline(spark, args.warehouse, args.landing, args.date)
        for name, df in audits.items():
            print(name)
            df.show(truncate=False)
    else:
        opts = {"transport": args.transport}
        if args.api_key:
            opts["api_key"] = args.api_key
        done = backfill(
            spark, args.warehouse, args.landing, args.start, args.end, opts
        )
        print(f"backfilled {len(done)} trading days: {done}")


if __name__ == "__main__":
    _main()
