"""Seeded market history, written once through ``pipeline.Warehouse``.

The history is the star the daily pipeline produces (RAW, CORE,
dim_security, dim_date, FACT) in the ``schemas.*`` types, generated in
Spark from hash expressions over (seed, ticker, day), one pass per
table. ``snapshot_dims``/``restore`` let the daily workload start every
batch from the same warehouse state.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark import schemas
from polygon_daily_market_data_pipeline_spark.functions.calendar import (
    calendar_attributes,
)
from polygon_daily_market_data_pipeline_spark.pipeline import Warehouse

DATE_TABLES = ("raw_eod_prices", "eod_prices", "fact_daily_price")
DIM_TABLES = ("dim_security", "dim_date")


def weekdays_before(day: dt.date, n: int) -> list[dt.date]:
    """The ``n`` weekdays strictly before ``day``, oldest first."""
    out, d = [], day
    while len(out) < n:
        d -= dt.timedelta(days=1)
        if d.weekday() < 5:
            out.append(d)
    return out[::-1]


def _unit(seed: int, k: int):
    """A per-(ticker, day) pseudo-random double in [0, 1)."""
    h = F.xxhash64(F.lit(seed), F.col("idx"), F.col("day_idx"), F.lit(k))
    return F.pmod(h, F.lit(1_000_003)) / F.lit(1_000_003.0)


def _prices(seed: int) -> list:
    base = F.lit(1.0) + F.pmod(F.xxhash64(F.lit(seed), F.col("idx")), F.lit(89_900)) / 100.0
    close = F.round(base * (F.lit(0.9) + _unit(seed, 1) * 0.2), 2)
    open_ = F.round(close * (F.lit(0.97) + _unit(seed, 2) * 0.06), 2)
    high = F.round(F.greatest(open_, close) * (F.lit(1.0) + _unit(seed, 3) * 0.02), 2)
    low = F.round(F.least(open_, close) * (F.lit(0.98) + _unit(seed, 4) * 0.02), 2)
    volume = F.lit(100) + F.pmod(
        F.xxhash64(F.lit(seed), F.col("idx"), F.col("day_idx"), F.lit(5)),
        F.lit(50_000_000),
    )
    p = schemas.PRICE
    return [
        open_.cast(p).alias("open"),
        high.cast(p).alias("high"),
        low.cast(p).alias("low"),
        close.cast(p).alias("close"),
        volume.cast(schemas.VOLUME).alias("volume"),
    ]


def build_star(
    spark: SparkSession,
    root: str,
    seed: int,
    symbols: list[str],
    days: list[dt.date],
    landing_uri: str,
) -> None:
    """Write the history star under ``root``. ``symbols[i]`` gets
    ``security_id = i + 1``."""
    wh = Warehouse(spark, root)
    sym = spark.createDataFrame(list(enumerate(symbols)), "idx int, symbol string")
    cal = spark.createDataFrame(list(enumerate(days)), "day_idx int, trade_date date")
    n = len(symbols)
    # id-ordered range: each task holds whole, contiguous days, so every
    # date partition is written as one file without a shuffle
    rows = (
        spark.range(0, n * len(days), 1, numPartitions=4)
        .select(
            (F.col("id") % n).cast("int").alias("idx"),
            (F.col("id") / n).cast("int").alias("day_idx"),
        )
        .join(F.broadcast(sym), "idx")
        .join(F.broadcast(cal), "day_idx")
        .select("idx", "symbol", "trade_date", *_prices(seed))
    )
    loaded = (F.col("trade_date").cast("timestamp") + F.expr("INTERVAL 22 HOURS"))

    def cast(df: DataFrame, schema) -> DataFrame:
        return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])

    raw = rows.withColumn(
        "_src_file",
        F.concat(
            F.lit(landing_uri + "/_pdate="),
            F.col("trade_date").cast("string"),
            F.lit("/part-00000.csv"),
        ),
    ).withColumn("_ingest_ts", loaded)
    wh.overwrite(cast(raw, schemas.RAW_EOD_PRICES), "raw_eod_prices", "trade_date")
    core = rows.withColumn("load_ts", loaded)
    wh.overwrite(cast(core, schemas.CORE_EOD_PRICES), "eod_prices", "trade_date")
    attrs = calendar_attributes(F.col("trade_date"))
    fact = (
        rows.withColumn("security_id", F.col("idx") + 1)
        .withColumn("date_sk", attrs["date_sk"])
        .withColumn("load_ts", loaded)
    )
    wh.overwrite(cast(fact, schemas.FACT_DAILY_PRICE), "fact_daily_price", "trade_date")
    dim_sec = sym.select((F.col("idx") + 1).alias("security_id"), "symbol")
    wh.overwrite(cast(dim_sec.coalesce(1), schemas.DIM_SECURITY), "dim_security")
    dim_date = cal.select(*[e.alias(n) for n, e in attrs.items()])
    wh.overwrite(cast(dim_date.coalesce(1), schemas.DIM_DATE), "dim_date")


def partition_count(root: str, table: str) -> int:
    return sum(1 for n in os.listdir(os.path.join(root, table)) if n.startswith("trade_date="))


def snapshot_dims(root: str, dest: str) -> None:
    for t in DIM_TABLES:
        shutil.copytree(os.path.join(root, t), os.path.join(dest, t))


def restore(root: str, dims_snapshot: str, day: dt.date) -> None:
    """Undo one batch for ``day``: drop its date partitions and put the
    dimension tables back as they were."""
    for t in DATE_TABLES:
        shutil.rmtree(os.path.join(root, t, f"trade_date={day.isoformat()}"), ignore_errors=True)
    for t in DIM_TABLES:
        shutil.rmtree(os.path.join(root, t))
        shutil.copytree(os.path.join(dims_snapshot, t), os.path.join(root, t))
