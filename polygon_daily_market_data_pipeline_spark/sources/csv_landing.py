"""Landing-zone CSV source: the typed RAW load (SURVEY.md §2.1 S7/S8).

Reproduces the reference's external-stage scan + COPY INTO projection
(``/root/reference/dags/sql/copy_to_raw.sql:5-38``; file-format DDL
``load_daily_eod_prices.sql:15-19``):

- delimiter ',', SKIP_HEADER=1           → header=True
- NULL_IF ('', 'NULL', 'NaN'),
  EMPTY_FIELD_AS_NULL                    → nullValue/nanValue + post-read
                                           normalization of sentinel strings
- ON_ERROR='CONTINUE'                    → mode=PERMISSIVE + try_cast
- positional typed projection $2..$7     → explicit select with try_cast
- METADATA$FILENAME, CURRENT_TIMESTAMP() → _metadata.file_path /
                                           current_timestamp (overridable for
                                           deterministic tests, SURVEY §7.3.6)
- injected literal trade date            → lit(run_date)

Scale: the CSV scan is schema-declared (no inference pass), the typed
projection is codegen'd, and the output is written partitioned by
``trade_date`` so every downstream statement partition-prunes exactly
like the reference's per-date WHERE clauses.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions.casts import try_to_decimal, try_to_number
from polygon_daily_market_data_pipeline_spark.schemas import LANDING_CSV_SCHEMA

_NULL_SENTINELS = ("", "NULL", "NaN")


def _null_if(c: Column) -> Column:
    """NULL_IF ('', 'NULL', 'NaN') + EMPTY_FIELD_AS_NULL
    (copy_to_raw.sql:34-35)."""
    return F.when(F.trim(c).isin(*_NULL_SENTINELS), F.lit(None)).otherwise(c)


def read_landing_csv(spark: SparkSession, path: str) -> DataFrame:
    """Raw (all-string) scan of a landing CSV file/dir."""
    return (
        spark.read.schema(LANDING_CSV_SCHEMA)
        .options(header=True, mode="PERMISSIVE")
        .csv(path)
    )


def typed_raw_load(
    spark: SparkSession,
    path: str,
    trade_date: dt.date | str,
    ingest_ts: dt.datetime | None = None,
) -> DataFrame:
    """CSV → RAW_EOD_PRICES rows (the COPY INTO typed projection).

    ``ingest_ts=None`` uses ``current_timestamp()`` like the reference;
    tests pass a fixed value for deterministic dedup tie-breaks.
    """
    df = read_landing_csv(spark, path)
    ts = F.current_timestamp() if ingest_ts is None else F.lit(ingest_ts)
    return df.select(
        F.lit(str(trade_date)).cast("date").alias("trade_date"),  # $1 literal
        _null_if(F.col("symbol")).alias("symbol"),                # $2::STRING
        try_to_decimal(_null_if(F.col("open"))).alias("open"),    # $3
        try_to_decimal(_null_if(F.col("high"))).alias("high"),    # $4
        try_to_decimal(_null_if(F.col("low"))).alias("low"),      # $5
        try_to_decimal(_null_if(F.col("close"))).alias("close"),  # $6
        try_to_number(_null_if(F.col("volume"))).alias("volume"), # $7
        F.col("_metadata.file_path").alias("_src_file"),          # METADATA$FILENAME
        ts.alias("_ingest_ts"),                                   # CURRENT_TIMESTAMP
    )
