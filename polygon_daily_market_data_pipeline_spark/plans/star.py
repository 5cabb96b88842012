"""Star-schema builds: RAW → CORE → DIM → FACT (SURVEY.md §1.1, §3.1).

Each function is the Spark-first re-expression of one Snowflake MERGE
script, as a pure DataFrame transformation (caller decides write mode):

- ``core_upsert_rows``   ≡ merge_core.sql         (window dedup + upsert)
- ``dim_security_merge`` ≡ merge_dim_security.sql (insert-only + surrogate ids)
- ``dim_date_merge``     ≡ merge_dim_date.sql     (insert-only calendar rows)
- ``fact_rows``          ≡ merge_facts_daily.sql  (2 broadcast dim joins +
                                                   dedup, then upsert)
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions.calendar import calendar_attributes, date_sk
from polygon_daily_market_data_pipeline_spark.functions.casts import norm_key
from polygon_daily_market_data_pipeline_spark.operators.dedupe import latest_by_key
from polygon_daily_market_data_pipeline_spark.operators.merge import (
    assign_surrogate_keys,
    insert_only_merge,
    merge_upsert,
)

PRICE_COLS = ["open", "high", "low", "close", "volume"]


def core_source_rows(
    raw: DataFrame, trade_date: dt.date | str, load_ts: dt.datetime | None = None
) -> DataFrame:
    """RAW rows for one date → deduplicated, normalized CORE-shaped rows.

    merge_core.sql:8-16: filter to the run date, normalize the symbol,
    QUALIFY ROW_NUMBER() OVER (PARTITION BY sym, date
    ORDER BY _INGEST_TS DESC, _SRC_FILE DESC) = 1 — latest ingest wins.
    """
    ts = F.current_timestamp() if load_ts is None else F.lit(load_ts)
    scoped = raw.where(F.col("trade_date") == F.lit(str(trade_date)).cast("date"))
    deduped = latest_by_key(
        scoped.withColumn("symbol", norm_key("symbol")),
        keys=["symbol", "trade_date"],
        order_by=[F.desc("_ingest_ts"), F.desc("_src_file")],
    )
    return deduped.select(
        "trade_date", "symbol", *PRICE_COLS, ts.alias("load_ts")
    )


def core_upsert(core: DataFrame, source: DataFrame) -> DataFrame:
    """CORE upsert on (symbol, trade_date) — merge_core.sql:18-32.

    Matched → update prices + refresh LOAD_TS; not matched → insert.
    At scale the source is one date, so the caller overwrites only that
    partition (partition-pruned merge)."""
    return merge_upsert(core, source, keys=["symbol", "trade_date"])


def dim_security_merge(dim: DataFrame, source: DataFrame) -> DataFrame:
    """Insert-only security dim (merge_dim_security.sql:5-14): DISTINCT
    normalized symbols absent from the dim get fresh surrogate ids
    (max existing + rank — the IDENTITY analog, SURVEY §4.3.5)."""
    new_syms = (
        source.select(norm_key("symbol").alias("symbol"))
        .where(F.col("symbol").isNotNull())
        .distinct()
        .join(dim.select("symbol"), "symbol", "left_anti")
    )
    max_id = (dim.agg(F.coalesce(F.max("security_id"), F.lit(0))).collect())[0][0]
    new_rows = assign_surrogate_keys(new_syms, "symbol", "security_id", int(max_id))
    return dim.unionByName(new_rows.select("security_id", "symbol"))


def dim_date_merge(dim: DataFrame, source: DataFrame) -> DataFrame:
    """Insert-only date dim (merge_dim_date.sql:5-32): 11 calendar
    attributes derived from the distinct trade dates of the batch."""
    attrs = calendar_attributes(F.col("trade_date"))
    src_rows = (
        source.select("trade_date")
        .distinct()
        .select(*[expr.alias(name) for name, expr in attrs.items()])
    )
    return insert_only_merge(dim, src_rows, keys=["date_sk"])


def fact_source_rows(
    core_batch: DataFrame,
    dim_security: DataFrame,
    dim_date: DataFrame,
    load_ts: dt.datetime | None = None,
) -> DataFrame:
    """CORE batch → FACT rows (merge_facts_daily.sql:7-19): join the two
    dims (broadcast — they're dimension-sized), compute DATE_SK from the
    trade date, dedup on (security_id, date_sk) by LOAD_TS DESC."""
    ts = F.current_timestamp() if load_ts is None else F.lit(load_ts)
    e = core_batch.withColumn("date_sk", date_sk("trade_date"))
    joined = (
        e.join(F.broadcast(dim_security), "symbol")
        .join(F.broadcast(dim_date.select("date_sk")), "date_sk")
    )
    deduped = latest_by_key(
        joined,
        keys=["security_id", "date_sk"],
        order_by=[F.desc("load_ts"), F.desc("symbol")],
    )
    return deduped.select(
        "security_id",
        "date_sk",
        "trade_date",
        *PRICE_COLS,
        ts.alias("load_ts"),
    )


def fact_upsert(fact: DataFrame, source: DataFrame) -> DataFrame:
    """FACT upsert on (security_id, date_sk) — merge_facts_daily.sql:21-37."""
    return merge_upsert(fact, source, keys=["security_id", "date_sk"])
