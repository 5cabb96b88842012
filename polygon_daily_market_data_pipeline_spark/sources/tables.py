"""Parquet table loaders for the driver testdata star schema.

Columnar parquet scans are the engine's bread and butter: Catalyst
pushes predicates and prunes columns into the scan
(``PushedFilters`` / ``ReadSchema`` in ``.explain``), which is the
Spark analogue of Snowflake's micro-partition pruning that the
reference leans on (every statement carries a
``WHERE TRADE_DATE = <run date>`` — e.g.
``/root/reference/dags/sql/merge_core.sql:12``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# Dimension-sized tables we always broadcast in star joins.
SMALL_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    Plans under the caller's session, which must carry
    ``session.QUERY_CONF``: registered queries run on a clone that sets
    it, and ``get_spark`` sessions start with it. Under it naive
    parquet timestamps read as TIMESTAMP in UTC, and
    ``events.parquet``'s TIMESTAMP(NANOS), which vanilla Spark rejects
    (PARQUET_TYPE_ILLEGAL), reads as long and is truncated here to
    microsecond timestamps — the same truncation DuckDB applies, so
    oracle comparisons agree.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
