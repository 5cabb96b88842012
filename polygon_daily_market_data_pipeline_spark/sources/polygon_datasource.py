"""Spark 4 Python DataSource for the Polygon grouped-daily EOD feed:
``spark.read.format("polygon_eod").option("start","...").option("end","...")``.

SURVEY.md §2.1 S1 names this as the idiomatic packaging of the HTTP
ingest (reference: ``/root/reference/dags/lib/eod_data_downloader.py``):
instead of the reference's driver-side loop fetching one day at a time,
each trading date becomes an ``InputPartition`` — a 1000-executor
cluster backfills years of history in parallel, with Spark task retries
giving per-date fault tolerance on top of the client's HTTP retries.

Executor-side transport is resolved by name (options are pickled to
workers; callables are not): ``transport=synthetic`` generates a
deterministic per-date batch (offline default — this container has no
network), ``transport=http`` uses the real client. The JSON envelope →
row parsing and the min-cardinality DQ gate are the shared client code
either way.
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from polygon_daily_market_data_pipeline_spark.sources.polygon_api import (
    GROUPED_DAILY_PATH,
    MIN_EXPECTED_TICKERS,
    EmptyTradingDay,
    TooFewTickers,
    extract_results,
    fetch_with_retry,
)

EOD_SCHEMA = (
    "trade_date date, symbol string, open double, high double, "
    "low double, close double, volume bigint"
)


def synthetic_day_body(date_str: str, n_tickers: int = 120) -> str:
    """Deterministic Polygon-envelope JSON for one date: weekends are
    empty (resultsCount 0) like the real market calendar; prices derive
    from a per-(date, ticker) hash so replays are identical."""
    d = dt.date.fromisoformat(date_str)
    if d.weekday() >= 5:
        return json.dumps({"resultsCount": 0, "results": []})
    import hashlib

    results = []
    for i in range(n_tickers):
        # md5, not hash(): builtin str hashing is salted per Python
        # process, which would break cross-executor determinism
        digest = hashlib.md5(f"{date_str}:{i}".encode()).digest()
        seed = (int.from_bytes(digest[:4], "little") & 0x7FFFFFFF) or 1
        base = 10.0 + (seed % 9000) / 100.0
        results.append(
            {
                "T": f"TK{i:04d}",
                "o": round(base, 2),
                "h": round(base * 1.02, 2),
                "l": round(base * 0.98, 2),
                "c": round(base * 1.01, 2),
                "v": 1000 + seed % 5_000_000,
            }
        )
    return json.dumps({"resultsCount": len(results), "results": results})


class _DatePartition(InputPartition):
    def __init__(self, date_str: str):
        self.date_str = date_str


class PolygonEodReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def _dates(self) -> list[str]:
        if "dates" in self.options:
            return [s.strip() for s in self.options["dates"].split(",") if s.strip()]
        start = dt.date.fromisoformat(self.options["start"])
        end = dt.date.fromisoformat(self.options.get("end", self.options["start"]))
        out, d = [], start
        while d <= end:
            out.append(d.isoformat())
            d += dt.timedelta(days=1)
        return out

    def partitions(self) -> list[InputPartition]:
        return [_DatePartition(s) for s in self._dates()]

    def read(self, partition: _DatePartition) -> Iterator[tuple]:
        date_str = partition.date_str
        transport = self.options.get("transport", "synthetic")
        min_tickers = int(
            self.options.get("min_tickers", MIN_EXPECTED_TICKERS)
        )
        if transport == "synthetic":
            body = synthetic_day_body(
                date_str, int(self.options.get("num_tickers", "120"))
            )
        elif transport == "http":
            base = self.options.get("base_url", "https://api.polygon.io")
            url = base + GROUPED_DAILY_PATH.format(date=date_str)
            params = {
                "adjusted": "true",
                "include_otc": "false",
                "apiKey": self.options.get("api_key", ""),
            }
            body = fetch_with_retry(url, params).body
        else:
            raise ValueError(f"unknown transport {transport!r}")
        try:
            results = extract_results(body, min_tickers=min_tickers)
        except EmptyTradingDay:
            return  # weekend/holiday partition yields no rows (Q2: skip)
        except TooFewTickers:
            raise  # DQ floor is a hard failure (Q1), surfaced as task error
        d = dt.date.fromisoformat(date_str)
        for r in results:
            yield (
                d,
                r.get("T"),
                r.get("o"),
                r.get("h"),
                r.get("l"),
                r.get("c"),
                int(r["v"]) if r.get("v") is not None else None,
            )


class PolygonEodDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "polygon_eod"

    def schema(self) -> str:
        return EOD_SCHEMA

    def reader(self, schema) -> PolygonEodReader:
        return PolygonEodReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PolygonEodDataSource)
