"""The benchmark's two closed-loop workloads.

A workload prepares its inputs in ``setup``, runs one pass of operations
in ``run_pass`` (each operation timed as an ``op`` span), checks a pass's
outputs in ``check`` (outside the timed window) and puts shared state
back in ``reset``. ``wrap_layers`` names the package functions the traced
run times.

- ``eod_daily``: the reference DAG for one new trading day
  (``pipeline.backfill`` over the HTTP DataSource against a 40-day star
  of the same 12K tickers), then the four Power BI tiles the mart serves from
  the updated star.
- ``warehouse_trio``: three operations that each run two branches of the
  registered warehouse queries through their own wrapper, so the
  versioned table layer and its streaming sinks are measured.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
from decimal import Decimal

import duckdb
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark import pipeline, schemas
from polygon_daily_market_data_pipeline_spark.functions import measures
from polygon_daily_market_data_pipeline_spark.operators import quality, versioned
from polygon_daily_market_data_pipeline_spark.plans import star, warehouse_ops
from polygon_daily_market_data_pipeline_spark.sources import csv_landing

import star_data
import stub
import trio_data
from check_oracle import fingerprint

N_TICKERS = 12_000
HISTORY_DAYS = 40
FACT_COLS = ["security_id", "date_sk", "trade_date", "open", "high", "low", "close", "volume"]
_CENT6 = Decimal("0.000001")


class CheckFailed(Exception):
    pass


# -- eod_daily ---------------------------------------------------------------


def _star(wh):
    fact = wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE)
    return fact.join(wh.read("dim_security", schemas.DIM_SECURITY), "security_id")


def _kpi(wh, day):
    return _star(wh).agg(
        measures.active_tickers(),
        measures.avg_price(),
        measures.total_volume(),
        measures.total_value(),
    )


def _daily_change(wh, day):
    latest = F.lit(day.isoformat()).cast("date")
    return (
        measures.with_daily_change_pct(_star(wh).select("symbol", "trade_date", "close"))
        .where(F.col("trade_date") == latest)
        .select("symbol", "close", "daily_change_pct")
    )


def _volume_trend(wh, day):
    daily = wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE).groupBy("trade_date").agg(
        measures.total_volume()
    )
    return measures.with_volume_trend_7d(daily).select("trade_date", "total_volume", "volume_trend_7d")


def _top10(wh, day):
    return measures.top_n_by_total_value(_star(wh)).select("symbol", "total_value", "total_volume")


TILES = {"kpi": _kpi, "daily_change": _daily_change, "volume_trend": _volume_trend, "top10": _top10}

# DuckDB twins of the tiles over the same parquet files; rows are compared
# after sorting on the first column, numbers to a relative 1e-9.
_STAR_SQL = "fact JOIN sec USING (security_id)"
TILE_SQL = {
    "kpi": f"""SELECT COUNT(DISTINCT symbol), AVG(CAST(close AS DOUBLE)),
        SUM(volume), SUM(CAST(volume AS DOUBLE) * CAST(close AS DOUBLE)) FROM {_STAR_SQL}""",
    "daily_change": f"""SELECT symbol, close, CASE WHEN prev IS NULL OR prev = 0 THEN 0
        ELSE CAST(close - prev AS DOUBLE) / CAST(prev AS DOUBLE) END
        FROM (SELECT symbol, trade_date, close,
              LAG(close) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev
              FROM {_STAR_SQL}) WHERE trade_date = DATE '{{day}}'""",
    "volume_trend": """SELECT trade_date, v, AVG(v) OVER (ORDER BY trade_date
        RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        FROM (SELECT trade_date, SUM(volume) AS v FROM fact GROUP BY trade_date)""",
    "top10": f"""SELECT symbol, SUM(CAST(volume AS DOUBLE) * CAST(close AS DOUBLE)) AS tv,
        SUM(volume) FROM {_STAR_SQL} GROUP BY symbol ORDER BY tv DESC, symbol LIMIT 10""",
}


def _num(v):
    if isinstance(v, (Decimal, float, int)) and not isinstance(v, bool):
        return float(v)
    return v


def rows_match(spark_rows, duck_rows) -> bool:
    a = sorted((tuple(map(_num, r)) for r in spark_rows), key=lambda r: str(r[0]))
    b = sorted((tuple(map(_num, r)) for r in duck_rows), key=lambda r: str(r[0]))
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


class EodDaily:
    """One pass = the daily batch for ``day`` (landing available → FACT
    and the post-merge audit done), then the four dashboard tiles."""

    warmup_passes = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.wh_root = os.path.join(work, "warehouse")
        self.landing = os.path.join(work, "landing")
        self.dims = os.path.join(work, "dims_snapshot")
        self.wh = pipeline.Warehouse(spark, self.wh_root)
        self.stub = None

    def setup(self) -> None:
        rng = random.Random(self.seed)
        symbols = stub.make_symbols(rng, N_TICKERS)
        # a seed-chosen weekday in 2025; the history ends the weekday before
        self.day = dt.date(2025, 3, 3) + dt.timedelta(weeks=rng.randrange(40), days=rng.randrange(5))
        results = stub.day_results(rng, symbols, self.day)
        self.stub = stub.PolygonStub({self.day.isoformat(): stub.envelope(results)}).__enter__()
        days = star_data.weekdays_before(self.day, HISTORY_DAYS)
        star_data.build_star(self.spark, self.wh_root, self.seed, symbols, days, "file:" + self.landing)
        star_data.snapshot_dims(self.wh_root, self.dims)
        self.expected_fact = self._expected_fact(results, symbols)

    def _expected_fact(self, results, symbols) -> str:
        # build_star gives symbols[i] security_id i + 1
        ids = {s: i + 1 for i, s in enumerate(symbols)}
        sk = int(self.day.strftime("%Y%m%d"))

        def price(x):
            return Decimal(repr(x)).quantize(_CENT6)

        rows = [
            (ids[r["T"]], sk, self.day, price(r["o"]), price(r["h"]), price(r["l"]), price(r["c"]), Decimal(r["v"]))
            for r in results
        ]
        return fingerprint(FACT_COLS, rows)

    def run_pass(self, tracer) -> dict:
        out = {}
        d = self.day.isoformat()
        with tracer.span("batch", "op", group=True) as s:
            pipeline.backfill(
                self.spark, self.wh_root, self.landing, d, d,
                {"transport": "http", "base_url": self.stub.base_url},
            )
            post = quality.postmerge_metrics(
                self.wh.read("eod_prices", schemas.CORE_EOD_PRICES),
                self.wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE),
                d,
            ).collect()
        out["batch"] = (s, post)
        for name, tile in TILES.items():
            with tracer.span(name, "op", group=True) as s:
                df = tile(self.wh, self.day)
                # the tile's plan is the measures' plan: charge its action there
                with tracer.span(f"{name}.collect", "measures"):
                    rows = df.collect()
            out[name] = (s, rows)
        return out

    def check(self, result: dict) -> list[str]:
        """Names of the operations whose output is wrong."""
        bad = []
        con = duckdb.connect()
        con.execute("SET threads = 2")
        fact_glob = os.path.join(self.wh_root, "fact_daily_price", "*", "*.parquet")
        con.execute(f"CREATE VIEW fact AS SELECT * FROM read_parquet('{fact_glob}', hive_partitioning = true)")
        sec_glob = os.path.join(self.wh_root, "dim_security", "*.parquet")
        con.execute(f"CREATE VIEW sec AS SELECT * FROM read_parquet('{sec_glob}')")
        post = result["batch"][1]
        day_rows = con.execute(
            f"SELECT {', '.join(FACT_COLS)} FROM fact WHERE trade_date = DATE '{self.day}'"
        ).fetchall()
        if not (
            len(post) == 1
            and post[0]["core_rows"] == post[0]["fact_rows"] == N_TICKERS
            and fingerprint(FACT_COLS, day_rows) == self.expected_fact
        ):
            bad.append("batch")
        for name in TILES:
            duck = con.execute(TILE_SQL[name].replace("{day}", self.day.isoformat())).fetchall()
            if not rows_match(result[name][1], duck):
                bad.append(name)
        con.close()
        return bad

    def reset(self) -> None:
        star_data.restore(self.wh_root, self.dims, self.day)
        for t in star_data.DATE_TABLES:
            n = star_data.partition_count(self.wh_root, t)
            if n != HISTORY_DAYS:
                raise CheckFailed(f"{t} holds {n} date partitions after reset, not {HISTORY_DAYS}")

    def wrap_layers(self, tracer) -> None:
        def charge_collect(name):
            return lambda df: tracer.timed_method(df, "collect", name, "quality")

        tracer.wrap(pipeline, "backfill", "sources")
        tracer.wrap(pipeline, "run_eod_pipeline", "pipeline.driver")
        tracer.wrap(csv_landing, "typed_raw_load", "sources")
        tracer.wrap(pipeline.Warehouse, "overwrite", "pipeline.write")
        tracer.wrap(pipeline.Warehouse, "overwrite_partitions", "pipeline.write")
        tracer.wrap(pipeline.Warehouse, "read", "pipeline.read")
        for fn in ("min_cardinality_gate", "check_loaded"):
            tracer.wrap(quality, fn, "quality")
        tracer.wrap(quality, "premerge_metrics", "quality", charge_collect("quality.premerge.collect"))
        tracer.wrap(quality, "postmerge_metrics", "quality", charge_collect("quality.postmerge.collect"))
        for fn in ("core_source_rows", "core_upsert", "dim_security_merge", "dim_date_merge",
                   "fact_source_rows", "fact_upsert"):
            tracer.wrap(star, fn, "star")
        for fn in ("active_tickers", "avg_price", "total_volume", "total_value",
                   "with_daily_change_pct", "with_volume_trend_7d", "top_n_by_total_value"):
            tracer.wrap(measures, fn, "measures")

    def http_counters(self) -> tuple[int, int, int]:
        return self.stub.counters()

    def close(self) -> None:
        if self.stub is not None:
            self.stub.__exit__(None, None, None)


# -- warehouse_trio ----------------------------------------------------------

# Two branches of each registered warehouse query: commit, time travel and
# the change feed; copy-on-write and merge-on-read MERGE; bin-pack
# compaction and bloom-indexed lookups; and two streaming sinks (an
# exactly-once versioned append stream and a streaming materialized view).
TRIO_OPS = {
    "maintenance": ["versioned", "merge"],
    "lifecycle": ["compact", "bloom"],
    "streaming": ["versioned_stream", "streaming_mv"],
}

VERSIONED_LAYERS = {
    "versioned.commit": ("commit_version",),
    "versioned.merge": ("merge_version",),
    "versioned.scan": ("scan_version", "scan_version_with_stats", "read_version"),
    "versioned.maintenance": ("optimize_compact", "optimize_zorder", "vacuum", "materialize_dv"),
}


class WarehouseTrio:
    # the cold first pass takes about twice as long as the ones after it
    # (JIT of Spark's planning and scheduling code); later passes are no
    # faster than the second, so one untimed pass is enough
    warmup_passes = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf_dir = os.path.join(work, "tables")

    def setup(self) -> None:
        trio_data.write_tables(self.sf_dir, self.seed)
        con = trio_data.oracle_connection(self.sf_dir)
        self.expected = {}
        for name, branches in TRIO_OPS.items():
            rel = con.sql(warehouse_ops._oracle_for(warehouse_ops.checks_for(branches)))
            cols = [c.lower() for c in rel.columns]
            self.expected[name] = fingerprint(cols, rel.fetchall())
        con.close()

    def run_pass(self, tracer) -> dict:
        out = {}
        for name, branches in TRIO_OPS.items():
            with tracer.span(name, "op", group=True) as s:
                # the registered queries' own wrapper (UTC, AQE-off and
                # shuffle-width pins, per-call scratch, branch pool), with
                # two of the query's branches
                df = warehouse_ops._run_union(self.spark, self.sf_dir, branches, name=f"warehouse_{name}")
                rows = df.collect()
            out[name] = (s, (df.columns, rows))
        return out

    def check(self, result: dict) -> list[str]:
        bad = []
        for name, (_span, (cols, rows)) in result.items():
            got = fingerprint([c.lower() for c in cols], [tuple(r) for r in rows], spark_side=True)
            if got != self.expected[name]:
                bad.append(name)
        return bad

    def reset(self) -> None:
        pass

    def wrap_layers(self, tracer) -> None:
        for layer, fns in VERSIONED_LAYERS.items():
            for fn in fns:
                tracer.wrap(versioned, fn, layer)
        tracer.listen_streams()

    def http_counters(self) -> tuple[int, int, int]:
        return 0, 0, 0

    def close(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)


WORKLOADS = {"eod_daily": EodDaily, "warehouse_trio": WarehouseTrio}
