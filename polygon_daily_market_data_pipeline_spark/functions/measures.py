"""The semantic layer: DAX measures as Catalyst Column expressions
(SURVEY.md §2.4 A6–A10, §2.5 W2/W3, §2.10).

Each measure from ``/root/reference/powerbi/dax_measures.md`` becomes a
reusable expression or DataFrame function over the star schema — no
``udf()`` anywhere, so everything stays inside whole-stage codegen,
which is what matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions.casts import safe_divide


def active_tickers() -> Column:
    """``Active Tickers = DISTINCTCOUNT(dim_security[SYMBOL])``
    (dax_measures.md:1-4)."""
    return F.countDistinct("symbol").alias("active_tickers")


def avg_price() -> Column:
    """``Avg Price = AVERAGE(fact_daily_price[CLOSE])`` (:6-9)."""
    return F.avg("close").alias("avg_price")


def total_volume() -> Column:
    """``Total Volume = SUM(fact_daily_price[VOLUME])`` (:28-31)."""
    return F.sum("volume").alias("total_volume")


def total_value() -> Column:
    """``Total Value = SUMX(fact, VOLUME * CLOSE)`` (:23-26)."""
    return F.sum(F.col("volume") * F.col("close")).alias("total_value")


def with_daily_change_pct(
    fact: DataFrame,
    partition_col: str = "symbol",
    date_col: str = "trade_date",
    value_col: str = "close",
) -> DataFrame:
    """``Daily Change % = DIVIDE(cur - prev, prev, 0)`` where prev is the
    prior calendar row per symbol (dax_measures.md:11-21) — a lag window,
    not an as-of join (SURVEY.md §2.3 note)."""
    w = Window.partitionBy(partition_col).orderBy(date_col)
    prev = F.lag(value_col).over(w)
    return fact.withColumn(
        "daily_change_pct", safe_divide(F.col(value_col) - prev, prev)
    )


def with_volume_trend_7d(
    daily: DataFrame,
    date_col: str = "trade_date",
    volume_col: str = "total_volume",
) -> DataFrame:
    """``Volume Trend (7D) = AVERAGEX(DATESINPERIOD(..., -7, DAY), [Total
    Volume])`` (dax_measures.md:33-40): calendar-day range frame — gaps
    (weekends) shrink the averaging window, exactly like DATESINPERIOD."""
    w = Window.orderBy(
        F.datediff(F.col(date_col), F.lit("1970-01-01").cast("date"))
    ).rangeBetween(-6, 0)
    return daily.withColumn("volume_trend_7d", F.avg(volume_col).over(w))


def top_n_by_total_value(fact: DataFrame, n: int = 10) -> DataFrame:
    """The "Total Value by SYMBOL" top-N bar chart
    (powerbi/sc/market_liquidity.png): deterministic total order."""
    return (
        fact.groupBy("symbol")
        .agg(total_value(), total_volume())
        .orderBy(F.desc("total_value"), F.asc("symbol"))
        .limit(n)
    )


def ohlc_aggs(
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> "list[Column]":
    """OHLC bar aggregates (round 13) — the canonical market-data
    resample the reference's domain lives on: within any grouping
    (symbol × window), ``open`` is the value at the EARLIEST tick,
    ``close`` at the latest, ``high``/``low`` the extrema. First/last
    are struct-ordered min/max over (ts, tiebreak, value), so
    same-timestamp ticks resolve under a DETERMINISTIC total order
    (the tiebreak column must be unique — an event id) on every
    engine and partitioning; no window function, no sort — four
    codegen'd aggregates that ride any existing groupBy."""
    first = F.min(
        F.struct(
            F.col(ts_col).alias("t"),
            F.col(tiebreak_col).alias("i"),
            F.col(value_col).alias("v"),
        )
    )
    last = F.max(
        F.struct(
            F.col(ts_col).alias("t"),
            F.col(tiebreak_col).alias("i"),
            F.col(value_col).alias("v"),
        )
    )
    return [
        first.getField("v").alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        last.getField("v").alias("close"),
    ]


def technical_indicator_cols(
    value_c_col: str = "tv_c",
    cnt_col: str = "n_orders",
    order_col: str = "trade_date",
    partition_cols: "list[str] | None" = None,
    sma_n: int = 7,
    rsi_n: int = 14,
    vol_n: int = 20,
) -> "dict[str, Column]":
    """Integer-exact technical indicators over a daily bar series — the
    analytics a market-data warehouse user computes downstream of the
    reference's daily pipeline (dax_measures.md grows lag %-change and
    a 7-day rolling mean; these are the next rungs on the same ladder).

    Every output is a BIGINT derived from an integer-quantized value
    column (``value_c_col``, e.g. cents), so Spark and any serial SQL
    engine agree bit-for-bit — no float summation-order hazard:

    - ``sma{n}_c_sum`` / ``sma{n}_n``: rolling-sum + row count for the
      simple moving average (caller divides — the one float op — or
      consumes the exact pair as-is).
    - ``gain{n}_c`` / ``loss{n}_c``: RSI components — sums of positive /
      negative day-over-day deltas over the trailing ``rsi_n`` rows
      (first row's NULL delta is skipped by SUM on every engine).
    - ``drawdown_c``: running-peak minus current — the level drawdown.
    - ``volvol{n}_num``: scale-free volatility numerator over the tick
      COUNT series: n·Σc² − (Σc)² (n·(n−1)·sample-variance as an exact
      integer; counts stay small, so no BIGINT headroom risk at any SF,
      unlike squaring a monetary series).
    - ``vol_spike{n}``: rolling z-score anomaly flag on the count
      series in PURE integer arithmetic — |c−μ|>k·σ rearranged to
      (n·c − Σc)² > k²·(n·Σc² − (Σc)²) so the comparison is exact on
      every engine (no float mean/stddev near the boundary; k=3).

    Scale: all window functions share one (partition, order) sort — a
    single exchange per symbol partition. Post-aggregation daily grain
    is tiny relative to the tick fact; an unpartitioned window is fine
    there, and per-symbol partitioning keeps 100 TB parallel."""
    parts = [F.col(c) for c in (partition_cols or [])]
    base = Window.partitionBy(*parts).orderBy(order_col)
    w_sma = base.rowsBetween(-(sma_n - 1), 0)
    w_rsi = base.rowsBetween(-(rsi_n - 1), 0)
    w_vol = base.rowsBetween(-(vol_n - 1), 0)
    w_peak = base.rowsBetween(Window.unboundedPreceding, 0)
    v = F.col(value_c_col)
    delta = v - F.lag(value_c_col).over(base)
    cnt = F.col(cnt_col).cast("long")
    # count the NON-NULL counts, not the frame rows: SUM skips NULLs,
    # so a NULL count row must not inflate n in the variance identity
    # (identical to COUNT(*) on the never-NULL aggregation outputs the
    # suite feeds this)
    n_vol = F.count(cnt).over(w_vol)
    sum_c = F.sum(cnt).over(w_vol)
    sum_c2 = F.sum(cnt * cnt).over(w_vol)
    dev = n_vol * cnt - sum_c
    return {
        f"sma{sma_n}_c_sum": F.sum(v).over(w_sma),
        f"sma{sma_n}_n": F.count(v).over(w_sma),
        f"gain{rsi_n}_c": F.sum(F.greatest(delta, F.lit(0))).over(w_rsi),
        f"loss{rsi_n}_c": F.sum(F.greatest(-delta, F.lit(0))).over(w_rsi),
        "drawdown_c": F.max(v).over(w_peak) - v,
        f"volvol{vol_n}_num": n_vol * sum_c2 - sum_c * sum_c,
        f"vol_spike{vol_n}": dev * dev
        > F.lit(9) * (n_vol * sum_c2 - sum_c * sum_c),
    }


def with_tick_durations(
    df: DataFrame,
    every_us: int = 3_600_000_000,
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    group_cols: "list[str] | None" = None,
    out_col: str = "dur_us",
    out_bar_col: "str | None" = None,
) -> DataFrame:
    """Per-tick holding duration inside an epoch-aligned tumbling bar —
    the exact-integer substrate for TWAP: each tick's value holds from
    its own timestamp until the next tick in the same (groups, bar)
    partition, and the bar's last tick holds to the bar end. Durations
    are BIGINT microseconds (``unix_micros``), so a downstream
    SUM(value_c * dur_us) is order-independent and engine-exact; per
    bar they sum to exactly (bar_end − first_tick).

    Scale: one window sort per (groups, bar) partition — the same
    shuffle the bar aggregation itself needs. Pass ``out_bar_col`` to
    ALSO keep the bar-start column (epoch micros) and group the bar
    aggregation on (groups, that column): the groupBy's clustering is
    then satisfied by the window's own hash partitioning, so Catalyst
    ELIMINATES the second tick-fact shuffle (plan-pinned in
    test_plans) — grouping on a re-derived ``window()`` expression
    instead costs a full extra exchange at 100 TB."""
    us = F.unix_micros(F.col(ts_col))
    bar_start_us = (us - (us % F.lit(every_us))).alias("_bar_start_us")
    parts = [F.col(c) for c in (group_cols or [])]
    w = Window.partitionBy(*parts, bar_start_us).orderBy(ts_col, tiebreak_col)
    next_us = F.unix_micros(F.lead(ts_col).over(w))
    bar_end_us = bar_start_us + F.lit(every_us)
    out = df.withColumn(out_col, F.coalesce(next_us, bar_end_us) - us)
    if out_bar_col is not None:
        out = out.withColumn(out_bar_col, us - (us % F.lit(every_us)))
    return out


def vwap_twap_aggs(
    value_c_col: str = "value_c",
    size_col: str = "k",
    dur_col: str = "dur_us",
) -> "list[Column]":
    """VWAP / TWAP bar aggregates as exact-integer numerator/denominator
    pairs (the caller performs the single float division, or consumes
    the pair): volume-weighted over the tick size column and
    time-weighted over ``with_tick_durations``'s microsecond spans.
    Four codegen'd SUMs that ride the existing bar groupBy."""
    v = F.col(value_c_col).cast("long")
    k = F.col(size_col).cast("long")
    d = F.col(dur_col).cast("long")
    return [
        F.sum(v * k).alias("vwap_num_c"),
        F.sum(k).alias("vol_k"),
        F.sum(v * d).alias("twap_num_c_us"),
        F.sum(d).alias("dur_us_sum"),
    ]


def continuous_bars(
    bars: DataFrame,
    every: str = "1 hour",
    time_col: str = "window_start",
    group_cols: "list[str] | None" = None,
    ffill_cols: "list[str] | None" = None,
    grid_filter: "Column | None" = None,
) -> DataFrame:
    """Gap-fill a bar series to a CONTINUOUS per-group time grid with
    last-observation-carried-forward — the canonical market-data
    publish shape (a bar exists for every interval of the session even
    when no tick printed; its close carries the prior close).

    ``grid_filter`` (a Column predicate over ``time_col``) restricts
    the grid to TRADING SESSIONS — e.g. ``dayofweek(window_start)
    BETWEEN 2 AND 6`` skips weekends, and LOCF then carries Friday's
    close straight into Monday's first bar. The filter DEFINES the
    published calendar: an observed bar outside it is dropped with the
    rest of the off-session grid (route off-session ticks upstream if
    they must survive), and if it excludes a group's first observed
    bar the leading ``_ffill`` values are NULL (nothing earlier to
    carry).

    Per group the grid spans that group's own [min, max] observed bar
    (no bars are asserted outside the observed range, so the first
    grid row is always real and LOCF never emits NULL). Grid rows that
    had no source bar keep NULL tick aggregates and gain
    ``is_gap = true``; each ``ffill_cols`` entry gets a ``<col>_ffill``
    companion via last(ignoreNulls) over the group's time order.

    Scale: the spine is |groups| × |intervals| — metadata-sized next
    to the tick fact (a year of hourly bars is 8.8k rows/symbol). One
    aggregate for the per-group span, a sequence() explode (no Python,
    no driver loop), an equi-join back on the bar key, and one window
    sort per group partition."""
    groups = list(group_cols or [])
    ffill = list(ffill_cols or [])
    span = bars.groupBy(*[F.col(c) for c in groups]).agg(
        F.min(time_col).alias("_lo"), F.max(time_col).alias("_hi")
    )
    spine = span.select(
        *groups,
        F.explode(
            F.sequence(
                F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL {every}")
            )
        ).alias(time_col),
    )
    if grid_filter is not None:
        spine = spine.where(grid_filter)
    joined = spine.join(
        bars.withColumn("_present", F.lit(True)),
        on=[*groups, time_col],
        how="left",
    )
    out = joined.withColumn("is_gap", F.col("_present").isNull()).drop("_present")
    w = (
        Window.partitionBy(*[F.col(c) for c in groups])
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in ffill:
        out = out.withColumn(f"{c}_ffill", F.last(c, ignorenulls=True).over(w))
    return out
