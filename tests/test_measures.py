"""Unit tests: the DAX semantic layer (A6–A10, W2, W3, O2) on the
hand-computable multi-day fixture of FIXTURES.md §7."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions import measures

# 2 symbols × 5 days spanning a weekend (Fri 01-05 → Mon 01-08 gap)
ROWS = [
    # symbol, date, close, volume
    ("AAPL", dt.date(2024, 1, 3), 100.0, 10),
    ("AAPL", dt.date(2024, 1, 4), 110.0, 20),
    ("AAPL", dt.date(2024, 1, 5), 99.0, 30),
    ("AAPL", dt.date(2024, 1, 8), 132.0, 40),  # Monday
    ("MSFT", dt.date(2024, 1, 3), 50.0, 5),
    ("MSFT", dt.date(2024, 1, 4), 0.0, 5),     # zero close → DIVIDE default
    ("MSFT", dt.date(2024, 1, 5), 25.0, 5),
]


def _fact(spark):
    return spark.createDataFrame(
        ROWS, "symbol string, trade_date date, close double, volume long"
    )


def test_scalar_measures(spark):
    row = _fact(spark).agg(
        measures.active_tickers(),
        measures.avg_price(),
        measures.total_volume(),
        measures.total_value(),
    ).collect()[0]
    assert row["active_tickers"] == 2
    assert abs(row["avg_price"] - (100 + 110 + 99 + 132 + 50 + 0 + 25) / 7) < 1e-9
    assert row["total_volume"] == 115
    expected_value = 100 * 10 + 110 * 20 + 99 * 30 + 132 * 40 + 50 * 5 + 0 + 25 * 5
    assert abs(row["total_value"] - expected_value) < 1e-9


def test_daily_change_pct_lag_and_zero_divide(spark):
    out = {
        (r["symbol"], r["trade_date"]): r["daily_change_pct"]
        for r in measures.with_daily_change_pct(_fact(spark)).collect()
    }
    assert out[("AAPL", dt.date(2024, 1, 3))] == 0.0          # no prev → default
    assert abs(out[("AAPL", dt.date(2024, 1, 4))] - 0.10) < 1e-9
    assert abs(out[("AAPL", dt.date(2024, 1, 8))] - (132 - 99) / 99) < 1e-9
    assert out[("MSFT", dt.date(2024, 1, 5))] == 0.0          # prev==0 → DIVIDE default


def test_volume_trend_7d_calendar_frame(spark):
    daily = (
        _fact(spark)
        .groupBy("trade_date")
        .agg(F.sum("volume").alias("total_volume"))
    )
    out = {
        r["trade_date"]: r["volume_trend_7d"]
        for r in measures.with_volume_trend_7d(daily).collect()
    }
    # Jan 8 window covers Jan 2..8 → days 3,4,5,8 → (15+25+35+40)/4
    assert abs(out[dt.date(2024, 1, 8)] - (15 + 25 + 35 + 40) / 4) < 1e-9
    # Jan 3: only itself
    assert abs(out[dt.date(2024, 1, 3)] - 15.0) < 1e-9


def test_top_n_by_total_value(spark):
    top = measures.top_n_by_total_value(_fact(spark), n=1).collect()
    assert len(top) == 1 and top[0]["symbol"] == "AAPL"


def test_approx_count_distinct_bound(spark):
    """The 100 TB path for A6 DISTINCTCOUNT: approx_count_distinct
    (HLL++) within its configured relative standard deviation of the
    exact answer — the documented accuracy/cost trade."""
    import pyspark.sql.functions as SF

    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.01", "events")
    exact = events.select(SF.countDistinct("user_id")).first()[0]
    approx = events.select(
        SF.approx_count_distinct("user_id", rsd=0.02)
    ).first()[0]
    assert abs(approx - exact) / exact <= 0.06  # 3×rsd safety band


def test_approx_percentile_bound(spark):
    """The 100 TB path for the percentile family (doc_length_percentiles
    keeps the exact form so its oracle stays exact): approx_percentile
    with accuracy a guarantees rank error ≤ 1/a — assert the returned
    value sits inside the exact-value envelope of that rank band."""
    import pyspark.sql.functions as SF

    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.01", "events")
    vals = sorted(r[0] for r in events.select("value").collect())
    n = len(vals)
    accuracy = 1000  # rank error ≤ n/accuracy
    for q in (0.5, 0.9, 0.99):
        approx = events.select(
            SF.percentile_approx("value", SF.lit(q), SF.lit(accuracy))
        ).first()[0]
        lo = vals[max(0, int(q * n) - n // accuracy - 1)]
        hi = vals[min(n - 1, int(q * n) + n // accuracy + 1)]
        assert lo <= approx <= hi, (q, approx, lo, hi)


def test_ohlc_bars_hand_computed_with_timestamp_ties(spark):
    """OHLC resample: open/close from the deterministic (ts, id) total
    order — same-timestamp ticks resolve by id, not partitioning —
    high/low the extrema, one bar per (window, group)."""
    import datetime as dt

    from polygon_daily_market_data_pipeline_spark.functions.measures import (
        ohlc_aggs,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    rows = [
        # hour 9, symbol A: a tie at the open (ids 1 < 2), tail close
        (1, ts(0), "A", 10.0),
        (2, ts(0), "A", 99.0),
        (3, ts(30), "A", 5.0),
        (4, ts(59), "A", 20.0),
        # hour 9, symbol B: single tick
        (5, ts(10), "B", 7.0),
        # hour 10, symbol A
        (6, ts(61), "A", 3.0),
        (7, ts(70), "A", 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, symbol string, value double"
    ).repartition(5)
    bars = {
        (r["bar_start"].hour, r["symbol"]): r
        for r in df.groupBy(
            F.window("ts", "1 hour").start.alias("bar_start"), "symbol"
        )
        .agg(
            *ohlc_aggs("ts", "value", "event_id"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .collect()
    }
    a9 = bars[(9, "A")]
    assert (a9["open"], a9["high"], a9["low"], a9["close"], a9["n_ticks"]) \
        == (10.0, 99.0, 5.0, 20.0, 4)  # open = id-1 of the tie
    b9 = bars[(9, "B")]
    assert (b9["open"], b9["close"], b9["n_ticks"]) == (7.0, 7.0, 1)
    a10 = bars[(10, "A")]
    assert (a10["open"], a10["close"]) == (3.0, 8.0)


def test_technical_indicator_cols_hand_computed(spark):
    # Per-symbol daily cents series; windows sized small so every edge
    # (short head frames, NULL first delta, flat series) is exercised.
    rows = [
        ("A", dt.date(2024, 1, 1), 100, 2),
        ("A", dt.date(2024, 1, 2), 130, 4),
        ("A", dt.date(2024, 1, 3), 90, 1),
        ("A", dt.date(2024, 1, 4), 120, 3),
        ("B", dt.date(2024, 1, 1), 50, 7),
        ("B", dt.date(2024, 1, 2), 50, 7),
    ]
    df = spark.createDataFrame(
        rows, "symbol string, trade_date date, tv_c long, n_orders long"
    ).repartition(3)
    ind = measures.technical_indicator_cols(
        partition_cols=["symbol"], sma_n=2, rsi_n=3, vol_n=2
    )
    out = {
        (r["symbol"], r["trade_date"].day): r
        for r in df.select(
            "symbol", "trade_date", *[c.alias(n) for n, c in ind.items()]
        ).collect()
    }
    a1, a2, a3, a4 = (out[("A", d)] for d in (1, 2, 3, 4))
    # SMA-2: trailing sum + actual row count (head frame is shorter)
    assert (a1["sma2_c_sum"], a1["sma2_n"]) == (100, 1)
    assert (a2["sma2_c_sum"], a2["sma2_n"]) == (230, 2)
    assert (a4["sma2_c_sum"], a4["sma2_n"]) == (210, 2)
    # RSI-3 components: deltas are (NULL, +30, -40, +30); greatest(NULL,0)=0
    assert (a1["gain3_c"], a1["loss3_c"]) == (0, 0)
    assert (a2["gain3_c"], a2["loss3_c"]) == (30, 0)
    assert (a3["gain3_c"], a3["loss3_c"]) == (30, 40)
    assert (a4["gain3_c"], a4["loss3_c"]) == (60, 40)  # NULL rolled out
    # Drawdown: running peak minus current
    assert [out[("A", d)]["drawdown_c"] for d in (1, 2, 3, 4)] == [0, 0, 40, 10]
    # Volume-volatility numerator n·Σc²−(Σc)² over 2 rows
    assert a1["volvol2_num"] == 1 * 4 - 4          # single row → 0
    assert a2["volvol2_num"] == 2 * (4 + 16) - 36  # counts 2,4 → 4
    assert a3["volvol2_num"] == 2 * (16 + 1) - 25  # counts 4,1 → 9
    # Flat series on B: everything zero, partition isolated from A
    b2 = out[("B", 2)]
    assert (b2["gain3_c"], b2["loss3_c"], b2["drawdown_c"], b2["volvol2_num"]) == (
        0, 0, 0, 0,
    )


def test_tick_durations_and_vwap_twap(spark):
    t0 = dt.datetime(2024, 1, 2, 9, 0, 0)

    def ts(secs):
        return t0 + dt.timedelta(seconds=secs)

    rows = [
        # symbol A, 09:00 bar: ticks at +0s, +10s, +3599s
        (1, ts(0), "A", 100, 2),
        (2, ts(10), "A", 200, 3),
        (3, ts(3599), "A", 50, 1),
        # symbol A, 10:00 bar: one tick at +30s → held to bar end
        (4, ts(3630), "A", 400, 5),
        # symbol B shares A's bar but partitions separately
        (5, ts(5), "B", 10, 4),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, sym string, value_c long, k long"
    ).repartition(4)
    ticks = measures.with_tick_durations(df, group_cols=["sym"])
    durs = {r["event_id"]: r["dur_us"] for r in ticks.collect()}
    assert durs[1] == 10_000_000            # to next tick
    assert durs[2] == 3_589_000_000         # to last tick of the bar
    assert durs[3] == 1_000_000             # last tick → bar end (1 s left)
    assert durs[4] == 3_570_000_000         # lone tick → held 59 min 30 s
    assert durs[5] == 3_595_000_000         # B isolated from A's ticks
    bars = {
        (r["sym"], r["h"].hour): r
        for r in ticks.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "sym"
        ).agg(*measures.vwap_twap_aggs(size_col="k")).collect()
    }
    a9 = bars[("A", 9)]
    assert a9["vwap_num_c"] == 100 * 2 + 200 * 3 + 50 * 1
    assert a9["vol_k"] == 6
    assert a9["twap_num_c_us"] == (
        100 * 10_000_000 + 200 * 3_589_000_000 + 50 * 1_000_000
    )
    # durations tile the bar exactly: bar_end − first_tick
    assert a9["dur_us_sum"] == 3_600_000_000
    assert bars[("A", 10)]["twap_num_c_us"] == 400 * 3_570_000_000


def test_continuous_bars_gap_fill_locf(spark):
    t0 = dt.datetime(2024, 1, 2, 9, 0, 0)

    def h(n):
        return t0 + dt.timedelta(hours=n)

    # A: bars at hours 0, 3 (gaps at 1, 2); B: single bar (no grid growth)
    bars = spark.createDataFrame(
        [("A", h(0), 4, 10.5), ("A", h(3), 2, 12.0), ("B", h(1), 1, 7.0)],
        "sym string, window_start timestamp, event_cnt long, close double",
    ).repartition(3)
    out = {
        (r["sym"], r["window_start"]): r
        for r in measures.continuous_bars(
            bars, group_cols=["sym"], ffill_cols=["close"]
        ).collect()
    }
    assert len(out) == 5  # A spans 4 grid hours, B spans 1
    gap = out[("A", h(1))]
    assert gap["is_gap"] and gap["event_cnt"] is None and gap["close"] is None
    assert gap["close_ffill"] == 10.5
    assert out[("A", h(2))]["close_ffill"] == 10.5
    real = out[("A", h(3))]
    assert not real["is_gap"] and real["close_ffill"] == 12.0
    assert not out[("B", h(1))]["is_gap"]  # isolated group, no fabricated rows


def test_vol_spike_exact_integer_zscore(spark):
    # Self-inclusive rolling z caps at (n-1)/sqrt(n), so a k=3 flag
    # needs n >= 11: eleven flat counts then a 50 must flag exactly at
    # its own row; flat windows and short heads never flag.
    counts = [5] * 11 + [50]
    rows = [
        ("A", dt.date(2024, 1, d + 1), 100, c) for d, c in enumerate(counts)
    ]
    df = spark.createDataFrame(
        rows, "symbol string, trade_date date, tv_c long, n_orders long"
    )
    ind = measures.technical_indicator_cols(
        partition_cols=["symbol"], sma_n=2, rsi_n=2, vol_n=12
    )
    out = {
        r["trade_date"].day: r["vol_spike12"]
        for r in df.select(
            "trade_date", *[c.alias(n) for n, c in ind.items()]
        ).collect()
    }
    assert out == {d: (d == 12) for d in range(1, 13)}
    # hand check day 12: n=12, c=50, S=105, S2=2775 →
    # dev² = 495² = 245025 > 9·(12·2775 − 105²) = 200475
    n, c, s, s2 = 12, 50, 105, 2775
    assert ((n * c - s) ** 2 > 9 * (n * s2 - s * s)) is True


def test_continuous_bars_trading_session_filter(spark):
    # Fri 2024-01-05 and Mon 2024-01-08 daily bars; the weekend grid
    # rows are excluded by the session filter and LOCF carries Friday's
    # close straight into Monday
    bars = spark.createDataFrame(
        [
            ("A", dt.datetime(2024, 1, 5), 1, 10.0),
            ("A", dt.datetime(2024, 1, 9), 1, 12.0),
        ],
        "sym string, window_start timestamp, event_cnt long, close double",
    )
    out = measures.continuous_bars(
        bars,
        every="1 day",
        group_cols=["sym"],
        ffill_cols=["close"],
        grid_filter=F.dayofweek("window_start").between(2, 6),
    )
    rows = {r["window_start"].day: r for r in out.collect()}
    assert sorted(rows) == [5, 8, 9]  # Sat 6 / Sun 7 never published
    assert rows[8]["is_gap"] and rows[8]["close_ffill"] == 10.0
    assert not rows[9]["is_gap"] and rows[9]["close_ffill"] == 12.0
