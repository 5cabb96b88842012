"""Unit tests: calendar shims (F7–F12), safe casts (F3/F4), safe divide
(F14) — the highest semantic-divergence-risk expressions (SURVEY §7.3.2)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import Row
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions.calendar import calendar_attributes
from polygon_daily_market_data_pipeline_spark.functions.casts import (
    norm_key,
    safe_divide,
    try_to_decimal,
)


def test_calendar_attributes_snowflake_semantics(spark):
    # Sunday 2024-01-07, Saturday 2024-01-06, Monday 2024-01-01
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 7),), (dt.date(2024, 1, 6),), (dt.date(2024, 1, 1),)],
        "d date",
    )
    attrs = calendar_attributes(F.col("d"))
    rows = {
        r["cal_date"]: r
        for r in df.select(
            *[e.alias(n) for n, e in attrs.items()]
        ).collect()
    }
    sun = rows[dt.date(2024, 1, 7)]
    sat = rows[dt.date(2024, 1, 6)]
    mon = rows[dt.date(2024, 1, 1)]
    # DAYOFWEEK 0=Sunday…6=Saturday (Snowflake base, merge_dim_date.sql:16)
    assert sun["day_of_week"] == 0 and sat["day_of_week"] == 6
    assert mon["day_of_week"] == 1
    assert sun["is_weekend"] and sat["is_weekend"] and not mon["is_weekend"]
    # 3-letter abbreviations (MONTHNAME/DAYNAME)
    assert sun["day_name"] == "Sun" and mon["day_name"] == "Mon"
    assert sun["month_name"] == "Jan"
    assert mon["date_sk"] == 20240101
    assert mon["week_of_year"] == 1  # ISO: 2024-01-01 is a Monday, week 1
    assert (mon["year_num"], mon["quarter_num"], mon["month_num"], mon["day_num"]) == (
        2024, 1, 1, 1,
    )


def test_try_to_decimal_null_on_malformed(spark):
    df = spark.createDataFrame(
        [("1.5",), ("not_a_number",), (None,), ("2e3",)], "x string"
    )
    out = [r[0] for r in df.select(try_to_decimal("x").alias("v")).collect()]
    assert out[0] == Decimal("1.500000")
    assert out[1] is None and out[2] is None
    assert out[3] == Decimal("2000.000000")  # scientific notation parses


def test_norm_key_and_safe_divide(spark):
    df = spark.createDataFrame([Row(s="  aapl ", a=1.0, b=0.0), Row(s="X", a=4.0, b=2.0)])
    rows = df.select(
        norm_key("s").alias("k"),
        safe_divide(F.col("a"), F.col("b")).alias("d"),
    ).collect()
    assert rows[0]["k"] == "AAPL" and rows[0]["d"] == 0.0  # DIVIDE(...,0)
    assert rows[1]["k"] == "X" and rows[1]["d"] == 2.0


def test_asof_join_semantics(spark):
    import datetime as dt

    from polygon_daily_market_data_pipeline_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, t(5), "l1"), (1, t(10), "l2"), (1, t(2), "l0"), (2, t(7), "l3")],
        "k long, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, t(3), 30.0), (1, t(10), 100.0), (2, t(9), 90.0)],
        "k long, ts timestamp, rv double",
    )
    got = {
        (r.k, r.ts.minute, r.rv_asof)
        for r in asof_join(left, right, on="ts", by=["k"]).collect()
    }
    assert got == {
        (1, 2, None),     # no view at or before 00:02
        (1, 5, 30.0),     # latest at-or-before is 00:03
        (1, 10, 100.0),   # equal timestamps match (inclusive)
        (2, 7, None),     # right row exists only later
    }


def test_range_join_binned_vs_naive(spark):
    import datetime as dt

    from polygon_daily_market_data_pipeline_spark.operators.rangejoin import range_join

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    pts = spark.createDataFrame(
        [(1, t(5)), (1, t(61)), (1, t(200)), (2, t(10))],
        "k long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(1, t(0), t(59), "a"), (1, t(60), t(120), "b"), (2, t(0), t(5), "c")],
        "k long, s timestamp, e timestamp, tag string",
    )
    got = {(r.k, r.ts.minute, r.tag) for r in
           range_join(pts, iv, "ts", "s", "e", by=["k"], bin_seconds=600).collect()}
    # naive reference
    import pyspark.sql.functions as SF
    naive = pts.join(iv, (pts.k == iv.k) & pts.ts.between(iv.s, iv.e)).select(
        pts.k, pts.ts, iv.tag)
    want = {(r.k, r.ts.minute, r.tag) for r in naive.collect()}
    assert got == want == {(1, 5, "a"), (1, 1, "b")}


def _md5_sample(df, key, rate):
    """The flat md5-threshold Bernoulli sample the sampling module
    builds on: keep a row iff md5(key) < hex_threshold(rate)."""
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.sampling import (
        hex_threshold,
    )

    return df.where(F.md5(F.col(key).cast("string")) < hex_threshold(rate))


def test_deterministic_sample_and_split(spark):
    from polygon_daily_market_data_pipeline_spark.operators.sampling import (
        train_val_test_split,
    )

    df = spark.range(0, 10000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id for r in _md5_sample(df, "doc_id", 0.2).collect()}
    s2 = {r.doc_id for r in _md5_sample(df, "doc_id", 0.2).collect()}
    assert s1 == s2  # run-to-run deterministic
    assert 0.17 < len(s1) / 10000 < 0.23  # near the target rate
    # sample nesting: a 10% sample is a subset of the 20% sample
    s_small = {r.doc_id for r in _md5_sample(df, "doc_id", 0.1).collect()}
    assert s_small <= s1

    split = train_val_test_split(df, "doc_id", train=0.8, val=0.1)
    counts = {r.split: r.n for r in split.groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 10000 < 0.85
    # stability: split of a doc is independent of corpus contents
    half = train_val_test_split(df.where("doc_id < 5000"), "doc_id")
    full_labels = {(r.doc_id, r.split) for r in split.where("doc_id < 5000").collect()}
    half_labels = {(r.doc_id, r.split) for r in half.collect()}
    assert full_labels == half_labels


def test_stratified_sample_per_stratum_rates(spark):
    """Language/quality-weighted mixing: each stratum keeps its OWN
    exact md5-threshold rate off the same hash — deterministic,
    nested across rates, growth-stable, and a kept row's decision
    depends only on (key, its own stratum)."""
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(0, 12000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("zh"), F.lit("fr"), F.lit("xx")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("lang"),
    )
    rates = {"en": 0.9, "zh": 0.5, "fr": 0.25}
    got = stratified_sample(df, "doc_id", "lang", rates, default_rate=0.1)
    per = {
        r.lang: r.n
        for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, rate in {**rates, "xx": 0.1}.items():
        assert abs(per[lang] / 3000 - rate) < 0.05, (lang, per[lang])
    # per-stratum decisions are exactly the flat sample at that rate,
    # restricted to the stratum (same hash, same threshold)
    for lang, rate in rates.items():
        want = {
            r.doc_id
            for r in _md5_sample(
                df.where(F.col("lang") == lang), "doc_id", rate
            ).collect()
        }
        have = {
            r.doc_id for r in got.where(F.col("lang") == lang).collect()
        }
        assert have == want, lang
    # growth-stability: the kept set over a sub-corpus equals the kept
    # set of the full corpus restricted to it
    sub = stratified_sample(
        df.where("doc_id < 6000"), "doc_id", "lang", rates, 0.1
    )
    assert {r.doc_id for r in sub.collect()} == {
        r.doc_id for r in got.where("doc_id < 6000").collect()
    }


def test_mix_rates_for_token_budget(spark):
    """The mixing plan: target shares of a token budget -> per-stratum
    keep-rates off one aggregate pass; under-supplied strata cap at 1.0
    (contribute everything, shortfall visible)."""
    import pytest
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.sampling import (
        mix_rates_for_token_budget,
        stratified_sample,
    )

    # en: 8000 rows x 100 tokens = 800k; zh: 2000 x 100 = 200k
    df = spark.range(0, 10000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 < 4, "en").otherwise("zh").alias("lang"),
        F.lit(100).alias("n_tokens"),
    )
    rates = mix_rates_for_token_budget(
        df, "lang", "n_tokens",
        {"en": 0.5, "zh": 0.5}, total_budget=400_000,
    )
    # en wants 200k of 800k -> 0.25; zh wants 200k of 200k -> capped 1.0
    assert rates == {"en": 0.25, "zh": 1.0}
    kept = stratified_sample(df, "doc_id", "lang", rates)
    per = {
        r.lang: r.n
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert per["zh"] == 2000  # rate 1.0 keeps everything
    assert abs(per["en"] / 8000 - 0.25) < 0.05
    with pytest.raises(ValueError, match="sum"):
        mix_rates_for_token_budget(
            df, "lang", "n_tokens", {"en": 0.7}, 1000
        )
    # an all-NULL stratum (SUM is NULL) and an absent one both price as
    # 0 available: rate 1.0, shortfall visible
    edge = spark.createDataFrame(
        [(i, "en", 10) for i in range(20)]
        + [(100 + i, "zz", None) for i in range(5)],
        "doc_id long, lang string, w long",
    )
    shares = {"en": 0.5, "zz": 0.25, "missing": 0.25}
    assert mix_rates_for_token_budget(edge, "lang", "w", shares, 100.0) == {
        "en": 0.5 * 100 / 200, "zz": 1.0, "missing": 1.0,
    }


def test_calendar_shims_wide_date_sweep(spark):
    """F9-F11 are the highest semantic-divergence risk (SURVEY §7.3.2):
    sweep 400 dates across leap years, week-53 years, and century
    boundaries and compare every derived attribute against DuckDB."""
    import datetime as dt

    import duckdb

    from polygon_daily_market_data_pipeline_spark.functions import calendar as cal

    dates = [dt.date(1992, 1, 1) + dt.timedelta(days=37 * i) for i in range(300)]
    dates += [  # adversarial edges: leap day, ISO week 53, year ends
        dt.date(2000, 2, 29), dt.date(2004, 12, 31), dt.date(2005, 1, 1),
        dt.date(2015, 12, 28), dt.date(2016, 1, 3), dt.date(2020, 12, 31),
        dt.date(2021, 1, 1), dt.date(1999, 12, 31), dt.date(2100, 3, 1),
    ]
    df = spark.createDataFrame([(d,) for d in dates], "d date")
    attrs = cal.calendar_attributes("d")
    got = {
        r["d"].isoformat(): (
            r["date_sk"], r["year_num"], r["quarter_num"], r["month_num"],
            r["month_name"], r["day_num"], r["day_name"],
            r["day_of_week"], r["week_of_year"], r["is_weekend"],
        )
        for r in df.select("d", *[v.alias(k) for k, v in attrs.items()]).collect()
    }
    con = duckdb.connect()
    for d in dates:
        s = d.isoformat()
        row = con.execute(f"""
            SELECT CAST(strftime(DATE '{s}', '%Y%m%d') AS INT),
                   year(DATE '{s}'), quarter(DATE '{s}'), month(DATE '{s}'),
                   strftime(DATE '{s}', '%b'),
                   day(DATE '{s}'),
                   strftime(DATE '{s}', '%a'),
                   dayofweek(DATE '{s}'),
                   weekofyear(DATE '{s}'),
                   dayofweek(DATE '{s}') IN (0, 6)
        """).fetchone()
        assert got[s] == row, f"calendar mismatch for {s}: {got[s]} vs {row}"


def test_orc_roundtrip_format_breadth(spark, tmp_path):
    """The warehouse is parquet-first, but the engine reads/writes ORC
    unchanged (columnar alternatives differ only in the format tag)."""
    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    p = str(tmp_path / "nation_orc")
    src.write.format("orc").save(p)
    back = spark.read.format("orc").load(p)
    assert sorted(back.collect()) == sorted(src.collect())


def test_sql_api_equivalence(spark):
    """A table registered as a temp view gives the SQL API the same
    result as the DataFrame plan (same Catalyst underneath)."""
    import __spark_entry__

    plan = __spark_entry__.entry(spark)  # pricing_summary over lineitem
    spark.read.parquet(*plan.inputFiles()).createOrReplaceTempView("lineitem")
    got = spark.sql("""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)      AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4)      AS avg_qty,
               ROUND(AVG(l_discount), 4)      AS avg_disc,
               COUNT(*)                       AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """).collect()
    want = plan.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_loader_normalizes_ntz_timestamps(spark, tmp_path):
    """Naive (isAdjustedToUTC=false) parquet timestamps must surface as
    TIMESTAMP, never TIMESTAMP_NTZ: watermarks, unix_micros and epoch
    casts reject NTZ event-time columns, and with the pinned UTC session
    zone the wall-clock values are identical. Covers both the conf-pin
    path (inferTimestampNTZ=false at read) and the defensive cast."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    d = tmp_path / "sfntz"
    d.mkdir()
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000, 1_700_000_060_000_000]).cast(
                pa.timestamp("us")  # no tz -> isAdjustedToUTC=false
            ),
        }
    )
    pq.write_table(tbl, d / "events.parquet")
    df = load_table(spark, str(d), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    # value-preserving under UTC: epoch micros round-trip exactly
    got = sorted(r[0] for r in df.selectExpr("unix_micros(ts)").collect())
    assert got == [1_700_000_000_000_000, 1_700_000_060_000_000]

    # real testdata: every timestamp-bearing table loads as TIMESTAMP
    for name in ("events", "orders", "lineitem"):
        real = load_table(spark, "/root/testdata/sf0.001", name)
        for f in real.schema.fields:
            assert "ntz" not in f.dataType.simpleString(), (name, f)


def test_redact_pii(spark):
    """PII scrub replaces emails, IPs, card-like runs and phone-ish
    numbers with typed placeholders, leaves prose and short numbers
    alone, and runs as pure regexp_replace chains (no UDF)."""
    from polygon_daily_market_data_pipeline_spark.functions.text import redact_pii

    rows = [
        ("mail me at jane.doe+x@example.co.uk please", "mail me at <EMAIL> please"),
        ("server 192.168.0.1 responded", "server <IP> responded"),
        ("card 4111 1111 1111 1111 on file", "card <NUMBER> on file"),
        ("call +1 (415) 555-0199 today", "call <PHONE> today"),
        ("chapter 7 has 3 parts", "chapter 7 has 3 parts"),
        ("year 2024 was fine", "year 2024 was fine"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = [r[0] for r in df.select(redact_pii("text")).collect()]
    assert got == [want for _, want in rows]

    plan = df.select(redact_pii("text"))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_stats(spark):
    """Repetition signals: a boilerplate doc (same line repeated) scores
    dup_line_frac near 1, clean prose near 0; n-gram duplication catches
    within-line repetition that line-dedup misses; plan stays JVM-side."""
    from polygon_daily_market_data_pipeline_spark.functions.text import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "buy now\nbuy now\nbuy now\nbuy now"),
            (2, "the quick brown fox\njumps over the lazy dog"),
            (3, "spam spam spam spam spam spam spam spam"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in docs.select(
            "doc_id", *[c.alias(n) for n, c in repetition_stats("text").items()]
        ).collect()
    }
    assert got[1].dup_line_frac == 0.75          # 4 lines, 1 distinct
    assert got[2].dup_line_frac == 0.0
    assert got[2].dup_2gram_frac == 0.0
    assert got[3].dup_line_frac == 0.0           # one line...
    assert got[3].dup_2gram_frac > 0.8           # ...but pure repetition
    assert got[4].dup_line_frac == 0.0           # empty: no NaN/NULL

    plan = docs.select(
        *[c.alias(n) for n, c in repetition_stats("text").items()]
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_gopher_quality_rules(spark):
    """The round-11 Gopher gates (mean word length, alpha-word
    fraction, symbol ratio, composite pass) on adversarial texts:
    natural prose passes, numeric soup fails the alpha rule, markup
    soup fails the symbol rule, short text fails the length floor, and
    the mean-word-length band rejects single-char and very-long-token
    streams."""
    from polygon_daily_market_data_pipeline_spark.functions.text import (
        alpha_word_ratio,
        gopher_pass,
        mean_word_len,
        symbol_word_ratio,
    )

    prose = " ".join(
        ["the quick brown fox jumps over the lazy sleeping dog"] * 6
    )  # 60 tokens, mwl ~4, all alpha, no symbols
    numbers = " ".join(str(i) for i in range(100, 160))  # 60 numeric tokens
    markup = " ".join(["### section ..."] * 30)  # symbol-saturated
    short = "tiny but honest text"
    chars = " ".join(["a b c d"] * 20)  # mwl 1
    rows = [(i, t) for i, t in enumerate([prose, numbers, markup, short, chars])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            mean_word_len("text").alias("mwl"),
            alpha_word_ratio("text").alias("alpha"),
            symbol_word_ratio("text").alias("syms"),
            gopher_pass("text").alias("ok"),
        ).collect()
    }
    assert got[0].ok is True
    assert 3 <= got[0].mwl <= 10 and got[0].alpha == 1.0 and got[0].syms == 0.0
    assert got[1].ok is False and got[1].alpha == 0.0  # numeric soup
    assert got[2].ok is False and got[2].syms > 0.1  # '#' + '...' per token
    assert got[3].ok is False  # under the 50-token floor
    assert got[4].ok is False and got[4].mwl == 1.0  # single-char stream
