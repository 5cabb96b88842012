"""End-to-end pipeline tests (SURVEY §5.2): full raw→core→dim→fact run,
layer reconciliation, idempotent re-run, DQ skip/fail gates, typed-load
null handling."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark import schemas
from polygon_daily_market_data_pipeline_spark.operators.quality import (
    DataQualityError,
    SkipBatch,
)
from polygon_daily_market_data_pipeline_spark.pipeline import Warehouse, run_eod_pipeline
from polygon_daily_market_data_pipeline_spark.sources.csv_landing import typed_raw_load
from tests.conftest import GOOD_DAY, pad_day

TS = dt.datetime(2024, 1, 5, 23, 0, 0)


def _counts(spark, root):
    wh = Warehouse(spark, root)
    return {
        "raw": wh.read("raw_eod_prices", schemas.RAW_EOD_PRICES).count(),
        "core": wh.read("eod_prices", schemas.CORE_EOD_PRICES).count(),
        "dim_sec": wh.read("dim_security", schemas.DIM_SECURITY).count(),
        "dim_date": wh.read("dim_date", schemas.DIM_DATE).count(),
        "fact": wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE).count(),
    }


def test_typed_load_null_and_dup_handling(spark, landing_csv):
    path = landing_csv("day.csv", GOOD_DAY)
    df = typed_raw_load(spark, path, "2024-01-05", ingest_ts=TS)
    rows = {r["symbol"]: r for r in df.collect()}
    assert rows["XBAD"]["open"] is None          # try_cast malformed → NULL
    assert rows["XBAD"]["close"] is None         # NaN sentinel → NULL
    assert rows["XBAD"]["volume"] is None
    assert rows["NULLS"]["open"] is None         # '' and NULL sentinels
    assert rows["AAPL"]["open"] == Decimal("181.500000")
    assert rows["aapl "]["trade_date"] == dt.date(2024, 1, 5)
    assert rows["AAPL"]["_src_file"].endswith("day.csv")


def test_pipeline_end_to_end_and_idempotent(spark, landing_csv, tmp_path):
    root = str(tmp_path / "wh")
    d1 = landing_csv("eod_2024-01-05.csv", pad_day(GOOD_DAY, "2024-01-05"))
    audits = run_eod_pipeline(spark, root, d1, "2024-01-05", fixed_ts=TS)

    pre = audits["premerge"].collect()[0]
    post = audits["postmerge"].collect()[0]
    assert pre["raw_rows"] == 127                # 7 fixture + 120 pad
    assert pre["distinct_keys"] == 126           # AAPL/aapl merge
    assert pre["existing_keys"] == 0 and pre["inserts_est"] == 126
    assert post["core_rows"] == 126 and post["fact_rows"] == 126

    c1 = _counts(spark, root)
    assert c1["core"] == 126 and c1["dim_sec"] == 126
    assert c1["dim_date"] == 1 and c1["fact"] == 126

    # AAPL dedup: latest _src_file wins within equal ingest_ts; both rows
    # share the file here so the tie falls to file — but values must come
    # from ONE row, normalized symbol.
    wh = Warehouse(spark, root)
    core = wh.read("eod_prices", schemas.CORE_EOD_PRICES)
    aapl = core.where("symbol = 'AAPL'").collect()
    assert len(aapl) == 1

    # replay the same day → converges (counts unchanged)
    run_eod_pipeline(spark, root, d1, "2024-01-05", fixed_ts=TS)
    assert _counts(spark, root) == c1

    # second day: new date partition, dims grow only by new symbols
    d2_rows = pad_day(
        ["2024-01-08,AAPL,183.0,184.2,182.1,183.5,49000000",
         "2024-01-08,NEWCO,10.0,11.0,9.5,10.5,5000"],
        "2024-01-08",
    )
    d2 = landing_csv("eod_2024-01-08.csv", d2_rows)
    run_eod_pipeline(spark, root, d2, "2024-01-08", fixed_ts=TS)
    c2 = _counts(spark, root)
    assert c2["dim_date"] == 2
    # grow-only dim: pads SYM0000..SYM0119 and AAPL already exist,
    # so only NEWCO is new
    assert c2["dim_sec"] == 126 + 1
    assert c2["core"] == 126 + 122

    # dim ids stable across days (insert-only, no re-keying)
    dim = wh.read("dim_security", schemas.DIM_SECURITY)
    assert dim.groupBy("symbol").count().where("count > 1").count() == 0


def test_dq_gates_skip_and_fail(spark, landing_csv):
    empty = landing_csv("empty.csv", [])
    with pytest.raises(SkipBatch):
        run_eod_pipeline(spark, "/tmp/unused-wh", empty, "2024-01-05", fixed_ts=TS)

    few = landing_csv("few.csv", GOOD_DAY)  # 7 rows < 100
    with pytest.raises(DataQualityError):
        run_eod_pipeline(spark, "/tmp/unused-wh", few, "2024-01-05", fixed_ts=TS)


def test_update_branch_refreshes_values(spark, landing_csv, tmp_path):
    """Re-running a date with revised prices updates CORE in place
    (merge_core.sql WHEN MATCHED THEN UPDATE)."""
    root = str(tmp_path / "wh2")
    v1 = landing_csv("v1.csv", pad_day(["2024-01-05,ACME,1.0,2.0,0.5,1.5,100"], "2024-01-05"))
    run_eod_pipeline(spark, root, v1, "2024-01-05", fixed_ts=TS)
    v2 = landing_csv("v2.csv", pad_day(["2024-01-05,ACME,1.0,2.0,0.5,9.9,100"], "2024-01-05"))
    run_eod_pipeline(spark, root, v2, "2024-01-05",
                     fixed_ts=TS + dt.timedelta(hours=1))
    wh = Warehouse(spark, root)
    core = wh.read("eod_prices", schemas.CORE_EOD_PRICES)
    acme = core.where("symbol = 'ACME'").collect()
    assert len(acme) == 1 and acme[0]["close"] == Decimal("9.900000")
    fact = wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE)
    fact_acme = fact.join(
        wh.read("dim_security", schemas.DIM_SECURITY).where("symbol='ACME'"),
        "security_id",
    ).collect()
    assert len(fact_acme) == 1 and fact_acme[0]["close"] == Decimal("9.900000")


def test_backfill_range_via_datasource(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.pipeline import Warehouse, backfill

    wh_root = str(tmp_path / "wh")
    landing = str(tmp_path / "landing")
    # Fri 2024-01-05 .. Mon 2024-01-08 → 2 trading days, weekend skipped
    dates = backfill(
        spark, wh_root, landing, "2024-01-05", "2024-01-08",
        datasource_options={"num_tickers": "120"}, fixed_ts=TS,
    )
    assert dates == ["2024-01-05", "2024-01-08"]
    wh = Warehouse(spark, wh_root)
    core = wh.read("eod_prices", schemas.CORE_EOD_PRICES)
    fact = wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE)
    assert core.count() == 2 * 120
    assert fact.count() == 2 * 120
    assert wh.read("dim_security", schemas.DIM_SECURITY).count() == 120

    # idempotent: re-running the same range converges to the same counts
    backfill(
        spark, wh_root, landing, "2024-01-05", "2024-01-08",
        datasource_options={"num_tickers": "120"}, fixed_ts=TS,
    )
    assert wh.read("eod_prices", schemas.CORE_EOD_PRICES).count() == 2 * 120
    assert wh.read("fact_daily_price", schemas.FACT_DAILY_PRICE).count() == 2 * 120


def test_backfill_fetches_each_date_once(spark, tmp_path):
    """The landing write and the returned date list share ONE read of
    the feed: over HTTP each calendar day costs exactly one GET."""
    import collections
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from polygon_daily_market_data_pipeline_spark.pipeline import backfill
    from polygon_daily_market_data_pipeline_spark.sources.polygon_datasource import (
        synthetic_day_body,
    )

    gets: collections.Counter = collections.Counter()
    lock = threading.Lock()

    class Stub(BaseHTTPRequestHandler):
        def do_GET(self):
            day = self.path.split("?")[0].rstrip("/").rsplit("/", 1)[-1]
            with lock:
                gets[day] += 1
            body = synthetic_day_body(day).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Stub)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        dates = backfill(
            spark, str(tmp_path / "wh"), str(tmp_path / "landing"),
            "2024-01-05", "2024-01-08",
            datasource_options={
                "transport": "http",
                "base_url": f"http://127.0.0.1:{server.server_address[1]}",
            },
            fixed_ts=TS,
        )
    finally:
        server.shutdown()
        server.server_close()
        thread.join()
    assert dates == ["2024-01-05", "2024-01-08"]
    assert dict(gets) == {
        "2024-01-05": 1, "2024-01-06": 1, "2024-01-07": 1, "2024-01-08": 1,
    }


def test_partition_compaction(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.operators.compaction import (
        compact_table,
        data_file_count,
    )

    root = str(tmp_path / "tbl")
    df = spark.range(0, 1000).selectExpr(
        "cast(date_add('2024-01-05', cast(id % 2 as int)) as date) as trade_date",
        "id", "id * 1.5 as v",
    )
    # fragment: 8 writer tasks per partition
    df.repartition(8).write.partitionBy("trade_date").parquet(root)
    before = data_file_count(root + "/trade_date=2024-01-05")
    assert before >= 8

    n = compact_table(spark, root, "trade_date")
    assert n == 2
    assert data_file_count(root + "/trade_date=2024-01-05") == 1
    out = spark.read.parquet(root)
    assert out.count() == 1000
    assert out.selectExpr("sum(v)").first()[0] == sum(i * 1.5 for i in range(1000))


def test_delete_where_partition_scoped(spark, tmp_path):
    from pyspark.sql import functions as SF

    from polygon_daily_market_data_pipeline_spark.operators.delete import (
        delete_where,
        drop_partitions,
    )

    root = str(tmp_path / "deltbl")
    df = spark.createDataFrame(
        [("2024-01-05", "AAPL", 1.0), ("2024-01-05", "MSFT", 2.0),
         ("2024-01-08", "AAPL", 3.0), ("2024-01-09", "GOOG", 4.0)],
        "trade_date string, symbol string, close double",
    )
    df.write.partitionBy("trade_date").parquet(root)

    # row-level: delete AAPL everywhere — rewrites only the 2 partitions
    # containing it; the GOOG partition's files are untouched
    import os
    goog_dir = root + "/trade_date=2024-01-09"
    mtime_before = max(os.path.getmtime(os.path.join(goog_dir, f))
                       for f in os.listdir(goog_dir))
    n = delete_where(spark, root, "trade_date", SF.col("symbol") == "AAPL")
    assert n == 2
    left = spark.read.parquet(root)
    assert {(r.symbol, r.close) for r in left.collect()} == {("MSFT", 2.0), ("GOOG", 4.0)}
    mtime_after = max(os.path.getmtime(os.path.join(goog_dir, f))
                      for f in os.listdir(goog_dir))
    assert mtime_before == mtime_after

    # partition-level: metadata-only drop
    assert drop_partitions(root, "trade_date", ["2024-01-09"]) == 1
    assert {r.symbol for r in spark.read.parquet(root).collect()} == {"MSFT"}

    # predicate on the partition column itself works row-level too
    df2 = spark.createDataFrame(
        [("2024-02-01", "X", 1.0), ("2024-02-02", "Y", 2.0)],
        "trade_date string, symbol string, close double",
    )
    root2 = str(tmp_path / "deltbl2")
    df2.write.partitionBy("trade_date").parquet(root2)
    n = delete_where(spark, root2, "trade_date", SF.col("trade_date") == "2024-02-01")
    assert n == 1
    assert {r.symbol for r in spark.read.parquet(root2).collect()} == {"Y"}


def test_schema_evolution_merge_schema_read(spark, tmp_path):
    """Upgrade path: a new column added to later RAW partitions must not
    break whole-table reads — mergeSchema unifies, old partitions read
    NULL for the new column, and the declared-schema read (the engine's
    normal path) stays stable either way."""
    root = str(tmp_path / "evolve")
    spark.createDataFrame(
        [("2024-01-05", "AAPL", 1.0)], "trade_date string, symbol string, close double"
    ).write.partitionBy("trade_date").parquet(root)
    spark.createDataFrame(
        [("2024-01-08", "MSFT", 2.0, "XNAS")],
        "trade_date string, symbol string, close double, exchange string",
    ).write.mode("append").partitionBy("trade_date").parquet(root)

    merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert set(merged.columns) == {"trade_date", "symbol", "close", "exchange"}
    rows = {(r.symbol, r.exchange) for r in merged.collect()}
    assert rows == {("AAPL", None), ("MSFT", "XNAS")}

    declared = spark.read.schema("symbol string, close double").parquet(root)
    assert declared.count() == 2


def test_with_retries_semantics():
    from polygon_daily_market_data_pipeline_spark.operators.quality import (
        SkipBatch,
        with_retries,
    )

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retries(flaky, retries=3, delay_s=0)() == "ok"
    assert calls["n"] == 3

    def skips():
        raise SkipBatch("no data")

    with pytest.raises(SkipBatch):  # skips are never retried
        with_retries(skips, retries=3, delay_s=0)()

    def always():
        raise ValueError("hard")

    with pytest.raises(ValueError):
        with_retries(always, retries=2, delay_s=0)()


def test_zorder_write_prunes_on_both_columns(spark, tmp_path):
    """Z-order layout: after zorder_write(events, [user_id, ts]), file
    footer min/max envelopes are narrow on BOTH columns, so a point
    range on either prunes most files — while a plain ts-sorted write
    only prunes on ts (every file spans ~the full user_id range). The
    pruning decision tested is exactly the footer-stats check a scan
    makes before scheduling tasks."""
    from polygon_daily_market_data_pipeline_spark.operators.layout import (
        pruning_stats,
        zorder_write,
    )
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "ts", "user_id", "value"
    )
    n_files = 16

    zpath = str(tmp_path / "ev_z")
    zorder_write(ev, zpath, ["user_id", "ts"], n_files=n_files)
    spath = str(tmp_path / "ev_s")
    (
        ev.repartitionByRange(n_files, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(spath)
    )

    # 5%-wide range on user_id, inside one z-grid quartile (a range
    # straddling a grid boundary legitimately hits both sides)
    ids = ev.agg(F.min("user_id"), F.max("user_id")).first()
    lo = ids[0] + (ids[1] - ids[0]) * 56 // 100
    hi = ids[0] + (ids[1] - ids[0]) * 61 // 100

    z_total, z_hit = pruning_stats(zpath, "user_id", lo, hi)
    s_total, s_hit = pruning_stats(spath, "user_id", lo, hi)
    # ts-sorted layout cannot prune on user_id: every file overlaps
    assert s_total == n_files and s_hit == n_files
    # z-ordered layout prunes most files on the secondary column
    # (cell-aligned boundaries may leave some cells empty: z_total<=16)
    assert z_total > n_files // 2
    assert z_hit <= z_total // 2, (z_hit, z_total)

    # and still prunes on ts (the z-curve keeps both dims compact);
    # a 5%-of-range ts slice must not touch every file
    tmin, tmax = ev.agg(F.min("ts"), F.max("ts")).first()
    span = tmax - tmin
    t_lo, t_hi = tmin + span * 56 // 100, tmin + span * 61 // 100
    zt_total, zt_hit = pruning_stats(zpath, "ts", t_lo, t_hi)
    assert zt_hit <= zt_total // 2, (zt_hit, zt_total)

    # layout changes bytes, never rows: same content both layouts
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(spath).count()
        == ev.count()
    )


def test_bloom_filter_write_options(spark, tmp_path):
    """Bloom filters land in the footer for exactly the configured
    columns — the point-lookup complement to z-order's range pruning
    (equality probe on an unclustered high-cardinality key skips row
    groups via ~1 byte/value filters instead of reading data pages)."""
    import glob

    from polygon_daily_market_data_pipeline_spark.operators.layout import (
        bloom_filter_offsets,
        bloom_filter_options,
    )
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "ev_bloom")
    w = ev.coalesce(1).write.mode("overwrite")
    for k, v in bloom_filter_options({"event_id": 1000}).items():
        w = w.option(k, v)
    w.parquet(path)

    offs = bloom_filter_offsets(spark, glob.glob(path + "/*.parquet")[0])
    assert offs["event_id"] >= 0, offs
    assert all(v == -1 for c, v in offs.items() if c != "event_id"), offs


def test_incremental_aggregate_refresh(spark, tmp_path):
    """Incremental materialized-aggregate maintenance: each refresh
    scans ONLY unprocessed partitions (asserted via the scan's
    inputFiles) and the combined result equals a full recompute —
    sum/count/min/max combine algebraically, avg derives at read."""
    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        refresh_aggregate,
    )
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    fact = str(tmp_path / "fact")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact)

    import os

    days = sorted(d for d in os.listdir(fact) if d.startswith("day="))
    assert len(days) >= 2
    # hide the last partition, first refresh sees history-minus-one
    hidden = str(tmp_path / "hidden")
    os.rename(os.path.join(fact, days[-1]), hidden)

    state = str(tmp_path / "state")
    measures = {
        "n": ("count", "event_id"),
        "sum_value": ("sum", "value"),
        "min_value": ("min", "value"),
        "max_value": ("max", "value"),
        # mergeable HLL: the incremental form of COUNT(DISTINCT user_id)
        "users_sketch": ("ndv_sketch", "user_id"),
    }
    agg1 = refresh_aggregate(spark, fact, state, ["event_type"], measures, "day")
    assert agg1.count() > 0

    # the new day arrives; refresh must scan only that partition
    os.rename(hidden, os.path.join(fact, days[-1]))
    agg2 = refresh_aggregate(spark, fact, state, ["event_type"], measures, "day")

    full = (
        spark.read.parquet(fact)
        .groupBy("event_type")
        .agg(
            F.count("event_id").alias("n"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )
    key = lambda r: (r.event_type, r.n, round(r.sum_value, 6), r.min_value, r.max_value)  # noqa: E731
    assert sorted(key(r) for r in agg2.collect()) == sorted(
        key(r) for r in full.collect()
    )

    # the unioned-across-refreshes sketch estimates the TRUE distinct
    # count over all partitions (not a sum of per-refresh counts)
    est = {
        r.event_type: r.users
        for r in agg2.selectExpr(
            "event_type", "hll_sketch_estimate(users_sketch) AS users"
        ).collect()
    }
    for r in full.collect():
        assert abs(est[r.event_type] - r.exact_users) <= max(2, 0.05 * r.exact_users)

    # pruning-by-construction: a third refresh with nothing new reads
    # only the stored partials, and the watermark lists every day
    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        covered_partitions,
    )

    assert covered_partitions(state) == days
    agg3 = refresh_aggregate(spark, fact, state, ["event_type"], measures, "day")
    assert all("/state/partial-" in f.replace("\\", "/") for f in agg3.inputFiles())


def test_incremental_refresh_partition_replace_and_crash(spark, tmp_path):
    """The two recovery stories the manifest log exists for:

    1. Partition replace: invalidate_partitions drops the partials
       covering the replaced day, and the next refresh re-aggregates it
       — the result equals a full recompute of the NEW data (the old
       contribution is gone exactly, including min/max).
    2. Crash between partial write and manifest publish: debris dir is
       ignored by readers and the rerun re-covers the same partitions
       once (no double count).
    """
    import os

    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        covered_partitions,
        invalidate_partitions,
        refresh_aggregate,
    )
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    fact = str(tmp_path / "fact")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact)
    days = sorted(d for d in os.listdir(fact) if d.startswith("day="))
    state = str(tmp_path / "state")
    measures = {
        "n": ("count", "event_id"),
        "sum_value": ("sum", "value"),
        "max_value": ("max", "value"),
    }
    # low compact threshold on purpose: compaction must not break
    # invalidation correctness (it only widens the rescan)
    refresh_aggregate(
        spark, fact, state, ["event_type"], measures, "day", compact_threshold=2
    )

    # --- replace one day's data with a shrunken version ---
    victim = days[len(days) // 2]
    vic_path = os.path.join(fact, victim)
    shrunk = (
        spark.read.option("basePath", fact)
        .parquet(vic_path)
        .where(F.col("value") > 50)
        .drop("day")
    )
    tmp_out = str(tmp_path / "shrunk")
    shrunk.write.mode("overwrite").parquet(tmp_out)
    import shutil

    shutil.rmtree(vic_path)
    os.rename(tmp_out, vic_path)

    rescan = invalidate_partitions(state, [victim])
    assert victim in rescan
    assert victim not in covered_partitions(state)

    agg = refresh_aggregate(
        spark, fact, state, ["event_type"], measures, "day", compact_threshold=2
    )
    full = (
        spark.read.parquet(fact)
        .groupBy("event_type")
        .agg(
            F.count("event_id").alias("n"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )
    key = lambda r: (r.event_type, r.n, round(r.sum_value, 6), r.max_value)  # noqa: E731
    assert sorted(key(r) for r in agg.collect()) == sorted(
        key(r) for r in full.collect()
    )

    # --- crash story: an orphan partial dir (no manifest entry) is
    # invisible to readers and to the watermark ---
    orphan = os.path.join(state, "partial-deadbeefcafe")
    spark.createDataFrame(
        [("view", 10**9, 10**9.0, 10**9.0)], "event_type string, n long, sum_value double, max_value double"
    ).write.parquet(orphan)
    before = sorted(key(r) for r in agg.collect())
    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        read_aggregate,
    )

    after = sorted(
        key(r)
        for r in read_aggregate(spark, state, ["event_type"], measures).collect()
    )
    assert after == before
    # next successful publish garbage-collects the debris
    invalidate_partitions(state, [])
    assert not os.path.exists(orphan)


def test_versioned_table_time_travel(spark, tmp_path):
    """Manifest-log time travel on plain parquet: every committed
    version stays readable (overwrite and append semantics), AT-style
    timestamp reads resolve to the last version committed before the
    instant, and vacuum removes exactly the unreferenced data dirs
    while the kept versions remain readable."""
    import os

    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        commit_version,
        history,
        read_version,
        vacuum,
    )

    t = str(tmp_path / "vt")
    df = lambda *vals: spark.createDataFrame([(v,) for v in vals], "x int")  # noqa: E731

    v0 = commit_version(df(1, 2), t)
    v1 = commit_version(df(3), t, mode="append")
    v2 = commit_version(df(9), t, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    get = lambda **kw: sorted(  # noqa: E731
        r.x for r in read_version(spark, t, **kw).collect()
    )
    assert get(version=0) == [1, 2]
    assert get(version=1) == [1, 2, 3]   # append sees v0's files too
    assert get(version=2) == [9]         # overwrite resets visibility
    assert get() == [9]                  # default = latest

    # AT(timestamp): v1's commit instant resolves to v1
    ts1 = history(t)[1]["committed_at"]
    assert get(as_of=ts1) == [1, 2, 3]

    # rollback publishes a NEW version with the old visibility
    from polygon_daily_market_data_pipeline_spark.operators.versioned import rollback

    v3 = rollback(t, to_version=1)
    assert v3 == 3
    assert get() == [1, 2, 3]
    assert get(version=2) == [9]  # the rolled-back version stays readable
    commit_version(df(9), t, mode="overwrite")  # restore for vacuum phase
    assert get() == [9]

    # crash debris: an orphan data dir no manifest references
    os.makedirs(os.path.join(t, "_data", "vX-orphan"))
    removed = vacuum(t, keep_last=1)
    # removed: v0's dir, v1's dir, v2's dir, orphan (only v4's kept)
    assert removed == 4
    assert get() == [9]
    import pytest

    with pytest.raises(LookupError):
        read_version(spark, t, version=0)


def test_quantile_bucketize_handles_skew(spark):
    """Zipf-skewed columns defeat linear min/max bucketing (almost all
    mass lands in bucket 0 — one giant z-cell); quantile bucketing
    splits by rank so buckets carry equal data share. The assignment is
    an `aggregate` HOF fold over the bit weights (binary search that
    stays constant-sized as an expression), never a Python UDF."""
    import math

    from polygon_daily_market_data_pipeline_spark.operators.layout import _bucketize

    # log-uniform on [1, 1000]: continuous heavy head at small values
    # (a point mass could never split — equal values share a bucket)
    df = spark.range(20000).selectExpr(
        "pow(1000.0, (id % 2000) / 2000.0) as v"
    )
    bits = 4  # 16 buckets

    def spread(method):
        b = _bucketize(df, "v", bits, method)
        counts = [r["cnt"] for r in df.select(b.alias("b")).groupBy("b").agg(
            F.count("*").alias("cnt")).collect()]
        top = max(counts) / sum(counts)
        return len(counts), top

    lin_buckets, lin_top = spread("linear")
    q_buckets, q_top = spread("quantile")
    # linear: the heavy head collapses into one dominant bucket
    assert lin_top > 0.5, (lin_buckets, lin_top)
    # quantile: no bucket dominates, most buckets populated
    assert q_top < 0.3, (q_buckets, q_top)
    assert q_buckets >= 8

    plan = df.select(
        _bucketize(df, "v", bits, "quantile").alias("b")
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_quantile_bucketize_default_bits_expression_stays_small(spark):
    """Regression: the pre-fix quantile search chained `bits` WHENs,
    each referencing the accumulator Column ~4 times — Column→Expression
    conversion expands that shared DAG into a ~4^bits tree, which
    OOM'd the driver at the DEFAULT bits=12 (quantile z-order was
    effectively unusable except at toy bit widths). The aggregate-fold
    form must build, evaluate, and bucket monotonically at bits=12."""
    from polygon_daily_market_data_pipeline_spark.operators.layout import _bucketize

    df = spark.range(2000).selectExpr("cast(id as double) as v")
    b = _bucketize(df, "v", 12, "quantile")
    rows = (
        df.select("v", b.alias("b")).orderBy("v").collect()
    )
    buckets = [r["b"] for r in rows]
    assert buckets == sorted(buckets)  # monotone in v
    assert 0 <= buckets[0] and buckets[-1] <= (1 << 12) - 1
    assert len(set(buckets)) > 100  # rank-uniform: many buckets in use


def test_optimize_zorder_versioned(spark, tmp_path):
    """OPTIMIZE ZORDER as a versioned commit: the new version holds the
    same rows re-laid-out (z-ordered, prunable on both columns), the
    pre-optimize version stays byte-stable and readable, and vacuum
    reclaims its files afterwards."""
    from polygon_daily_market_data_pipeline_spark.operators.layout import (
        pruning_stats,
    )
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        commit_version,
        optimize_zorder,
        read_version,
        vacuum,
    )
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "ts", "user_id", "value"
    )
    t = str(tmp_path / "vt")
    v0 = commit_version(ev.repartition(16), t)
    v1 = optimize_zorder(spark, t, ["user_id", "ts"], n_files=16)
    assert (v0, v1) == (0, 1)

    # identical content, different layout
    a = read_version(spark, t, version=0)
    b = read_version(spark, t, version=1)
    assert a.count() == b.count() == ev.count()
    assert sorted(r.event_id for r in a.select("event_id").collect()) == sorted(
        r.event_id for r in b.select("event_id").collect()
    )

    # the optimized version prunes on the secondary dimension
    import os

    ids = ev.agg(F.min("user_id"), F.max("user_id")).first()
    lo = ids[0] + (ids[1] - ids[0]) * 56 // 100
    hi = ids[0] + (ids[1] - ids[0]) * 61 // 100
    m1 = __import__("json").load(
        open(os.path.join(t, "_versions", "1.json"))
    )
    zdir = os.path.join(t, m1["dirs"][0])
    total, hit = pruning_stats(zdir, "user_id", lo, hi)
    assert hit <= total // 2, (hit, total)

    vacuum(t, keep_last=1)
    assert read_version(spark, t).count() == ev.count()


def test_incremental_random_sequences_match_full_recompute(spark, tmp_path):
    """Seeded random interleavings of add-partition / replace-partition
    (+invalidate) / refresh against a Python model: after EVERY refresh
    the stored aggregate must equal the model's full recompute over the
    CURRENT fact data (count/sum/max — max is the measure subtraction
    could never fix), and the watermark must cover exactly the live
    partitions. Varying compact_threshold exercises compaction's
    interaction with invalidation (compacted entries only widen the
    rescan, never corrupt it)."""
    import os
    import random
    import shutil as sh

    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        covered_partitions,
        invalidate_partitions,
        refresh_aggregate,
    )

    measures = {"n": ("count", "v"), "s": ("sum", "v"), "mx": ("max", "v")}

    def write_day(fact, day, rows):
        spark.createDataFrame(rows, "k string, v long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{fact}/d={day}")

    def model_agg(data):
        out: dict[str, tuple[int, int, int]] = {}
        for rows in data.values():
            for k, v in rows:
                n, s, mx = out.get(k, (0, 0, None))
                out[k] = (n + 1, s + v, v if mx is None else max(mx, v))
        return out

    for seed in range(6):
        rng = random.Random(100 + seed)
        fact = str(tmp_path / f"fact{seed}")
        state = str(tmp_path / f"state{seed}")
        os.makedirs(fact)
        data: dict[int, list] = {}
        day = 0

        def rand_rows():
            return [
                (rng.choice("ab"), rng.randrange(100))
                for _ in range(rng.randint(1, 5))
            ]

        # start with two days so replace always has a target
        for _ in range(2):
            data[day] = rand_rows()
            write_day(fact, day, data[day])
            day += 1

        for _step in range(10):
            op = rng.choice(["add", "replace", "refresh", "refresh"])
            if op == "add":
                data[day] = rand_rows()
                write_day(fact, day, data[day])
                day += 1
            elif op == "replace":
                d = rng.choice(sorted(data))
                data[d] = rand_rows()
                sh.rmtree(f"{fact}/d={d}")
                write_day(fact, d, data[d])
                invalidate_partitions(state, [f"d={d}"])
            else:
                agg = refresh_aggregate(
                    spark, fact, state, ["k"], measures, "d",
                    compact_threshold=rng.choice([1, 2, 8]),
                )
                got = {r.k: (r.n, r.s, r.mx) for r in agg.collect()}
                assert got == model_agg(data), (
                    f"seed={seed} step={_step}"
                )
                assert covered_partitions(state) == sorted(
                    f"d={d}" for d in data
                )


def test_incremental_histogram_percentiles(spark, tmp_path):
    """Mergeable histogram measures: bucket counts accumulated across
    two incremental refreshes are EXACTLY the single-shot histogram
    (counts are algebraic), and the read-time quantile estimator lands
    within one bucket width of the true percentile."""
    import os

    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        histogram_measures,
        percentile_from_histogram,
        refresh_aggregate,
    )
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    lo, hi, nb = 0.0, 1000.0, 40
    fact = str(tmp_path / "fact")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact)
    days = sorted(d for d in os.listdir(fact) if d.startswith("day="))
    hidden = str(tmp_path / "hidden")
    os.rename(os.path.join(fact, days[-1]), hidden)

    state = str(tmp_path / "state")
    measures = {"n": ("count", "event_id")}
    measures.update(histogram_measures("value", lo, hi, nb))
    refresh_aggregate(spark, fact, state, ["event_type"], measures, "day")
    os.rename(hidden, os.path.join(fact, days[-1]))
    agg = refresh_aggregate(spark, fact, state, ["event_type"], measures, "day")

    # exact-count equality vs a single-shot histogram over all data
    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        partial_aggregate,
    )

    single = partial_aggregate(
        spark.read.parquet(fact), ["event_type"], measures
    )
    got = {r.event_type: [r[f"hist_{i}"] for i in range(nb)] for r in agg.collect()}
    want = {r.event_type: [r[f"hist_{i}"] for i in range(nb)] for r in single.collect()}
    assert got == want

    # quantile estimates within a bucket width of the exact percentile
    est = agg.select(
        "event_type",
        percentile_from_histogram(0.5, lo, hi, nb).alias("p50"),
        percentile_from_histogram(0.9, lo, hi, nb).alias("p90"),
    ).collect()
    exact = {
        r.event_type: (r.p50, r.p90)
        for r in spark.read.parquet(fact)
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
        )
        .collect()
    }
    width = (hi - lo) / nb
    for r in est:
        e50, e90 = exact[r.event_type]
        assert abs(r.p50 - e50) <= width, (r.event_type, r.p50, e50)
        assert abs(r.p90 - e90) <= width, (r.event_type, r.p90, e90)


def test_incremental_compaction_retains_one_reader_generation(spark, tmp_path):
    """Publishing a compaction must not delete the partial dirs a held
    read_aggregate frame was built from (lazy frames re-list files at
    action time): compacted-away dirs retire for one publish and are
    reclaimed at the next. The held frame must still collect correctly
    AFTER the compaction that removed its entries from the manifest."""
    import os

    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        read_aggregate,
        streaming_aggregate_sink,
    )

    state = str(tmp_path / "state")
    measures = {"n": ("count", "v"), "s": ("sum", "v")}
    # grace 0: reclamation happens at the next publish (the default
    # 600 s grace would keep dirs across this whole test)
    sink = streaming_aggregate_sink(
        ["g"], measures, state, compact_threshold=3, retire_grace_s=0.0
    )

    def batch(i):
        return spark.createDataFrame([(i % 2, float(i))], "g int, v double")

    def dirs():
        return {d for d in os.listdir(state) if d.startswith("partial-")}

    for i in range(3):
        sink(batch(i), i)
    held = read_aggregate(spark, state, ["g"], measures)  # references 3 dirs
    pre = dirs()
    sink(batch(3), 3)  # 4th entry > threshold → compaction
    # the held frame's dirs survive the compaction publish...
    assert pre < dirs()
    got = {(r.g, r.n, r.s) for r in held.collect()}
    assert got == {(0, 2, 0.0 + 2.0), (1, 1, 1.0)}
    # ...and are reclaimed one publish later
    sink(batch(4), 4)
    assert pre & dirs() == set()
    # the current aggregate stays exact throughout
    want = {(0, 3, 6.0), (1, 2, 4.0)}
    assert {
        (r.g, r.n, r.s) for r in read_aggregate(spark, state, ["g"], measures).collect()
    } == want


def test_invalidate_then_refresh_keeps_dropped_dirs_under_grace(spark, tmp_path):
    """The documented partition-replace sequence (invalidate_partitions
    immediately followed by refresh_aggregate) is TWO publishes seconds
    apart — with the default time grace the invalidated partial dirs
    must survive both, so a reader holding the pre-replace aggregate
    still collects; with grace 0 the second publish reclaims them."""
    import os

    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        invalidate_partitions,
        read_aggregate,
        refresh_aggregate,
    )

    fact = str(tmp_path / "fact")
    state = str(tmp_path / "state")
    measures = {"n": ("count", "v"), "s": ("sum", "v")}
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("a", "b") for i in range(5)],
        "day string, g long, v double",
    )
    df.write.partitionBy("day").parquet(fact)
    refresh_aggregate(spark, fact, state, ["g"], measures, "day")
    held = read_aggregate(spark, state, ["g"], measures)
    held_rows = sorted((r.g, r.n, r.s) for r in held.collect())

    def pdirs():
        return {d for d in os.listdir(state) if d.startswith("partial-")}

    pre = pdirs()
    # replace partition day=a, then refresh — default grace keeps the
    # dropped dirs through both publishes
    invalidate_partitions(state, ["day=a"])
    refresh_aggregate(spark, fact, state, ["g"], measures, "day")
    assert pre <= pdirs()
    assert sorted((r.g, r.n, r.s) for r in held.collect()) == held_rows
    # grace 0 on a later publish reclaims anything past its grace
    invalidate_partitions(state, ["day=b"], retire_grace_s=0.0)
    refresh_aggregate(
        spark, fact, state, ["g"], measures, "day", retire_grace_s=0.0
    )
    assert not (pre & pdirs())
    # the live aggregate stays exact throughout
    want = sorted((r.g, r.n, r.s) for r in
                  df.groupBy("g").agg(F.count("v").alias("n"), F.sum("v").alias("s")).collect())
    got = sorted((r.g, r.n, r.s) for r in
                 read_aggregate(spark, state, ["g"], measures).collect())
    assert got == want


def test_apply_expectations_modes_and_null_semantics(spark):
    """DLT-style expectations: drop / quarantine / fail / keep, NULL
    conditions pass (SQL CHECK posture, matching the versioned-table
    checks), per-expectation metrics from ONE aggregate pass."""
    import pytest as _pytest

    from polygon_daily_market_data_pipeline_spark.operators.quality import (
        DataQualityError,
        apply_expectations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 40.0), (5, -1.0)],
        "id long, amount double",
    )
    exps = {
        "amount_positive": "amount > 0",       # NULL amount passes
        "id_not_four": F.col("id") != 4,
    }
    res = apply_expectations(df, exps, on_fail="drop")
    assert sorted(r.id for r in res.clean.collect()) == [1, 3]
    assert res.quarantined is None
    m = {r.expectation: (r.n_failed, r.n_rows) for r in res.metrics.collect()}
    assert m == {"amount_positive": (2, 5), "id_not_four": (1, 5)}

    q = apply_expectations(df, exps, on_fail="quarantine")
    assert sorted(r.id for r in q.clean.collect()) == [1, 3]
    assert sorted(r.id for r in q.quarantined.collect()) == [2, 4, 5]
    # clean + quarantined is an exact partition of the input
    assert q.clean.count() + q.quarantined.count() == df.count()

    with _pytest.raises(DataQualityError, match="amount_positive"):
        apply_expectations(df, exps, on_fail="fail")
    ok = apply_expectations(
        df, {"id_positive": "id > 0"}, on_fail="fail"
    )
    assert ok.clean.count() == 5

    kept = apply_expectations(df, exps, on_fail="keep")
    assert kept.clean.count() == 5
    assert {r.expectation for r in kept.metrics.collect()} == set(exps)

    with _pytest.raises(ValueError):
        apply_expectations(df, exps, on_fail="discard")
    with _pytest.raises(ValueError):
        apply_expectations(df, {})
