"""Structured Streaming tests: batch-vs-stream parity of the windowed
aggregate and of the stateful sessionizer, and the exactly-once
versioned/incremental sinks (SURVEY §2.9 behaviors)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.streaming.events_stream import (
    hourly_event_counts,
    sessionize_batch,
    sessionize_stream,
)


def _events_df(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u, "click", v, "{}")
            for i, (m, u, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


def _stream_events(spark, df, tmp_path):
    src = str(tmp_path / "ev_src")
    df.write.parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def test_hourly_counts_stream_matches_batch(spark, tmp_path):
    rows = [(m, 1, 1.0) for m in range(0, 200, 7)]  # spans 3+ hours
    df = _events_df(spark, rows)
    ev = _stream_events(spark, df, tmp_path)

    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )

    got = run_available_now(
        hourly_event_counts(ev, watermark="0 seconds"), "t_hourly"
    )
    mx = df.agg(F.max("ts")).first()[0]
    want = hourly_event_counts(df).where(
        F.col("hour_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(mx)
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_sessionize_stream_matches_batch(spark, tmp_path):
    # user 1: two sessions split by a 45-min gap; user 2: one session;
    # the session containing max(ts) stays open (not emitted).
    rows = [
        (0, 1, 1.0), (10, 1, 2.0), (20, 1, 3.0),   # session A (user 1)
        (65, 1, 4.0), (70, 1, 5.0),                # session B (user 1)
        (0, 2, 9.0), (25, 2, 1.5),                 # session C (user 2)
        (300, 9, 9.9),                             # lone final event (user 9)
    ]
    df = _events_df(spark, rows)
    ev = _stream_events(spark, df, tmp_path)

    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )

    got = run_available_now(sessionize_stream(ev, watermark="0 seconds"), "t_sess")
    mx = df.agg(F.max("ts")).first()[0]
    want = sessionize_batch(df).where(
        F.col("session_end") + F.expr("INTERVAL 30 MINUTE") <= F.lit(mx)
    )
    got_rows = sorted((r.user_id, r.session_start, r.n_events, r.sum_value) for r in got.collect())
    want_rows = sorted((r.user_id, r.session_start, r.n_events, r.sum_value) for r in want.collect())
    assert got_rows == want_rows
    # the open session (user 9, containing max ts) must NOT be emitted
    assert all(r[0] != 9 for r in got_rows)
    # both of user 1's sessions emitted (B closed by the user-9 event's watermark)
    assert [r[2] for r in got_rows if r[0] == 1] == [3, 2]


def test_incremental_corpus_dedup(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.streaming.corpus_stream import (
        CorpusDedupSink,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark structured streaming state stores"
    sink = CorpusDedupSink(spark, str(tmp_path / "corpus"), threshold=0.5)

    b1 = spark.createDataFrame(
        [(1, base), (2, other), (3, base + " extra")],  # 3 near-dups 1 (j≈0.85)
        "doc_id long, text string",
    )
    sink.process(b1, 0)
    admitted1 = {r.doc_id for r in sink.admitted().collect()}
    assert admitted1 == {1, 2}  # 3 rejected as intra-batch near-dup of 1

    b2 = spark.createDataFrame(
        [
            (10, base),                        # near-dup of admitted 1
            (11, "fresh unique text that talks about entirely new things here"),
            (1, base),                         # exact-id replay
        ],
        "doc_id long, text string",
    )
    sink.process(b2, 1)
    admitted2 = {r.doc_id for r in sink.admitted().collect()}
    assert admitted2 == {1, 2, 11}

    # streaming wiring: a third batch through foreachBatch
    b3 = spark.createDataFrame(
        [(20, other + " slightly"), (21, "yet another brand new document body")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "b3src")
    b3.write.parquet(src)
    q = sink.attach(
        spark.readStream.schema(b3.schema).parquet(src),
        str(tmp_path / "ckpt_corpus"),
    )
    q.awaitTermination()
    admitted3 = {r.doc_id for r in sink.admitted().collect()}
    assert 21 in admitted3 and 20 not in admitted3  # 20 ~ admitted 2


def test_sessionize_state_spans_micro_batches(spark, tmp_path):
    """A session open at the end of batch 1 must absorb batch 2's
    events (state continuity) and close only via the later watermark."""
    from polygon_daily_market_data_pipeline_spark.streaming.events_stream import (
        sessionize_stream,
    )

    df1 = _events_df(spark, [(0, 1, 1.0), (10, 1, 2.0)])
    # batch 2: minute 20 extends the session; minute 120 (user 7) pushes
    # the watermark far enough to close user 1's session
    df2 = spark.createDataFrame(
        [
            (100, dt.datetime(2024, 1, 1, 0, 20), 1, "click", 4.0, "{}"),
            (101, dt.datetime(2024, 1, 1, 2, 0), 7, "click", 9.0, "{}"),
        ],
        df1.schema,
    )
    src = str(tmp_path / "mb_src")
    # exactly ONE data file per intended micro-batch (coalesce(1)): with
    # maxFilesPerTrigger=1 each file IS a batch, and a multi-file write
    # would split a batch and expose rows to late-drop by the watermark
    df1.coalesce(1).write.parquet(src + "/f1")
    df2.coalesce(1).write.parquet(src + "/f2")
    # the file source orders micro-batches by modification time — pin
    # f1 strictly older so batch order is deterministic under load
    import os
    import time

    now = time.time()
    for sub, ts in (("f1", now - 120), ("f2", now)):
        d = os.path.join(src, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (ts, ts))

    ev = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    name = "t_sess_mb"
    q = (
        sessionize_stream(ev, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_mb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    u1 = [r for r in rows if r.user_id == 1]
    assert len(u1) == 1
    # one merged session across both batches: 3 events, minutes 0..20
    assert u1[0].n_events == 3 and u1[0].sum_value == 7.0
    assert u1[0].session_start.minute == 0 and u1[0].session_end.minute == 20


def test_sessionize_rocksdb_state_store_parity(spark, tmp_path):
    """The RocksDB state-store provider (the 100 TB state backend:
    off-heap + SSD instead of every state row on the JVM heap) produces
    byte-identical sessions to the default in-memory provider — and the
    caller's session conf is untouched, since the provider is set on
    the drain's session clone and then pinned via its checkpoint."""
    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )

    rows = [
        (0, 1, 1.0), (10, 1, 2.0), (65, 1, 4.0),
        (0, 2, 9.0), (300, 9, 9.9),
    ]
    df = _events_df(spark, rows)
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)  # noqa: E731

    got_mem = run_available_now(
        sessionize_stream(_stream_events(spark, df, tmp_path / "a"), watermark="0 seconds"),
        "t_sess_mem",
    )
    got_rdb = run_available_now(
        sessionize_stream(_stream_events(spark, df, tmp_path / "b"), watermark="0 seconds"),
        "t_sess_rdb",
        state_store="rocksdb",
    )
    assert sorted(key(r) for r in got_rdb.collect()) == sorted(
        key(r) for r in got_mem.collect()
    )
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) is None
        or "RocksDB" not in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    )


def test_streaming_aggregate_sink_incremental_mv(spark, tmp_path):
    """Streaming materialized-view maintenance: micro-batches combine
    into the stored aggregate (foreachBatch + algebraic partials), the
    final table equals a batch groupBy over all input, and a replayed
    batch id is a no-op (exactly-once under retries)."""
    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        read_aggregate,
        streaming_aggregate_sink,
    )

    rows = [(m, u, float(u)) for m in range(4) for u in range(1, 6)]
    df = _events_df(spark, rows)
    src = str(tmp_path / "src")
    df.write.parquet(src)

    sink = streaming_aggregate_sink(
        ["user_id"],
        {"n": ("count", "event_id"), "sum_value": ("sum", "value")},
        str(tmp_path / "state"),
    )
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    measures = {"n": ("count", "event_id"), "sum_value": ("sum", "value")}
    got = {
        r.user_id: (r.n, r.sum_value)
        for r in read_aggregate(
            spark, str(tmp_path / "state"), ["user_id"], measures
        ).collect()
    }
    want = {
        r.user_id: (r.n, r.sum_value)
        for r in df.groupBy("user_id")
        .agg(F.count("event_id").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want

    # replaying an already-committed batch id changes nothing
    sink(df.limit(3), batch_id=0)
    again = {
        r.user_id: (r.n, r.sum_value)
        for r in read_aggregate(
            spark, str(tmp_path / "state"), ["user_id"], measures
        ).collect()
    }
    assert again == got


def test_streaming_mv_sketch_and_histogram_measures(spark, tmp_path):
    """The streaming MV sink with the NON-trivial mergeable measures:
    HLL NDV sketches (combine = hll_union_agg) and fixed-boundary
    histogram buckets (combine = sum) must accumulate across
    micro-batches to the same values a single batch aggregation gives —
    histogram counts exactly, the sketch estimate within HLL error of
    the true distinct count."""
    from polygon_daily_market_data_pipeline_spark.operators.incremental import (
        histogram_measures,
        partial_aggregate,
        percentile_from_histogram,
        read_aggregate,
        streaming_aggregate_sink,
    )

    rows = [(m, u % 7, float((m * 37) % 100)) for m in range(60) for u in range(3)]
    df = _events_df(spark, rows)
    src = str(tmp_path / "src")
    df.coalesce(4).write.parquet(src)

    lo, hi, nb = 0.0, 100.0, 10
    measures = {
        "n": ("count", "event_id"),
        "users_sketch": ("ndv_sketch", "user_id"),
    }
    measures.update(histogram_measures("value", lo, hi, nb))
    state = str(tmp_path / "state")
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .parquet(src)
        .writeStream.foreachBatch(
            streaming_aggregate_sink(["event_type"], measures, state)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    mv = read_aggregate(spark, state, ["event_type"], measures)
    batch = partial_aggregate(df, ["event_type"], measures)
    hist_cols = [f"hist_{i}" for i in range(nb)]
    got = {r.event_type: [r[c] for c in hist_cols] for r in mv.collect()}
    want = {r.event_type: [r[c] for c in hist_cols] for r in batch.collect()}
    assert got == want  # bucket counts combine EXACTLY across batches

    est = mv.selectExpr(
        "event_type", "hll_sketch_estimate(users_sketch) AS users"
    ).collect()
    exact = {
        r.event_type: r.u
        for r in df.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    for r in est:
        assert abs(r.users - exact[r.event_type]) <= max(2, 0.05 * exact[r.event_type])

    p50 = mv.select(
        "event_type", percentile_from_histogram(0.5, lo, hi, nb).alias("p")
    ).collect()
    true50 = {
        r.event_type: r.p
        for r in df.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p"))
        .collect()
    }
    for r in p50:
        assert abs(r.p - true50[r.event_type]) <= (hi - lo) / nb


def test_versioned_stream_sink_time_travel_replay_and_skipping(spark, tmp_path):
    """Streaming ingest into a versioned table: each micro-batch is an
    append COMMIT (time travel over stream progress), a replayed batch
    id is a no-op (exactly-once under retries), and stats_cols makes
    streamed files prunable by scan_version like batch-written ones."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        last_committed_batch,
        history,
        read_version,
        scan_version,
        versioned_stream_sink,
    )

    rows = [(m, u, float(u)) for m in range(6) for u in range(1, 5)]
    df = _events_df(spark, rows)
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)
    table = str(tmp_path / "table")

    sink = versioned_stream_sink(table, stats_cols=["user_id"])
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def _rows(d):
        return sorted((r.event_id, r.user_id, r.value) for r in d.collect())

    # latest version holds exactly the streamed input
    assert _rows(read_version(spark, table)) == _rows(df)
    # one append version per micro-batch; earlier versions are partial
    h = history(table)
    assert len(h) == 3 and all(e["mode"] == "append" for e in h)
    assert 0 < read_version(spark, table, version=0).count() < df.count()

    # replaying an already-committed batch id publishes nothing
    replay_id = last_committed_batch(table)
    sink(df.limit(2), batch_id=replay_id)
    assert len(history(table)) == 3
    assert _rows(read_version(spark, table)) == _rows(df)

    # streamed commits carry data-skipping stats
    got = scan_version(spark, table, {"user_id": (1, 2)})
    want = read_version(spark, table).where(F.col("user_id").between(1, 2))
    assert _rows(got) == _rows(want)


def test_versioned_stream_sink_auto_compacts(spark, tmp_path):
    """auto_compact_every=2 folds the stream's tiny per-batch dirs at
    every second batch boundary: the table stays row-identical to the
    input, the manifest log shows interleaved append/optimize_compact
    commits, the final file count is bounded by the fold (not by the
    batch count), and a downstream versioned_changes subscriber crosses
    the compaction commits silently."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        history,
        read_version,
        versioned_stream_sink,
    )
    from polygon_daily_market_data_pipeline_spark.sources import (
        versioned_changes_source,
    )

    rows = [(m, u, float(u)) for m in range(6) for u in range(1, 5)]
    df = _events_df(spark, rows)
    src = str(tmp_path / "src")
    df.repartition(6).write.parquet(src)
    table = str(tmp_path / "table")

    sink = versioned_stream_sink(
        table, stats_cols=["user_id"], auto_compact_every=2
    )
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def _rows(d):
        return sorted((r.event_id, r.user_id, r.value) for r in d.collect())

    assert _rows(read_version(spark, table)) == _rows(df)
    modes = [e["mode"] for e in history(table)]
    assert modes.count("append") == 6
    assert modes.count("optimize_compact") >= 2
    # batches 0-1 fold at the v1 boundary, 2-3 at the next, ...: the
    # live file set is the folds plus at most one unfolded tail batch
    files = {
        f
        for f in read_version(spark, table).inputFiles()
        if f"{os.sep}_dv{os.sep}" not in f
    }
    assert len(files) <= 3
    # a subscriber reading the full history crosses the relayouts
    versioned_changes_source.register(spark)
    out = str(tmp_path / "out")
    q2 = (
        spark.readStream.format("versioned_changes")
        .option("path", table)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert sorted(r.event_id for r in spark.read.parquet(out).collect()) == sorted(
        r.event_id for r in df.collect()
    )


def test_incremental_corpus_dedup_with_decontamination(spark, tmp_path):
    """eval_grams composes the benchmark leak guard into the micro-batch
    pipeline: a contaminated doc is rejected in the SAME pass as the
    near-dups — it never enters the admitted store or the band index,
    so a later clean near-dup of it is still judged only against
    admitted content."""
    from polygon_daily_market_data_pipeline_spark.operators.decontam import (
        eval_ngram_set,
    )
    from polygon_daily_market_data_pipeline_spark.streaming.corpus_stream import (
        CorpusDedupSink,
    )

    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    eval_docs = spark.createDataFrame(
        [(100, f"benchmark item: {leak} with answer")],
        "doc_id long, text string",
    )
    sink = CorpusDedupSink(
        spark,
        str(tmp_path / "corpus"),
        threshold=0.5,
        eval_grams=eval_ngram_set(eval_docs),
    )
    b1 = spark.createDataFrame(
        [
            (1, f"document carrying the leak {leak} inside its body text"),
            (2, "a perfectly clean document about spark shuffle mechanics"),
        ],
        "doc_id long, text string",
    )
    sink.process(b1, 0)
    assert {r.doc_id for r in sink.admitted().collect()} == {2}
    # the contaminated doc is absent from the index too: a later exact
    # copy is judged fresh by dedup — and rejected again by the guard
    b2 = spark.createDataFrame(
        [
            (10, f"document carrying the leak {leak} inside its body text"),
            (11, "another clean unique body of text talking about parquet"),
        ],
        "doc_id long, text string",
    )
    sink.process(b2, 1)
    assert {r.doc_id for r in sink.admitted().collect()} == {2, 11}


def test_versioned_changes_streaming_source(spark, tmp_path):
    """Streaming SOURCE over the versioned change feed (Spark 4 Python
    DataSource): first drain = full snapshot of the then-latest
    version; later drains = exactly the appended deltas (offsets =
    version numbers in the checkpoint, so a re-drain with nothing new
    is a no-op); a redefining commit (rollback/overwrite) fails the
    stream instead of emitting wrong deltas."""
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        commit_version,
        rollback,
    )
    from polygon_daily_market_data_pipeline_spark.sources import (
        versioned_changes_source,
    )

    versioned_changes_source.register(spark)
    t = str(tmp_path / "vt")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def _df(tag):
        return spark.range(4).select(
            F.col("id").alias("k"), F.lit(tag).cast("long").alias("tag")
        )

    def drain():
        q = (
            spark.readStream.format("versioned_changes")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted((r.k, r.tag) for r in spark.read.parquet(out).collect())

    commit_version(_df(0), t)
    commit_version(_df(1), t, mode="append")
    snap = drain()
    assert snap == sorted((k, tag) for tag in (0, 1) for k in range(4))
    commit_version(_df(2), t, mode="append")
    incr = drain()
    assert incr == sorted((k, tag) for tag in (0, 1, 2) for k in range(4))
    assert drain() == incr  # nothing new: no-op micro-batch, no dups
    rollback(t, 0)
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        drain()


def test_versioned_sink_to_changes_source_loop(spark, tmp_path):
    """The full loop: a stream ingests into a versioned table through
    versioned_stream_sink (exactly-once append commits), and a second
    stream SUBSCRIBES to that table through the versioned_changes
    source — the downstream copy converges to the upstream rows without
    ever rescanning history."""
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        versioned_stream_sink,
    )
    from polygon_daily_market_data_pipeline_spark.sources import (
        versioned_changes_source,
    )

    versioned_changes_source.register(spark)
    src = str(tmp_path / "src")
    t = str(tmp_path / "vt")
    out, ck1, ck2 = (
        str(tmp_path / "out"),
        str(tmp_path / "ck_ingest"),
        str(tmp_path / "ck_feed"),
    )
    up = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("tag")
    )
    up.repartition(3).write.parquet(src)
    q = (
        spark.readStream.schema(up.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(versioned_stream_sink(t))
        .option("checkpointLocation", ck1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q = (
        spark.readStream.format("versioned_changes")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r.k, r.tag) for r in spark.read.parquet(out).collect())
    assert got == sorted((r.k, r.tag) for r in up.collect())


def test_versioned_changes_stream_crosses_optimize(spark, tmp_path):
    """An optimize_zorder mid-stream is a no-DATA-change commit: the
    feed must cross it without re-emitting the rewritten rows, and an
    append AFTER the compaction feeds exactly its own rows (the
    optimize's dirs joined the consumer's base set)."""
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        commit_version,
        optimize_zorder,
    )
    from polygon_daily_market_data_pipeline_spark.sources import (
        versioned_changes_source,
    )

    versioned_changes_source.register(spark)
    t = str(tmp_path / "vt")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def _df(tag):
        return spark.range(4).select(
            F.col("id").alias("k"), F.lit(tag).cast("long").alias("tag")
        )

    def drain():
        q = (
            spark.readStream.format("versioned_changes")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted((r.k, r.tag) for r in spark.read.parquet(out).collect())

    commit_version(_df(0), t)
    assert drain() == [(k, 0) for k in range(4)]  # snapshot
    optimize_zorder(spark, t, ["k"], n_files=2)
    # compaction alone: nothing new to feed
    assert drain() == [(k, 0) for k in range(4)]
    commit_version(_df(1), t, mode="append")
    got = drain()
    # exactly the post-compaction append arrives once — the rewritten
    # snapshot rows are NOT re-emitted
    assert got == sorted([(k, 0) for k in range(4)] + [(k, 1) for k in range(4)])


def test_versioned_stream_sink_expectations_quarantine(spark, tmp_path):
    """DLT expect-or-quarantine on the streamed table: violating rows
    never enter the clean table, land in a dead-letter VERSIONED table
    with the same audit surface, clean-only batches publish no
    dead-letter version, and a replayed batch id is a no-op on BOTH
    tables."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        history,
        last_committed_batch,
        read_version,
        versioned_stream_sink,
    )

    rows = [(m, u, float(u) if (m + u) % 5 else -1.0) for m in range(4)
            for u in range(1, 4)]
    df = _events_df(spark, rows)
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)
    table = str(tmp_path / "table")
    dead = str(tmp_path / "dead")

    sink = versioned_stream_sink(
        table,
        stats_cols=["user_id"],
        expectations={"value_positive": "value > 0"},
        quarantine_dir=dead,
    )
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    clean = read_version(spark, table)
    deadr = read_version(spark, dead)
    n_bad = sum(1 for *_x, v in rows if v <= 0)
    assert clean.count() == len(rows) - n_bad
    assert clean.where(F.col("value") <= 0).count() == 0
    assert deadr.count() == n_bad
    assert deadr.where(F.col("value") > 0).count() == 0
    # every dead-letter version came from a batch that HAD violations
    assert len(history(dead)) <= len(history(table))
    # Replaying a batch id committed on BOTH tables is a no-op on both.
    # Each side dedups on its OWN watermark, so the id must be one the
    # dead-letter table has seen too: last_committed_batch(table) is
    # order-sensitive (if the last-listed source file happened to hold
    # no violating rows, dead's watermark is lower and a replay of the
    # clean side's id would correctly re-publish the missing dead side
    # — the crash-recovery semantics tested deterministically below).
    replay_id = last_committed_batch(dead)
    assert replay_id is not None
    assert replay_id <= last_committed_batch(table)
    vt, vd = len(history(table)), len(history(dead))
    sink(df, batch_id=replay_id)
    assert len(history(table)) == vt and len(history(dead)) == vd
    assert read_version(spark, table).count() == len(rows) - n_bad
    assert read_version(spark, dead).count() == n_bad


def test_versioned_stream_sink_quarantine_replays_missing_side(spark, tmp_path):
    """A crash between the clean commit and the dead-letter commit of
    the same micro-batch leaves the clean side at watermark N and the
    dead side below it; replaying batch N must re-publish ONLY the
    missing dead-letter side (versioned.py:687-689's exactly-once
    contract, per-table watermarks)."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        commit_version,
        history,
        last_committed_batch,
        read_version,
        versioned_stream_sink,
    )

    table = str(tmp_path / "table")
    dead = str(tmp_path / "dead")
    sink = versioned_stream_sink(
        table,
        expectations={"value_positive": "value > 0"},
        quarantine_dir=dead,
    )
    b0 = _events_df(spark, [(0, 1, 1.0), (0, 2, -1.0)])
    sink(b0, batch_id=0)  # both sides commit batch 0
    assert last_committed_batch(table) == 0 == last_committed_batch(dead)

    # simulate the crash: commit batch 1's CLEAN side directly, as the
    # sink would have, then die before the dead-letter commit
    b1 = _events_df(spark, [(1, 1, 2.0), (1, 2, -2.0)])
    commit_version(
        b1.where(F.col("value") > 0), table, mode="append", batch_id=1
    )
    assert last_committed_batch(table) == 1
    assert last_committed_batch(dead) == 0

    # checkpoint replay of batch 1: clean side no-op, dead side published
    vt = len(history(table))
    sink(b1, batch_id=1)
    assert len(history(table)) == vt
    assert last_committed_batch(dead) == 1
    assert read_version(spark, table).count() == 2
    assert read_version(spark, table).where(F.col("value") <= 0).count() == 0
    assert read_version(spark, dead).count() == 2
    assert read_version(spark, dead).where(F.col("value") > 0).count() == 0
    # and replaying batch 1 AGAIN is now a no-op on both
    vt, vd = len(history(table)), len(history(dead))
    sink(b1, batch_id=1)
    assert len(history(table)) == vt and len(history(dead)) == vd


# --- round 12: watermarked stream-stream interval join ---------------------


def _click_view_df(spark, clicks, views):
    """clicks/views: [(minute, user, value)] -> one events frame with
    both types (the registered query's self-source shape)."""
    rows = [(m, u, "click", v) for m, u, v in clicks] + [
        (m, u, "view", v) for m, u, v in views
    ]
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u, t, v, "{}")
            for i, (m, u, t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def _pair_key(r):
    return (r.user_id, r.click_ts, r.view_ts, r.click_value, r.view_value)


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """PAIR-level equality vs the batch twin (same operator on batch
    frames): every click picks up every same-user view in the trailing
    10 minutes — boundary-inclusive both ends, no pairs for other
    users, none from the future, none beyond the lookback."""
    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )
    from polygon_daily_market_data_pipeline_spark.streaming.events_stream import (
        interval_join_stream,
    )

    clicks = [(10, 1, 1.0), (30, 1, 2.0), (10, 2, 3.0), (50, 3, 4.0)]
    views = [
        (0, 1, 10.0),   # 10 min before click@10 (boundary: included)
        (10, 1, 11.0),  # same instant as click@10 (included)
        (25, 1, 12.0),  # within 10 min of click@30
        (11, 1, 13.0),  # future of click@10, >10 min before click@30: no pair
        (5, 2, 14.0),   # user 2's view for user 2's click
        (35, 3, 15.0),  # 15 min before click@50: outside lookback
    ]
    df = _click_view_df(spark, clicks, views)
    c_s = _stream_events(spark, df, tmp_path / "src").where("event_type = 'click'")
    v_s = _stream_events(spark, df, tmp_path / "src2").where("event_type = 'view'")
    got = run_available_now(
        interval_join_stream(c_s, v_s, lookback="10 minutes"), "t_ssj"
    )
    want = interval_join_stream(
        df.where("event_type = 'click'"), df.where("event_type = 'view'"),
        lookback="10 minutes",
    )
    got_rows = sorted(_pair_key(r) for r in got.collect())
    assert got_rows == sorted(_pair_key(r) for r in want.collect())
    # hand-checked pair set: (user, click_min, view_min)
    mins = sorted(
        (u, int((ct - dt.datetime(2024, 1, 1)).total_seconds() // 60),
         int((vt - dt.datetime(2024, 1, 1)).total_seconds() // 60))
        for u, ct, vt, _cv, _vv in got_rows
    )
    assert mins == [(1, 10, 0), (1, 10, 10), (1, 30, 25), (2, 10, 5)]


def test_interval_join_stream_rocksdb_parity(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )
    from polygon_daily_market_data_pipeline_spark.streaming.events_stream import (
        interval_join_stream,
    )

    clicks = [(10 * i, i % 3, float(i)) for i in range(12)]
    views = [(10 * i - 4, i % 3, 100.0 + i) for i in range(1, 12)]
    df = _click_view_df(spark, clicks, views)

    def run(tag, **kw):
        c = _stream_events(spark, df, tmp_path / f"{tag}_c").where(
            "event_type = 'click'"
        )
        v = _stream_events(spark, df, tmp_path / f"{tag}_v").where(
            "event_type = 'view'"
        )
        return run_available_now(
            interval_join_stream(c, v), f"t_ssj_{tag}", **kw
        )

    mem = sorted(_pair_key(r) for r in run("mem").collect())
    rdb = sorted(_pair_key(r) for r in run("rdb", state_store="rocksdb").collect())
    assert mem == rdb and len(mem) > 0


def test_interval_join_state_spans_micro_batches(spark, tmp_path):
    """maxFilesPerTrigger=1: views arriving in an EARLIER micro-batch
    must still match clicks from a later one — the pairs live in
    symmetric-hash-join state across batches, and the result equals
    the batch twin exactly."""
    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )
    from polygon_daily_market_data_pipeline_spark.streaming.events_stream import (
        interval_join_stream,
    )

    early = _click_view_df(
        spark, clicks=[(5, 1, 1.0)], views=[(0, 1, 10.0), (4, 2, 11.0)]
    )
    late = _click_view_df(
        spark, clicks=[(8, 1, 2.0), (9, 2, 3.0)], views=[(7, 1, 12.0)]
    )

    def two_file_source(tag):
        d = tmp_path / tag
        early.coalesce(1).write.parquet(str(d / "b0"))
        late.coalesce(1).write.parquet(str(d / "b1"))
        return (
            spark.readStream.schema(early.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(d))
        )

    c = two_file_source("c_src").where("event_type = 'click'")
    v = two_file_source("v_src").where("event_type = 'view'")
    got = run_available_now(interval_join_stream(c, v), "t_ssj_mb")
    both = early.unionByName(late)
    want = interval_join_stream(
        both.where("event_type = 'click'"), both.where("event_type = 'view'")
    )
    got_rows = sorted(_pair_key(r) for r in got.collect())
    want_rows = sorted(_pair_key(r) for r in want.collect())
    assert got_rows == want_rows
    # the cross-batch pairs specifically: batch-0 views matched by
    # batch-1 clicks
    assert (1, dt.datetime(2024, 1, 1, 0, 8), dt.datetime(2024, 1, 1), 2.0, 10.0) in got_rows
    assert (2, dt.datetime(2024, 1, 1, 0, 9), dt.datetime(2024, 1, 1, 0, 4), 3.0, 11.0) in got_rows


def test_interval_join_left_outer_withholds_at_watermark(spark, tmp_path):
    """LEFT OUTER (round 13, VERDICT r12 #3): a no-match click emits
    one NULL-view row, but only once the GLOBAL watermark (min over
    both streams) strictly passes its click_ts — eviction-driven
    emission the inner join never exercises. Fixture pins all three
    fates: matched (pair, no null row), unmatched-below-watermark
    (null row emitted), unmatched-at/above-watermark (withheld in
    state: strictly-below eviction, boundary case included). Both
    state-store backends must agree."""
    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )
    from polygon_daily_market_data_pipeline_spark.streaming.events_stream import (
        interval_join_stream,
    )

    # max click = 50, max view = 40 -> terminal watermark W = 40
    clicks = [(10, 1, 1.0), (10, 2, 2.0), (40, 4, 4.0), (50, 3, 3.0)]
    views = [(5, 1, 10.0), (40, 9, 11.0)]
    df = _click_view_df(spark, clicks, views)

    def run(tag, **kw):
        c = _stream_events(spark, df, tmp_path / f"{tag}_c").where(
            "event_type = 'click'"
        )
        v = _stream_events(spark, df, tmp_path / f"{tag}_v").where(
            "event_type = 'view'"
        )
        return run_available_now(
            interval_join_stream(
                c, v, watermark="0 seconds", how="left_outer"
            ),
            f"t_lssj_{tag}", **kw,
        )

    got = run("mem")
    rows = sorted(_pair_key(r) for r in got.collect())
    t0 = dt.datetime(2024, 1, 1)
    assert rows == [
        # u1: matched pair only — no null row for a matched click
        (1, t0 + dt.timedelta(minutes=10), t0 + dt.timedelta(minutes=5),
         1.0, 10.0),
        # u2@10 < W=40: null-view row emitted at eviction
        (2, t0 + dt.timedelta(minutes=10), None, 2.0, None),
        # u4@40 == W (strictly-below eviction) and u3@50 > W: withheld
    ]
    rdb = sorted(
        _pair_key(r) for r in run("rdb", state_store="rocksdb").collect()
    )
    assert rdb == rows


def test_interval_join_full_outer_times_out_both_sides(spark, tmp_path):
    """full_outer emits BOTH sides' timeouts: an unmatched click once
    the watermark strictly passes click_ts, an unmatched view once it
    strictly passes view_ts + lookback (the latest click that could
    still claim it) — each withheld at its own boundary. right_outer
    is the view-side half exactly."""
    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )
    from polygon_daily_market_data_pipeline_spark.streaming.events_stream import (
        interval_join_stream,
    )

    # max click = 60, max view = 50 -> terminal watermark W = 50.
    # clicks: u1@20 matched; u2@20 unmatched (< W: emitted);
    #         u3@50 unmatched (== W: withheld); u9@60 bumps max click.
    # views:  u1@15 matched; u4@30 unmatched (30+10=40 < 50: emitted);
    #         u5@40 unmatched (40+10 == W: withheld, strict boundary);
    #         u9@50 matched by u9@60's click? 60-10=50 <= 50 <= 60: yes.
    clicks = [(20, 1, 1.0), (20, 2, 2.0), (50, 3, 3.0), (60, 9, 9.0)]
    views = [(15, 1, 10.0), (30, 4, 11.0), (40, 5, 12.0), (50, 9, 13.0)]
    df = _click_view_df(spark, clicks, views)

    def run(how, tag):
        c = _stream_events(spark, df, tmp_path / f"{tag}_c").where(
            "event_type = 'click'"
        )
        v = _stream_events(spark, df, tmp_path / f"{tag}_v").where(
            "event_type = 'view'"
        )
        # None click_ts/view_ts rows don't order against datetimes:
        # sort by repr (comparison is set-like equality anyway)
        return sorted(
            (
                _pair_key(r)
                for r in run_available_now(
                    interval_join_stream(
                        c, v, watermark="0 seconds", how=how
                    ),
                    f"t_fssj_{tag}",
                ).collect()
            ),
            key=repr,
        )

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    pairs = [
        (1, t0 + 20 * m, t0 + 15 * m, 1.0, 10.0),
        (9, t0 + 60 * m, t0 + 50 * m, 9.0, 13.0),
    ]
    click_nulls = [(2, t0 + 20 * m, None, 2.0, None)]
    view_nulls = [(4, None, t0 + 30 * m, None, 11.0)]
    assert run("full_outer", "fo") == sorted(
        pairs + click_nulls + view_nulls, key=repr
    )
    assert run("right_outer", "ro") == sorted(pairs + view_nulls, key=repr)


def test_interval_join_left_outer_late_view_then_timeout(spark, tmp_path):
    """Cross-micro-batch (maxFilesPerTrigger=1): a click buffered in
    batch 0 is matched by a LATE view arriving in batch 1 (pair, never
    a null row), while its unmatched sibling times out into a
    NULL-view row only when the terminal watermark evicts it — the
    late-view-then-timeout sequence the verdict names."""
    from polygon_daily_market_data_pipeline_spark.plans.streaming_queries import (
        run_available_now,
    )
    from polygon_daily_market_data_pipeline_spark.streaming.events_stream import (
        interval_join_stream,
    )

    early = _click_view_df(
        spark, clicks=[(10, 1, 1.0), (10, 2, 2.0)], views=[(0, 9, 10.0)]
    )
    late = _click_view_df(
        spark, clicks=[(35, 9, 3.0)], views=[(8, 1, 11.0), (30, 9, 12.0)]
    )

    def two_file_source(tag):
        d = tmp_path / tag
        early.coalesce(1).write.parquet(str(d / "b0"))
        late.coalesce(1).write.parquet(str(d / "b1"))
        return (
            spark.readStream.schema(early.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(d))
        )

    c = two_file_source("c_src").where("event_type = 'click'")
    v = two_file_source("v_src").where("event_type = 'view'")
    got = run_available_now(
        interval_join_stream(c, v, watermark="0 seconds", how="left_outer"),
        "t_lssj_mb"
    )
    rows = sorted(_pair_key(r) for r in got.collect())
    t0 = dt.datetime(2024, 1, 1)
    # terminal watermark = min(max click 35, max view 30) = 30
    assert rows == [
        # u1's click (batch 0) matched by the batch-1 view@8: pair only
        (1, t0 + dt.timedelta(minutes=10), t0 + dt.timedelta(minutes=8),
         1.0, 11.0),
        # u2's click never matched, 10 < 30: timeout null row
        (2, t0 + dt.timedelta(minutes=10), None, 2.0, None),
        # u9's click@35 matched by view@30: pair (35 > W but matched
        # pairs never wait for the watermark)
        (9, t0 + dt.timedelta(minutes=35), t0 + dt.timedelta(minutes=30),
         3.0, 12.0),
    ]


def test_versioned_stream_sink_auto_analyze(spark, tmp_path):
    """auto_analyze_every keeps the sidecar fresh: after the stream the
    table is ANALYZEd, the sidecar matches a full re-analysis exactly
    (the incremental merge is lossless), and the CBO can plan off it."""
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        key_skew_ratio,
    )
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_sidecar_version,
        analyze_version,
        versioned_stream_sink,
    )

    rows = [(m, u, float(u)) for m in range(8) for u in range(1, 5)]
    df = _events_df(spark, rows)
    src = str(tmp_path / "src")
    df.repartition(4).write.parquet(src)
    table = str(tmp_path / "table")
    sink = versioned_stream_sink(
        table, stats_cols=["user_id"], auto_analyze_every=2
    )
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    av = analyze_sidecar_version(table)
    assert av is not None and av == 3  # 4 batches, every 2nd analyzed
    ratio = key_skew_ratio(table, "user_id")
    assert ratio == len(rows) / 4  # 4 distinct users, exact below k
    # lossless: the incremental chain equals a from-scratch analyze
    import json as _json

    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        _stats_path,
    )

    with open(_stats_path(table, av)) as f:
        inc = _json.load(f)
    ref = str(tmp_path / "ref")
    import shutil

    shutil.copytree(table, ref)
    import os as _os

    for v in range(av + 1):
        p = _stats_path(ref, v)
        if _os.path.exists(p):
            _os.remove(p)
    analyze_version(spark, ref, ["user_id"])
    with open(_stats_path(ref, av)) as f:
        full = _json.load(f)
    assert inc["columns"] == full["columns"]

