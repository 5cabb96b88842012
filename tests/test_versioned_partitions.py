"""Partition-valued commits (operators/versioned.py
commit_version(partition_values=...), read_version(partitions=...),
drop_partitions): the daily-append pattern — each commit tags its
directory with scalar partition values, reads prune whole directories
against the tags before any file listing, and retention retires a
partition with ONE manifest write and ZERO data IO.

The safety asymmetry under test everywhere: the READ path keeps what
it cannot prove mismatched (cannot-prune is never wrong), the DROP
path keeps what it cannot prove matched (cannot-prove is never
dropped).

Reference parity note: the reference's RAW/CORE/FACT tables are
parquet partitioned by trade_date with per-date statements; Snowflake
gives it micro-partition pruning. This is that posture on the
manifest log, plus the metadata-only retention Delta/Iceberg express
as partition DELETEs."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    commit_version,
    delete_version_vectors,
    diff_versions,
    drop_partitions,
    history,
    optimize_compact,
    read_changes,
    read_version,
    vacuum,
)


def _day(spark, day: str, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.lit(day).alias("d"),
        (F.col("id") * 1.0).alias("v"),
    )


def _build_daily(spark, t, days=4):
    for i in range(days):
        day = f"2024-01-0{i + 1}"
        commit_version(
            _day(spark, day, i * 100, (i + 1) * 100),
            t,
            mode="append" if i else "overwrite",
            partition_values={"d": day},
        )


def _data_bytes(t):
    total = 0
    for r, _d, files in os.walk(os.path.join(t, "_data")):
        total += sum(
            os.path.getsize(os.path.join(r, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def test_partition_pruned_read_schedules_matching_dirs_only(spark, tmp_path):
    t = str(tmp_path / "vt")
    _build_daily(spark, t)
    full = read_version(spark, t)
    assert full.count() == 400
    one = read_version(spark, t, partitions={"d": "2024-01-02"})
    assert sorted(r.k for r in one.collect()) == list(range(100, 200))
    # the prune is DIRECTORY-level: one day's files only
    assert len(one.inputFiles()) < len(full.inputFiles())
    rng = read_version(
        spark, t, partitions={"d": ("2024-01-02", "2024-01-03")}
    )
    assert rng.count() == 200
    # open-ended range
    assert read_version(
        spark, t, partitions={"d": (None, "2024-01-01")}
    ).count() == 100
    # an UNTAGGED dir is always read (cannot-prune is never wrong)
    commit_version(_day(spark, "untagged", 900, 950), t, mode="append")
    got = read_version(spark, t, partitions={"d": "2024-01-02"})
    assert got.count() == 100 + 50
    # a predicated column absent from the tag keeps the dir too
    assert read_version(spark, t, partitions={"x": 1}).count() == 450


def test_drop_partitions_is_metadata_only(spark, tmp_path):
    t = str(tmp_path / "vt")
    _build_daily(spark, t)
    bytes_before = _data_bytes(t)
    v = drop_partitions(t, {"d": "2024-01-01"})
    assert v == 4
    # ZERO data churn: no bytes written or removed, manifest-only
    assert _data_bytes(t) == bytes_before
    after = read_version(spark, t)
    assert after.count() == 300
    assert after.where(F.col("d") == "2024-01-01").count() == 0
    # time travel still serves the dropped day
    assert read_version(spark, t, version=3).count() == 400
    # range drop retires two more days in one manifest
    v2 = drop_partitions(t, {"d": ("2024-01-03", None)})
    assert read_version(spark, t).count() == 100
    m = json.load(open(os.path.join(t, "_versions", f"{v2}.json")))
    assert m["mode"] == "drop_partitions"
    assert len(m["dirs"]) == 1
    # no-op predicate publishes nothing
    assert drop_partitions(t, {"d": "2099-12-31"}) == v2
    # UNTAGGED dirs are never dropped (cannot-prove is never dropped)
    commit_version(_day(spark, "x", 900, 950), t, mode="append")
    v3 = drop_partitions(t, {"d": ("2000-01-01", "2099-01-01")})
    got = read_version(spark, t)
    assert sorted(set(r.d for r in got.collect())) == ["x"]
    # the feed refuses to cross the redefinition; diff names the rows
    with pytest.raises(ValueError, match="drop_partitions"):
        read_changes(spark, t, 0)
    dd = diff_versions(spark, t, v3 - 1, v3)
    assert dd.where(F.col("_change_type") == "delete").count() == 100
    # vacuum reclaims the dropped dirs once the history ages out
    vacuum(t, keep_last=1)
    assert read_version(spark, t).count() == 50
    assert _data_bytes(t) < bytes_before


def test_drop_partition_retires_owned_vectors_keeps_survivors(
    spark, tmp_path
):
    t = str(tmp_path / "vt")
    _build_daily(spark, t)
    delete_version_vectors(spark, t, F.col("k") == 5)    # day 1
    delete_version_vectors(spark, t, F.col("k") == 105)  # day 2
    assert read_version(spark, t).count() == 398
    v = drop_partitions(t, {"d": "2024-01-01"})
    m = json.load(open(os.path.join(t, "_versions", f"{v}.json")))
    # day-1's vector retired with its dir; day-2's carried
    assert sum(e["n"] for e in m["dv"].values()) == 1
    got = read_version(spark, t)
    assert got.count() == 299
    assert got.where(F.col("k") == 105).count() == 0


def test_compact_preserves_partition_tags_and_retention(spark, tmp_path):
    """Per-partition binning: micro-batch dirs of the SAME day fold
    together, the fold inherits the day's tag, and a partition drop
    AFTER compaction still retires the day metadata-only."""
    t = str(tmp_path / "vt")
    for i in range(2):
        day = f"2024-01-0{i + 1}"
        for j in range(3):  # 3 micro-batches per day
            commit_version(
                _day(spark, day, i * 300 + j * 100, i * 300 + (j + 1) * 100),
                t,
                mode="append" if (i or j) else "overwrite",
                partition_values={"d": day},
            )
    v = optimize_compact(spark, t, target_bytes=1 << 30)
    m = json.load(open(os.path.join(t, "_versions", f"{v}.json")))
    # 6 micro-dirs folded into one dir PER DAY, each tagged
    assert len(m["dirs"]) == 2
    assert sorted(p["d"] for p in m["partitions"].values()) == [
        "2024-01-01",
        "2024-01-02",
    ]
    assert read_version(spark, t).count() == 600
    assert read_version(
        spark, t, partitions={"d": "2024-01-02"}
    ).count() == 300
    bytes_before = _data_bytes(t)
    drop_partitions(t, {"d": "2024-01-01"})
    assert _data_bytes(t) == bytes_before
    got = read_version(spark, t)
    assert got.count() == 300
    assert got.where(F.col("d") == "2024-01-01").count() == 0


def test_partition_values_survive_append_and_type_guard(spark, tmp_path):
    t = str(tmp_path / "vt")
    _build_daily(spark, t, days=2)
    m = json.load(open(os.path.join(t, "_versions", "1.json")))
    assert len(m["partitions"]) == 2
    # appends carry earlier tags; history records plain modes
    assert [e["mode"] for e in history(t)] == ["overwrite", "append"]
    with pytest.raises(TypeError, match="scalar"):
        commit_version(
            _day(spark, "z", 0, 1), t, mode="append",
            partition_values={"d": 1.5},
        )
    # type-mismatched predicate values never prove a match: reads keep
    # the dir, drops keep the partition
    assert read_version(spark, t, partitions={"d": 20240101}).count() == 200
    v = drop_partitions(t, {"d": 20240101})
    assert v == 1  # no-op


def test_stream_sink_tags_partitions_per_batch(spark, tmp_path):
    """The streaming face of the daily-append pattern: each micro-batch
    tags its commit with the batch's (single) day, the streamed history
    partition-prunes, and a day retires metadata-only."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        versioned_stream_sink,
    )

    days = ["2024-02-01", "2024-02-02", "2024-02-03"]
    df = None
    for i, day in enumerate(days):
        part = _day(spark, day, i * 10, (i + 1) * 10)
        df = part if df is None else df.unionByName(part)
    src = str(tmp_path / "src")
    # one file per day -> maxFilesPerTrigger=1 gives one batch per day
    for i, day in enumerate(days):
        df.where(F.col("d") == day).coalesce(1).write.mode("append").parquet(src)
    t = str(tmp_path / "table")

    def tag(batch_df, batch_id):
        d = [r.d for r in batch_df.select("d").distinct().collect()]
        return {"d": d[0]} if len(d) == 1 else None

    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(
            versioned_stream_sink(t, partition_values_fn=tag)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert read_version(spark, t).count() == 30
    one = read_version(spark, t, partitions={"d": "2024-02-02"})
    assert sorted(r.k for r in one.collect()) == list(range(10, 20))
    assert len(one.inputFiles()) < len(read_version(spark, t).inputFiles())
    bytes_before = _data_bytes(t)
    drop_partitions(t, {"d": "2024-02-01"})
    assert _data_bytes(t) == bytes_before
    got = read_version(spark, t)
    assert got.count() == 20
    assert got.where(F.col("d") == "2024-02-01").count() == 0


def test_partition_tags_survive_row_level_ops_when_provable(spark, tmp_path):
    """Copy-on-write rewrites inherit a dir's tag exactly when the tag
    provably still holds: DELETE and MERGE only remove rows from the
    dir (inherit), UPDATE inherits unless it ASSIGNS a tagged column,
    and materialize_dv's clean rewrite inherits — so retention by
    partition keeps working after routine row-level maintenance."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        delete_version_where,
        materialize_dv,
        merge_version,
        update_version_where,
    )

    t = str(tmp_path / "vt")
    _build_daily(spark, t, days=3)

    def tags(v):
        m = json.load(open(os.path.join(t, "_versions", f"{v}.json")))
        return sorted(p["d"] for p in (m.get("partitions") or {}).values())

    all3 = ["2024-01-01", "2024-01-02", "2024-01-03"]
    # CoW DELETE rewrites every dir (no prune): tags all inherited
    v = delete_version_where(spark, t, F.col("k") == 5)
    assert tags(v) == all3
    # UPDATE assigning a NON-tag column: inherited
    v = update_version_where(spark, t, F.col("k") == 7, {"v": F.lit(-1.0)})
    assert tags(v) == all3
    # UPDATE assigning the TAG column: rewritten dirs lose their tag
    v = update_version_where(
        spark, t, F.col("k") == 8, {"d": F.lit("moved")}
    )
    assert tags(v) == []
    # ...and a partition drop now correctly retires nothing
    assert drop_partitions(t, {"d": "2024-01-01"}) == v
    # rebuild; MERGE (upsert) inherits for anti-joined dirs
    t2 = str(tmp_path / "vt2")
    _build_daily(spark, t2, days=2)
    src = _day(spark, "2024-01-01", 5, 8).withColumn("v", F.lit(9.0))
    v2 = merge_version(spark, t2, src, keys=["k"])
    m = json.load(open(os.path.join(t2, "_versions", f"{v2}.json")))
    assert sorted(p["d"] for p in m["partitions"].values()) == [
        "2024-01-01",
        "2024-01-02",
    ]
    # materialize_dv's clean rewrite inherits
    delete_version_vectors(spark, t2, F.col("k") == 150)
    v3 = materialize_dv(spark, t2)
    m3 = json.load(open(os.path.join(t2, "_versions", f"{v3}.json")))
    assert sorted(p["d"] for p in m3["partitions"].values()) == [
        "2024-01-01",
        "2024-01-02",
    ]
    # retention still works end-to-end after the maintenance chain
    drop_partitions(t2, {"d": "2024-01-02"})
    got = read_version(spark, t2)
    assert got.where(F.col("d") == "2024-01-02").count() == 0
    assert got.where(F.col("d") == "2024-01-01").count() > 0


def test_fast_count_metadata_only_and_refuses_unprovable(spark, tmp_path):
    """COUNT(*) from the manifest alone: exact across appends, DV
    deletes, partition drops, and time travel — and None (never wrong)
    when a file lacks recorded rows or an equality-delete erasure list
    is pending."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        delete_version_keys,
        fast_count,
    )

    t = str(tmp_path / "vt")
    for i in range(3):
        day = f"2024-01-0{i + 1}"
        commit_version(
            _day(spark, day, i * 100, (i + 1) * 100),
            t,
            mode="append" if i else "overwrite",
            partition_values={"d": day},
            stats_cols=["k"],
        )
    assert fast_count(t) == 300
    assert fast_count(t, version=0) == 100
    delete_version_vectors(spark, t, F.col("k") < 7)
    assert fast_count(t) == 293
    assert fast_count(t) == read_version(spark, t).count()
    drop_partitions(t, {"d": "2024-01-03"})
    assert fast_count(t) == 193
    # a stats-less append makes the count unprovable
    commit_version(_day(spark, "x", 900, 910), t, mode="append")
    assert fast_count(t) is None
    # an equality delete is unknowable without a scan
    t2 = str(tmp_path / "vt2")
    commit_version(_day(spark, "a", 0, 50), t2, stats_cols=["k"])
    assert fast_count(t2) == 50
    delete_version_keys(
        spark, t2, spark.createDataFrame([(3,)], "k long"), ["k"]
    )
    assert fast_count(t2) is None


def test_lakehouse_composition_end_to_end(spark, tmp_path):
    """The operators compose: a partition-tagged STREAM ingests three
    days with auto-compaction, a CDC REPLICA follows the table through
    the relayouts, fast_count answers from metadata, and RETENTION
    retires the oldest day metadata-only — after which the replica
    re-baselines explicitly (the feed refuses the redefinition, as it
    must)."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        fast_count,
        history,
        replicate_changes,
        versioned_stream_sink,
    )

    days = ["2024-03-01", "2024-03-02", "2024-03-03"]
    src_files = str(tmp_path / "src")
    frames = [
        _day(spark, day, i * 100, (i + 1) * 100) for i, day in enumerate(days)
    ]
    for f in frames:
        f.coalesce(1).write.mode("append").parquet(src_files)
    table = str(tmp_path / "table")

    def tag(batch_df, batch_id):
        d = [r.d for r in batch_df.select("d").distinct().collect()]
        return {"d": d[0]} if len(d) == 1 else None

    q = (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_files)
        .writeStream.foreachBatch(
            versioned_stream_sink(
                table,
                stats_cols=["k"],
                auto_compact_every=2,
                partition_values_fn=tag,
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert fast_count(table) == 300
    modes = [e["mode"] for e in history(table)]
    assert "optimize_compact" in modes
    # CDC replica follows across the compaction relayouts
    replica = str(tmp_path / "replica")
    replicate_changes(
        spark, table, replica, keys=["k"], order_col="k",
        checkpoint=str(tmp_path / "cdc_ckpt"),
    )
    assert sorted(r.k for r in read_version(spark, replica).collect()) == \
        sorted(r.k for r in read_version(spark, table).collect())
    # retention drops the oldest day: metadata-only on the source
    bytes_before = _data_bytes(table)
    drop_partitions(table, {"d": "2024-03-01"})
    assert _data_bytes(table) == bytes_before
    assert fast_count(table) == 200
    # the replica cannot follow a redefinition silently — it refuses
    try:
        replicate_changes(
            spark, table, replica, keys=["k"], order_col="k",
            checkpoint=str(tmp_path / "cdc_ckpt"),
        )
        refused = False
    except Exception:
        refused = True
    assert refused
    assert read_version(spark, replica).count() == 300  # untouched


def test_read_version_applies_deletes_evolution_time_travel_and_pruning(
    spark, tmp_path
):
    """read_version on a table carrying deletion vectors, an equality
    delete AND schema evolution: the visible rows, time travel to the
    pre-evolution schema, and exact/range partition pruning (untagged
    dirs always kept), read through a temp view in plain SQL too."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        delete_version_keys,
    )

    t = str(tmp_path / "vt")
    _build_daily(spark, t, days=3)
    delete_version_vectors(spark, t, F.col("k") == 5)
    delete_version_keys(
        spark, t, spark.createDataFrame([(150,)], "k long"), ["k"]
    )
    ev = _day(spark, "x", 900, 910).withColumn("w", F.lit(9).cast("long"))
    commit_version(ev, t, mode="append", schema_evolution=True)
    df = read_version(spark, t)
    ks = sorted(r.k for r in df.collect())
    assert ks == sorted(
        [k for k in range(300) if k not in (5, 150)] + list(range(900, 910))
    )
    assert df.where(F.col("w").isNull()).count() == 298
    # time travel; the pre-evolution schema is honored
    df0 = read_version(spark, t, version=0)
    assert df0.count() == 100 and "w" not in df0.columns
    # partition pruning: day 2 (minus its equality-deleted key) plus
    # the untagged evolved dir, which pruning must always keep
    dfp = read_version(spark, t, partitions={"d": "2024-01-02"})
    assert dfp.where(F.col("d") == "2024-01-02").count() == 99
    assert dfp.count() == 99 + 10
    dfr = read_version(
        spark, t, partitions={"d": ("2024-01-02", "2024-01-03")}
    )
    assert dfr.where(F.col("d").startswith("2024")).count() == 199
    df.createOrReplaceTempView("vt_sql")
    assert (
        spark.sql("SELECT COUNT(*) FROM vt_sql WHERE d = '2024-01-01'")
        .first()[0]
        == 99
    )


def test_rollback_carries_partition_tags(spark, tmp_path):
    """Rollback must carry the source version's per-dir partition tags —
    same visible rows ⇒ same tags (VERDICT r8 ADVICE). Without the
    carry, drop_partitions after a rollback silently becomes a
    cannot-prove no-op and partition-pruned reads scan everything."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        rollback,
    )

    t = str(tmp_path / "vt")
    _build_daily(spark, t, days=3)
    # move the table on, then roll back to the full 3-day version
    drop_partitions(t, {"d": "2024-01-01"})
    v = rollback(t, to_version=2)
    pruned = read_version(spark, t, version=v, partitions={"d": "2024-01-02"})
    assert pruned.count() == 100
    assert len(pruned.inputFiles()) < len(
        read_version(spark, t, version=v).inputFiles()
    )
    # and the drop is provable again post-rollback (metadata-only)
    before = _data_bytes(t)
    v2 = drop_partitions(t, {"d": "2024-01-01"})
    assert v2 == v + 1
    assert _data_bytes(t) == before
    assert read_version(spark, t).count() == 200
