"""Equality deletes (operators/versioned.py delete_version_keys):
Iceberg's other delete flavor — an erasure KEY LIST written as a
sidecar with ZERO table IO at commit time, anti-joined out at read
time, SCOPED to the directories visible when the delete committed
(a later re-append of the same key is a new row and survives).
Composes with positional deletion vectors; materialize_dv compacts
both away."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    clone_table,
    commit_version,
    delete_version_keys,
    delete_version_vectors,
    diff_versions,
    drop_clone,
    materialize_dv,
    merge_version,
    read_changes,
    read_version,
    scan_version_with_stats,
    vacuum,
)


def _df(spark, lo=0, hi=1000):
    return spark.range(lo, hi).select(
        F.col("id").cast("long").alias("k"), (F.col("id") * 1.0).alias("v")
    )


def _keys(spark, ks):
    return spark.createDataFrame([(int(k),) for k in ks], "k long")


def _parquet_bytes(root):
    total = 0
    for r, _d, files in os.walk(root):
        total += sum(
            os.path.getsize(os.path.join(r, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def test_eq_delete_zero_table_io_and_exact(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark).repartitionByRange(4, "k"), t, stats_cols=["k"])
    data_bytes = _parquet_bytes(os.path.join(t, "_data"))
    ks = list(range(0, 1000, 13))
    v1 = delete_version_keys(spark, t, _keys(spark, ks), ["k"])
    # zero data churn; the sidecar is erasure-list-sized
    assert _parquet_bytes(os.path.join(t, "_data")) == data_bytes
    assert 0 < _parquet_bytes(os.path.join(t, "_eqdel")) < data_bytes / 4
    got = read_version(spark, t, version=v1)
    assert got.count() == 1000 - len(ks)
    assert got.where(F.col("k").isin(ks)).count() == 0
    # time travel to the pre-delete version
    assert read_version(spark, t, version=0).count() == 1000
    # empty key frame publishes nothing
    assert delete_version_keys(spark, t, _keys(spark, []), ["k"]) == v1
    # scan path applies the delete too, stats pruning intact
    scan, stats = scan_version_with_stats(spark, t, {"k": (0, 99)})
    assert sorted(r.k for r in scan.collect()) == [
        k for k in range(100) if k % 13 != 0
    ]
    assert stats.files_scheduled < stats.files_total


def test_eq_delete_scope_reappend_survives(spark, tmp_path):
    """The Iceberg sequence-number contract at dir granularity: rows
    appended AFTER the delete are outside its scope, even with the
    same keys — delete-then-resubscribe works."""
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 100), t)
    v1 = delete_version_keys(spark, t, _keys(spark, [5, 7]), ["k"])
    commit_version(
        spark.createDataFrame([(5, -5.0), (7, -7.0)], "k long, v double"),
        t,
        mode="append",
    )
    rows = {r.k: r.v for r in read_version(spark, t).collect() if r.k in (5, 7)}
    assert rows == {5: -5.0, 7: -7.0}
    assert read_version(spark, t).count() == 100
    # the feed refuses to cross the delete, then resumes after it
    with pytest.raises(ValueError, match="delete_eq"):
        read_changes(spark, t, 0)
    assert sorted(r.k for r in read_changes(spark, t, v1).collect()) == [5, 7]


def test_eq_equals_merge_delete_on_visible_rows(spark, tmp_path):
    """Twin law: an equality delete reads identically to
    merge_version(when_matched='delete') with the same key list —
    merge-on-read vs copy-on-write, same visible rows."""
    eq = str(tmp_path / "eq")
    cow = str(tmp_path / "cow")
    for t in (eq, cow):
        commit_version(_df(spark).repartitionByRange(4, "k"), t, stats_cols=["k"])
    ks = _keys(spark, range(100, 300, 3))
    delete_version_keys(spark, eq, ks, ["k"])
    merge_version(spark, cow, ks, keys=["k"], when_matched="delete")
    assert sorted(read_version(spark, eq).collect()) == sorted(
        read_version(spark, cow).collect()
    )
    # and the bag diff across each delete agrees
    def bag(t):
        return sorted(
            (r.k, r._change_type, r._n)
            for r in diff_versions(spark, t, 0).collect()
        )

    assert bag(eq) == bag(cow)


def test_eq_composes_with_dv_materialize_vacuum(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 200), t, stats_cols=["k"])
    delete_version_keys(spark, t, _keys(spark, range(0, 20)), ["k"])
    delete_version_vectors(spark, t, F.col("k") >= 190)
    assert read_version(spark, t).count() == 200 - 20 - 10
    vm = materialize_dv(spark, t, stats_cols=["k"])
    m = json.load(open(os.path.join(t, "_versions", f"{vm}.json")))
    assert "dv" not in m and "eqdel" not in m
    assert read_version(spark, t).count() == 170
    vacuum(t, keep_last=1)
    for sub in ("_dv", "_eqdel"):
        d = os.path.join(t, sub)
        assert not os.path.isdir(d) or os.listdir(d) == []
    assert read_version(spark, t).count() == 170


def test_merge_on_read_past_an_eq_delete_on_a_non_key_column(spark, tmp_path):
    """The merge-on-read position scan drops equality-deleted rows
    BEFORE it prunes to the merge keys: an erasure list keyed on a
    column that is not a merge key must still resolve."""
    t = str(tmp_path / "vt")
    commit_version(
        _df(spark, 0, 10).withColumn("g", F.col("k") % 3), t, stats_cols=["k"]
    )
    delete_version_keys(spark, t, _keys(spark, [1]).withColumnRenamed("k", "g"))
    src = read_version(spark, t).where("k in (0, 3)").withColumn(
        "v", F.col("v") + 100
    )
    merge_version(spark, t, src, ["k"], strategy="merge_on_read")
    got = {r.k: r.v for r in read_version(spark, t).collect()}
    assert sorted(got) == [0, 2, 3, 5, 6, 8, 9]  # g == 1 erased
    assert got[0] == 100.0 and got[3] == 103.0 and got[2] == 2.0


def test_eq_delete_type_mismatch_raises(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    bad = spark.createDataFrame([("5",)], "k string")
    with pytest.raises(ValueError, match="disagree with the table schema"):
        delete_version_keys(spark, t, bad, ["k"])
    with pytest.raises(ValueError, match="missing columns"):
        delete_version_keys(spark, t, _keys(spark, [1]), ["nope"])


def test_eq_delete_clone_carry(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    commit_version(_df(spark, 0, 100), src)
    delete_version_keys(spark, src, _keys(spark, [1, 2, 3]), ["k"])
    clone_table(src, dst)
    assert read_version(spark, dst).count() == 97
    # eq delete on the CLONE stays in the clone
    delete_version_keys(spark, dst, _keys(spark, [10]), ["k"])
    assert read_version(spark, dst).count() == 96
    assert read_version(spark, src).count() == 97
    drop_clone(src, dst)


def test_streaming_snapshot_excludes_eq_deleted_scoped(spark, tmp_path):
    """The versioned_changes snapshot must apply equality deletes with
    their scope: original copies of the deleted keys are masked, rows
    re-appended after the delete are emitted."""
    from polygon_daily_market_data_pipeline_spark.sources import (
        versioned_changes_source,
    )

    t = str(tmp_path / "vt")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    commit_version(_df(spark, 0, 50).repartition(2), t)
    delete_version_keys(spark, t, _keys(spark, [4, 9]), ["k"])
    commit_version(
        spark.createDataFrame([(4, -4.0)], "k long, v double"), t, mode="append"
    )
    versioned_changes_source.register(spark)
    q = (
        spark.readStream.format("versioned_changes")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    want = sorted(
        [(k, float(k)) for k in range(50) if k not in (4, 9)] + [(4, -4.0)]
    )
    assert got == want
