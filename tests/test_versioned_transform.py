"""Hidden (transform) partitioning — round 13, VERDICT r12 #4:
``commit_version(partition_transform={"ts": "day"})`` tags each
commit's directory with the [lo, hi] range of the TRANSFORM over its
data (derived from the parquet footer envelopes — no extra scan), so
a RAW timestamp predicate prunes whole directories and retention can
retire provably-covered commits, without the caller ever deriving or
maintaining a date column. The Iceberg posture on the manifest log —
the missing rung between per-file footer envelopes and per-dir scalar
tags.

Safety asymmetry, same as scalar tags: the READ path keeps what it
cannot prove mismatched (overlap, DST-bracketed naive bounds, unknown
bound types kept); the DROP path drops only what it can prove wholly
covered (unit containment, tz-aware or unit-string bounds only)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    commit_version,
    drop_partitions,
    optimize_compact,
    read_version,
    rollback,
)

T0 = dt.datetime(2024, 1, 1)


def _batch(spark, day: int, lo: int, hi: int):
    """One day's events: ids [lo, hi) with ts spread through day N."""
    n = hi - lo
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (
            F.lit(T0 + dt.timedelta(days=day))
            + F.make_interval(mins=(F.col("id") % n) * (1380 // max(n, 1)))
        ).alias("ts"),
        (F.col("id") * 1.0).alias("v"),
    )


def _build_daily(spark, t, days=4):
    for i in range(days):
        commit_version(
            _batch(spark, i, i * 100, (i + 1) * 100),
            t,
            mode="append" if i else "overwrite",
            partition_transform={"ts": "day"},
        )


def test_transform_pruned_read_from_raw_ts_predicate(spark, tmp_path):
    """A raw BETWEEN on the timestamp column prunes to the matching
    days' directories — strictly fewer files — and the residual
    ``.where()`` keeps the result value-exact vs the full scan."""
    t = str(tmp_path / "vt")
    _build_daily(spark, t)
    full = read_version(spark, t)
    assert full.count() == 400
    lo = T0 + dt.timedelta(days=1)          # 2024-01-02 00:00
    hi = T0 + dt.timedelta(days=2, hours=23)  # into 2024-01-03
    pruned = read_version(spark, t, partitions={"ts": (lo, hi)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = pruned.where(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    want = full.where(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    assert got.agg(F.sum("k"), F.count(F.lit(1))).first() == \
        want.agg(F.sum("k"), F.count(F.lit(1))).first()
    # days 2-3 only: the pruned frame holds exactly those dirs' rows
    assert sorted(r.k for r in pruned.collect()) == list(range(100, 300))
    # unit-string predicate at the transform granularity works directly
    one = read_version(spark, t, partitions={"ts": "2024-01-01"})
    assert sorted(r.k for r in one.collect()) == list(range(100))
    # equality at the WRONG granularity is unknowable: keeps everything
    assert read_version(
        spark, t, partitions={"ts": "2024-01"}
    ).count() == 400
    # tz-aware bounds convert exactly
    aware = read_version(
        spark, t,
        partitions={"ts": (
            lo.replace(tzinfo=dt.timezone.utc),
            hi.replace(tzinfo=dt.timezone.utc),
        )},
    )
    assert sorted(r.k for r in aware.collect()) == list(range(100, 300))


def test_transform_tags_survive_append_compact_rollback(spark, tmp_path):
    """Inheritance mirror of the scalar-tag tests: appends carry the
    per-dir transform tags, rollback restores them, and compaction's
    rewritten manifest keeps pruning working for untouched dirs."""
    t = str(tmp_path / "vt")
    _build_daily(spark, t)
    m = json.load(open(os.path.join(t, "_versions", "3.json")))
    tags = [tag for tag in m["partitions"].values() if "__t_ts" in tag]
    assert len(tags) == 4
    assert sorted(x["__t_ts"]["lo"] for x in tags) == [
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04",
    ]
    assert all(x["__t_ts"]["fn"] == "day" for x in tags)
    # rollback to v1 restores that manifest's tags
    rollback(t, 1)
    got = read_version(spark, t, partitions={"ts": "2024-01-01"})
    assert got.count() == 100
    rollback(t, 3)
    # compaction: pruning on a day still schedules a strict subset
    optimize_compact(spark, t)
    full = read_version(spark, t)
    assert full.count() == 400
    one = read_version(spark, t, partitions={"ts": "2024-01-02"})
    assert sorted(r.k for r in one.collect()) == list(range(100, 200))


def test_transform_drop_partitions_containment_only(spark, tmp_path):
    """DROP path: unit strings and fully-covering tz-aware bounds
    drop metadata-only; a partially-covering bound drops nothing; a
    naive datetime bound is refused outright."""
    t = str(tmp_path / "vt")
    _build_daily(spark, t)
    # unit-string range: drops day 1 only, zero data churn
    v = drop_partitions(t, {"ts": ("2024-01-01", "2024-01-01")})
    assert v == 4
    after = read_version(spark, t)
    assert after.count() == 300
    assert after.where(F.col("ts") < F.lit(T0 + dt.timedelta(days=1))).count() == 0
    # time travel still serves the dropped day
    assert read_version(spark, t, version=3).count() == 400
    # tz-aware bounds covering day 2 ENTIRELY: dropped
    utc = dt.timezone.utc
    v2 = drop_partitions(t, {"ts": (
        dt.datetime(2024, 1, 2, tzinfo=utc),
        dt.datetime(2024, 1, 3, tzinfo=utc) - dt.timedelta(microseconds=1),
    )})
    assert v2 == 5 and read_version(spark, t).count() == 200
    # a PARTIAL cover (stops at 23:00) must drop nothing
    v3 = drop_partitions(t, {"ts": (
        dt.datetime(2024, 1, 3, tzinfo=utc),
        dt.datetime(2024, 1, 3, 23, 0, tzinfo=utc),
    )})
    assert v3 == v2 and read_version(spark, t).count() == 200
    # naive datetime bounds are refused on the drop path
    with pytest.raises(TypeError, match="tz-aware"):
        drop_partitions(t, {"ts": (
            dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 4),
        )})
    # equality drop: only AS the unit string, only a single-unit dir
    v4 = drop_partitions(t, {"ts": "2024-01-03"})
    assert read_version(spark, t).count() == 100
    assert v4 == v2 + 1


def test_transform_granularities_and_multi_unit_commit(spark, tmp_path):
    """month/year/hour tag formats; a commit SPANNING two days records
    the range and is kept by any overlapping read but never dropped by
    a single-unit predicate."""
    t = str(tmp_path / "vt")
    two_days = _batch(spark, 0, 0, 100).unionByName(_batch(spark, 1, 100, 200))
    commit_version(two_days, t, partition_transform={"ts": "day"})
    m = json.load(open(os.path.join(t, "_versions", "0.json")))
    (tag,) = m["partitions"].values()
    assert tag["__t_ts"] == {"fn": "day", "lo": "2024-01-01", "hi": "2024-01-02"}
    # overlap read keeps it; disjoint read prunes it
    assert read_version(spark, t, partitions={"ts": "2024-01-02"}).count() == 200
    assert read_version(spark, t, partitions={"ts": "2024-01-05"}).count() == 0
    # a single-unit equality can never prove containment of a 2-day dir
    assert drop_partitions(t, {"ts": "2024-01-01"}) == 0
    # other granularities
    t2 = str(tmp_path / "vt2")
    commit_version(
        _batch(spark, 0, 0, 50), t2, partition_transform={"ts": "month"}
    )
    commit_version(
        _batch(spark, 40, 50, 100), t2, mode="append",
        partition_transform={"ts": "month"},
    )
    m2 = json.load(open(os.path.join(t2, "_versions", "1.json")))
    los = sorted(
        tag["__t_ts"]["lo"] for tag in m2["partitions"].values()
    )
    assert los == ["2024-01", "2024-02"]
    assert read_version(spark, t2, partitions={"ts": "2024-02"}).count() == 50
    t3 = str(tmp_path / "vt3")
    commit_version(
        _batch(spark, 0, 0, 10), t3, partition_transform={"ts": "hour"}
    )
    m3 = json.load(open(os.path.join(t3, "_versions", "0.json")))
    (tag3,) = m3["partitions"].values()
    assert tag3["__t_ts"]["lo"].startswith("2024-01-01T")


def test_transform_unknowable_envelope_never_tags(spark, tmp_path):
    """An all-NULL transform column leaves the commit untagged —
    unprunable and undroppable, never wrong — while scalar tags and
    transform tags coexist on the same dir."""
    t = str(tmp_path / "vt")
    nulls = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(1.0).alias("v"),
    )
    commit_version(
        nulls, t, partition_transform={"ts": "day"},
        partition_values={"src": "nullbatch"},
    )
    m = json.load(open(os.path.join(t, "_versions", "0.json")))
    (tag,) = m["partitions"].values()
    assert tag == {"src": "nullbatch"}  # scalar tag only, no __t_ts
    # the untagged-for-ts dir is always read and never dropped
    assert read_version(spark, t, partitions={"ts": "2024-01-01"}).count() == 10
    assert drop_partitions(t, {"ts": "2024-01-01"}) == 0
    # bad inputs fail fast
    with pytest.raises(ValueError, match="unknown partition transform"):
        commit_version(
            _batch(spark, 0, 0, 5), str(tmp_path / "x"),
            partition_transform={"ts": "week"},
        )
    with pytest.raises(ValueError, match="not in frame"):
        commit_version(
            _batch(spark, 0, 0, 5), str(tmp_path / "y"),
            partition_transform={"nope": "day"},
        )


def test_transform_on_omitted_generated_column(spark, tmp_path):
    """A transform may target a GENERATED column the writer omits (the
    derived-timestamp pattern): generation computes it first, the
    transform tags from it, and a raw predicate on the generated
    column prunes — the writer never materializes or even names it."""
    t = str(tmp_path / "vt")
    base = _batch(spark, 0, 0, 100).select(
        "k", F.col("ts").cast("string").alias("ts_raw"), "v"
    )
    commit_version(
        base,
        t,
        generated_cols={"ts": "cast(ts_raw as timestamp)"},
        partition_transform={"ts": "day"},
    )
    commit_version(
        _batch(spark, 1, 100, 200).select(
            "k", F.col("ts").cast("string").alias("ts_raw"), "v"
        ),
        t,
        mode="append",
        partition_transform={"ts": "day"},
    )
    m = json.load(open(os.path.join(t, "_versions", "1.json")))
    los = sorted(tag["__t_ts"]["lo"] for tag in m["partitions"].values())
    assert los == ["2024-01-01", "2024-01-02"]
    one = read_version(spark, t, partitions={"ts": "2024-01-02"})
    assert sorted(r.k for r in one.collect()) == list(range(100, 200))


def test_transform_and_scalar_tags_compose(spark, tmp_path):
    """One commit carrying BOTH a scalar tag and a transform tag: a
    conjunctive predicate over both prunes on each independently."""
    t = str(tmp_path / "vt")
    for i, src in enumerate(["a", "b"]):
        commit_version(
            _batch(spark, i, i * 100, (i + 1) * 100),
            t,
            mode="append" if i else "overwrite",
            partition_values={"src": src},
            partition_transform={"ts": "day"},
        )
    both = read_version(
        spark, t, partitions={"src": "b", "ts": "2024-01-02"}
    )
    assert sorted(r.k for r in both.collect()) == list(range(100, 200))
    # conjunction with a mismatching half prunes everything
    assert read_version(
        spark, t, partitions={"src": "a", "ts": "2024-01-02"}
    ).count() == 0
