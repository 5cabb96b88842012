"""Stats-driven join planning + manifest-aggregate pruning (round 12,
VERDICT r11 #2/#3): the broadcast/merge decision must follow the
SIDECAR, flip when the dim grows past the threshold, refuse to
broadcast what metadata cannot prove small, and flag skew from the KMV
NDV; fast_aggregate must answer file-aligned rollups from the manifest
with zero Spark jobs and return None — never a wrong number — for
anything unprovable."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.cbo import (
    key_skew_ratio,
    physical_plan,
    plan_join_with_stats,
    table_size_estimate,
)
from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    analyze_incremental,
    analyze_version,
    commit_version,
    delete_version_keys,
    delete_version_vectors,
    fast_aggregate,
    fast_count,
    read_version,
)
from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _slim(spark):
    return (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    )


@pytest.fixture()
def fact_dim(spark, tmp_path):
    slim = _slim(spark)
    fdir = str(tmp_path / "fact")
    commit_version(slim.coalesce(4), fdir, stats_cols=["o_orderkey"])
    analyze_version(spark, fdir, ["o_orderkey", "o_orderpriority"], k=64)
    ddir = str(tmp_path / "dim")
    dim = slim.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("dval")
    )
    commit_version(dim.coalesce(1), ddir, stats_cols=["o_orderpriority"])
    analyze_version(spark, ddir, ["o_orderpriority"], k=64)
    return slim, fdir, ddir


def test_broadcast_flips_to_merge_when_dim_grows(spark, fact_dim):
    slim, fdir, ddir = fact_dim
    fact = read_version(spark, fdir)
    j1, d1 = plan_join_with_stats(
        spark, fact, ddir, "o_orderpriority",
        broadcast_threshold_rows=64, fact_dir=fdir,
    )
    assert d1["strategy"] == "broadcast" and d1["dim_rows"] == 5
    p1 = physical_plan(j1)
    assert "BroadcastHashJoin" in p1 and "SortMergeJoin" not in p1
    n1 = j1.count()
    # grow the dim past 64 rows (non-matching keys), extend stats
    # INCREMENTALLY — the same call must flip, and only because the
    # stats moved
    grown = slim.select(
        F.concat(F.lit("zz_"), F.col("o_orderkey").cast("string")).alias(
            "o_orderpriority"
        ),
        F.col("o_orderkey").cast("long").alias("dval"),
    )
    commit_version(
        grown.coalesce(2), ddir, mode="append",
        stats_cols=["o_orderpriority"],
    )
    assert analyze_incremental(spark, ddir)["mode"] == "incremental"
    j2, d2 = plan_join_with_stats(
        spark, fact, ddir, "o_orderpriority",
        broadcast_threshold_rows=64, fact_dir=fdir,
    )
    assert d2["strategy"] == "merge" and d2["dim_rows"] > 64
    p2 = physical_plan(j2)
    assert "SortMergeJoin" in p2 and "BroadcastHashJoin" not in p2
    # plan choice never moves values
    assert j2.count() == n1 == slim.count()


def test_bytes_threshold_and_planning_runs_zero_jobs(spark, fact_dim):
    _slim_df, fdir, ddir = fact_dim
    est = table_size_estimate(ddir)
    assert est["rows"] == 5 and est["files"] == 1 and est["bytes"] > 0
    # metadata reads schedule NO Spark jobs
    sc = spark.sparkContext
    before = sc.statusTracker().getJobIdsForGroup(None)
    table_size_estimate(ddir)
    key_skew_ratio(fdir, "o_orderpriority")
    fast_aggregate(ddir, "dval")
    assert sc.statusTracker().getJobIdsForGroup(None) == before
    # bytes threshold: below the file's size -> merge, above -> broadcast
    fact = read_version(spark, fdir)
    _, d_lo = plan_join_with_stats(
        spark, fact, ddir, "o_orderpriority",
        broadcast_threshold_bytes=est["bytes"] - 1,
    )
    _, d_hi = plan_join_with_stats(
        spark, fact, ddir, "o_orderpriority",
        broadcast_threshold_bytes=est["bytes"],
    )
    assert (d_lo["strategy"], d_hi["strategy"]) == ("merge", "broadcast")


def test_unprovable_rows_never_broadcast(spark, fact_dim):
    """Pending equality deletes make the visible row count unknowable
    from metadata — cannot-prove must take the safe shuffle plan even
    for a tiny dim."""
    _slim_df, fdir, ddir = fact_dim
    delete_version_keys(
        spark,
        ddir,
        spark.createDataFrame([("1-URGENT",)], "o_orderpriority string"),
    )
    assert table_size_estimate(ddir)["rows"] is None
    j, d = plan_join_with_stats(
        spark, read_version(spark, fdir), ddir, "o_orderpriority",
        broadcast_threshold_rows=64,
    )
    assert d["strategy"] == "merge"
    # the dim JOIN is sort-merge (the eqdel read path's internal
    # broadcast anti-join legitimately appears elsewhere in the plan)
    assert "SortMergeJoin" in physical_plan(j)


def test_size_estimate_exact_under_dv(spark, fact_dim):
    """fast_count subtracts deletion-vector cardinalities — the rows
    estimate tracks the VISIBLE state Catalyst's byte heuristic cannot
    see."""
    _slim_df, fdir, ddir = fact_dim
    delete_version_vectors(
        spark, ddir, F.col("o_orderpriority") == "1-URGENT"
    )
    est = table_size_estimate(ddir)
    assert est["rows"] == 4  # 5 priorities minus the vectored one


def test_skew_ratio_from_sidecar(spark, fact_dim):
    """rows/NDV from the KMV sketch: the 5-priority key is skewed, the
    unique order key is not — and the planner surfaces the flag."""
    slim, fdir, ddir = fact_dim
    n = slim.count()
    r_prio = key_skew_ratio(fdir, "o_orderpriority")
    r_okey = key_skew_ratio(fdir, "o_orderkey")
    assert r_prio == n / 5  # NDV below k is exact
    assert r_okey is not None and r_okey < 2  # KMV estimate ~ unique
    assert key_skew_ratio(fdir, "o_totalprice") is None  # not analyzed
    _, d = plan_join_with_stats(
        spark, read_version(spark, fdir), ddir, "o_orderpriority",
        broadcast_threshold_rows=64, fact_dir=fdir,
    )
    assert d["skewed"] and d["skew_ratio"] == r_prio
    _j, d2 = plan_join_with_stats(
        spark, read_version(spark, fdir), ddir, "o_orderpriority",
        broadcast_threshold_rows=64, fact_dir=fdir,
        skew_ratio_threshold=n,  # ratio n/5 < n
    )
    assert not d2["skewed"]


@pytest.fixture()
def halved_table(spark, tmp_path):
    slim = _slim(spark).select("o_orderkey", "o_custkey", "o_totalprice")
    mx = slim.agg(F.max("o_orderkey")).first()[0]
    half = mx // 2
    tdir = str(tmp_path / "vt")
    commit_version(
        slim.where(F.col("o_orderkey") <= half).coalesce(2),
        tdir, stats_cols=["o_orderkey", "o_custkey"],
    )
    commit_version(
        slim.where(F.col("o_orderkey") > half).coalesce(2),
        tdir, mode="append", stats_cols=["o_orderkey", "o_custkey"],
    )
    return slim, tdir, half, mx


def test_fast_aggregate_file_aligned_predicate(spark, halved_table):
    slim, tdir, half, mx = halved_table
    agg = fast_aggregate(tdir, "o_custkey", predicate=("o_orderkey", None, half))
    truth = (
        slim.where(F.col("o_orderkey") <= half)
        .agg(F.count(F.lit(1)), F.min("o_custkey"), F.max("o_custkey"))
        .first()
    )
    assert (agg["count"], agg["min"], agg["max"]) == tuple(truth)
    # unbounded: whole table
    full = fast_aggregate(tdir, "o_orderkey")
    t2 = slim.agg(F.count(F.lit(1)), F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert (full["count"], full["min"], full["max"]) == tuple(t2)
    # empty inside set
    empty = fast_aggregate(tdir, "o_custkey", predicate=("o_orderkey", mx + 1, None))
    assert empty == {"count": 0, "min": None, "max": None}


def test_fast_aggregate_refuses_what_it_cannot_prove(spark, halved_table):
    slim, tdir, half, mx = halved_table
    # a straddling predicate cuts through the file holding the max
    assert fast_aggregate(tdir, "o_custkey", predicate=("o_orderkey", None, mx - 1)) is None
    # a column without recorded envelopes
    assert fast_aggregate(tdir, "o_totalprice") is None
    # pending row-level deletes hide rows/extrema
    delete_version_vectors(spark, tdir, F.col("o_orderkey") % 10 == 0)
    assert fast_aggregate(tdir, "o_orderkey") is None


def test_fast_aggregate_eqdel_unprovable(spark, tmp_path):
    slim = _slim(spark).select("o_orderkey", "o_custkey")
    tdir = str(tmp_path / "vt")
    commit_version(slim.coalesce(2), tdir, stats_cols=["o_orderkey"])
    delete_version_keys(
        spark, tdir, spark.createDataFrame([(1,)], "o_orderkey long")
    )
    assert fast_aggregate(tdir, "o_orderkey") is None


def test_fast_aggregate_truncated_string_envelope_unprovable(spark, tmp_path):
    """A truncated string envelope is a BOUND, not a value — surfacing
    it as MIN/MAX would be wrong, so the aggregate is unprovable."""
    pad = "x" * 100
    df = spark.createDataFrame(
        [(i, f"{pad}{chr(97 + i % 5)}") for i in range(20)],
        "id long, s string",
    )
    tdir = str(tmp_path / "vt")
    commit_version(df.coalesce(1), tdir, stats_cols=["s", "id"])
    assert fast_aggregate(tdir, "s") is None
    agg = fast_aggregate(tdir, "id")  # int envelopes stay provable
    assert (agg["count"], agg["min"], agg["max"]) == (20, 0, 19)


def test_fast_aggregate_null_predicate_rows_unprovable(spark, tmp_path):
    """A file wholly inside the range by ENVELOPE can still hold NULL
    predicate rows the predicate rejects — the envelope covers only
    non-NULL values. Only a recorded zero null count proves total
    containment; otherwise the aggregate must refuse, not over-count
    (round-12 review finding)."""
    df = spark.createDataFrame(
        [(1, 5), (2, 7), (None, 100)], "p long, v long"
    )
    tdir = str(tmp_path / "vt")
    commit_version(df.coalesce(1), tdir, stats_cols=["p", "v"])
    # envelope of p is [1, 2] — "inside" (0, 10) by envelope alone, but
    # the NULL row must not be counted and 100 must not become the max
    assert fast_aggregate(tdir, "v", predicate=("p", 0, 10)) is None
    # a genuinely NULL-free table under the same predicate is provable
    clean = spark.createDataFrame([(1, 5), (2, 7)], "p long, v long")
    tdir2 = str(tmp_path / "vt2")
    commit_version(clean.coalesce(1), tdir2, stats_cols=["p", "v"])
    agg = fast_aggregate(tdir2, "v", predicate=("p", 0, 10))
    assert (agg["count"], agg["min"], agg["max"]) == (2, 5, 7)


@pytest.fixture()
def star_tables(spark, tmp_path):
    """Fact with TWO dim keys + a 5-row priority dim and a 3-row status
    dim, all committed/ANALYZEd — the multi-way ordering fixture."""
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        plan_star_join,
    )

    slim = (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .select(
            "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
        )
    )
    fdir = str(tmp_path / "fact")
    commit_version(slim.coalesce(4), fdir, stats_cols=["o_orderkey"])
    analyze_version(
        spark, fdir, ["o_orderkey", "o_orderpriority", "o_orderstatus"], k=64
    )
    pdir = str(tmp_path / "dim_pri")
    commit_version(
        slim.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("dval_p"))
        .coalesce(1),
        pdir,
        stats_cols=["o_orderpriority"],
    )
    analyze_version(spark, pdir, ["o_orderpriority"], k=64)
    sdir = str(tmp_path / "dim_sta")
    commit_version(
        slim.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("dval_s"))
        .coalesce(1),
        sdir,
        stats_cols=["o_orderstatus"],
    )
    analyze_version(spark, sdir, ["o_orderstatus"], k=64)
    return plan_star_join, slim, fdir, pdir, sdir


def _zz_rows(spark, n: int, key_col: str, val_col: str):
    return spark.createDataFrame(
        [(f"zz_{i:06d}", 0) for i in range(n)],
        f"{key_col} string, {val_col} long",
    )


def test_star_join_orders_by_stats_and_flips(spark, star_tables):
    """The join ORDER is a statistic's consequence: smaller dim first
    while both broadcast; growing the small dim FLIPS the order; past
    the threshold it becomes the trailing merge join."""
    plan_star_join, slim, fdir, pdir, sdir = star_tables
    fact = read_version(spark, fdir)
    dims = [(pdir, "o_orderpriority"), (sdir, "o_orderstatus")]
    n_fact = slim.count()

    j1, d1 = plan_star_join(
        spark, fact, dims, broadcast_threshold_rows=64, fact_dir=fdir
    )
    assert d1["provable"] and d1["order"] == [1, 0]  # status(3) < pri(5)
    assert [x["strategy"] for x in d1["dims"]] == ["broadcast", "broadcast"]
    import re

    p1 = physical_plan(j1)
    # formatted plans list ops in tree + details; count detail entries
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p1)) == 2
    assert "SortMergeJoin" not in p1
    assert j1.count() == n_fact  # FK joins: no row moves

    # grow STATUS past priority's 5 rows but under the threshold:
    # the order must flip, both joins stay broadcast
    commit_version(
        _zz_rows(spark, 20, "o_orderstatus", "dval_s"),
        sdir, mode="append", stats_cols=["o_orderstatus"],
    )
    assert analyze_incremental(spark, sdir)["mode"] == "incremental"
    j2, d2 = plan_star_join(
        spark, fact, dims, broadcast_threshold_rows=64, fact_dir=fdir
    )
    assert d2["order"] == [0, 1]  # flipped: pri(5) < status(23)
    assert [x["strategy"] for x in d2["dims"]] == ["broadcast", "broadcast"]
    assert j2.count() == n_fact  # zz_ keys never match: values pinned

    # grow STATUS past the threshold: it becomes the trailing MERGE
    commit_version(
        _zz_rows(spark, 100, "o_orderstatus", "dval_s"),
        sdir, mode="append", stats_cols=["o_orderstatus"],
    )
    analyze_incremental(spark, sdir)
    j3, d3 = plan_star_join(
        spark, fact, dims, broadcast_threshold_rows=64, fact_dir=fdir
    )
    assert d3["order"] == [0, 1]
    assert [x["strategy"] for x in d3["dims"]] == ["broadcast", "merge"]
    p3 = physical_plan(j3)
    assert "BroadcastHashJoin" in p3 and "SortMergeJoin" in p3
    assert j3.count() == n_fact
    # both dim attributes really carried through the reordered chain
    got = j3.agg(
        F.sum("dval_p").cast("long"), F.sum("dval_s").cast("long")
    ).first()
    want_p = (
        slim.groupBy("o_orderpriority").count()
        .agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    )
    want_s = (
        slim.groupBy("o_orderstatus").count()
        .agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    )
    assert (got[0], got[1]) == (want_p, want_s)


def test_star_join_unprovable_falls_back_to_authoring(spark, star_tables):
    """Pending equality deletes on ANY dim make the ordering
    unprovable in rows mode — the chain must keep authoring order
    (never reorder on a guess), while per-dim strategies stay
    stats-chosen (the eqdel dim can't prove itself small → merge)."""
    plan_star_join, slim, fdir, pdir, sdir = star_tables
    delete_version_keys(
        spark, sdir, spark.createDataFrame([("zz_x",)], "o_orderstatus string")
    )
    fact = read_version(spark, fdir)
    # author the UNPROVABLE dim first: a stats order would demote it
    j, d = plan_star_join(
        spark, fact,
        [(sdir, "o_orderstatus"), (pdir, "o_orderpriority")],
        broadcast_threshold_rows=64, fact_dir=fdir,
    )
    assert not d["provable"] and d["order"] == [0, 1]
    assert [x["strategy"] for x in d["dims"]] == ["merge", "broadcast"]
    assert j.count() == slim.count()


def test_auto_salt_fires_on_flag_and_preserves_values(spark, star_tables):
    """auto_salt closes the skew loop: sidecar-flagged key + shuffle
    plan → salted_join, value-identical to the plain hinted join; a
    broadcast plan or an unskewed key never salts."""
    plan_star_join, slim, fdir, pdir, sdir = star_tables
    fact = read_version(spark, fdir)
    # push status past the broadcast threshold so the plan shuffles
    commit_version(
        _zz_rows(spark, 120, "o_orderstatus", "dval_s"),
        sdir, mode="append", stats_cols=["o_orderstatus"],
    )
    analyze_incremental(spark, sdir)
    j_plain, d_plain = plan_join_with_stats(
        spark, fact, sdir, "o_orderstatus",
        broadcast_threshold_rows=64, fact_dir=fdir,
    )
    assert d_plain["strategy"] == "merge" and not d_plain["salted"]
    j_salt, d_salt = plan_join_with_stats(
        spark, fact, sdir, "o_orderstatus",
        broadcast_threshold_rows=64, fact_dir=fdir, auto_salt=True,
        n_salts=4,
    )
    assert d_salt["salted"] and d_salt["n_salts"] == 4 and d_salt["skewed"]
    assert "SortMergeJoin" in physical_plan(j_salt)
    assert "_salt" not in j_salt.columns
    key = lambda r: (r["o_orderkey"], r["o_orderstatus"])  # noqa: E731
    assert sorted(j_salt.collect(), key=key) == sorted(
        j_plain.collect(), key=key
    )
    # broadcast plan: flag may fire but salting must not
    _, d_b = plan_join_with_stats(
        spark, fact, pdir, "o_orderpriority",
        broadcast_threshold_rows=64, fact_dir=fdir, auto_salt=True,
    )
    assert d_b["strategy"] == "broadcast" and not d_b["salted"]
    # unskewed key (threshold above the ratio): no salt
    _, d_u = plan_join_with_stats(
        spark, fact, sdir, "o_orderstatus",
        broadcast_threshold_rows=64, fact_dir=fdir, auto_salt=True,
        skew_ratio_threshold=float(slim.count() + 1),
    )
    assert not d_u["skewed"] and not d_u["salted"]


def test_auto_salt_refuses_dim_multiplying_join_types(spark, star_tables):
    """Salting replicates the DIM side, so right/full outer joins —
    whose unmatched dim rows would emit n_salts times — must fall back
    to the plain hinted shuffle join at the planner and be refused
    outright by salted_join itself."""
    from polygon_daily_market_data_pipeline_spark.operators.skew import (
        salted_join,
    )

    plan_star_join, slim, fdir, pdir, sdir = star_tables
    fact = read_version(spark, fdir)
    commit_version(
        _zz_rows(spark, 120, "o_orderstatus", "dval_s"),
        sdir, mode="append", stats_cols=["o_orderstatus"],
    )
    analyze_incremental(spark, sdir)
    j, d = plan_join_with_stats(
        spark, fact, sdir, "o_orderstatus",
        broadcast_threshold_rows=64, fact_dir=fdir, auto_salt=True,
        how="full_outer",
    )
    assert d["skewed"] and d["strategy"] == "merge" and not d["salted"]
    # value check: every zz_ dim row appears exactly ONCE (null fact)
    n_zz = j.where(F.col("o_orderkey").isNull()).count()
    assert n_zz == 120
    with pytest.raises(ValueError, match="unmatched rows would multiply"):
        salted_join(fact, read_version(spark, sdir), ["o_orderstatus"],
                    how="full_outer")
    # left outer stays saltable: unmatched FACT rows emit once
    j2, d2 = plan_join_with_stats(
        spark, fact, sdir, "o_orderstatus",
        broadcast_threshold_rows=64, fact_dir=fdir, auto_salt=True,
        how="left_outer",
    )
    assert d2["salted"]
    assert j2.count() == fact.count()  # FK join: all matched, no dups


def test_auto_salt_spreads_hot_key_partitions(spark, tmp_path):
    """The point of the salt, asserted structurally (VM-noise-proof):
    on a one-hot-key fact, the max per-(key,salt) group size drops by
    ~n_salts vs the unsalted key group — the reducer-side row mass the
    straggler would have owned is provably spread."""
    hot = spark.range(0, 4000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(0, 40).select(
        F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    fact = hot.unionByName(cold)
    from polygon_daily_market_data_pipeline_spark.operators.skew import (
        salted_join,
    )

    dim = spark.createDataFrame(
        [("hot", 1)] + [(f"c{i}", 1) for i in range(40)], "k string, w long"
    )
    out = salted_join(fact, dim, ["k"], n_salts=8)
    assert out.count() == fact.count()
    # structural spread: reconstruct the salted key distribution
    salted_sizes = (
        fact.withColumn(
            "_salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8)),
        )
        .groupBy("k", "_salt").count().agg(F.max("count")).first()[0]
    )
    plain_max = fact.groupBy("k").count().agg(F.max("count")).first()[0]
    assert plain_max == 4000
    assert salted_sizes < plain_max / 4  # ~4000/8 with hash spread


def test_key_skew_ratio_uses_consistent_snapshot(spark, fact_dim):
    """rows and NDV come from the SAME (analyzed) version: a large
    append without a re-analyze must not inflate the ratio and flag a
    uniform key as skewed (round-12 review finding)."""
    slim, fdir, ddir = fact_dim
    r_before = key_skew_ratio(fdir, "o_orderkey")
    assert r_before is not None and r_before < 2  # ~unique key
    big = slim.select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        "o_custkey", "o_orderpriority", "o_totalprice",
    )
    for _ in range(3):
        commit_version(
            big.coalesce(2), fdir, mode="append",
            stats_cols=["o_orderkey"],  # keeps fast_count provable
        )
        big = big.select(
            (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
            "o_custkey", "o_orderpriority", "o_totalprice",
        )
    assert key_skew_ratio(fdir, "o_orderkey") == r_before  # snapshot-consistent
    # refreshing the statistics moves the snapshot forward
    analyze_incremental(spark, fdir)
    r_after = key_skew_ratio(fdir, "o_orderkey")
    assert r_after is not None and r_after < 2  # still ~unique, at 4x rows


# ---- filter-aware planning + dynamic file pruning (round 13) ----


def test_filter_aware_plan_flips_to_broadcast(spark, fact_dim):
    """The unfiltered dim is past the threshold (merge); the provable
    envelope bound under the predicate fits (broadcast) — and the
    joined rows are exactly fact ⋈ (dim WHERE pred)."""
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        filtered_size_bound,
    )

    slim, fdir, ddir = fact_dim
    # grow the dim with envelope-separable junk: zz_* sorts after the
    # digit-prefixed real priorities and lands in its own append dirs
    junk = spark.createDataFrame(
        [(f"zz_{i:05d}", 0) for i in range(300)],
        "o_orderpriority string, dval long",
    )
    commit_version(junk, ddir, mode="append", stats_cols=["o_orderpriority"])
    fact = read_version(spark, fdir)

    j_plain, d_plain = plan_join_with_stats(
        spark, fact, ddir, "o_orderpriority", broadcast_threshold_rows=64
    )
    assert d_plain["strategy"] == "merge"

    pred = {"o_orderpriority": (None, "9")}
    bound = filtered_size_bound(ddir, pred)
    assert bound["rows_ub"] is not None and bound["rows_ub"] <= 64
    assert bound["files"] < bound["files_total"]

    j_filt, d_filt = plan_join_with_stats(
        spark, fact, ddir, "o_orderpriority",
        broadcast_threshold_rows=64, dim_predicates=pred,
    )
    assert d_filt["strategy"] == "broadcast" and d_filt["filtered"]
    plan = physical_plan(j_filt)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    dim_f = read_version(spark, ddir).where(F.col("o_orderpriority") <= "9")
    expect = fact.join(dim_f, "o_orderpriority")
    assert sorted(map(tuple, j_filt.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_filtered_bound_is_an_upper_bound_counting_files_whole(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        filtered_size_bound,
    )

    t = str(tmp_path / "fsb")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    commit_version(df.repartitionByRange(4, "k"), t, stats_cols=["k"])
    # a predicate straddling one file: bound counts that file WHOLE
    bound = filtered_size_bound(t, {"k": (0, 100)})
    true_n = read_version(spark, t).where(F.col("k") <= 100).count()
    assert bound["rows_ub"] >= true_n
    assert bound["files"] == 1
    # and the bound equals the kept file's full footer count, not an
    # interpolated guess
    assert bound["rows_ub"] == 250


def test_filtered_bound_stays_provable_under_eqdel(spark, tmp_path):
    """fast_count goes None under pending equality deletes; the UPPER
    bound must not — hidden rows only shrink the true count."""
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        filtered_size_bound,
    )

    t = str(tmp_path / "fsb_eqdel")
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g")
    )
    commit_version(df.repartitionByRange(4, "k"), t, stats_cols=["k"])
    delete_version_keys(
        spark, t, spark.createDataFrame([(2,)], "g bigint")
    )
    assert fast_count(t) is None
    bound = filtered_size_bound(t, {"k": (None, 99)})
    assert bound["rows_ub"] == 100  # footer rows of the kept file
    est = table_size_estimate(t)
    assert est["rows"] is None


def test_dynamic_file_prune_join_schedules_matching_files_only(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        dynamic_file_prune_join,
    )

    slim = _slim(spark)
    fdir = str(tmp_path / "dpp_fact")
    commit_version(
        slim.repartitionByRange(8, "o_orderkey"), fdir,
        stats_cols=["o_orderkey"],
    )
    keys = [r[0] for r in slim.select("o_orderkey").limit(3).collect()]
    dim = spark.createDataFrame(
        [(int(k), f"attr_{i}") for i, k in enumerate(keys)],
        "o_orderkey long, attr string",
    )
    joined, d = dynamic_file_prune_join(
        spark, fdir, dim, "o_orderkey"
    )
    assert d["pruned"] and d["n_keys"] == 3
    assert d["files_scheduled"] <= 3 < d["files_total"] == 8
    expect = read_version(spark, fdir).join(dim, "o_orderkey")
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_dynamic_file_prune_join_fallback_and_refusals(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        dynamic_file_prune_join,
    )

    slim = _slim(spark)
    fdir = str(tmp_path / "dpp_fb")
    commit_version(
        slim.repartitionByRange(4, "o_orderkey"), fdir,
        stats_cols=["o_orderkey"],
    )
    keys = [r[0] for r in slim.select("o_orderkey").limit(3).collect()]
    dim = spark.createDataFrame(
        [(int(k), "x") for k in keys], "o_orderkey long, attr string"
    )
    # over the key budget: falls back, still exact
    joined, d = dynamic_file_prune_join(
        spark, fdir, dim, "o_orderkey", max_keys=2
    )
    assert not d["pruned"] and d["n_keys"] is None
    assert d["files_scheduled"] == d["files_total"]
    expect = read_version(spark, fdir).join(dim, "o_orderkey")
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, expect.collect())
    )
    # join types that need pruned-away fact rows are refused
    with pytest.raises(ValueError, match="left/full"):
        dynamic_file_prune_join(spark, fdir, dim, "o_orderkey", how="left")


def test_dynamic_file_prune_join_right_keeps_unmatched_dim(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        dynamic_file_prune_join,
    )

    slim = _slim(spark)
    fdir = str(tmp_path / "dpp_right")
    commit_version(
        slim.repartitionByRange(4, "o_orderkey"), fdir,
        stats_cols=["o_orderkey"],
    )
    k0 = slim.select("o_orderkey").first()[0]
    dim = spark.createDataFrame(
        [(int(k0), "hit"), (10**15, "miss"), (None, "nullkey")],
        "o_orderkey long, attr string",
    )
    joined, d = dynamic_file_prune_join(
        spark, fdir, dim, "o_orderkey", how="right"
    )
    assert d["pruned"] and d["n_keys"] == 2  # NULL key dropped from prune
    rows = joined.select("attr", "o_totalprice").collect()
    by_attr = {r[0]: r[1] for r in rows}
    assert by_attr["hit"] is not None
    assert by_attr["miss"] is None and by_attr["nullkey"] is None


def test_star_join_filter_aware_ordering(spark, star_tables):
    """A predicate that provably shrinks a big dim must move it to the
    FRONT of the star order as a broadcast — the same envelope bound
    the two-way planner uses, applied per dim."""
    plan_star_join, slim, fdir, ddir, sdir = star_tables
    fact = read_version(spark, fdir)
    # grow the status dim past the threshold with envelope-separable
    # zz_ members (separate append dirs)
    junk = spark.createDataFrame(
        [(f"zz_{i:05d}", 0) for i in range(200)],
        "o_orderstatus string, dval_s long",
    )
    commit_version(junk, sdir, mode="append", stats_cols=["o_orderstatus"])
    dims = [(ddir, "o_orderpriority"), (sdir, "o_orderstatus")]
    # unfiltered: the grown status dim orders LAST as a merge join
    j0, d0 = plan_star_join(
        spark, fact, dims, broadcast_threshold_rows=64
    )
    assert [x["strategy"] for x in d0["dims"]][-1] == "merge"
    # filtered: the bound proves the real statuses small again — the
    # status dim returns to the broadcast tier, and values equal the
    # residual-filtered plain join
    preds = [None, {"o_orderstatus": (None, "9")}]
    j1, d1 = plan_star_join(
        spark, fact, dims, broadcast_threshold_rows=64,
        dim_predicates=preds,
    )
    assert all(x["strategy"] == "broadcast" for x in d1["dims"])
    assert d1["dims"][d1["order"].index(1)]["filtered"]
    dim_p = read_version(spark, ddir)
    dim_s = read_version(spark, sdir).where(F.col("o_orderstatus") <= "9")
    expect = fact.join(dim_p, "o_orderpriority").join(dim_s, "o_orderstatus")
    assert sorted(map(tuple, j1.select(*sorted(j1.columns)).collect())) == \
        sorted(map(tuple, expect.select(*sorted(expect.columns)).collect()))
    with pytest.raises(ValueError, match="entries for"):
        plan_star_join(spark, fact, dims, dim_predicates=[None])


def test_key_uniqueness_certificate(spark, tmp_path):
    """The FK→PK proof: True only when exact NDV == exact non-null
    rows; duplicates prove False; estimates and unprovable rows stay
    None — cannot-prove never asserts."""
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        key_uniqueness,
    )

    uniq = str(tmp_path / "uniq")
    commit_version(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)] + [(None, "nullkey")],
            "k long, attr string",
        ),
        uniq, stats_cols=["k"],
    )
    analyze_version(spark, uniq, ["k"], k=64)
    assert key_uniqueness(uniq, "k") is True  # nulls don't break the proof

    dup = str(tmp_path / "dup")
    commit_version(
        spark.createDataFrame(
            [(i % 5, i) for i in range(20)], "k long, v long"
        ),
        dup, stats_cols=["k"],
    )
    analyze_version(spark, dup, ["k"], k=64)
    assert key_uniqueness(dup, "k") is False

    # past the sketch: NDV is an estimate — no proof either way
    big = str(tmp_path / "big")
    commit_version(
        spark.range(500).select(F.col("id").alias("k")), big,
        stats_cols=["k"],
    )
    analyze_version(spark, big, ["k"], k=64)
    assert key_uniqueness(big, "k") is None
    # never analyzed
    assert key_uniqueness(uniq, "attr") is None
    # and the planner surfaces the certificate
    fact = spark.createDataFrame([(3, 1)], "k long, x long")
    _, d = plan_join_with_stats(
        spark, fact, uniq, "k", broadcast_threshold_rows=64
    )
    assert d["dim_key_unique"] is True


def test_heavy_hitters_exact_with_guarantee(spark):
    """Two-pass Misra-Gries: every value above the n/(k+1) threshold is
    returned with its EXACT count; a uniform column returns nothing."""
    from polygon_daily_market_data_pipeline_spark.operators.skew import (
        heavy_hitters,
    )

    # 10k rows: 'hot' 4000x, 'warm' 2000x, tail 4000 distinct-ish
    df = spark.range(10_000).select(
        F.when(F.col("id") < 4000, F.lit("hot"))
        .when(F.col("id") < 6000, F.lit("warm"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 800).cast("string")))
        .alias("k")
    ).repartition(16)
    hh = heavy_hitters(df, "k", k=16)
    got = dict(hh)
    assert got["hot"] == 4000 and got["warm"] == 2000
    # tail values (5 copies each) are far below n/(k+1) ≈ 588
    assert all(v in ("hot", "warm") for v, _ in hh)
    assert hh[0] == ("hot", 4000)  # sorted by count desc
    # uniform: nothing clears the threshold
    uni = spark.range(2000).select(
        (F.col("id") % 700).cast("string").alias("k")
    ).repartition(8)
    assert heavy_hitters(uni, "k", k=16) == []
    # NULLs are ignored, not counted or returned
    withnull = df.union(
        spark.range(50).select(F.lit(None).cast("string").alias("k"))
    )
    assert dict(heavy_hitters(withnull, "k", k=16))["hot"] == 4000


def test_filtered_bound_tolerates_type_mismatched_bound_on_histogram(
    spark, tmp_path
):
    """ADVICE r13: prune_files' tolerance contract (keep the file,
    never crash on bound/stat type mismatches) must extend to the
    histogram refinement — a string or datetime bound on a numeric,
    HISTOGRAMMED column skips the refinement instead of raising from
    float(lo)."""
    import datetime as dt

    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        filtered_size_bound,
    )
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_version,
    )

    t = str(tmp_path / "fsb_mismatch")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    commit_version(df.repartitionByRange(4, "k"), t, stats_cols=["k"])
    analyze_version(spark, t, ["k"])  # k now has a histogram
    for bad in ("not-a-number", dt.datetime(2024, 1, 5)):
        bound = filtered_size_bound(t, {"k": (None, bad)})
        # no crash; no histogram refinement claimed; files kept whole
        assert bound["rows_ub_source"] == "files"
        assert bound["files"] == bound["files_total"]
        assert bound["rows_ub"] == 1000
    # sanity: a well-typed bound still refines via the histogram
    ok = filtered_size_bound(t, {"k": (None, 10)})
    assert ok["rows_ub"] is not None and ok["rows_ub"] < 1000


def test_filtered_bound_surfaces_corrupt_stored_histogram(spark, tmp_path):
    """ADVICE r14: the tolerance above is a TYPE check on the caller's
    bound, not a blanket except — a malformed STORED histogram
    (sidecar corruption) must raise, not silently drop the refinement
    and report the looser file-granular bound as if stats were fine."""
    import glob
    import json as _json

    import pytest

    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        filtered_size_bound,
    )
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_version,
    )

    t = str(tmp_path / "fsb_corrupt")
    df = spark.range(1000).select(F.col("id").alias("k"))
    commit_version(df.repartitionByRange(4, "k"), t, stats_cols=["k"])
    analyze_version(spark, t, ["k"])
    sidecars = glob.glob(os.path.join(t, "_stats", "*.json"))
    assert sidecars, "expected an ANALYZE stats sidecar"
    corrupted = False
    for p in sidecars:
        with open(p) as f:
            stats = _json.load(f)
        hist = stats.get("columns", {}).get("k", {}).get("hist")
        if hist:
            hist["edges"][0] = "corrupt"
            with open(p, "w") as f:
                _json.dump(stats, f)
            corrupted = True
    assert corrupted, "expected a histogram for k in the sidecar"
    # the corrupt edge surfaces from histogram_bounds (string edge vs
    # float comparison/conversion) instead of being swallowed
    with pytest.raises((TypeError, ValueError)):
        filtered_size_bound(t, {"k": (None, 10)})
