"""Sidecar histograms (round 13 continuation): exact equi-width
per-bucket counts in the ANALYZE sidecar, additively mergeable by
analyze_incremental at the base's pinned edges, and the provable
selectivity bounds (histogram_bounds) that refine filtered_size_bound
to row granularity — the CBO rung between file envelopes and a scan.

Laws pinned here:
- counts partition the rows: sum(buckets)+below+above+nan+nulls == n;
- incremental merge == recounting the WHOLE table at the base edges
  (exact integers, appends outside the base extrema land in tails);
- for random predicates, true_count ∈ [lo_rows, hi_rows] always;
- the proof dies with the version (sidecar must exist AT the version);
- NaN rows poison bounds to None (refuse beats under-counting);
- a selective predicate on an unprunable-by-envelope dim flips
  plan_join_with_stats to a histogram-proof-backed broadcast.
"""

from __future__ import annotations

import json
import random

from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.cbo import (
    filtered_size_bound,
    physical_plan,
    plan_join_with_stats,
)
from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    _histograms,
    _stat_from_json,
    _stats_path,
    analyze_incremental,
    analyze_version,
    commit_version,
    histogram_bounds,
    read_version,
)
from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _sidecar(tdir, v):
    with open(_stats_path(tdir, v)) as f:
        return json.load(f)


def _orders(spark):
    return load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def test_histogram_counts_partition_all_rows(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _orders(spark)
    commit_version(df.repartition(3), tdir, stats_cols=["o_orderkey"])
    stats = analyze_version(
        spark, tdir, ["o_orderkey", "o_totalprice"], hist_buckets=16
    )
    n = df.count()
    for c in ("o_orderkey", "o_totalprice"):
        st = stats["columns"][c]
        h = st["hist"]
        assert len(h["counts"]) == len(h["edges"]) - 1 <= 16
        assert (
            sum(h["counts"]) + h["below"] + h["above"] + h["nan"] + st["nulls"]
            == n
        )
        # edges span exactly the recorded extrema → tails empty at build
        assert h["below"] == 0 and h["above"] == 0 and h["nan"] == 0


def test_incremental_merge_equals_recount_at_base_edges(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _orders(spark)
    mx = df.agg(F.max("o_orderkey")).first()[0]
    # base = middle band, so the append adds rows BELOW and ABOVE the
    # base extrema — the tails must catch them exactly
    base = df.where(
        (F.col("o_orderkey") > mx // 4) & (F.col("o_orderkey") <= mx // 2)
    )
    rest = df.where(
        (F.col("o_orderkey") <= mx // 4) | (F.col("o_orderkey") > mx // 2)
    )
    commit_version(base.repartition(2), tdir, stats_cols=["o_orderkey"])
    base_stats = analyze_version(
        spark, tdir, ["o_orderkey", "o_totalprice"], hist_buckets=8
    )
    commit_version(
        rest.repartition(2), tdir, mode="append", stats_cols=["o_orderkey"]
    )
    merged = analyze_incremental(spark, tdir)
    assert merged["mode"] == "incremental"
    full = read_version(spark, tdir)
    for c in ("o_orderkey", "o_totalprice"):
        base_edges = base_stats["columns"][c]["hist"]["edges"]
        recount = _histograms(spark, full, {c: base_edges})[c]
        assert merged["columns"][c]["hist"] == recount
        assert recount["below"] > 0 and recount["above"] > 0


def test_incremental_growth_outside_sticky_edges(spark, tmp_path):
    """Appends beyond the analyzed extrema keep the base edges, land in
    the below/above tails, and widen the sidecar's min/max envelope —
    the envelope is what closes the otherwise-open tails."""
    tdir = str(tmp_path / "t")
    commit_version(
        spark.createDataFrame(
            [(i, float(10 + i)) for i in range(40)], "id long, v double"
        ),
        tdir,
    )
    analyze_version(spark, tdir, ["v"], hist_buckets=4)
    h0 = _sidecar(tdir, 0)["columns"]["v"]["hist"]
    assert len(h0["counts"]) == 4 and sum(h0["counts"]) == 40
    assert (h0["edges"][0], h0["edges"][-1]) == (10.0, 49.0)
    assert h0["below"] == 0 and h0["above"] == 0
    commit_version(
        spark.createDataFrame([(99, 500.0), (98, -7.0)], "id long, v double"),
        tdir,
        mode="append",
    )
    assert analyze_incremental(spark, tdir)["mode"] == "incremental"
    grown = _sidecar(tdir, 1)["columns"]["v"]
    h1 = grown["hist"]
    assert h1["edges"] == h0["edges"] and h1["counts"] == h0["counts"]
    assert (h1["below"], h1["above"]) == (1, 1)
    assert _stat_from_json(grown["min"]) == -7.0
    assert _stat_from_json(grown["max"]) == 500.0
    # a column never analyzed carries no histogram
    assert "id" not in _sidecar(tdir, 1)["columns"]


def test_histogram_bounds_contain_true_count(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _orders(spark)
    commit_version(df.repartition(2), tdir, stats_cols=["o_orderkey"])
    analyze_version(spark, tdir, ["o_totalprice"], hist_buckets=16)
    vals = sorted(
        r[0] for r in df.select("o_totalprice").collect() if r[0] is not None
    )
    lo_all, hi_all = vals[0], vals[-1]
    rng = random.Random(13)
    cases = [(None, None), (None, lo_all - 1), (hi_all + 1, None)]
    for _ in range(40):
        a = rng.uniform(lo_all - 5, hi_all + 5)
        b = rng.uniform(lo_all - 5, hi_all + 5)
        lo, hi = min(a, b), max(a, b)
        cases.append((lo, hi))
        cases.append((None, hi))
        cases.append((lo, None))
    for lo, hi in cases:
        bounds = histogram_bounds(tdir, "o_totalprice", lo, hi)
        assert bounds is not None
        true = sum(
            1
            for v in vals
            if (lo is None or v >= lo) and (hi is None or v <= hi)
        )
        assert bounds[0] <= true <= bounds[1], (lo, hi, bounds, true)
    # unbounded predicate: both bounds collapse to the exact row count
    assert histogram_bounds(tdir, "o_totalprice") == (len(vals), len(vals))


def test_bounds_proof_dies_with_the_version(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _orders(spark)
    commit_version(df.repartition(2), tdir, stats_cols=["o_orderkey"])
    analyze_version(spark, tdir, ["o_totalprice"], hist_buckets=8)
    assert histogram_bounds(tdir, "o_totalprice", 0.0, 1e9) is not None
    commit_version(
        df.limit(5), tdir, mode="append", stats_cols=["o_orderkey"]
    )
    # newest version has no sidecar → no proof (a later commit could
    # have added matching rows); the analyzed version still proves
    assert histogram_bounds(tdir, "o_totalprice", 0.0, 1e9) is None
    assert histogram_bounds(tdir, "o_totalprice", 0.0, 1e9, version=0) is not None
    # never-analyzed column and 0-bucket opt-out also refuse
    assert histogram_bounds(tdir, "o_custkey", 0, 10, version=0) is None


def test_nan_rows_poison_bounds_not_counts(spark, tmp_path):
    tdir = str(tmp_path / "t")
    clean = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    commit_version(clean.repartition(2), tdir, stats_cols=["id"])
    analyze_version(spark, tdir, ["v"], hist_buckets=4)
    b0 = histogram_bounds(tdir, "v", None, None)
    assert b0 == (100, 100)
    commit_version(
        spark.createDataFrame([(100, float("nan"))], "id long, v double"),
        tdir,
        mode="append",
        stats_cols=["id"],
    )
    merged = analyze_incremental(spark, tdir)
    assert merged["mode"] == "incremental"
    h = merged["columns"]["v"]["hist"]
    assert h["nan"] == 1
    assert sum(h["counts"]) + h["below"] + h["above"] == 100
    # NaN present → bounds refuse (Spark orders NaN greatest; an
    # unbounded-above predicate would otherwise under-count)
    assert histogram_bounds(tdir, "v", None, None) is None


def test_histogram_refinement_flips_broadcast(spark, tmp_path):
    ddir = str(tmp_path / "dim")
    # every file carries the full value range [0, 99] → file envelopes
    # prune NOTHING; only the histogram can prove the predicate small
    dim = spark.createDataFrame(
        [(i, i % 100, f"d{i}") for i in range(10_000)],
        "k long, v long, payload string",
    )
    commit_version(
        dim.repartition(4), ddir, stats_cols=["k", "v"]
    )
    analyze_version(spark, ddir, ["v"], hist_buckets=32)
    bound = filtered_size_bound(ddir, {"v": (0, 0)})
    assert bound["rows_ub_source"] == "histogram"
    assert bound["files"] == bound["files_total"]  # envelopes pruned 0
    # 32 buckets over [0,99]: the straddling first bucket holds v∈{0..3}
    assert 100 <= bound["rows_ub"] <= 400 < 10_000
    fact = spark.createDataFrame(
        [(i % 100, i) for i in range(1_000)], "v long, fid long"
    )
    joined, decision = plan_join_with_stats(
        spark,
        fact,
        ddir,
        on="v",
        dim_predicates={"v": (0, 0)},
        broadcast_threshold_rows=1_000,
    )
    assert decision["strategy"] == "broadcast"
    assert decision["dim_rows"] == bound["rows_ub"]
    assert "BroadcastHashJoin" in physical_plan(joined)
    assert joined.count() == 10 * 100  # 10 fact rows × 100 dim rows at v=0
    # same predicate WITHOUT the histogram proof (stale sidecar after
    # an append): file bound says 10k rows → shuffle plan
    commit_version(
        dim.limit(7), ddir, mode="append", stats_cols=["k", "v"]
    )
    bound2 = filtered_size_bound(ddir, {"v": (0, 0)})
    assert bound2["rows_ub_source"] == "files"
    _, decision2 = plan_join_with_stats(
        spark,
        fact,
        ddir,
        on="v",
        dim_predicates={"v": (0, 0)},
        broadcast_threshold_rows=1_000,
    )
    assert decision2["strategy"] == "merge"


def test_star_ordering_consumes_histogram_bound(spark, tmp_path):
    """plan_star_join sizes predicated dims through filtered_size_bound,
    which now refines with the histogram — a big dim under an
    envelope-unprunable but histogram-proven-tiny predicate must order
    (and broadcast) as the small side it provably is."""
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        plan_star_join,
    )

    big = str(tmp_path / "big")
    small = str(tmp_path / "small")
    # big dim: 10k rows, every file spans v∈[0,99] → envelopes prune 0
    commit_version(
        spark.createDataFrame(
            [(i, i % 100, f"p{i}") for i in range(10_000)],
            "bk long, v long, b_attr string",
        ).repartition(4),
        big,
        stats_cols=["bk", "v"],
    )
    analyze_version(spark, big, ["v"], hist_buckets=32)
    commit_version(
        spark.createDataFrame(
            [(i, f"s{i}") for i in range(500)], "sk long, s_attr string"
        ).coalesce(1),
        small,
        stats_cols=["sk"],
    )
    fact = spark.createDataFrame(
        [(i % 100, i % 500, i) for i in range(2_000)],
        "v long, sk long, fid long",
    )
    dims = [(big, "v"), (small, "sk")]
    pred = [{"v": (0, 0)}, None]
    joined, dec = plan_star_join(
        spark, fact, dims, broadcast_threshold_rows=1_000,
        dim_predicates=pred,
    )
    strategies = [d["strategy"] for d in dec["dims"]]
    assert strategies == ["broadcast", "broadcast"]
    # histogram bound (≤400) < small dim (500) → big-filtered FIRST
    assert dec["order"] == [0, 1]
    assert joined.count() == 20 * 100  # 20 fact rows at v=0, 100 dim rows
    # without the predicate the same star demotes the big dim to merge
    _, dec2 = plan_star_join(
        spark, fact, dims, broadcast_threshold_rows=1_000
    )
    assert [d["strategy"] for d in dec2["dims"]] == ["broadcast", "merge"]


def test_numeric_bound_rejects_nan_and_bool():
    """ADVICE r15: a NaN (or bool) predicate bound must SKIP histogram
    refinement — NaN comparisons would yield an arbitrary refinement
    instead of the tolerance contract's keep-files-whole skip."""
    from polygon_daily_market_data_pipeline_spark.operators.cbo import (
        _numeric_bound,
    )

    assert _numeric_bound(None) is True
    assert _numeric_bound(1) is True
    assert _numeric_bound(1.5) is True
    assert _numeric_bound(float("nan")) is False
    assert _numeric_bound(True) is False
    assert _numeric_bound(False) is False
    assert _numeric_bound("9") is False
    # the Decimal/overflow edge branches (ADVICE r16 #5): Decimal NaN
    # skips refinement; an int too large for float exercises the
    # OverflowError branch (skip, keep files whole). A huge Decimal is
    # NOT that branch: float(Decimal('1e400')) is inf, and an inf bound
    # is sound in the histogram-bounds comparisons (selects the
    # everything/nothing side exactly) — pinned so a future "fix" that
    # starts raising there shows up as a test diff.
    from decimal import Decimal

    assert _numeric_bound(Decimal("2.5")) is True
    assert _numeric_bound(Decimal("NaN")) is False
    assert _numeric_bound(10**400) is False
    assert _numeric_bound(Decimal("1e400")) is True
