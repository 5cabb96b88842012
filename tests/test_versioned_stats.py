"""ANALYZE / DESCRIBE STATISTICS (operators/versioned.py round 11 —
VERDICT r10 #8): the driver-graded ``stats_*`` audit rows pack the
surface into a digest, so the FULL 8-column statistics table is pinned
here against DuckDB recomputing every field from the same parquet —
plus the metadata-only contract (DESCRIBE after ANALYZE runs zero scan
jobs) and the estimator's exact-integer arithmetic.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    analyze_version,
    commit_version,
    describe_statistics,
    kmv_estimate,
)
from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
COLS = ["o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"]
K = 64


@pytest.fixture()
def stats_table(spark, tmp_path):
    tdir = str(tmp_path / "vt")
    ord_df = (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .select(*COLS)
    )
    mx = ord_df.agg(F.max("o_orderkey")).first()[0]
    commit_version(
        ord_df.where(F.col("o_orderkey") <= mx // 2).repartitionByRange(
            2, "o_orderkey"
        ),
        tdir,
        stats_cols=["o_orderkey"],
    )
    commit_version(
        ord_df.where(F.col("o_orderkey") > mx // 2).repartitionByRange(
            2, "o_orderkey"
        ),
        tdir,
        mode="append",
        stats_cols=["o_orderkey"],
    )
    return tdir


def test_describe_matches_duckdb_field_by_field(spark, stats_table):
    """Every column of the statistics table — row count, null count,
    the KMV sketch (capped distinct count + k-th smallest hash), the
    64-bit-prefix NDV estimate, and the min/max envelope — equals what
    DuckDB computes from the base parquet with the same md5/limit-k
    construction. o_orderkey's envelope travels through the MANIFEST
    per-file stats merge, the others through the ANALYZE sidecar; both
    paths must land on the data's true envelope."""
    analyze_version(spark, stats_table, COLS, k=K)
    got = {
        r["column"]: r
        for r in describe_statistics(spark, stats_table).collect()
    }
    assert sorted(got) == sorted(COLS)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW ord AS SELECT * FROM '{SF}/orders.parquet' "
        f"WHERE o_custkey % 4 = 1"
    )
    for c in COLS:
        h = (
            f"SELECT DISTINCT md5(CAST({c} AS VARCHAR)) AS h FROM ord "
            f"WHERE {c} IS NOT NULL ORDER BY h LIMIT {K}"
        )
        n_rows, n_nulls, ndv_k, kmv, mn, mx = con.sql(
            f"SELECT (SELECT COUNT(*) FROM ord),"
            f" (SELECT COUNT(*) FROM ord WHERE {c} IS NULL),"
            f" (SELECT COUNT(*) FROM ({h}) t),"
            f" (SELECT MAX(h) FROM ({h}) t),"
            f" (SELECT CAST(MIN({c}) AS VARCHAR) FROM ord),"
            f" (SELECT CAST(MAX({c}) AS VARCHAR) FROM ord)"
        ).fetchone()
        r = got[c]
        assert (r.n_rows, r.n_nulls, r.ndv_k, r.kmv) == (
            n_rows, n_nulls, ndv_k, kmv,
        ), c
        assert (r.min_val, r.max_val) == (mn, mx), c
        assert r.ndv_est == kmv_estimate(ndv_k, kmv, K), c
        # DuckDB reproduces the estimator's integer arithmetic exactly
        if ndv_k == K:
            est_sql = con.sql(
                f"SELECT CAST(CAST({K-1} AS HUGEINT)"
                f" * CAST(18446744073709551616 AS HUGEINT)"
                f" // CAST(('0x' || substr('{kmv}', 1, 16)) AS UBIGINT)"
                f" AS BIGINT)"
            ).fetchone()[0]
            assert r.ndv_est == est_sql, c


def test_describe_is_metadata_only_and_fast_count_backed(
    spark, stats_table
):
    """After ANALYZE, DESCRIBE runs no Spark scan of the table data:
    the row count comes from fast_count's manifest walk and the rest
    from the sidecar + manifest — asserted by tracking executed jobs
    via the status tracker (only the createDataFrame of the tiny
    result may appear, and it scans no table file)."""
    analyze_version(spark, stats_table, COLS, k=K)
    sc = spark.sparkContext
    before = sc.statusTracker().getJobIdsForGroup(None)
    df = describe_statistics(spark, stats_table)
    after = sc.statusTracker().getJobIdsForGroup(None)
    assert before == after  # building the frame scheduled no job
    rows = df.collect()
    assert len(rows) == len(COLS)
    expected = (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .count()
    )
    assert all(r.n_rows == expected for r in rows)


def test_describe_requires_analyze(spark, stats_table):
    with pytest.raises(FileNotFoundError, match="analyzed"):
        describe_statistics(spark, stats_table)


def test_reanalyze_does_not_move_the_table(spark, stats_table):
    """ANALYZE is metadata beside the log, not a commit: version count
    and data bytes are untouched, and re-running it just replaces the
    sidecar."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        _manifests,
    )

    versions = _manifests(stats_table)
    analyze_version(spark, stats_table, ["o_custkey"], k=8)
    analyze_version(spark, stats_table, ["o_custkey"], k=8)
    assert _manifests(stats_table) == versions
    assert os.path.exists(
        os.path.join(stats_table, "_stats", f"v{versions[-1]}.json")
    )


def test_kmv_estimate_low_cardinality_is_exact():
    assert kmv_estimate(3, "ab" * 16, 64) == 3
    assert kmv_estimate(0, None, 64) == 0
    # at the cap the estimator uses the 64-bit prefix exactly
    kmv = "0000000000000010" + "f" * 16  # prefix = 16
    assert kmv_estimate(64, kmv, 64) == (63 * 2**64) // 16


def test_analyze_counts_nulls_from_schema_evolution(spark, tmp_path):
    """n_nulls on a real NULL population: after a schema-evolved append
    adds o_flag, pre-evolution files surface it as NULL — ANALYZE must
    count exactly those rows, the KMV sketch must ignore them, and the
    envelope must come from the non-NULL values."""
    from pyspark.sql import functions as F

    tdir = str(tmp_path / "evo")
    ord_df = (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .select("o_orderkey", "o_totalprice")
    )
    mx = ord_df.agg(F.max("o_orderkey")).first()[0]
    pre = ord_df.where(F.col("o_orderkey") <= mx // 2)
    post = ord_df.where(F.col("o_orderkey") > mx // 2).withColumn(
        "o_flag", (F.col("o_orderkey") % 7).cast("long")
    )
    commit_version(pre.coalesce(2), tdir)
    commit_version(
        post.coalesce(2), tdir, mode="append", schema_evolution=True
    )
    analyze_version(spark, tdir, ["o_flag"], k=K)
    row = describe_statistics(spark, tdir).collect()[0]
    n_pre, n_post = pre.count(), post.count()
    assert row.n_rows == n_pre + n_post
    assert row.n_nulls == n_pre  # exactly the pre-evolution rows
    n_distinct = post.select("o_flag").distinct().count()  # 7 residues
    assert row.ndv_k == min(K, n_distinct) == row.ndv_est == n_distinct
    flags = [r.o_flag for r in post.select("o_flag").collect()]
    assert (row.min_val, row.max_val) == (str(min(flags)), str(max(flags)))


def test_incremental_analyze_equals_full_rescan(spark, tmp_path):
    """The exactness law: after appends, analyze_incremental (scans
    ONLY the delta dirs) must produce a sidecar value-identical to a
    full re-analysis — null counts, typed envelopes, and the merged
    KMV sets, column by column. The delta deliberately moves the
    extrema (key-shifted append) and adds new distinct values."""
    import json

    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_incremental,
    )

    tdir = str(tmp_path / "vt")
    ord_df = (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    )
    mx = ord_df.agg(F.max("o_orderkey")).first()[0]
    commit_version(
        ord_df.where(F.col("o_orderkey") <= mx // 2).coalesce(2),
        tdir,
        stats_cols=["o_orderkey"],
    )
    analyze_version(
        spark, tdir, ["o_orderkey", "o_custkey", "o_orderpriority"], k=16
    )
    # two appends: the second shifts keys past the max (new extrema +
    # new distinct hashes)
    commit_version(
        ord_df.where(F.col("o_orderkey") > mx // 2).coalesce(2),
        tdir,
        mode="append",
    )
    commit_version(
        ord_df.where(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10 * mx))
        .coalesce(1),
        tdir,
        mode="append",
    )
    inc = analyze_incremental(spark, tdir)
    assert inc["mode"] == "incremental"
    inc_rows = sorted(
        tuple(r) for r in describe_statistics(spark, tdir).collect()
    )
    # full rescan into a fresh sidecar must land on identical bytes
    full = analyze_version(
        spark, tdir, ["o_orderkey", "o_custkey", "o_orderpriority"], k=16
    )
    full_rows = sorted(
        tuple(r) for r in describe_statistics(spark, tdir).collect()
    )
    assert inc_rows == full_rows
    inc.pop("mode")
    assert json.dumps(inc, sort_keys=True) == json.dumps(
        full, sort_keys=True
    )


def test_incremental_analyze_fallbacks(spark, tmp_path):
    """Cannot-prove re-scans, never returns a wrong statistic: a
    deletion vector in the window or a non-append commit falls back to
    a full re-analysis (mode='full', values still exact); an
    already-current sidecar is a no-op read (mode='current'); a
    window with no new dirs carries the sidecar forward."""
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_incremental,
        delete_version_vectors,
        rollback,
    )

    tdir = str(tmp_path / "vt")
    ord_df = (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .select("o_orderkey", "o_totalprice")
    )
    commit_version(ord_df.coalesce(2), tdir)
    analyze_version(spark, tdir, ["o_orderkey"], k=8)
    assert analyze_incremental(spark, tdir)["mode"] == "current"
    # dv delete: new vectors hide rows the sidecar counted -> full
    delete_version_vectors(spark, tdir, F.col("o_orderkey") % 10 == 0)
    res = analyze_incremental(spark, tdir)
    assert res["mode"] == "full"
    row = describe_statistics(spark, tdir).collect()[0]
    expected = ord_df.where(F.col("o_orderkey") % 10 != 0).count()
    assert row.n_rows == expected
    # rollback (non-append) -> full
    rollback(tdir, to_version=0)
    res = analyze_incremental(spark, tdir)
    assert res["mode"] == "full"
    assert describe_statistics(spark, tdir).collect()[0].n_rows == (
        ord_df.count()
    )


# --- round 12: ADVICE r11 hardening ---------------------------------------


def test_kmv_estimate_zero_prefix_guard():
    """An all-zero 64-bit md5 prefix (2^-64 event) degrades to a huge
    estimate instead of ZeroDivisionError — and the DuckDB twin's
    GREATEST guard lands on the same integer."""
    import duckdb as _d

    kmv = "0" * 32
    assert kmv_estimate(64, kmv, 64) == 63 * 2**64
    # the twin's HUGEINT division under the same guard lands on the
    # same integer (the outer BIGINT cast is irrelevant here: a real
    # sketch's prefix is never zero, this pins only the guard parity)
    est_sql = _d.sql(
        "SELECT CAST(63 AS HUGEINT)"
        " * CAST(18446744073709551616 AS HUGEINT)"
        f" // GREATEST(CAST(('0x' || substr('{kmv}', 1, 16)) AS UBIGINT), 1)"
    ).fetchone()[0]
    assert int(est_sql) == kmv_estimate(64, kmv, 64)


def test_column_stats_empty_cols_returns_empty(spark, stats_table):
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        _column_stats,
        read_version,
    )

    df = read_version(spark, stats_table)
    assert _column_stats(spark, df, [], 8) == {}


def test_incremental_analyze_no_prior_sidecar_raises(spark, stats_table):
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_incremental,
    )

    with pytest.raises(FileNotFoundError, match="analyze_version"):
        analyze_incremental(spark, stats_table)


def test_incremental_fallback_survives_rename(spark, tmp_path):
    """A rename between the analyzed version and the latest breaks the
    append-only proof (colmap changed) — the fallback must complete a
    clean full re-analysis under the CURRENT name instead of raising
    AnalysisException on the stale one (ADVICE r11)."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_incremental,
        rename_column,
    )

    tdir = str(tmp_path / "vt")
    ord_df = (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .select("o_orderkey", "o_totalprice")
    )
    mx = ord_df.agg(F.max("o_orderkey")).first()[0]
    commit_version(ord_df.where(F.col("o_orderkey") <= mx // 2).coalesce(2), tdir)
    analyze_version(spark, tdir, ["o_orderkey"], k=8)
    rename_column(tdir, "o_orderkey", "okey")
    commit_version(
        ord_df.where(F.col("o_orderkey") > mx // 2)
        .withColumnRenamed("o_orderkey", "okey")
        .coalesce(1),
        tdir,
        mode="append",
    )
    res = analyze_incremental(spark, tdir)
    assert res["mode"] == "full"
    assert list(res["columns"]) == ["okey"]
    row = describe_statistics(spark, tdir).collect()[0]
    assert row.column == "okey"
    assert row.n_rows == ord_df.count()
    mn, mx2 = ord_df.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert (row.min_val, row.max_val) == (str(mn), str(mx2))


def test_incremental_transient_window_mutation_falls_back(spark, tmp_path):
    """Exactness must be proven on EVERY manifest in the window, not
    just the endpoints (ADVICE r11): an intermediate append-mode commit
    that carried a dv which a later commit reverted would pass an
    endpoint-only check — simulate one by tagging the middle manifest
    with a dv entry and assert the proof fails (mode='full')."""
    import json as _json

    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        _manifests,
        analyze_incremental,
    )

    tdir = str(tmp_path / "vt")
    ord_df = (
        load_table(spark, SF, "orders")
        .where(F.col("o_custkey") % 4 == 1)
        .select("o_orderkey", "o_totalprice")
    )
    mx = ord_df.agg(F.max("o_orderkey")).first()[0]
    third = mx // 3
    commit_version(ord_df.where(F.col("o_orderkey") <= third).coalesce(1), tdir)
    analyze_version(spark, tdir, ["o_orderkey"], k=8)
    commit_version(
        ord_df.where(
            (F.col("o_orderkey") > third) & (F.col("o_orderkey") <= 2 * third)
        ).coalesce(1),
        tdir,
        mode="append",
    )
    commit_version(
        ord_df.where(F.col("o_orderkey") > 2 * third).coalesce(1),
        tdir,
        mode="append",
    )
    mid = _manifests(tdir)[1]
    mpath = os.path.join(tdir, "_versions", f"{mid}.json")
    with open(mpath) as f:
        m = _json.load(f)
    m["dv"] = {"_data/fake.parquet": "_dv/fake"}  # transient, reverted later
    with open(mpath, "w") as f:
        _json.dump(m, f)
    res = analyze_incremental(spark, tdir)
    assert res["mode"] == "full"  # endpoint-only checks would say 'incremental'
    assert describe_statistics(spark, tdir).collect()[0].n_rows == ord_df.count()


def test_truncated_string_envelope_yields_to_sidecar(spark, tmp_path):
    """A >64-char string column's manifest envelope is a truncated
    BOUND (hi is prefix-incremented) — describe_statistics must surface
    the ANALYZE sidecar's exact extrema, never a bound value no row has
    (ADVICE r11). The flag rides the manifest entry; pruning readers
    (positional rng[0]/rng[1]) are unaffected."""
    long_pad = "x" * 100
    df = spark.createDataFrame(
        [(i, f"{long_pad}{chr(97 + i % 5)}tail") for i in range(50)],
        "id long, s string",
    )
    tdir = str(tmp_path / "vt")
    commit_version(df.coalesce(2), tdir, stats_cols=["s"])
    analyze_version(spark, tdir, ["s"], k=8)
    row = describe_statistics(spark, tdir).collect()[0]
    truth = df.agg(F.min("s"), F.max("s")).first()
    assert (row.min_val, row.max_val) == (str(truth[0]), str(truth[1]))
    # and the manifest entry is flagged, so the fallback was flag-driven
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        _load_manifest,
        _manifests,
    )

    man = _load_manifest(tdir, _manifests(tdir)[-1])
    envs = [
        (ent.get("stats") or {}).get("s")
        for ent in (man.get("files") or {}).values()
    ]
    assert envs and all(e is not None and len(e) > 2 and e[2] for e in envs)


def test_sidecar_integer_sums_merge_through_incremental_analyze(spark, tmp_path):
    """ANALYZE records exact integer SUMs that merge ADDITIVELY through
    analyze_incremental: per stratum table, a base commit is analyzed,
    a later append is folded in incrementally, and the described sum
    equals a scan of the data."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_incremental,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    langs = [r[0] for r in docs.select("lang").distinct().collect()]
    for lang in langs:
        tdir = str(tmp_path / f"corpus_{lang}")
        part = docs.where(F.col("lang") == lang).select("doc_id", "n_chars")
        commit_version(part.where(F.col("doc_id") % 2 == 0).coalesce(1), tdir)
        analyze_version(spark, tdir, ["n_chars"], k=16)
        commit_version(
            part.where(F.col("doc_id") % 2 == 1).coalesce(1),
            tdir,
            mode="append",
        )
        res = analyze_incremental(spark, tdir)
        assert res["mode"] == "incremental"
        row = describe_statistics(spark, tdir).collect()[0]
        assert row.sum_val == part.agg(F.sum("n_chars")).first()[0]


def test_sidecar_sum_survives_all_null_and_empty_appends(spark, tmp_path):
    """SQL SUM ignores NULLs: an append whose rows are all-NULL on the
    summed column (or adds no rows at all) must merge as the identity,
    not poison the exact sum to None (round-12 review finding)."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        analyze_incremental,
    )

    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "id long, w long")
    tdir = str(tmp_path / "vt")
    commit_version(df.coalesce(1), tdir)
    analyze_version(spark, tdir, ["w"], k=8)
    truth = sum(i * 10 for i in range(20))
    assert describe_statistics(spark, tdir).collect()[0].sum_val == truth
    # all-NULL append on w
    nulls = spark.createDataFrame(
        [(100 + i, None) for i in range(5)], "id long, w long"
    )
    commit_version(nulls.coalesce(1), tdir, mode="append")
    res = analyze_incremental(spark, tdir)
    assert res["mode"] == "incremental"
    row = describe_statistics(spark, tdir).collect()[0]
    assert row.sum_val == truth  # identity merge, not None
    assert row.n_nulls == 5
    # and the sidecar equals a full rescan (the standing law)
    full = analyze_version(spark, tdir, ["w"], k=8)
    assert full["columns"]["w"]["sum"] == truth


def test_fast_aggregate_tolerates_empty_files(spark, tmp_path):
    """A 0-row file (streaming sinks produce them) is trivially
    provable — it must not poison the whole table to None."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        fast_aggregate,
    )

    df = spark.createDataFrame([(i, i * 2) for i in range(10)], "a long, b long")
    tdir = str(tmp_path / "vt")
    commit_version(df.coalesce(1), tdir, stats_cols=["a", "b"])
    commit_version(
        df.where("a < 0").coalesce(1), tdir, mode="append",
        stats_cols=["a", "b"],
    )  # an EMPTY append: one 0-row parquet file
    agg = fast_aggregate(tdir, "b", predicate=("a", None, 9))
    assert (agg["count"], agg["min"], agg["max"]) == (10, 0, 18)


def test_footer_stats_driver_and_fanout_paths_identical(spark, tmp_path, monkeypatch):
    """Round 14 split _collect_file_stats into a driver-side loop
    (< _FOOTER_FANOUT_MIN_FILES files — each footer a ~ms metadata
    read) and the mapInPandas fan-out (wide commits). Both paths share
    _footer_record, and this pins the load-bearing claim: byte-
    identical manifest entries — rows, encoded envelopes (incl. string
    truncation flags), null counts — whichever path ran."""
    from pyspark.sql import functions as F

    from polygon_daily_market_data_pipeline_spark.operators import versioned as V

    df = (
        spark.range(200)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
            F.when(F.col("id") % 7 == 0, None)
            .otherwise(F.col("id") * 2)
            .alias("n"),
        )
        .repartition(6)
    )
    data_dir = str(tmp_path / "t")
    df.write.parquet(data_dir)
    cols = ["k", "s", "n"]
    monkeypatch.setattr(V, "_FOOTER_FANOUT_MIN_FILES", 10**9)
    via_driver = V._collect_file_stats(spark, str(tmp_path), data_dir, cols)
    monkeypatch.setattr(V, "_FOOTER_FANOUT_MIN_FILES", 0)
    via_fanout = V._collect_file_stats(spark, str(tmp_path), data_dir, cols)
    assert via_driver == via_fanout
    assert len(via_driver) >= 6  # every file present
    # and the entries are substantive (rows + envelopes + nulls)
    ent = next(iter(via_driver.values()))
    assert ent["rows"] > 0 and ent["stats"]["k"] is not None
    assert "nulls" in ent and ent["nulls"]["n"] > 0
