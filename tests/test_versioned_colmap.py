"""Column mapping: metadata-only RENAME / DROP COLUMN on versioned
tables (the Delta column-mapping posture, name-based).

Design under test (``operators/versioned.py`` ``rename_column`` /
``drop_column``): files are NEVER rewritten on rename — each keeps the
column under the name it had when the file was written, the manifest
records ``colmap`` {current: [prior storage names]}, and every read
path coalesces the priors into the current name
(``_extended_read_schema`` + ``_map_to_logical``). Rewrites
(copy-on-write, compaction, materialize, zorder) migrate files to
current names as a side effect. Stats/bloom consults fall back through
prior names, so data skipping keeps pruning on renamed columns.
Refusals keep the mapping sound: CHECK-referenced columns cannot be
renamed/dropped, retired storage names cannot be reused (live files
still store bytes under them — by-name parquet resolution would
resurrect them), and the change feed refuses to cross a rename/drop
(not append-shaped).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    commit_version,
    delete_version_keys,
    delete_version_vectors,
    drop_column,
    fast_count,
    history,
    merge_version,
    optimize_compact,
    read_version,
    rename_column,
    rollback,
    scan_version_with_stats,
    update_version_vectors,
    vacuum,
)


def _df(spark, lo=0, n=8, tag="x"):
    return spark.range(lo, lo + n).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 10.0).alias("v"),
        F.lit(tag).alias("tag"),
    )


def _bytes(table_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(os.path.join(table_dir, "_data")):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith(".")
        )
    return total


def test_rename_is_metadata_only_and_time_travels(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark).repartitionByRange(2, "k"), t, stats_cols=["k"])
    before = _bytes(t)
    v = rename_column(t, "v", "price")
    assert _bytes(t) == before  # zero data churn
    cur = read_version(spark, t)
    assert cur.columns == ["k", "price", "tag"]
    assert sorted((r.k, r.price) for r in cur.collect()) == [
        (i, i * 10.0) for i in range(8)
    ]
    # each version keeps its own contract
    old = read_version(spark, t, version=v - 1)
    assert old.columns == ["k", "v", "tag"]
    assert sorted(r.v for r in old.collect()) == [i * 10.0 for i in range(8)]


def test_chained_renames_and_mixed_file_eras(spark, tmp_path):
    """a→b→c with appends between: three file eras store the column
    under three names; the read coalesces all of them."""
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 4), t, stats_cols=["k"])
    rename_column(t, "v", "b")
    commit_version(
        spark.range(4, 8).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 10.0).alias("b"),
            F.lit("x").alias("tag"),
        ),
        t, mode="append", stats_cols=["k"],
    )
    rename_column(t, "b", "c")
    commit_version(
        spark.range(8, 12).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 10.0).alias("c"),
            F.lit("x").alias("tag"),
        ),
        t, mode="append", stats_cols=["k"],
    )
    got = sorted((r.k, r.c) for r in read_version(spark, t).collect())
    assert got == [(i, i * 10.0) for i in range(12)]
    assert fast_count(t) == 12


def test_skipping_prunes_on_renamed_column_stats(spark, tmp_path):
    """File stats were collected under the old name; the prune falls
    back through prior names — scheduling must not regress to
    all-files after a rename."""
    t = str(tmp_path / "vt")
    commit_version(
        _df(spark, 0, 100).repartitionByRange(4, "k"), t, stats_cols=["k"]
    )
    rename_column(t, "k", "key_id")
    df, st = scan_version_with_stats(spark, t, {"key_id": (0, 10)})
    assert st.files_scheduled < st.files_total
    assert df.count() == 11


def test_row_level_ops_span_renames(spark, tmp_path):
    """DV delete, equality delete, MoR update, and MoR merge all keyed
    by the CURRENT name over files stored under the OLD name."""
    t = str(tmp_path / "vt")
    commit_version(_df(spark).repartitionByRange(2, "k"), t, stats_cols=["k"])
    rename_column(t, "v", "price")
    delete_version_vectors(spark, t, F.col("price") < 20.0)
    keys = spark.range(2, 4).select(F.col("id").cast("long").alias("k"))
    delete_version_keys(spark, t, keys, ["k"])
    rename_column(t, "k", "kid")  # rename AFTER the eqdel too
    update_version_vectors(spark, t, F.col("kid") == 4, {"price": F.lit(-1.0)})
    src = spark.range(5, 7).select(
        F.col("id").cast("long").alias("kid"),
        F.lit(-2.0).alias("price"),
        F.lit("m").alias("tag"),
    )
    merge_version(spark, t, src, keys=["kid"], strategy="merge_on_read")
    got = {r.kid: r.price for r in read_version(spark, t).collect()}
    assert got == {4: -1.0, 5: -2.0, 6: -2.0, 7: 70.0}


def test_rewrites_migrate_files_to_current_names(spark, tmp_path):
    """Compaction reads logical and writes logical — after it, a fresh
    parquet footer read of the new files shows the CURRENT name."""
    import pyarrow.parquet as pq

    from polygon_daily_market_data_pipeline_spark.operators.layout import (
        list_parquet_files,
    )

    t = str(tmp_path / "vt")
    commit_version(_df(spark), t, stats_cols=["k"])
    rename_column(t, "v", "price")
    v = optimize_compact(spark, t, target_bytes=1 << 20)
    assert v == 2
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        _load_manifest,
    )

    m = _load_manifest(t, v)
    for d in m["dirs"]:
        for f in list_parquet_files(os.path.join(t, d)):
            names = pq.read_schema(f).names
            assert "price" in names and "v" not in names
    got = sorted((r.k, r.price) for r in read_version(spark, t).collect())
    assert got == [(i, i * 10.0) for i in range(8)]


def test_drop_column_metadata_only_and_reuse_refused(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark), t, stats_cols=["k"])
    before = _bytes(t)
    drop_column(t, "tag")
    assert _bytes(t) == before
    assert read_version(spark, t).columns == ["k", "v"]
    # pre-drop versions still see it
    assert "tag" in read_version(spark, t, version=0).columns
    # re-adding the name via evolution would resurrect old bytes: refuse
    readd = spark.range(8, 10).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 10.0).alias("v"),
        F.lit("NEW").alias("tag"),
    )
    with pytest.raises(ValueError, match="RETIRED"):
        commit_version(readd, t, mode="append", schema_evolution=True)
    # renaming another column onto the retired name: refused too
    with pytest.raises(ValueError, match="retired"):
        rename_column(t, "v", "tag")
    # last-column guard
    drop_column(t, "v")
    with pytest.raises(ValueError, match="last column"):
        drop_column(t, "k")


def test_checked_column_rename_and_drop_refused(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark), t, checks={"v_pos": "v >= 0"})
    with pytest.raises(ValueError, match="CHECK"):
        rename_column(t, "v", "price")
    with pytest.raises(ValueError, match="CHECK"):
        drop_column(t, "v")
    # unreferenced columns move freely, and the check still enforces
    rename_column(t, "tag", "label")
    bad = spark.range(1).select(
        F.col("id").cast("long").alias("k"),
        F.lit(-1.0).alias("v"),
        F.lit("x").alias("label"),
    )
    with pytest.raises(ValueError, match="v_pos"):
        commit_version(bad, t, mode="append")


def test_feed_and_rebase_refuse_crossing_renames(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        read_changes,
    )

    t = str(tmp_path / "vt")
    commit_version(_df(spark), t)
    rename_column(t, "v", "price")
    with pytest.raises(ValueError, match="rename_column"):
        read_changes(spark, t, 0).collect()


def test_rollback_and_clone_carry_the_mapping(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        clone_table,
        drop_clone,
    )

    t = str(tmp_path / "vt")
    commit_version(_df(spark), t, stats_cols=["k"])
    rename_column(t, "v", "price")
    commit_version(
        spark.range(8, 10).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 10.0).alias("price"),
            F.lit("y").alias("tag"),
        ),
        t, mode="append",
    )
    # clone shares the old-named files and must keep mapping them
    c = str(tmp_path / "clone")
    clone_table(t, c)
    assert sorted(r.price for r in read_version(spark, c).collect()) == [
        i * 10.0 for i in range(10)
    ]
    drop_clone(t, c)
    # rollback ACROSS the rename restores the pre-rename logical schema
    v = rollback(t, to_version=0)
    assert set(read_version(spark, t).columns) == {"k", "v", "tag"}
    assert read_version(spark, t).count() == 8
    # rollback FORWARD again (to the renamed version) restores colmap
    rollback(t, to_version=v - 1)
    got = read_version(spark, t)
    assert "price" in got.columns and got.count() == 10
    # vacuum keeps every referenced era readable
    vacuum(t, keep_last=1)
    assert read_version(spark, t).count() == 10


def test_read_version_and_stream_source_map_renamed_columns(spark, tmp_path):
    from polygon_daily_market_data_pipeline_spark.sources import (
        versioned_changes_source as vcs,
    )

    vcs.register(spark)
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 6), t, stats_cols=["k"])
    rename_column(t, "v", "price")
    delete_version_vectors(spark, t, F.col("price") < 20.0)
    keys = spark.range(2, 3).select(F.col("id").cast("long").alias("k"))
    delete_version_keys(spark, t, keys, ["k"])
    rename_column(t, "k", "kid")
    want = [(3, 30.0), (4, 40.0), (5, 50.0)]
    bdf = read_version(spark, t)
    assert sorted((r.kid, r.price) for r in bdf.collect()) == want
    rows = []
    q = (
        spark.readStream.format("versioned_changes")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(lambda b, i: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert sorted((r.kid, r.price) for r in rows) == want


def test_history_records_the_ops(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark), t)
    rename_column(t, "v", "price")
    drop_column(t, "tag")
    assert [h["mode"] for h in history(t)] == [
        "overwrite", "rename_column", "drop_column",
    ]


def test_rename_back_to_own_prior_name(spark, tmp_path):
    """Renaming a column BACK to its own prior name is allowed (the
    bytes under it are this same logical column); a rename onto ANOTHER
    column's retired name stays refused. Files written during the
    intermediate era keep reading via the mapping."""
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 4), t, stats_cols=["k"])
    rename_column(t, "v", "vx")
    commit_version(
        spark.range(4, 8).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 10.0).alias("vx"),
            F.lit("x").alias("tag"),
        ),
        t, mode="append", stats_cols=["k"],
    )
    rename_column(t, "vx", "v")  # back — files exist under BOTH names
    got = sorted((r.k, r.v) for r in read_version(spark, t).collect())
    assert got == [(i, i * 10.0) for i in range(8)]
    # "vx" is now retired (middle-era files store it): another column
    # cannot take it, but "v"'s own history could again
    with pytest.raises(ValueError, match="retired"):
        rename_column(t, "tag", "vx")
    rename_column(t, "v", "vx")
    got = sorted((r.k, r.vx) for r in read_version(spark, t).collect())
    assert got == [(i, i * 10.0) for i in range(8)]


def test_bloom_point_lookup_survives_rename(spark, tmp_path):
    """Sidecar blooms are keyed by the column's name at write time; a
    point lookup on the RENAMED name must still prune through the
    prior-name fallback (and stay exact)."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        commit_version as cv,
    )

    t = str(tmp_path / "vt")
    cv(
        _df(spark, 0, 200).repartition(8, "k"), t,
        stats_cols=["k"], bloom_cols=["k"],
    )
    rename_column(t, "k", "kid")
    df, st = scan_version_with_stats(spark, t, {}, eq={"kid": 137})
    assert st.files_scheduled < st.files_total
    got = [(r.kid, r.v) for r in df.collect()]
    assert got == [(137, 1370.0)]
