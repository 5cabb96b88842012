"""Named refs on the versioned table: branches, tags, and the
write-audit-publish workflow (operators/versioned.py create_branch /
publish_branch / create_tag — the Iceberg refs / Nessie posture).

Laws under test: a branch is a full versioned table sharing the
parent's files by reference — its commits are INVISIBLE to the parent
until publish; publish is a fast-forward (refused on divergence) that
adopts the branch's data directories by rename (zero bytes copied) and
retires the branch; row-level deletes made on the branch (deletion
vectors, equality deletes) keep resolving after publish on every read
path; schema/checks/stats/partition tags travel; a crashed publish is
resumable; tags pin versions against vacuum and never move.

Reference parity note: the reference warehouse stages via Snowflake
transient tables + Airflow task ordering; branches+WAP are the lake
equivalent (Iceberg's write.wap.enabled, Delta's CLONE-then-swap)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators import versioned as V
from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    add_check,
    branch_dir,
    commit_version,
    create_branch,
    create_tag,
    delete_version_keys,
    delete_version_vectors,
    drop_branch,
    drop_tag,
    fast_count,
    history,
    list_tags,
    publish_branch,
    read_version,
    resolve_tag,
    scan_version_with_stats,
    vacuum,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 1.0).alias("v"),
    )


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def _branches(table_dir):
    """Names of the table's branch dirs still on disk."""
    root = os.path.join(table_dir, V._BRANCHES_SUBDIR)
    return sorted(os.listdir(root)) if os.path.isdir(root) else []


def _publishing(table_dir, name):
    """Whether the branch carries a crashed publish's intent."""
    vdir = os.path.join(branch_dir(table_dir, name), "_versions")
    return os.path.exists(os.path.join(vdir, V._PUBLISH_INTENT))


def test_branch_isolated_until_publish(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 100), t, stats_cols=["k"])
    b = create_branch(t, "wap")
    assert b == branch_dir(t, "wap")
    commit_version(_df(spark, 100, 150), b, mode="append", stats_cols=["k"])
    # parent unchanged, branch sees both
    assert read_version(spark, t).count() == 100
    assert read_version(spark, b).count() == 150
    assert _branches(t) == ["wap"]
    v = publish_branch(t, "wap")
    assert v == 1
    assert _rows(read_version(spark, t)) == _rows(_df(spark, 0, 150))
    assert _branches(t) == []
    assert not os.path.isdir(b)
    # the adopted commit's stats prune on the parent (keys remapped)
    df, stats = scan_version_with_stats(spark, t, {"k": (120, 129)})
    assert stats.files_scheduled < stats.files_total
    assert df.count() == 10
    # vacuum is unblocked (marker dropped at publish) and sweeps nothing
    assert vacuum(t) == 0
    assert fast_count(t) == 150


def test_publish_refused_on_divergence_branch_intact(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 50), t)
    b = create_branch(t, "wap")
    commit_version(_df(spark, 50, 60), b, mode="append")
    commit_version(_df(spark, 900, 910), t, mode="append")  # parent moved
    with pytest.raises(RuntimeError, match="diverged"):
        publish_branch(t, "wap")
    # both sides intact; the failed-audit exit still works
    assert read_version(spark, b).count() == 60
    assert read_version(spark, t).count() == 60
    drop_branch(t, "wap")
    assert _branches(t) == []
    assert vacuum(t) == 0


def test_branch_dv_on_inherited_file_survives_publish(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 100).coalesce(2), t, stats_cols=["k"])
    b = create_branch(t, "fix")
    # merge-on-read delete of PARENT-owned rows, made on the branch
    delete_version_vectors(spark, b, F.col("k") % 10 == 0)
    assert read_version(spark, b).count() == 90
    assert read_version(spark, t).count() == 100  # parent still intact
    publish_branch(t, "fix")
    got = read_version(spark, t)
    assert got.count() == 90
    assert got.where(F.col("k") % 10 == 0).count() == 0
    assert fast_count(t) == 90


def test_branch_own_dir_dv_and_eqdel_adopted(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 40), t)
    b = create_branch(t, "wap")
    commit_version(_df(spark, 40, 80).coalesce(2), b, mode="append")
    # positional delete against the BRANCH-OWN directory
    delete_version_vectors(spark, b, (F.col("k") >= 40) & (F.col("k") < 45))
    # equality delete scoped at branch time (covers both dir kinds)
    delete_version_keys(
        spark, b, spark.createDataFrame([(70,), (7,)], "k long")
    )
    expect = [
        (k, k * 1.0) for k in range(80) if not (40 <= k < 45) and k not in (70, 7)
    ]
    assert _rows(read_version(spark, b)) == sorted(expect)
    publish_branch(t, "wap")
    assert _rows(read_version(spark, t)) == sorted(expect)
    # the adopted sidecars live under the PARENT now and vacuum keeps them
    assert os.path.isdir(os.path.join(t, "_dv"))
    assert os.path.isdir(os.path.join(t, "_eqdel"))
    vacuum(t)
    assert _rows(read_version(spark, t)) == sorted(expect)


def test_publish_empty_branch_is_noop_retire(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    create_branch(t, "idle")
    assert publish_branch(t, "idle") == 0  # fork version, no new commit
    assert len(history(t)) == 1
    assert _branches(t) == []


def test_branch_at_version_reads_history_but_cannot_publish(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    commit_version(_df(spark, 10, 20), t, mode="append")
    b = create_branch(t, "old", at_version=0)
    assert read_version(spark, b).count() == 10
    with pytest.raises(RuntimeError, match="diverged"):
        publish_branch(t, "old")  # fork point is not the parent's head
    drop_branch(t, "old")


def test_branch_blocks_parent_vacuum_until_dropped(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    create_branch(t, "wap")
    commit_version(_df(spark, 0, 5), t)  # overwrite: v0 dirs now old
    with pytest.raises(RuntimeError, match="clone"):
        vacuum(t)
    drop_branch(t, "wap")
    assert vacuum(t) >= 1


def test_checks_and_schema_evolution_travel_through_publish(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    b = create_branch(t, "wap")
    add_check(spark, b, "v_nonneg", "v >= 0")
    commit_version(
        _df(spark, 10, 20).withColumn("w", F.col("k") * 2),
        b,
        mode="append",
        schema_evolution=True,
    )
    publish_branch(t, "wap")
    got = read_version(spark, t)
    assert got.columns == ["k", "v", "w"]
    assert got.where(F.col("w").isNull()).count() == 10  # pre-evolution files
    with pytest.raises(ValueError, match="v_nonneg"):
        commit_version(
            spark.createDataFrame([(1, -1.0, 2)], "k long, v double, w long"),
            t,
            mode="append",
        )


def test_partition_tags_travel_through_publish(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t, partition_values={"day": "d1"})
    b = create_branch(t, "wap")
    commit_version(
        _df(spark, 10, 20), b, mode="append", partition_values={"day": "d2"}
    )
    publish_branch(t, "wap")
    assert read_version(spark, t, partitions={"day": "d2"}).count() == 10
    assert read_version(spark, t).count() == 20


def test_publish_crash_before_manifest_resumes(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    b = create_branch(t, "wap")
    commit_version(_df(spark, 10, 20), b, mode="append")
    orig = V._publish_manifest
    boom = {"armed": True}

    def crashing(table_dir, version, manifest):
        if boom["armed"]:
            boom["armed"] = False
            raise OSError("simulated crash before manifest publish")
        return orig(table_dir, version, manifest)

    monkeypatch.setattr(V, "_publish_manifest", crashing)
    with pytest.raises(OSError, match="simulated"):
        publish_branch(t, "wap")
    # mid-publish: renames done, manifest absent, branch marked
    assert _branches(t) == ["wap"] and _publishing(t, "wap")
    with pytest.raises(RuntimeError, match="mid-publish"):
        drop_branch(t, "wap")
    assert publish_branch(t, "wap") == 1  # resume completes
    assert read_version(spark, t).count() == 20
    assert _branches(t) == []


def test_publish_crash_before_retire_resumes(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    b = create_branch(t, "wap")
    commit_version(_df(spark, 10, 20), b, mode="append")
    orig = V.shutil.rmtree
    boom = {"armed": True}

    def crashing(path, *a, **kw):
        if boom["armed"] and os.path.abspath(path) == os.path.abspath(b):
            boom["armed"] = False
            raise OSError("simulated crash before retire")
        return orig(path, *a, **kw)

    monkeypatch.setattr(V.shutil, "rmtree", crashing)
    with pytest.raises(OSError, match="simulated"):
        publish_branch(t, "wap")
    assert len(history(t)) == 2  # the publish itself landed
    assert publish_branch(t, "wap") == 1  # completes retirement only
    assert len(history(t)) == 2
    assert read_version(spark, t).count() == 20
    assert _branches(t) == []


def test_publish_crash_mid_intent_write_retries(spark, tmp_path, monkeypatch):
    """A crash while the publish intent is being written leaves no torn
    intent behind: the intent is published whole or not at all, so a
    retried publish completes instead of dying on a half-written JSON."""
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    b = create_branch(t, "wap")
    commit_version(_df(spark, 10, 20), b, mode="append")
    orig = V.json.dump
    boom = {"armed": True}

    def torn(obj, fp, *a, **kw):
        if boom["armed"] and isinstance(obj, dict) and "target_version" in obj:
            boom["armed"] = False
            fp.write(V.json.dumps(obj)[:12])
            raise OSError("simulated crash mid intent write")
        return orig(obj, fp, *a, **kw)

    monkeypatch.setattr(V.json, "dump", torn)
    with pytest.raises(OSError, match="simulated"):
        publish_branch(t, "wap")
    assert publish_branch(t, "wap") == 1
    assert read_version(spark, t).count() == 20
    assert _branches(t) == []


def test_tag_pins_version_against_vacuum(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    assert create_tag(t, "audited") == 0
    commit_version(_df(spark, 0, 5), t)  # overwrite
    commit_version(_df(spark, 0, 3), t)  # overwrite again
    vacuum(t, keep_last=1)
    # the tagged version AND its files survived the sweep
    assert read_version(spark, t, tag="audited").count() == 10
    assert resolve_tag(t, "audited") == 0
    assert list_tags(t) == {"audited": 0}
    drop_tag(t, "audited")
    assert vacuum(t, keep_last=1) >= 1  # now reclaimable
    with pytest.raises(LookupError):
        resolve_tag(t, "audited")


def test_tags_immutable_and_validated(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    create_tag(t, "r1")
    with pytest.raises(FileExistsError, match="immutable"):
        create_tag(t, "r1")
    with pytest.raises(LookupError):
        create_tag(t, "r2", version=7)
    with pytest.raises(ValueError, match="exclusive"):
        read_version(spark, t, tag="r1", version=0)
    with pytest.raises(ValueError, match="ref name"):
        create_tag(t, "../escape")
    with pytest.raises(ValueError, match="ref name"):
        create_branch(t, "a/b")


def test_branch_name_reusable_after_lifecycle(spark, tmp_path):
    t = str(tmp_path / "vt")
    commit_version(_df(spark, 0, 10), t)
    create_branch(t, "wap")
    drop_branch(t, "wap")
    b = create_branch(t, "wap")
    commit_version(_df(spark, 10, 12), b, mode="append")
    publish_branch(t, "wap")
    b = create_branch(t, "wap")  # and again after a publish
    commit_version(_df(spark, 12, 14), b, mode="append")
    publish_branch(t, "wap")
    assert read_version(spark, t).count() == 14
