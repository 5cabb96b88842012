"""Every mutating operation on a versioned table carries the TABLE keys
of the manifest — schema, checks, generated, colmap, retired_cols and
max_batch — from the version it builds on, except the keys the
operation is documented to redefine."""

from __future__ import annotations

from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators import versioned as V

TABLE_KEYS = ("schema", "checks", "generated", "colmap", "retired_cols", "max_batch")


def _latest(t):
    return V._load_manifest(t, V._manifests(t)[-1])


def _frame(spark, lo, hi, d):
    return spark.range(lo, hi, 1, 1).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.lit("x").alias("tag"),
        F.lit(d).alias("d"),
    )


def test_every_operation_carries_the_table_keys(spark, tmp_path):
    t = str(tmp_path / "t")
    V.commit_version(
        _frame(spark, 0, 20, "a"), t, stats_cols=["k"],
        checks={"k_nonneg": "k >= 0"}, generated_cols={"k2": "k * 2"},
        partition_values={"d": "a"},
    )
    V.commit_version(
        _frame(spark, 20, 40, "b"), t, mode="append", stats_cols=["k"],
        batch_id=0, partition_values={"d": "b"},
    )
    V.rename_column(t, "v", "price")
    V.drop_column(t, "tag")
    start = _latest(t)
    assert all(k in start for k in TABLE_KEYS), start.keys()
    assert start["max_batch"] == 0  # a zero watermark is a value

    def step(op, redefines=()):
        before = _latest(t)
        op()
        after = _latest(t)
        assert after["version"] == before["version"] + 1, after["mode"]
        for k in TABLE_KEYS:
            if k not in redefines:
                assert after.get(k) == before.get(k), (after["mode"], k)
        return before, after

    def rows(pred):
        return V.read_version(spark, t).where(pred)

    def plus_ten(df):
        return df.withColumn("price", F.col("price") + 10)

    step(lambda: V.commit_version(
        _frame(spark, 40, 45, "c").drop("tag").withColumnRenamed("v", "price"),
        t, mode="append", partition_values={"d": "c"},
    ))
    _b, a = step(lambda: V.commit_version(
        _frame(spark, 45, 50, "c").drop("tag").withColumnRenamed("v", "price"),
        t, mode="append", batch_id=3,
    ), redefines={"max_batch"})
    assert a["max_batch"] == 3
    _b, a = step(lambda: V.add_check(spark, t, "p_pos", "price >= 0"),
                 redefines={"checks"})
    assert "p_pos" in a["checks"]
    _b, a = step(lambda: V.drop_check(t, "p_pos"), redefines={"checks"})
    assert "p_pos" not in a["checks"]
    step(lambda: V.delete_version_where(
        spark, t, F.col("k") == 3, prune={"k": (0, 5)}, stats_cols=["k"]))
    step(lambda: V.update_version_where(
        spark, t, F.col("k") == 4, {"price": "price + 1"}, stats_cols=["k"]))
    step(lambda: V.delete_version_vectors(spark, t, F.col("k") == 25))
    step(lambda: V.delete_version_keys(
        spark, t, spark.createDataFrame([(26,)], "k long"), ["k"]))
    step(lambda: V.update_version_vectors(
        spark, t, F.col("k") == 27, {"price": "price + 1"}, stats_cols=["k"]))
    step(lambda: V.merge_version(
        spark, t, plus_ten(rows("k in (1, 2)")), ["k"], stats_cols=["k"]))
    step(lambda: V.merge_version(
        spark, t, plus_ten(rows("k in (5, 6)")), ["k"], stats_cols=["k"],
        strategy="merge_on_read"))
    step(lambda: V.materialize_dv(spark, t, stats_cols=["k"]))
    step(lambda: V.optimize_compact(spark, t, stats_cols=["k"]))
    step(lambda: V.drop_partitions(t, {"d": "c"}))
    mark = _latest(t)
    _b, a = step(lambda: V.rename_column(t, "price", "px"),
                 redefines={"schema", "colmap"})
    assert a["colmap"]["px"][0] == "price"
    _b, a = step(lambda: V.drop_column(t, "d"),
                 redefines={"schema", "retired_cols"})
    assert "d" in a["retired_cols"]
    # rollback restores the TARGET version's table keys
    _b, a = step(lambda: V.rollback(t, mark["version"]), redefines=TABLE_KEYS)
    assert {k: a.get(k) for k in TABLE_KEYS} == {
        k: mark.get(k) for k in TABLE_KEYS
    }
    # a full relayout stores every column under its current name
    _b, a = step(lambda: V.optimize_zorder(spark, t, ["k"], 1),
                 redefines={"colmap", "retired_cols"})
    assert "colmap" not in a and "retired_cols" not in a
    # a clone is a new table for its own writers: no watermark
    src = _latest(t)
    c = str(tmp_path / "c")
    V.clone_table(t, c)
    clone = _latest(c)
    assert {k: clone.get(k) for k in TABLE_KEYS} == {
        **{k: src.get(k) for k in TABLE_KEYS}, "max_batch": None
    }
    V.drop_clone(t, c)
    # publish takes the branch's table keys and the higher watermark
    b = V.create_branch(t, "b1")
    V.commit_version(
        rows("k < 3").withColumn("k", F.col("k") + 500)
        .withColumn("k2", F.col("k") * 2),
        b, mode="append", batch_id=9,
    )
    V.add_check(spark, b, "price_pos", "price >= 0")
    branch = _latest(b)
    _b, a = step(lambda: V.publish_branch(t, "b1"), redefines=TABLE_KEYS)
    assert {k: a.get(k) for k in TABLE_KEYS} == {
        k: branch.get(k) for k in TABLE_KEYS
    }
    assert a["max_batch"] == 9
    # an overwrite redefines the table: nothing carries
    _b, a = step(lambda: V.commit_version(_frame(spark, 0, 3, "z"), t),
                 redefines=TABLE_KEYS)
    assert [k for k in TABLE_KEYS if k in a] == ["schema"]
