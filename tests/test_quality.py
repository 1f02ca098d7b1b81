from __future__ import annotations

import pytest

from data_engineering_capstone_project_spark.quality import (
    DataQualityError,
    check_observed,
    expect_no_nulls,
    expect_nonempty,
    expect_unique,
    null_counts,
    observe_quality,
)


def test_null_counts_single_pass(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (None, None)], "a int, b string"
    )
    assert null_counts(df, ["a", "b"]) == {"a": 1, "b": 2}


def test_expect_no_nulls(spark):
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    expect_no_nulls(df, ["a", "b"], table="t")
    bad = spark.createDataFrame([(1, None)], "a int, b string")
    with pytest.raises(DataQualityError, match="contains NULLs"):
        expect_no_nulls(bad, ["a", "b"], table="t")


def test_expect_nonempty(spark):
    df = spark.createDataFrame([(1,)], "a int")
    assert expect_nonempty(df, "t") == 1
    with pytest.raises(DataQualityError, match="empty"):
        expect_nonempty(df.filter("a > 1"), "t")


def test_expect_unique(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    expect_unique(df, ["k", "v"], table="t")
    with pytest.raises(DataQualityError, match="duplicate"):
        expect_unique(df, ["k"], table="t")


def test_expect_max_length(spark):
    from data_engineering_capstone_project_spark.quality import (
        DataQualityError,
        expect_max_length,
    )

    df = spark.createDataFrame(
        [("abc", "x"), ("de", None)], "a string, b string"
    )
    expect_max_length(df, {"a": 3, "b": 1}, table="t")  # passes
    with pytest.raises(DataQualityError, match="exceeds declared lengths"):
        expect_max_length(df, {"a": 2}, table="t")


def _observed_write(df, path, columns, table, partition_by=()):
    observed, obs = observe_quality(df, columns)
    observed.write.partitionBy(*partition_by).mode("overwrite").parquet(path)
    return check_observed(obs, table)


def test_observed_write_single_pass(spark, tmp_path):
    """observe()-based gate: metrics come from the write job itself,
    flat or partitioned; clean data passes, a NULL column fails AFTER
    the write."""
    schema = "id bigint, name string, part int"
    good = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], schema)
    bad = spark.createDataFrame([(1, "a", 0), (None, "b", 1)], schema)
    tracker = spark.sparkContext.statusTracker()
    for partition_by in [(), ("part",)]:
        out = str(tmp_path / f"good{len(partition_by)}")
        jobs_before = set(tracker.getJobIdsForGroup())
        m = _observed_write(good, out, ["id", "name"], "good", partition_by)
        assert m == {"rows": 2, "nulls_id": 0, "nulls_name": 0}
        assert len(set(tracker.getJobIdsForGroup()) - jobs_before) == 1
        assert spark.read.parquet(out).count() == 2

        out = str(tmp_path / f"bad{len(partition_by)}")
        with pytest.raises(DataQualityError, match=r"bad contains NULLs: \{'id': 1\}"):
            _observed_write(bad, out, ["id"], "bad", partition_by)
        # The gate fires after the write: the rows are on disk.
        assert spark.read.parquet(out).count() == 2


def _empty_inputs(spark):
    schema = "id bigint, name string"
    return {
        "filtered": spark.createDataFrame([(1, "a")], schema).filter("id > 1"),
        "empty_list": spark.createDataFrame([], schema),
        "zero_partitions": spark.createDataFrame(spark.sparkContext.emptyRDD(), schema),
    }


@pytest.mark.parametrize("case", ["filtered", "empty_list", "zero_partitions"])
def test_observed_gate_empty_input_raises(spark, tmp_path, case):
    """An empty write still reports rows=0 (obs.get does not block) and
    the gate raises the expect_nonempty message."""
    df = _empty_inputs(spark)[case]
    if case == "zero_partitions":
        assert df.rdd.getNumPartitions() == 0
    observed, obs = observe_quality(df, ["name"])
    observed.write.mode("overwrite").parquet(str(tmp_path / case))
    assert check_observed(obs, case, gate=False) == {"rows": 0, "nulls_name": 0}
    with pytest.raises(DataQualityError, match=f"{case} is empty"):
        check_observed(obs, case)


def test_observations_are_fresh_per_call(spark, tmp_path):
    """Two gates on one table name in one session keep their own
    metrics, even when both observed frames meet in one plan."""
    a, obs_a = observe_quality(spark.range(3).selectExpr("id", "'x' AS name"), ["name"])
    b, obs_b = observe_quality(spark.range(5).selectExpr("id", "CAST(NULL AS STRING) AS name"), ["name"])
    a.unionByName(b).write.mode("overwrite").parquet(str(tmp_path / "t"))
    assert check_observed(obs_a, "t") == {"rows": 3, "nulls_name": 0}
    with pytest.raises(DataQualityError, match="contains NULLs"):
        check_observed(obs_b, "t")
    assert check_observed(obs_b, "t", gate=False) == {"rows": 5, "nulls_name": 5}


def test_fk_violations_detects_orphans_and_nulls(spark, tmp_path):
    """The fixture tables are integral (all-zero report), so pin the
    detection logic on a corpus WITH violations: null FKs and orphans
    must be counted separately and per-edge."""
    import shutil

    from data_engineering_capstone_project_spark.plans.relational import (
        fk_violations,
    )
    from tests.conftest import SF_SMALL

    sf = str(tmp_path)
    import os

    for t in ("orders", "lineitem", "part", "supplier", "customer",
              "nation", "region"):
        src = f"{SF_SMALL}/{t}.parquet"
        dst = f"{sf}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    # Corrupt orders: 3 orphan custkeys, 2 null custkeys.
    o = spark.read.parquet(f"{sf}/orders.parquet")
    from pyspark.sql import functions as F

    corrupted = o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 500 == 0, F.lit(None))
        .when(F.col("o_orderkey") % 499 == 0, F.lit(99_999_999))
        .otherwise(F.col("o_custkey")),
    )
    n_null = corrupted.filter(F.col("o_custkey").isNull()).count()
    n_orphan = corrupted.filter(F.col("o_custkey") == 99_999_999).count()
    assert n_null > 0 and n_orphan > 0
    corrupted.write.mode("overwrite").parquet(f"{sf}/orders_new.parquet")
    dst = f"{sf}/orders.parquet"
    shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
    shutil.move(f"{sf}/orders_new.parquet", dst)

    rows = {r.relationship: r for r in fk_violations(spark, sf).collect()}
    edge = rows["orders.o_custkey->customer"]
    assert edge.null_fk == n_null
    assert edge.orphans == n_orphan
    # The untouched nation edge stays clean.
    assert rows["customer.c_nationkey->nation"].orphans == 0
