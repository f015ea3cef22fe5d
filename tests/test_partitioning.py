from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import partitioning, tables


def test_ensure_min_partitions_widens_and_noops(spark, sf_dir):
    docs = tables.load(spark, "documents", sf_dir)
    assert docs.rdd.getNumPartitions() == 1
    wide = partitioning.ensure_min_partitions(docs, 8)
    assert wide.rdd.getNumPartitions() == 8
    assert partitioning.ensure_min_partitions(wide, 4) is wide


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [(i % 3, i) for i in range(200)], "k BIGINT, v BIGINT"
    )
    right = spark.createDataFrame([(0, "a"), (1, "b"), (5, "x")], "k BIGINT, tag STRING")
    plain = {(r["k"], r["v"], r["tag"]) for r in left.join(right, ["k"]).collect()}
    salted = {
        (r["k"], r["v"], r["tag"])
        for r in partitioning.salted_join(left, right, ["k"], salt=4).collect()
    }
    assert salted == plain
    # left-join parity including unmatched rows
    plain_l = {(r["k"], r["v"], r["tag"]) for r in left.join(right, ["k"], "left").collect()}
    salted_l = {
        (r["k"], r["v"], r["tag"])
        for r in partitioning.salted_join(left, right, ["k"], salt=4, how="left").collect()
    }
    assert salted_l == plain_l


def test_salted_join_rejects_outer(spark):
    df = spark.range(2).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        partitioning.salted_join(df, df, ["k"], how="full")
