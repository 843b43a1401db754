"""Salted aggregation / join: equivalence to the unsalted plans on a
deliberately skewed key distribution."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.skew import (
    salted_agg,
    salted_broadcast_join,
)


def _skewed(spark):
    # one hot key (90% of rows) + a long tail
    rows = [(1, float(i % 13)) for i in range(9000)] + [
        (2 + (i % 50), float(i)) for i in range(1000)
    ]
    return spark.createDataFrame(rows, "user_id INT, amount DOUBLE")


def test_salted_agg_equals_plain_agg(spark):
    df = _skewed(spark)
    plain = {
        r["user_id"]: (r["n"], r["mx"], r["s"])
        for r in df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("amount").alias("mx"),
            F.sum(F.col("amount").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    salted = {
        r["user_id"]: (r["n"], r["mx"], r["s"])
        for r in salted_agg(
            df,
            ["user_id"],
            partial=[
                (F.count(F.lit(1)), "n"),
                (F.max("amount"), "mx"),
                (F.sum(F.col("amount").cast("decimal(18,2)")), "s"),
            ],
            merge=[("sum", "n"), ("max", "mx"), ("sum", "s")],
            salt=16,
        ).collect()
    }
    assert salted == plain


def test_salted_agg_actually_shards_hot_key(spark):
    df = _skewed(spark)
    shard_counts = (
        df.withColumn(
            "_shard", F.abs(F.hash(F.col("user_id"), F.spark_partition_id())) % 16
        )
        .filter(F.col("user_id") == 1)
        .groupBy("_shard")
        .count()
        .collect()
    )
    assert len(shard_counts) > 1, "hot key stayed on one shard"
    assert max(r["count"] for r in shard_counts) < 9000


def test_salted_broadcast_join_equals_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(1, 60)], "user_id INT, segment STRING"
    )
    plain = big.join(small, "user_id").groupBy("segment").count().collect()
    salted = (
        salted_broadcast_join(big, small, "user_id")
        .groupBy("segment")
        .count()
        .collect()
    )
    assert sorted((r["segment"], r["count"]) for r in plain) == sorted(
        (r["segment"], r["count"]) for r in salted
    )
