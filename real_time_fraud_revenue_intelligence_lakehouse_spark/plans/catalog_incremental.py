"""Partition-pruned incremental runs (SURVEY §2.11).

The reference's docs promise `{{ ds }}`-parameterized incremental
silver/gold runs but the code reads full tables
(`transform_transactions.py:233-235`). The engine implements the
documented intent: the same gold aggregation constrained to one
day/period — Catalyst pushes the predicate into the scan, so on an
event_date-partitioned lakehouse this reads exactly one partition
(static partition pruning; dynamic pruning covers the join-driven
case). tests/test_plans.py asserts the filter reaches the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import SUM_SQL, exact_avg, exact_sum, rate
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

#: The `{{ ds }}` analog — a fixed day inside the testdata's range so
#: the query is deterministic (the Airflow param becomes a plain arg).
RUN_MONTH = "1997-03-01"


def revenue_for_period(df: DataFrame, period_start: str) -> DataFrame:
    """One period's slice of the revenue aggregate — the incremental
    form of q_revenue_daily's plan: identical groupBy, one partition
    of input. Rerunning a period is idempotent by construction
    (aggregation of an immutable slice), which is the property the
    reference chases with MERGE (`README.md:133`)."""
    day = F.to_date(F.lit(period_start))
    base = df.filter(
        (F.date_trunc("month", F.col("o_orderdate")) == F.date_trunc("month", day))
    ).select(
        F.to_date(F.col("o_orderdate")).alias("order_date"),
        "o_orderstatus",
        "o_totalprice",
        "o_custkey",
    )
    agg = base.groupBy("order_date").agg(
        F.count(F.lit(1)).alias("total_orders"),
        exact_sum("o_totalprice", "gmv"),
        exact_avg("o_totalprice", alias="avg_order_value"),
        F.countDistinct("o_custkey").alias("unique_customers"),
        F.count(F.when(F.col("o_orderstatus") == "F", True)).alias("fulfilled_orders"),
    )
    return agg.withColumn(
        "fulfilled_rate", rate(F.col("fulfilled_orders"), F.col("total_orders"))
    )


@query(
    "q_incremental_month",
    oracle=f"""
    SELECT cast(o_orderdate as date) AS order_date,
           count(*) AS total_orders,
           {SUM_SQL.format(c="o_totalprice")} AS gmv,
           (floor(({SUM_SQL.format(c="o_totalprice")}
                   / count(o_totalprice)) * 10000.0 + 0.5) / 10000.0) AS avg_order_value,
           count(DISTINCT o_custkey) AS unique_customers,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS fulfilled_orders,
           (floor((count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                   / (count(*) + 0.001)) * 10000.0 + 0.5) / 10000.0) AS fulfilled_rate
    FROM orders
    WHERE date_trunc('month', o_orderdate) = date_trunc('month', DATE '{RUN_MONTH}')
    GROUP BY 1
    """,
    tags=("incremental", "aggregate"),
)
def q_incremental_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (one-period) revenue rollup — `WHERE period = :ds`
    pushed into the scan. On partitioned storage this is the
    partition-pruned rerun unit; the driver testdata is unpartitioned
    parquet, so the check is the pushed predicate + row-zone skipping
    via parquet min/max stats."""
    return revenue_for_period(read_table(spark, sf_dir, "orders"), RUN_MONTH)


# --- snapshot time travel (VERDICT r11 #6) -----------------------------------

@query(
    "q_time_travel_diff",
    oracle=f"""
    WITH v0 AS (
      SELECT o_orderpriority AS priority,
             {SUM_SQL.format(c="o_totalprice")} AS rev
      FROM orders WHERE o_orderdate < DATE '1998-01-01' GROUP BY 1
    ),
    v1 AS (
      SELECT o_orderpriority AS priority,
             {SUM_SQL.format(c="o_totalprice")} AS rev
      FROM orders GROUP BY 1
    )
    SELECT coalesce(v1.priority, v0.priority) AS priority,
           v0.rev AS rev_v0, v1.rev AS rev_v1,
           CASE WHEN v0.priority IS NULL THEN 'added'
                WHEN v1.priority IS NULL THEN 'removed'
                WHEN v0.rev = v1.rev THEN 'same'
                ELSE 'changed' END AS change
    FROM v0 FULL OUTER JOIN v1 ON v0.priority = v1.priority
    """,
    tags=("time-travel", "versioned", "diff"),
)
def q_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTABLE time travel (the last formerly sandbox-gated
    category, made live): commit two versions of a per-priority
    revenue rollup to a manifest-based versioned table
    (sources/versioned.py — atomic manifest rename, immutable data
    files, `versionAsOf` replay mirroring `delta_utils.py:78-92`),
    read BOTH snapshots back through the manifest layer, and diff
    them — the backfill-vs-refresh audit every lakehouse rerun needs.
    The oracle computes the same two snapshots straight from orders,
    so the whole write→manifest→replay→diff path is hash-gated: any
    file the manifest misplaces, double-lists, or fails to isolate
    between versions changes the sums. Spark-side cost: two
    aggregates + two 5-row snapshot scans; only the ≤|priorities|
    diff rows touch the driver. At 100 TB the snapshots are
    file-listing metadata ops and the diff is a small-key join."""
    import shutil
    import tempfile

    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.versioned import (
        read_version,
        write_version,
    )

    o = read_table(spark, sf_dir, "orders")
    rollup = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        exact_sum("o_totalprice", "rev")
    )
    tdir = tempfile.mkdtemp(prefix="rtfril_timetravel_")
    try:
        write_version(
            o.filter(F.col("o_orderdate") < "1998-01-01")
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(exact_sum("o_totalprice", "rev")),
            tdir,
            mode="overwrite",
            operation="backfill<1998",
        )
        write_version(rollup, tdir, mode="overwrite", operation="full-refresh")
        v0 = read_version(spark, tdir, 0).withColumnRenamed("rev", "rev_v0")
        v1 = read_version(spark, tdir, 1).withColumnRenamed("rev", "rev_v1")
        diff = (
            v0.join(v1, "priority", "full_outer")
            .select(
                "priority",
                "rev_v0",
                "rev_v1",
                F.when(F.col("rev_v0").isNull(), "added")
                .when(F.col("rev_v1").isNull(), "removed")
                .when(F.col("rev_v0") == F.col("rev_v1"), "same")
                .otherwise("changed")
                .alias("change"),
            )
        )
        rows = diff.collect()  # ≤ |priorities| rows — scalar-class
        return spark.createDataFrame(
            rows, "priority string, rev_v0 double, rev_v1 double, change string"
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
