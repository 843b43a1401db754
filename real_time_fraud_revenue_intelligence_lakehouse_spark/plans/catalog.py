"""Declared-query catalog: SURVEY.md §2 operators mapped onto the
driver testdata (TESTDATA.md / FIXTURES.md §5).

Each entry registers the PySpark form AND its DuckDB oracle SQL. The
fraud-domain semantics (cleansing rules, tier ladders, rate guards,
velocity windows, …) are exercised on the TPC-H-ish stand-in columns.

This module holds the flagship + shared SQL fragments; themed
siblings (catalog_cleanse, catalog_joins, catalog_gold,
catalog_quality, catalog_ext, catalog_stream) register the rest and
are imported at the bottom of this file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    AVG_SQL,
    R4_SQL,
    SUM_SQL,
    amount_tier,
    exact_avg,
    exact_sum,
    rate,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

# Shared SQL fragment: the 5-way amount-tier ladder
# (`transform_transactions.py:109-117`), cuts 50/200/1000/5000.
TIER_SQL = (
    "CASE WHEN {c} < 50 THEN 'micro' WHEN {c} < 200 THEN 'low' "
    "WHEN {c} < 1000 THEN 'medium' WHEN {c} < 5000 THEN 'high' "
    "ELSE 'premium' END"
)


# ---------------------------------------------------------------------------
# Flagship — SURVEY §2.4 A1-A7: multi-key hash aggregate with
# conditional sums/counts, distinct count, exact percentiles, and
# ε-guarded derived rates (`revenue_aggregations.py:46-91`).
# ---------------------------------------------------------------------------

@query(
    "q_revenue_daily",
    oracle=f"""
    WITH base AS (
      SELECT date_trunc('month', o_orderdate) AS order_month,
             o_orderpriority,
             {TIER_SQL.format(c='o_totalprice')} AS amount_tier,
             o_orderstatus, o_totalprice, o_custkey
      FROM orders
    )
    SELECT order_month, o_orderpriority, amount_tier,
      count(*) AS total_orders,
      {SUM_SQL.format(c='o_totalprice')} AS gmv,
      {SUM_SQL.format(c="CASE WHEN o_orderstatus='F' THEN o_totalprice ELSE 0 END")} AS fulfilled_gmv,
      count(CASE WHEN o_orderstatus='F' THEN 1 END) AS fulfilled_orders,
      count(CASE WHEN o_orderstatus='O' THEN 1 END) AS open_orders,
      {AVG_SQL.format(c='o_totalprice')} AS avg_order_value,
      count(DISTINCT o_custkey) AS unique_customers,
      {R4_SQL.format(c="count(CASE WHEN o_orderstatus='F' THEN 1 END) / (count(*) + 0.001)")} AS fulfilled_rate
    FROM base
    GROUP BY 1, 2, 3
    """,
    tags=("aggregate", "flagship"),
)
def q_revenue_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-daily analog of `revenue_aggregations.py:46-91`:
    groupBy(period, priority, amount_tier) → conditional GMV sums,
    conditional counts, deterministic avg, distinct customers, and the
    reference's ε-guarded rate convention. Partial (map-side) hash
    aggregation + a single shuffle on the 3 group keys; at 100 TB the
    only tuning lever needed is shuffle partition sizing (AQE)."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        "o_orderpriority",
        amount_tier("o_totalprice").alias("amount_tier"),
        "o_orderstatus",
        "o_totalprice",
        "o_custkey",
    )
    fulfilled = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(F.lit(0.0))
    agg = base.groupBy("order_month", "o_orderpriority", "amount_tier").agg(
        F.count(F.lit(1)).alias("total_orders"),
        exact_sum("o_totalprice", "gmv"),
        exact_sum(fulfilled, "fulfilled_gmv"),
        F.count(F.when(F.col("o_orderstatus") == "F", True)).alias("fulfilled_orders"),
        F.count(F.when(F.col("o_orderstatus") == "O", True)).alias("open_orders"),
        exact_avg("o_totalprice", alias="avg_order_value"),
        F.countDistinct("o_custkey").alias("unique_customers"),
    )
    return agg.withColumn(
        "fulfilled_rate", rate(F.col("fulfilled_orders"), F.col("total_orders"))
    )


# Themed catalog modules (each registers queries on import).
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import (  # noqa: E402,F401
    catalog_analytics,
    catalog_analytics2,
    catalog_behavior,
    catalog_cleanse,
    catalog_corpus,
    catalog_corpus2,
    catalog_corpus3,
    catalog_gold,
    catalog_graph,
    catalog_joins,
    catalog_monitoring,
    catalog_ext,
    catalog_heavy,
    catalog_incremental,
    catalog_quality,
    catalog_scale,
    catalog_relational,
    catalog_sampling,
    catalog_scd2,
    catalog_scoring,
    catalog_scoring2,
    catalog_scoring3,
    catalog_sql,
    catalog_stream,
    catalog_tpch,
    catalog_views,
)
