"""SQL-string entry point — the dbt/warehouse hop collapsed into
Spark (SURVEY §3.3).

In the reference, staging/mart SQL executes in a SECOND engine
(Postgres via dbt); here the same layered view texts run through
`spark.sql(...)`: parser → analyzer (temp-view resolution) →
Catalyst → the same executors as the DataFrame API. The view SQL is
written in the common Spark/DuckDB dialect and reused VERBATIM as the
oracle (assembled as CTEs) — one text, two engines, hash-equal
results. This is the strongest possible parity statement for the SQL
surface: not equivalent semantics, the *same query string*.

Dialect gotcha encoded below: Spark's SQL parser types exact numeric
literals as DECIMAL (DataFrame `lit(0.001)` is double), which silently
switches division to decimal arithmetic — the shared text casts its
float literals explicitly so both engines compute in float64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import SUM_SQL
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

#: dbt-style layered views (staging → mart), dialect-common SQL.
STG_ORDERS_SQL = """
SELECT o_orderkey,
       o_custkey,
       date_trunc('month', o_orderdate) AS order_month,
       o_orderstatus,
       o_totalprice
FROM orders
WHERE o_orderkey IS NOT NULL AND o_totalprice > 0
"""

MART_MONTHLY_SQL = f"""
SELECT order_month,
       o_orderstatus,
       count(*) AS n_orders,
       {SUM_SQL.format(c="o_totalprice")} AS gmv,
       count(DISTINCT o_custkey) AS unique_customers,
       (floor((count(CASE WHEN o_totalprice >= 1000 THEN 1 END)
               / (count(*) + cast(0.001 as double)))
              * cast(10000.0 as double) + cast(0.5 as double))
        / cast(10000.0 as double)) AS big_ticket_share
FROM stg_orders
GROUP BY order_month, o_orderstatus
"""


def create_mart_views(spark: SparkSession, sf_dir: str) -> None:
    """Register base tables + layered views, dbt-DAG style: each
    layer is a named temp view the next layer selects from. All lazy
    — Catalyst inlines the view chain into one plan, so the layering
    costs nothing at execution time (unlike the reference, where each
    dbt model materializes through Postgres)."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW stg_orders AS {STG_ORDERS_SQL}")
    spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW mart_monthly AS {MART_MONTHLY_SQL}")


@query(
    "q_sql_mart_monthly",
    oracle=f"""
    WITH stg_orders AS ({STG_ORDERS_SQL})
    {MART_MONTHLY_SQL}
    """,
    tags=("marts", "sql"),
)
def q_sql_mart_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly mart through the SQL-string path: CREATE TEMP VIEW
    staging → mart → SELECT, executed by spark.sql. The oracle runs
    the IDENTICAL SQL text (staging view as a CTE) in DuckDB."""
    create_mart_views(spark, sf_dir)
    return spark.sql("SELECT * FROM mart_monthly")
