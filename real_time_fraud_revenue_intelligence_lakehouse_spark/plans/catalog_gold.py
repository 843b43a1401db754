"""M3 — gold-layer aggregates + star-schema marts (SURVEY §2.4, §2.6,
§2.7, §2.9).

Hourly rollups, explode+aggregate, per-entity composite scores, exact
percentiles, top-k, set ops, grouping sets, the dbt-style dimension /
fact / staging / dashboard queries, and the 7-day trend window —
everything the reference pushes to Postgres+dbt runs here as Spark
SQL/DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    AVG_SQL,
    R4_SQL,
    SUM_SQL,
    det_round,
    exact_avg,
    exact_sum,
    rate,
    surrogate_key,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- A8: time-truncated rollup --------------------------------------------

@query(
    "q_hourly_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS event_hour,
      count(*) AS n_events,
      count(DISTINCT user_id) AS unique_users,
      {SUM_SQL.format(c='value')} AS total_value,
      {AVG_SQL.format(c='value')} AS avg_value,
      count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_events,
      {R4_SQL.format(c="count(CASE WHEN event_type = 'error' THEN 1 END) / (count(*) + 0.001)")} AS error_rate
    FROM events GROUP BY 1
    """,
    tags=("aggregate", "time"),
)
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly KPI rollup (`revenue_aggregations.py:94-112`
    revenue_hourly): date_trunc grain + conditional counts + ε-guard
    rate. Map-side partial agg keeps the shuffle tiny (|hours| keys)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("event_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("unique_users"),
            exact_sum("value", "total_value"),
            exact_avg("value", alias="avg_value"),
            F.count(F.when(F.col("event_type") == "purchase", True)).alias("purchase_events"),
            F.count(F.when(F.col("event_type") == "error", True)).alias("_error_events"),
        )
        .withColumn("error_rate", rate(F.col("_error_events"), F.col("n_events")))
        .drop("_error_events")
    )


# --- A9: explode + aggregate (nested array round-trip) --------------------

@query(
    "q_explode_agg",
    oracle=f"""
    SELECT l_returnflag AS flag,
      count(*) AS n_items,
      {SUM_SQL.format(c='l_quantity')} AS total_qty,
      {SUM_SQL.format(c='l_extendedprice')} AS gross_revenue,
      {AVG_SQL.format(c='l_extendedprice')} AS avg_item_price
    FROM lineitem GROUP BY 1
    """,
    tags=("aggregate", "nested"),
)
def q_explode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArrayType(Struct) round-trip: lineitem rows → collect_list of
    item structs per order (the `orders.items` shape,
    `schemas.py:14-19`) → explode → dotted-field aggregation
    (`revenue_aggregations.py:115-138` product_metrics). The oracle
    aggregates flat rows — the round-trip must be lossless."""
    li = read_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct("l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
        ).alias("items")
    )
    exploded = nested.select(F.explode("items").alias("item"))
    return exploded.groupBy(F.col("item.l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum(F.col("item.l_quantity"), "total_qty"),
        exact_sum(F.col("item.l_extendedprice"), "gross_revenue"),
        exact_avg(F.col("item.l_extendedprice"), alias="avg_item_price"),
    )


# --- A10: per-entity composite score --------------------------------------

@query(
    "q_user_scores",
    oracle=f"""
    WITH stats AS (
      SELECT o_custkey,
        count(*) AS total_orders,
        count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS fulfilled_orders,
        count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS urgent_orders,
        {SUM_SQL.format(c='o_totalprice')} AS total_spend,
        {AVG_SQL.format(c='o_totalprice')} AS avg_amount,
        max(o_totalprice) AS max_amount
      FROM orders GROUP BY 1
    ), scored AS (
      SELECT *,
        {R4_SQL.format(c='fulfilled_orders / (total_orders + 0.001)')} AS fulfilled_rate,
        {R4_SQL.format(c=('0.40 * (fulfilled_orders / (total_orders + 0.001))'
                      ' + 0.35 * (urgent_orders / (total_orders + 0.001))'
                      ' + 0.15 * least(total_spend / 1000000.0, 1.0)'
                      ' + 0.10 * least(total_orders / 50.0, 1.0)'))} AS composite_score
      FROM stats
    )
    SELECT o_custkey, total_orders, fulfilled_orders, urgent_orders,
           total_spend, avg_amount, max_amount, fulfilled_rate, composite_score,
      CASE WHEN composite_score >= 0.50 THEN 'high'
           WHEN composite_score >= 0.20 THEN 'medium'
           ELSE 'low' END AS risk_label
    FROM scored
    """,
    tags=("aggregate", "scores"),
)
def q_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity profile aggregate → weighted composite score →
    3-way label (`fraud_summary.py:91-134`: weights .40/.35/.15/.10,
    cuts .50/.20 — FIXTURES §4)."""
    o = read_table(spark, sf_dir, "orders")
    stats = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", True)).alias("fulfilled_orders"),
        F.count(
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), True)
        ).alias("urgent_orders"),
        exact_sum("o_totalprice", "total_spend"),
        exact_avg("o_totalprice", alias="avg_amount"),
        F.max("o_totalprice").alias("max_amount"),
    )
    fr = F.col("fulfilled_orders") / (F.col("total_orders") + 0.001)
    ur = F.col("urgent_orders") / (F.col("total_orders") + 0.001)
    composite = det_round(
        0.40 * fr
        + 0.35 * ur
        + 0.15 * F.least(F.col("total_spend") / 1_000_000.0, F.lit(1.0))
        + 0.10 * F.least(F.col("total_orders") / 50.0, F.lit(1.0)),
        4,
    )
    return stats.select(
        "*",
        det_round(fr, 4).alias("fulfilled_rate"),
        composite.alias("composite_score"),
    ).withColumn(
        "risk_label",
        F.when(F.col("composite_score") >= 0.50, "high")
        .when(F.col("composite_score") >= 0.20, "medium")
        .otherwise("low"),
    )


# --- A5: exact percentiles -------------------------------------------------

@query(
    "q_percentiles",
    oracle=f"""
    SELECT o_orderstatus,
      {R4_SQL.format(c='quantile_cont(o_totalprice, 0.50)')} AS p50,
      {R4_SQL.format(c='quantile_cont(o_totalprice, 0.90)')} AS p90,
      {R4_SQL.format(c='quantile_cont(o_totalprice, 0.95)')} AS p95,
      {R4_SQL.format(c='quantile_cont(o_totalprice, 0.99)')} AS p99
    FROM orders GROUP BY 1
    """,
    tags=("aggregate", "percentile"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group
    (`revenue_aggregations.py:76-77` — the reference uses
    percentile_approx; the declared query uses exact `percentile` so
    the oracle matches, with approx kept as the 100 TB variant).
    All four quantiles come from ONE percentile(array) aggregate —
    one sort per group instead of four."""
    o = read_table(spark, sf_dir, "orders")
    pcts = [(0.50, "p50"), (0.90, "p90"), (0.95, "p95"), (0.99, "p99")]
    arr = F.percentile(F.col("o_totalprice"), F.array(*[F.lit(p) for p, _ in pcts]))
    return (
        o.groupBy("o_orderstatus")
        .agg(arr.alias("_p"))
        .select(
            "o_orderstatus",
            *[det_round(F.col("_p")[i], 4).alias(n) for i, (_, n) in enumerate(pcts)],
        )
    )


# --- A4: distinct counts ---------------------------------------------------

@query(
    "q_distinct_count",
    oracle="""
    SELECT o_orderpriority,
      count(*) AS n_orders,
      count(DISTINCT o_custkey) AS unique_customers,
      count(DISTINCT cast(o_orderdate as date)) AS active_days
    FROM orders GROUP BY 1
    """,
    tags=("aggregate",),
)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (`revenue_aggregations.py:78`,
    `build_fraud_features.py:196`). At 100 TB swap to
    approx_count_distinct — exact countDistinct doubles the shuffle
    (expand + two-phase agg)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("unique_customers"),
        F.countDistinct(F.to_date("o_orderdate")).alias("active_days"),
    )


# --- A11: boolean-sum aggregates ------------------------------------------

@query(
    "q_bool_sum_agg",
    oracle="""
    SELECT o_custkey,
      count(*) AS n_orders,
      CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS fulfilled_count,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS urgent_count
    FROM orders GROUP BY 1
    """,
    tags=("aggregate",),
)
def q_bool_sum_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum(when(bool,1).otherwise(0)) per entity
    (`build_fraud_features.py:158-165,192-200` refund/device stats)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("fulfilled_count"),
        F.sum(
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
        ).alias("urgent_count"),
    )


# --- O3: top-k -------------------------------------------------------------

@query(
    "q_topk",
    oracle=f"""
    SELECT o_custkey, {SUM_SQL.format(c='o_totalprice')} AS total_spend,
           count(*) AS n_orders
    FROM orders GROUP BY 1
    ORDER BY total_spend DESC, o_custkey ASC LIMIT 5
    """,
    tags=("sort",),
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by aggregate with deterministic tie-break
    (`train.py:222-226` top-features pattern). Spark's
    TakeOrderedAndProject avoids a full sort at scale."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(exact_sum("o_totalprice", "total_spend"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("total_spend").desc(), F.col("o_custkey").asc())
        .limit(5)
    )


# --- O2: random sample (deterministic hash ordering) -----------------------

@query(
    "q_sample_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY md5('sl-' || CAST(o_orderkey AS VARCHAR)) ASC, o_orderkey ASC
    LIMIT 100
    """,
    tags=("sort", "sample"),
)
def q_sample_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random sample + limit (`train.py:44-45` ORDER BY random()
    LIMIT n), made deterministic: order by a domain-tagged md5 of the
    key instead of rand(). Same semantic — an unbiased pseudo-random
    pull of 100 orders — but reproducible across engines, partition
    layouts, and reruns, so the oracle hash-gates it (the engine's
    q_weighted_sample convention). Plans as TakeOrderedAndProject:
    per-partition heap + driver k-merge, no global sort at scale."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy(
            F.md5(F.concat(F.lit("sl-"), F.col("o_orderkey").cast("string"))).asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


# --- U1: union all ---------------------------------------------------------

@query(
    "q_union_all",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'amount_oob' AS reason
    FROM orders WHERE o_totalprice > 450000
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'suspicious_pending' AS reason
    FROM orders WHERE o_orderstatus = 'P' AND o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation-scan UNION ALL (`assert_fraud_rate_bounds.sql:11-28`:
    out-of-bounds ∪ suspicious rows, each tagged with a reason)."""
    o = read_table(spark, sf_dir, "orders")
    oob = o.filter(F.col("o_totalprice") > 450000).select(
        "o_orderkey", "o_totalprice", F.lit("amount_oob").alias("reason")
    )
    susp = o.filter(
        (F.col("o_orderstatus") == "P") & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey", "o_totalprice", F.lit("suspicious_pending").alias("reason"))
    return oob.unionByName(susp)


# --- set difference --------------------------------------------------------

@query(
    "q_except_check",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("setop",),
)
def q_except_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers who ordered but never had a
    fulfilled order (engine-added EXCEPT coverage, SURVEY §2.7 —
    the reference only has UNION ALL)."""
    o = read_table(spark, sf_dir, "orders")
    all_cust = o.select("o_custkey").distinct()
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return all_cust.exceptAll(fulfilled)


# --- grouping sets / cube --------------------------------------------------

@query(
    "q_grouping_sets",
    oracle=f"""
    SELECT coalesce(o_orderstatus, 'ALL') AS status_g,
           coalesce(o_orderpriority, 'ALL') AS priority_g,
           count(*) AS n_orders,
           {SUM_SQL.format(c='o_totalprice')} AS gmv
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("aggregate", "cube"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with 'ALL' sentinels — declared
    grouping-sets capability (SURVEY §2.4 note; absent in reference,
    free via Catalyst Expand)."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), exact_sum("o_totalprice", "gmv"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status_g"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority_g"),
            "n_orders",
            "gmv",
        )
    )


# --- dim_dates spine -------------------------------------------------------

DIM_DATES_SQL = """
    WITH bounds AS (
      SELECT min(cast(o_orderdate as date)) AS lo, max(cast(o_orderdate as date)) AS hi FROM orders
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS gs FROM bounds
    )
    SELECT cast(gs as date) AS date_key,
      year(gs) AS year, quarter(gs) AS quarter, month(gs) AS month,
      dayofmonth(gs) AS day_of_month,
      dayofweek(gs) AS day_of_week,
      CASE WHEN dayofweek(gs) IN (0,6) THEN true ELSE false END AS is_weekend,
      CASE WHEN month(gs) IN (11,12) THEN true ELSE false END AS is_holiday_season,
      strftime(gs, '%Y-%m') AS year_month
    FROM spine
"""


@query("q_dim_dates", oracle=DIM_DATES_SQL, tags=("marts",))
def q_dim_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension via sequence+explode (replaces Postgres
    generate_series, `dim_dates.sql:11-46`): calendar parts, weekend
    + holiday-season flags, yyyy-MM key."""
    o = read_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"), F.max(F.to_date("o_orderdate")).alias("hi")
    )
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("date_key"))
    dow = F.dayofweek("date_key") - 1
    return spine.select(
        "date_key",
        F.year("date_key").alias("year"),
        F.quarter("date_key").alias("quarter"),
        F.month("date_key").alias("month"),
        F.dayofmonth("date_key").alias("day_of_month"),
        dow.alias("day_of_week"),
        dow.isin(0, 6).alias("is_weekend"),
        F.month("date_key").isin(11, 12).alias("is_holiday_season"),
        F.date_format("date_key", "yyyy-MM").alias("year_month"),
    )


# --- dim_users segmentation ------------------------------------------------

@query(
    "q_dim_users_segments",
    oracle="""
    SELECT c_custkey,
      md5(concat_ws('-', cast(c_custkey as varchar), coalesce(c_name, ''))) AS user_sk,
      c_mktsegment,
      CASE WHEN c_acctbal < 0 THEN 'negative'
           WHEN c_acctbal < 2000 THEN 'bronze'
           WHEN c_acctbal < 5000 THEN 'silver'
           WHEN c_acctbal < 8000 THEN 'gold'
           ELSE 'platinum' END AS balance_band,
      CASE WHEN c_acctbal < 0 THEN 'high'
           WHEN c_acctbal < 2000 THEN 'medium'
           ELSE 'low' END AS risk_band
    FROM customer
    """,
    tags=("marts",),
)
def q_dim_users_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-1 user dimension: 5-way balance segmentation + risk band +
    md5 surrogate key (`dim_users.sql:15-51` buyer_segment/risk_band
    CASE ladders)."""
    c = read_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        surrogate_key("c_custkey", F.coalesce(F.col("c_name"), F.lit(""))).alias("user_sk"),
        "c_mktsegment",
        F.when(bal < 0, "negative")
        .when(bal < 2000, "bronze")
        .when(bal < 5000, "silver")
        .when(bal < 8000, "gold")
        .otherwise("platinum")
        .alias("balance_band"),
        F.when(bal < 0, "high").when(bal < 2000, "medium").otherwise("low").alias("risk_band"),
    )


# --- fact_orders -----------------------------------------------------------

@query(
    "q_fact_orders",
    oracle=f"""
    WITH stg AS (
      SELECT cast(o_orderdate as date) AS event_date, o_orderstatus,
        count(*) AS total_orders,
        {SUM_SQL.format(c='o_totalprice')} AS gmv,
        count(DISTINCT o_custkey) AS unique_customers
      FROM orders GROUP BY 1, 2
      HAVING count(*) > 0
    )
    SELECT s.event_date, s.o_orderstatus, s.total_orders, s.gmv, s.unique_customers,
      {R4_SQL.format(c='s.gmv / nullif(s.total_orders, 0)')} AS avg_order_value,
      year(s.event_date) AS d_year, month(s.event_date) AS d_month,
      CASE WHEN dayofweek(s.event_date) IN (0,6) THEN true ELSE false END AS d_is_weekend
    FROM stg s
    """,
    tags=("marts",),
)
def q_fact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_orders: staging aggregate ⟕ calendar attributes + nullif
    rate derivation (`fact_orders.sql:11-67`, `stg_orders.sql:12-44`
    — the where total_orders > 0 guard and nullif division)."""
    o = read_table(spark, sf_dir, "orders")
    stg = (
        o.groupBy(F.to_date("o_orderdate").alias("event_date"), "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            exact_sum("o_totalprice", "gmv"),
            F.countDistinct("o_custkey").alias("unique_customers"),
        )
        .filter(F.col("total_orders") > 0)
    )
    dow = F.dayofweek("event_date") - 1
    return stg.select(
        "*",
        det_round(F.col("gmv") / F.nullif(F.col("total_orders"), F.lit(0)), 4).alias(
            "avg_order_value"
        ),
        F.year("event_date").alias("d_year"),
        F.month("event_date").alias("d_month"),
        dow.isin(0, 6).alias("d_is_weekend"),
    )


# --- fact_fraud_events analog ---------------------------------------------

@query(
    "q_fact_fraud_events",
    oracle=f"""
    WITH stg AS (
      SELECT cast(o_orderdate as date) AS event_date, o_orderpriority,
        count(*) AS total_orders,
        count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS pending_orders,
        {SUM_SQL.format(c="CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END")} AS pending_gmv
      FROM orders GROUP BY 1, 2
    )
    SELECT event_date, o_orderpriority, total_orders, pending_orders, pending_gmv,
      {R4_SQL.format(c='pending_orders / (total_orders + 0.001)')} AS pending_rate,
      CASE WHEN {R4_SQL.format(c='pending_orders / (total_orders + 0.001)')} > 0.10
           THEN true ELSE false END AS high_pending_day
    FROM stg
    """,
    tags=("marts",),
)
def q_fact_fraud_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_fraud_events analog: per-day rates + boolean day-flags at
    the 0.10 threshold (`fact_fraud_events.sql:11-69`
    is_high_fraud_day)."""
    o = read_table(spark, sf_dir, "orders")
    pending_amt = F.when(F.col("o_orderstatus") == "P", F.col("o_totalprice")).otherwise(0.0)
    stg = o.groupBy(F.to_date("o_orderdate").alias("event_date"), "o_orderpriority").agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count(F.when(F.col("o_orderstatus") == "P", True)).alias("pending_orders"),
        exact_sum(pending_amt, "pending_gmv"),
    )
    pr = rate(F.col("pending_orders"), F.col("total_orders"))
    return stg.select("*", pr.alias("pending_rate"), (pr > 0.10).alias("high_pending_day"))


# --- 7-day trailing trend --------------------------------------------------

@query(
    "q_trend_7d",
    oracle=f"""
    WITH daily AS (
      SELECT cast(o_orderdate as date) AS d,
        count(*) AS n_orders,
        count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_fulfilled
      FROM orders GROUP BY 1
    )
    SELECT d AS event_date, n_orders, n_fulfilled,
      CAST(sum(n_orders) OVER w AS BIGINT) AS orders_7d,
      CAST(sum(n_fulfilled) OVER w AS BIGINT) AS fulfilled_7d,
      {R4_SQL.format(c='sum(n_fulfilled) OVER w / (sum(n_orders) OVER w + 0.001)')} AS fulfilled_rate_7d
    FROM daily
    WINDOW w AS (ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    """,
    tags=("marts", "window"),
)
def q_trend_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing trend (`init.sql:123-133` v_fraud_trend_7d):
    integer sums over a 7-day range frame → fully deterministic rate.
    The frame is anchored to the data's own dates, not current_date,
    so the query is reproducible."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", True)).alias("n_fulfilled"),
    )
    days = F.datediff(F.col("event_date"), F.lit("1970-01-01").cast("date"))
    w = Window.orderBy(days).rangeBetween(-6, 0)
    o7 = F.sum("n_orders").over(w)
    f7 = F.sum("n_fulfilled").over(w)
    return daily.select(
        "event_date",
        "n_orders",
        "n_fulfilled",
        o7.alias("orders_7d"),
        f7.alias("fulfilled_7d"),
        rate(f7, o7).alias("fulfilled_rate_7d"),
    )


# --- country risk rollup ---------------------------------------------------

@query(
    "q_country_risk",
    oracle=f"""
    SELECT n.n_name, r.r_name,
      count(*) AS n_customers,
      {SUM_SQL.format(c='c.c_acctbal')} AS total_acctbal,
      {AVG_SQL.format(c='c.c_acctbal')} AS avg_acctbal,
      {R4_SQL.format(c='count(CASE WHEN c.c_acctbal < 0 THEN 1 END) / (count(*) + 0.001)')} AS negative_rate
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    tags=("marts",),
)
def q_country_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-country risk rollup (`init.sql:137-147` v_country_risk):
    dim joins + aggregates + rate, ORDER BY left to the consumer."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal", "total_acctbal"),
            exact_avg("c_acctbal", alias="avg_acctbal"),
            rate(F.count(F.when(F.col("c_acctbal") < 0, True)), F.count(F.lit(1))).alias(
                "negative_rate"
            ),
        )
    )


# --- staging re-aggregation ------------------------------------------------

@query(
    "q_stg_payments",
    oracle=f"""
    WITH base AS (
      SELECT date_trunc('month', o_orderdate) AS order_month, o_orderpriority,
        count(*) AS total_orders,
        count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS fulfilled_orders,
        {SUM_SQL.format(c='o_totalprice')} AS gmv
      FROM orders GROUP BY 1, 2
    )
    SELECT order_month, o_orderpriority, total_orders, fulfilled_orders, gmv,
      {R4_SQL.format(c='fulfilled_orders / nullif(total_orders, 0)')} AS fulfilled_share,
      {R4_SQL.format(c='gmv / nullif(total_orders, 0)')} AS avg_order_value
    FROM base
    """,
    tags=("marts",),
)
def q_stg_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging re-aggregation with nullif-guarded divisions
    (`stg_payments.sql:15-44`: round(x::numeric / nullif(y,0), 4))."""
    o = read_table(spark, sf_dir, "orders")
    base = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month"), "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", True)).alias("fulfilled_orders"),
        exact_sum("o_totalprice", "gmv"),
    )
    tot = F.nullif(F.col("total_orders"), F.lit(0))
    return base.select(
        "*",
        det_round(F.col("fulfilled_orders") / tot, 4).alias("fulfilled_share"),
        det_round(F.col("gmv") / tot, 4).alias("avg_order_value"),
    )


# --- dashboard "today" -----------------------------------------------------

@query(
    "q_dashboard_today",
    oracle=f"""
    SELECT cast(o_orderdate as date) AS event_date,
      count(*) AS orders_today,
      {SUM_SQL.format(c='o_totalprice')} AS gmv_today,
      count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent_today,
      count(DISTINCT o_custkey) AS customers_today
    FROM orders
    WHERE cast(o_orderdate as date) = (SELECT max(cast(o_orderdate as date)) FROM orders)
    GROUP BY 1
    """,
    tags=("marts", "dashboard"),
)
def q_dashboard_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard tiles for the latest data day (Grafana panel SQL,
    `fraud_platform.json` — CURRENT_DATE replaced by max(event_date)
    so the query is deterministic). The max-date subquery broadcasts;
    with date-partitioned storage it prunes to one partition."""
    o = read_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("event_date"))
    return (
        o.withColumn("event_date", F.to_date("o_orderdate"))
        .join(F.broadcast(mx), "event_date")
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("orders_today"),
            exact_sum("o_totalprice", "gmv_today"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", True)).alias("urgent_today"),
            F.countDistinct("o_custkey").alias("customers_today"),
        )
    )


# --- reshaping: pivot ------------------------------------------------------

@query(
    "q_pivot_status",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS order_month,
           cast(sum(cast(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END
                         as decimal(18,2))) as double) AS "O",
           cast(sum(cast(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END
                         as decimal(18,2))) as double) AS "F",
           cast(sum(cast(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END
                         as decimal(18,2))) as double) AS "P"
    FROM orders
    GROUP BY 1
    """,
    tags=("aggregate", "reshape"),
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GMV per month pivoted to one column per order status —
    `df.groupBy().pivot(values).agg()`. Passing the pivot values
    explicitly matters at scale: without them Spark runs an extra
    distinct-scan job to discover the columns. The oracle is the
    equivalent conditional aggregation (what pivot compiles to).
    Decimal-accumulated sums keep columns deterministic; absent
    (month, status) cells are zero-filled AFTER the pivot (wrapping
    the agg expression itself breaks pivot's aggregate rewrite)."""
    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    pivoted = base.groupBy("order_month").pivot("o_orderstatus", ["O", "F", "P"]).agg(
        F.sum("price")
    )
    return pivoted.select(
        "order_month",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("double").alias(s)
            for s in ("O", "F", "P")
        ],
    )


@query(
    "q_intersect_check",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
)
def q_intersect_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection: customers with BOTH a fulfilled order and an
    urgent order — completes the §2.7 set-operation family (UNION
    ALL, EXCEPT, INTERSECT). Spark plans intersect as a left-semi
    join over distincts; at scale prefer the explicit semi-join form
    when one side is much smaller (broadcastable)."""
    o = read_table(spark, sf_dir, "orders")
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    return fulfilled.intersect(urgent)


@query(
    "q_map_functions",
    oracle="""
    WITH agg AS (
      SELECT o_custkey,
             count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
             count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_fulfilled,
             count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, status, n FROM (
      SELECT o_custkey, 'O' AS status, n_open AS n FROM agg
      UNION ALL SELECT o_custkey, 'F', n_fulfilled FROM agg
      UNION ALL SELECT o_custkey, 'P', n_pending FROM agg
    ) WHERE n > 1
    """,
    tags=("scalar", "map"),
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (§2.8's one uncovered family): per-customer
    status→count map built with map_from_arrays, filtered with
    map_filter (counts > 1), exploded back to rows. The oracle states
    the same logic relationally — what the map pipeline must reduce
    to — so Catalyst's map expressions are verified against plain SQL
    semantics. Maps stay row-local; the only shuffle is the count
    aggregation."""
    o = read_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", True)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", True)).alias("n_fulfilled"),
        F.count(F.when(F.col("o_orderstatus") == "P", True)).alias("n_pending"),
    )
    m = F.map_from_arrays(
        F.array(F.lit("O"), F.lit("F"), F.lit("P")),
        F.array("n_open", "n_fulfilled", "n_pending"),
    )
    mapped = agg.select(
        "o_custkey", F.map_filter(m, lambda k, v: v > 1).alias("status_counts")
    )
    return mapped.select(
        "o_custkey", F.explode("status_counts").alias("status", "n")
    )


@query(
    "q_json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus AS status_rt,
           o_totalprice AS price_rt,
           CAST(o_totalprice >= 1000 AS BOOLEAN) AS big_rt
    FROM orders
    """,
    tags=("scalar", "json"),
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON generation direction (§2.8's write side): struct →
    to_json → from_json with explicit schema → field extraction must
    be lossless — the serialize/deserialize cycle every Kafka sink +
    downstream consumer performs. The oracle is the identity on the
    source columns: any drift (float formatting, boolean casing,
    field order sensitivity) breaks the hash."""
    o = read_table(spark, sf_dir, "orders")
    packed = o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
                (F.col("o_totalprice") >= 1000).alias("big"),
            )
        ).alias("payload"),
    )
    schema = "status STRING, price DOUBLE, big BOOLEAN"
    unpacked = packed.select(
        "o_orderkey", F.from_json("payload", schema).alias("d")
    )
    return unpacked.select(
        "o_orderkey",
        F.col("d.status").alias("status_rt"),
        F.col("d.price").alias("price_rt"),
        F.col("d.big").alias("big_rt"),
    )
