"""Round-3 relational-depth queries (SURVEY §2.3 note, §2.4-§2.6).

The reference never writes semi/anti joins, subqueries, HAVING,
ROLLUP, or explicit window frames — but its *capability categories*
(SURVEY §2.3 "semi/anti semantics appear indirectly", §2.4
grouping-sets note, §2.5 frame-spec note) imply them, and any user
switching engines will reach for them on day one. Each query here is
a first-class Catalyst shape: semi/anti joins stay broadcast-able,
scalar subqueries become 1-row broadcast joins, correlated
subqueries decorrelate to agg-then-join, and every float output goes
through the decimal-sum + det_round discipline so the DuckDB oracle
hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60, hll_register
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    AVG_SQL,
    H60_SQL,
    HLL_REGISTER_SQL,
    R2_SQL,
    R4_SQL,
    R6_SQL,
    REV_SUM_SQL,
    SUM_SQL,
    det_round,
    exact_avg,
    exact_sum,
    rev_sum,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- left semi join --------------------------------------------------------

@query(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("join", "semi"),
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a LEFT SEMI join: customers with ≥1 urgent order
    (SURVEY §2.3 — semi semantics implied by dbt relationship tests,
    `dbt/models/marts/schema.yml`). Semi join never duplicates the
    probe side and only ships the build side's key column — at 100 TB
    the urgent-order key set broadcasts or shuffles as ids only."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --- left anti join --------------------------------------------------------

@query(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("join", "anti"),
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a LEFT ANTI join: customers with no urgent order
    (the dbt `relationships` test shape, run for keeps). Same
    ids-only build side as the semi join — the FK-orphan DQ check
    (catalog_quality) uses the identical plan."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# --- scalar subquery -------------------------------------------------------

@query(
    "q_scalar_subquery",
    oracle=f"""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_retailprice > (SELECT {AVG_SQL.format(c='p_retailprice')} FROM part)
    """,
    tags=("subquery",),
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: parts priced above the corpus average.
    Spark form: the 1-row aggregate cross-joins (broadcast) onto the
    scan — one extra stage, no shuffle of the big side, identical to
    what Catalyst produces for an uncorrelated scalar subquery."""
    p = read_table(spark, sf_dir, "part")
    avg_price = p.agg(exact_avg("p_retailprice", alias="thr"))
    return (
        p.crossJoin(F.broadcast(avg_price))
        .filter(F.col("p_retailprice") > F.col("thr"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


# --- correlated subquery (TPC-H Q17 shape) ---------------------------------

@query(
    "q_correlated_subquery",
    oracle=f"""
    SELECT p.p_brand,
           count(*) AS n_small_items,
           {R2_SQL.format(c=f"{REV_SUM_SQL} / 7.0")} AS avg_weekly_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (
      SELECT 0.2 * ({AVG_SQL.format(c='l_quantity')})
      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY 1
    """,
    tags=("subquery", "join", "aggregate"),
)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity lineitems vs 20% of the
    per-part average quantity (correlated subquery). Spark form is the
    decorrelated plan Catalyst itself would produce: per-part avg
    aggregate, joined back on partkey — one shuffle on l_partkey for
    the agg, the join co-partitioned on the same key (AQE reuses the
    exchange). Never evaluates the subquery per row."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * exact_avg("l_quantity")).alias("qty_thr")
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_items"),
            det_round(rev_sum() / F.lit(7.0), 2).alias("avg_weekly_revenue"),
        )
    )


# --- HAVING (TPC-H Q18 shape) ----------------------------------------------

@query(
    "q_having",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, {SUM_SQL.format(c='l_quantity')} AS total_qty
      FROM lineitem GROUP BY 1
      HAVING {SUM_SQL.format(c='l_quantity')} >= 300
    )
    SELECT c.c_name, o.o_orderkey,
           cast(o.o_orderdate as date) AS order_date,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    tags=("aggregate", "having", "join"),
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via HAVING on an exact
    decimal quantity sum, folded back onto orders + customer. The
    HAVING filter runs post-aggregation on the (small) per-order
    grain, so only qualifying keys reach the joins — at scale the
    survivors broadcast against both dimension sides."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") >= 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


# --- ROLLUP ----------------------------------------------------------------

@query(
    "q_rollup",
    oracle=f"""
    SELECT coalesce(cast(cast(year(o_orderdate) as int) as varchar), 'ALL') AS year_g,
           coalesce(o_orderstatus, 'ALL') AS status_g,
           count(*) AS n_orders,
           {SUM_SQL.format(c='o_totalprice')} AS gmv
    FROM orders
    GROUP BY ROLLUP (cast(year(o_orderdate) as int), o_orderstatus)
    """,
    tags=("aggregate", "rollup"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (year → status → grand total) with 'ALL'
    sentinels — the subtotal-ladder companion to q_grouping_sets'
    CUBE. Catalyst expands to grouping sets in a single Expand +
    aggregate: one pass over the fact, no per-level rescans."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate"))
        .rollup("order_year", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), exact_sum("o_totalprice", "gmv"))
        .select(
            F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias("year_g"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status_g"),
            "n_orders",
            "gmv",
        )
    )


# --- running total (cumulative frame) --------------------------------------

@query(
    "q_running_total",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           cast(o_orderdate as date) AS order_date,
           cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) as double) AS running_spend
    FROM orders
    """,
    tags=("window", "frame"),
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend: explicit ROWS frame over a
    deterministic (date, key) order — the frame-spec coverage SURVEY
    §2.5 calls for head-on. Decimal accumulation keeps every prefix
    sum exact, so the running values are reproducible on any
    partition layout."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_spend"),
    )


# --- first_value / last_value / nth_value ----------------------------------

@query(
    "q_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    tags=("window", "frame"),
)
def q_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over the full-partition frame (the
    last_value default-frame trap done right: without UNBOUNDED
    FOLLOWING, last_value degenerates to the current row). One
    exchange+sort per customer partition serves all three."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


# --- max_by / min_by -------------------------------------------------------

@query(
    "q_minmax_by",
    oracle="""
    SELECT o_custkey,
           (max({'p': o_totalprice, 'k': o_orderkey})).k AS biggest_order,
           max(o_totalprice) AS max_price,
           (min({'p': o_totalprice, 'k': o_orderkey})).k AS smallest_order,
           min(o_totalprice) AS min_price
    FROM orders GROUP BY 1
    """,
    tags=("aggregate", "argmax"),
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-safe max_by/min_by: the order id carrying each customer's
    extreme price, ties broken by order key via a struct comparison
    (`max(struct(price, key))` — the same map-side-combinable shape
    q_embed_top1 uses, no window sort). DuckDB mirrors it with
    `max(row(price, key))` field extraction."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max(F.struct("o_totalprice", "o_orderkey")).getField("o_orderkey").alias("biggest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min(F.struct("o_totalprice", "o_orderkey")).getField("o_orderkey").alias("smallest_order"),
        F.min("o_totalprice").alias("min_price"),
    )


# --- moment statistics (corr / stddev / variance, deterministic) -----------

_QD = "cast(l_quantity as decimal(18,3))"
_PD = "cast(l_extendedprice as decimal(18,3))"


@query(
    "q_stats_agg",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             cast(sum({_QD}) as double) AS sx,
             cast(sum({_PD}) as double) AS sy,
             cast(sum({_QD} * {_QD}) as double) AS sxx,
             cast(sum({_PD} * {_PD}) as double) AS syy,
             cast(sum({_QD} * {_PD}) as double) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n,
           {R4_SQL.format(c="(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")} AS qty_price_corr,
           {R4_SQL.format(c="sqrt((sxx - sx * sx / n) / (n - 1))")} AS qty_stddev,
           {R4_SQL.format(c="(sxx - sx * sx / n) / (n - 1)")} AS qty_variance
    FROM m
    """,
    tags=("aggregate", "stats"),
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr/stddev_samp/var_samp per return flag — computed from
    exact decimal moment sums, then one double-precision formula
    (built-in corr/stddev accumulate doubles in partition order and
    are NOT reproducible across layouts; the moment form is, and it's
    a single map-side-combinable pass either way)."""
    li = read_table(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast("decimal(18,3)")
    pd_ = F.col("l_extendedprice").cast("decimal(18,3)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(pd_).cast("double").alias("sy"),
        F.sum(qd * qd).cast("double").alias("sxx"),
        F.sum(pd_ * pd_).cast("double").alias("syy"),
        F.sum(qd * pd_).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        "n",
        det_round((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4).alias("qty_price_corr"),
        det_round(F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))), 4).alias("qty_stddev"),
        det_round((sxx - sx * sx / n) / (n - F.lit(1)), 4).alias("qty_variance"),
    )


# --- ratio-to-report window ------------------------------------------------

@query(
    "q_window_share",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           {R4_SQL.format(c="o_totalprice / cast(sum(cast(o_totalprice as decimal(18,2))) OVER (PARTITION BY o_custkey) as double)")} AS share_of_customer
    FROM orders
    """,
    tags=("window",),
)
def q_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each order's share of its customer's lifetime
    spend (unbounded partition sum — no ORDER BY, so no sort; one
    exchange on the customer key)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    total = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        det_round(F.col("o_totalprice") / total, 4).alias("share_of_customer"),
    )


# --- array construction + element ops --------------------------------------

@query(
    "q_array_ops",
    oracle="""
    WITH arrs AS (
      SELECT o_custkey,
             list_sort(list(o_totalprice), 'DESC') AS prices
      FROM orders GROUP BY 1
    )
    SELECT o_custkey,
           len(prices) AS n_orders,
           prices[1] AS top1,
           prices[2] AS top2,
           prices[3] AS top3,
           len(list_distinct(prices)) AS n_distinct_prices
    FROM arrs
    """,
    tags=("array",),
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array pipeline: collect → sort desc → positional access (null
    past the end, both engines) → distinct cardinality. The sorted
    collect is the `orders.items` ArrayType(Struct) shape
    (`schemas.py:14-19`) exercised on primitives; `F.get` is the
    OOB-null accessor that stays legal under ANSI mode."""
    o = read_table(spark, sf_dir, "orders")
    arrs = o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_totalprice"), asc=False).alias("prices")
    )
    return arrs.select(
        "o_custkey",
        F.size("prices").alias("n_orders"),
        F.get("prices", 0).alias("top1"),
        F.get("prices", 1).alias("top2"),
        F.get("prices", 2).alias("top3"),
        F.size(F.array_distinct("prices")).alias("n_distinct_prices"),
    )


# --- regexp family ---------------------------------------------------------

@query(
    "q_regexp_funcs",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           len(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS consonants,
           CAST(CASE WHEN regexp_matches(p_name, '\\d') THEN 1 ELSE 0 END AS BIGINT) AS has_digit
    FROM part
    """,
    tags=("string", "regexp"),
)
def q_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / count / replace / match predicate — the
    pattern-function family (reference uses only split+concat for PII
    masking, `transform_transactions.py:118-123`; corpus pipelines
    lean on regexps constantly). All row-local codegen expressions."""
    p = read_table(spark, sf_dir, "part")
    name = F.col("p_name")
    return p.select(
        "p_partkey",
        F.regexp_extract(name, r"^(\w+)", 1).alias("first_word"),
        F.regexp_count(name, F.lit("[aeiou]")).cast("long").alias("n_vowels"),
        F.regexp_replace(name, "[aeiou]", "").alias("consonants"),
        F.when(name.rlike(r"\d"), 1).otherwise(0).cast("long").alias("has_digit"),
    )


# --- decimal money pipeline ------------------------------------------------

@query(
    "q_decimal_money",
    oracle="""
    WITH priced AS (
      SELECT o_orderstatus,
             cast(o_totalprice as decimal(18,2)) AS price_dec,
             round(cast(o_totalprice as decimal(18,2)) * cast(0.0725 as decimal(6,4)), 2) AS tax
      FROM orders
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           cast(sum(price_dec) as double) AS net_total,
           cast(sum(tax) as double) AS tax_total,
           cast(sum(price_dec + tax) as double) AS gross_total
    FROM priced GROUP BY 1
    """,
    tags=("decimal", "aggregate"),
)
def q_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL(18,2) money pipeline — the production-correct
    alternative SURVEY §1.2 documents (the reference keeps DoubleType
    and pushes NUMERIC(18,2) to Postgres DDL, `warehouse/init.sql:32-43`):
    exact tax multiply, half-up round to cents, exact sums; doubles
    only at the output boundary."""
    o = read_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    tax = F.round(price * F.lit("0.0725").cast("decimal(6,4)"), 2)
    priced = o.select(
        "o_orderstatus", price.alias("price_dec"), tax.alias("tax")
    )
    return priced.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_dec").cast("double").alias("net_total"),
        F.sum("tax").cast("double").alias("tax_total"),
        F.sum(F.col("price_dec") + F.col("tax")).cast("double").alias("gross_total"),
    )


# --- TPC-H Q5 shape: local-supplier volume ---------------------------------

@query(
    "q_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           count(*) AS n_items,
           {R2_SQL.format(c=REV_SUM_SQL)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    """,
    tags=("join", "aggregate", "tpch"),
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue where customer and supplier share a
    nation, rolled up by nation within one region. The only big-big
    shuffle is lineitem⋈orders on the order key; customer, supplier,
    nation, region all broadcast — the same-nation predicate rides
    the supplier join, so no extra exchange for it."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            det_round(rev_sum(), 2).alias("revenue"),
        )
    )


# --- TPC-H Q10 shape: returned-item revenue, top 20 ------------------------

@query(
    "q_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {R2_SQL.format(c=REV_SUM_SQL)} AS lost_revenue,
           count(*) AS n_returned_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2
    ORDER BY lost_revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("join", "aggregate", "topk", "tpch"),
)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns.
    Return-flag filter pushes to the lineitem scan; the top-k is a
    TakeOrderedAndProject (per-partition heap + driver merge of 20
    rows), never a full sort. Tie-break on custkey keeps the LIMIT
    deterministic."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            det_round(rev_sum(), 2).alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --- skew-proof two-phase aggregation --------------------------------------

@query(
    "q_salted_agg",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           {SUM_SQL.format(c='value')} AS total_value,
           max(value) AS max_value
    FROM events GROUP BY 1
    """,
    tags=("aggregate", "skew"),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.salted_agg) run
    for keeps: per-user stats sharded across 16 sub-keys then merged.
    The oracle is the PLAIN group-by — salting must be semantically
    invisible, which is exactly what this hash-checks. The shape that
    survives one bot account with 10⁸ events at 100 TB
    (`README.md:141` calls out the user_id skew)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.skew import salted_agg

    e = read_table(spark, sf_dir, "events")
    out = salted_agg(
        e,
        keys=["user_id"],
        partial=[
            (F.count(F.lit(1)), "n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")), "total_value"),
            (F.max("value"), "max_value"),
        ],
        merge=[("sum", "n_events"), ("sum", "total_value"), ("max", "max_value")],
        salt=16,
    )
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
        "max_value",
    )


# --- FILTER clause through the SQL-string path -----------------------------

_FILTER_SQL = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_orders,
       cast(sum(cast(o_totalprice as decimal(18,2)))
            FILTER (WHERE o_totalprice >= 1000) as double) AS big_ticket_gmv,
       max(o_totalprice) FILTER (WHERE o_orderpriority = '5-LOW') AS max_low_priority
FROM orders
GROUP BY o_orderstatus
"""


@query(
    "q_filter_clause",
    oracle=_FILTER_SQL,
    tags=("aggregate", "sql"),
)
def q_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard FILTER (WHERE …) aggregates — the declarative
    twin of the `sum(when(...))` conditional-aggregate family
    (`revenue_aggregations.py:66-74`), run through spark.sql with the
    IDENTICAL text as the DuckDB oracle (the catalog_sql parity
    pattern). Catalyst compiles FILTER to the same conditional
    aggregate — one pass, map-side partials."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_FILTER_SQL)


# --- date/time function family ---------------------------------------------

@query(
    "q_date_arith",
    oracle="""
    SELECT o_orderkey,
           cast(o_orderdate as date) AS order_date,
           cast(o_orderdate as date) + INTERVAL 30 DAY AS due_date,
           cast(date_diff('day', DATE '1995-01-01', cast(o_orderdate as date)) as bigint) AS days_since_epoch_anchor,
           last_day(cast(o_orderdate as date)) AS month_end,
           cast(date_trunc('month', o_orderdate) as date) AS month_start,
           cast(isodow(o_orderdate) as bigint) AS iso_weekday,
           cast(quarter(o_orderdate) as bigint) AS qtr
    FROM orders
    """,
    tags=("date",),
)
def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-arithmetic family: offset, anchored diff, month bounds,
    ISO weekday, quarter (`dim_dates.sql:11-46` calendar derivations
    + the §2.12-2 weekday fix — `weekday()+1` is ISO Monday=1, unlike
    the reference's broken epoch-seconds formula). All row-local
    codegen; the date dimension join (q_dim_dates) precomputes these
    once at scale."""
    o = read_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_epoch_anchor"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "month").alias("month_start"),
        (F.weekday(d) + F.lit(1)).cast("long").alias("iso_weekday"),
        F.quarter(d).cast("long").alias("qtr"),
    )


# --- string function family ------------------------------------------------

@query(
    "q_string_pad",
    oracle="""
    SELECT c_custkey,
           lpad(c_name, 22, '*') AS padded_left,
           rpad(c_mktsegment, 12, '.') AS padded_right,
           reverse(c_name) AS reversed_name,
           translate(c_name, 'aeiou', 'AEIOU') AS vowels_up,
           substr(c_name, 1, 8) AS name_prefix,
           repeat(c_mktsegment, 2) AS doubled_segment
    FROM customer
    """,
    tags=("string",),
)
def q_string_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lpad/rpad/reverse/translate/substr/repeat — the string-surface
    beyond q_string_funcs' split/concat/case family. All codegen
    expressions; dialect-identical semantics in DuckDB (1-based
    substr, truncating lpad)."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad("c_name", 22, "*").alias("padded_left"),
        F.rpad("c_mktsegment", 12, ".").alias("padded_right"),
        F.reverse("c_name").alias("reversed_name"),
        F.translate("c_name", "aeiou", "AEIOU").alias("vowels_up"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.repeat("c_mktsegment", 2).alias("doubled_segment"),
    )


# --- boolean / bitwise aggregates ------------------------------------------

@query(
    "q_bool_bit_agg",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           bit_and(o_orderkey) AS key_bit_and,
           bit_or(o_orderkey) AS key_bit_or,
           bit_xor(o_orderkey) AS key_bit_xor
    FROM orders GROUP BY 1
    """,
    tags=("aggregate", "bitwise"),
)
def q_bool_bit_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or + bit_and/or/xor aggregates — commutative and
    associative, so they partial-aggregate map-side and are layout-
    independent by construction (the same property the decimal money
    sums buy for floats)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.bit_and("o_orderkey").alias("key_bit_and"),
        F.bit_or("o_orderkey").alias("key_bit_or"),
        F.bit_xor("o_orderkey").alias("key_bit_xor"),
    )


# --- unpivot / melt --------------------------------------------------------

@query(
    "q_unpivot",
    oracle="""
    WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM li
    """,
    tags=("reshape",),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the four lineitem measures via the native
    unpivot operator (Expand node — ONE scan emitting 4 rows per
    input, vs the oracle's 4-scan UNION ALL text; same result,
    quarter the I/O). The inverse of q_pivot_status. A deterministic
    1-in-50 key filter keeps the oracle compare cheap — the operator
    shape is row-count-independent."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )


# --- column-profile cardinalities ------------------------------------------

@query(
    "q_profile_cardinality",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderstatus) AS n_statuses,
           count(DISTINCT o_orderpriority) AS n_priorities,
           count(DISTINCT cast(o_orderdate as date)) AS n_dates,
           count(*) - count(o_totalprice) AS null_prices
    FROM orders
    """,
    tags=("profile", "aggregate"),
)
def q_profile_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column cardinality profile in ONE aggregate (Catalyst
    Expand: one scan fans out per-distinct streams) — the schema-
    profiling pass a pipeline runs before choosing partition and
    bucket keys. At 100 TB swap exact distincts for
    approx_count_distinct on the same plan (test_approx_variants
    pins the error bounds)."""
    o = read_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.countDistinct(F.to_date("o_orderdate")).alias("n_dates"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("null_prices"),
    )


# --- KMV (k-minimum-values) distinct sketch --------------------------------

_KMV_K = 64
# 60-bit md5 hash → uniform [0,1) via division by 2^60 (the same H60
# bit pattern the MinHash tier uses — ext/text.hash60).
_U_SQL = f"({H60_SQL.format(x='cast(o_custkey as varchar)')} / 1152921504606846976.0)"


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT {_U_SQL} AS u FROM orders
    ),
    kth AS (SELECT max(u) AS u_k, count(*) AS k FROM (SELECT u FROM u ORDER BY u LIMIT {_KMV_K})),
    exact AS (SELECT count(DISTINCT o_custkey) AS n_exact FROM orders)
    SELECT n_exact,
           {R4_SQL.format(c='(k - 1) / u_k')} AS n_estimated,
           {R4_SQL.format(c='abs((k - 1) / u_k - n_exact) / n_exact')} AS rel_error
    FROM kth, exact
    """,
    tags=("sketch", "aggregate"),
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct sketch, fully deterministic: md5-60bit
    hashes normalized to [0,1), estimate = (k-1)/u_(k). Unlike HLL
    (approx_count_distinct, error-band-tested in
    test_approx_variants), the KMV estimate is an exact function of
    the data, so it hash-gates. The k smallest hashes come from
    TakeOrderedAndProject (per-partition heaps of 64, driver merge) —
    the mergeable-sketch shape that needs no global sort at 100 TB."""
    o = read_table(spark, sf_dir, "orders")
    u = (
        o.select(F.col("o_custkey").cast("string").alias("k")).distinct()
        .select((hash60(F.col("k")) / F.lit(float(1 << 60))).alias("u"))
    )
    kth = (
        u.orderBy("u").limit(_KMV_K)
        .agg(F.max("u").alias("u_k"), F.count(F.lit(1)).alias("k"))
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("n_exact"))
    est = (F.col("k") - 1) / F.col("u_k")
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            "n_exact",
            det_round(est, 4).alias("n_estimated"),
            det_round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_error"),
        )
    )


# --- Bloom-filter pruned join ----------------------------------------------

@query(
    "q_bloom_prune",
    oracle=f"""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           {R2_SQL.format(c=REV_SUM_SQL)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
    tags=("join", "bloom", "prune"),
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned fact join (operators/bloom.py), run for keeps: the
    urgent-order keys build a 16k-bit filter (distributed, UDF-free);
    lineitem is pruned by k broadcast semi-joins on bit positions
    BEFORE the exact join. The oracle is the PLAIN join — pruning
    plus the exact join must be semantically invisible (false
    positives are removed by the join), which this hash-checks.
    Unlike a distinct-key semi-join, the broadcast stays ≤ m positions
    however large the build side grows — the bounded-build-side prune
    for fact-to-fact joins at 100 TB."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.bloom import bloom_build, bloom_prune

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderpriority")
    # r16 (guide §2.4): materialize the ≤16k-row bit table once —
    # the operator docstring's own advice — instead of letting the
    # k=3 semi-joins each re-execute the build subtree (3 extra
    # orders scans + distinct shuffles in the before plan).
    bits = bloom_build(o, "o_orderkey").localCheckpoint()
    pruned = bloom_prune(li, "l_orderkey", bits)
    return (
        pruned.join(o, pruned.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            det_round(rev_sum(), 2).alias("revenue"),
        )
    )


# --- KMV sketch set algebra (theta-sketch-style union/intersection) --------


@query(
    "q_kmv_set_ops",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT {_U_SQL} AS u FROM orders WHERE year(cast(o_orderdate as date)) = 1995
    ),
    b AS (
      SELECT DISTINCT {_U_SQL} AS u FROM orders WHERE year(cast(o_orderdate as date)) = 1996
    ),
    sa AS (SELECT u FROM a ORDER BY u LIMIT {_KMV_K}),
    sb AS (SELECT u FROM b ORDER BY u LIMIT {_KMV_K}),
    su AS (SELECT DISTINCT u FROM (SELECT u FROM sa UNION ALL SELECT u FROM sb)
           ORDER BY u LIMIT {_KMV_K}),
    kth AS (SELECT max(u) AS u_k, count(*) AS k FROM su),
    rho AS (
      SELECT count(*) AS n_both FROM su
      WHERE u IN (SELECT u FROM sa) AND u IN (SELECT u FROM sb)
    ),
    ex AS (
      SELECT count(DISTINCT CASE WHEN y IN (1995, 1996) THEN o_custkey END) AS n_union,
             count(DISTINCT CASE WHEN y = 1995 THEN o_custkey END)
               + count(DISTINCT CASE WHEN y = 1996 THEN o_custkey END)
               - count(DISTINCT CASE WHEN y IN (1995, 1996) THEN o_custkey END) AS n_inter
      FROM (SELECT o_custkey, year(cast(o_orderdate as date)) AS y FROM orders)
    )
    SELECT CAST(ex.n_union AS BIGINT) AS n_exact_union,
           CAST(ex.n_inter AS BIGINT) AS n_exact_inter,
           {R4_SQL.format(c='(kth.k - 1) / kth.u_k')} AS est_union,
           {R4_SQL.format(c='(cast(rho.n_both as double) / kth.k) * ((kth.k - 1) / kth.u_k)')} AS est_inter,
           {R4_SQL.format(c='cast(rho.n_both as double) / kth.k')} AS jaccard_est
    FROM kth, rho, ex
    """,
    tags=("sketch", "aggregate"),
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET ALGEBRA on KMV (bottom-k) sketches: the
    1995 and 1996 customer sets sketch independently (k smallest
    md5-60bit hash fractions each — mergeable per-partition heaps,
    never a global sort), then union = bottom-k of the merged
    signatures with estimate (k-1)/u_(k), and intersection via the
    theta rule: the fraction rho of union-sketch members present in
    BOTH signatures scales the union estimate. Everything after the
    two bottom-k's runs on ≤2k rows (broadcast); exact counts ride
    along for the error columns. Deterministic end-to-end — the same
    sketches any engine building from these bytes would produce —
    which is what lets an *approximate* algorithm hash-gate."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("y")
    )

    def sig(year: int) -> DataFrame:
        return (
            o.filter(F.col("y") == year)
            .select(F.col("o_custkey").cast("string").alias("k"))
            .distinct()
            .select((hash60(F.col("k")) / F.lit(float(1 << 60))).alias("u"))
            .orderBy("u")
            .limit(_KMV_K)
        )

    sa, sb = sig(1995), sig(1996)
    su = sa.unionByName(sb).distinct().orderBy("u").limit(_KMV_K)
    kth = su.agg(F.max("u").alias("u_k"), F.count(F.lit(1)).alias("k"))
    both = (
        su.join(sa, "u", "left_semi")
        .join(sb, "u", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    in_year = lambda yr: F.when(F.col("y") == yr, F.col("o_custkey"))
    ex = o.agg(
        F.countDistinct(
            F.when(F.col("y").isin(1995, 1996), F.col("o_custkey"))
        ).alias("n_union"),
        (
            F.countDistinct(in_year(1995))
            + F.countDistinct(in_year(1996))
            - F.countDistinct(
                F.when(F.col("y").isin(1995, 1996), F.col("o_custkey"))
            )
        ).alias("n_inter"),
    )
    est_union = (F.col("k") - 1) / F.col("u_k")
    rho = F.col("n_both").cast("double") / F.col("k")
    return (
        kth.crossJoin(F.broadcast(both))
        .crossJoin(F.broadcast(ex))
        .select(
            F.col("n_union").cast("long").alias("n_exact_union"),
            F.col("n_inter").cast("long").alias("n_exact_inter"),
            det_round(est_union, 4).alias("est_union"),
            det_round(rho * est_union, 4).alias("est_inter"),
            det_round(rho, 4).alias("jaccard_est"),
        )
    )


# --- HyperLogLog registers (deterministic, exact-checkable) ----------------

#: 256 registers (8 index bits of the 60-bit hash; 52 tail bits).
_HLL_M = 256
#: alpha_256 * m^2 * 2^53 as one double literal shared by BOTH
#: engines, so the estimate is the same IEEE arithmetic everywhere.
_HLL_NUM = "4.2399330249068963e+20"
_HLL_H = H60_SQL.format(x="cast(o_custkey as varchar)")


@query(
    "q_hll_registers",
    oracle=f"""
    WITH h AS (SELECT {_HLL_H} AS h FROM orders),
    rho AS (
      SELECT {HLL_REGISTER_SQL}
      FROM h
    ),
    reg AS (
      SELECT g.idx, coalesce(max(rho.r), 0) AS m_j
      FROM (SELECT unnest(range({_HLL_M})) AS idx) g
      LEFT JOIN rho ON rho.idx = g.idx
      GROUP BY 1
    ),
    s AS (
      SELECT sum((CAST(1 AS BIGINT) << (53 - m_j))) AS s_int,
             sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS v
      FROM reg
    ),
    est AS (
      SELECT CASE WHEN ({_HLL_NUM} / CAST(s_int AS DOUBLE)) <= 2.5 * {_HLL_M} AND v > 0
                  THEN {_HLL_M} * ln({_HLL_M} / CAST(v AS DOUBLE))
                  ELSE {_HLL_NUM} / CAST(s_int AS DOUBLE) END AS e,
             CAST(v AS BIGINT) AS n_zero_registers
      FROM s
    ),
    exact AS (SELECT count(DISTINCT o_custkey) AS n_exact FROM orders)
    SELECT n_exact,
           {R4_SQL.format(c='e')} AS n_estimated,
           {R4_SQL.format(c='abs(e - n_exact) / n_exact')} AS rel_error,
           n_zero_registers
    FROM est, exact
    """,
    tags=("sketch", "aggregate"),
)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built from first principles, fully deterministic —
    the third sketch of the family (KMV bottom-k `q_kmv_distinct`,
    Count-Min `q_cms_heavy_hitters`): 256 registers indexed by the
    top 8 bits of the md5-60 hash, register value = leading-zero
    rank of the 52-bit tail (computed by STRING search over the
    padded binary — no float log2, so both engines agree bit-for-
    bit), estimate = alpha·m²/Σ2^-M_j with the standard small-range
    linear-counting correction. The harmonic sum runs ENTIRELY in
    integers (Σ 2^(53-M_j) ≤ 2^61, exact BIGINT), so unlike
    approx_count_distinct (error-band-tested only), this HLL is an
    exact function of the data and hash-gates. Plan: one map-side-
    combined (idx → max rho) agg — 256-row state, the mergeable-
    sketch shape that makes HLL THE distributed distinct counter at
    100 TB (partial registers merge by elementwise max, no rescan).
    No pre-distinct: duplicates cannot change a max."""
    o = read_table(spark, sf_dir, "orders")
    h = o.select(hash60(F.col("o_custkey").cast("string")).alias("h"))
    idx, r = hll_register(F.col("h"))
    rho = h.select(idx.alias("idx"), r.alias("r"))
    grid = spark.range(_HLL_M).select(F.col("id").alias("idx"))
    reg = (
        grid.join(rho.groupBy("idx").agg(F.max("r").alias("mx")), "idx", "left")
        .select("idx", F.coalesce(F.col("mx"), F.lit(0)).alias("m_j"))
    )
    s = reg.agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 53 - m_j)")).alias("s_int"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0)).alias("v"),
    )
    e_raw = F.lit(float(_HLL_NUM)) / F.col("s_int").cast("double")
    e = F.when(
        (e_raw <= 2.5 * _HLL_M) & (F.col("v") > 0),
        F.lit(_HLL_M) * F.log(F.lit(_HLL_M) / F.col("v").cast("double")),
    ).otherwise(e_raw)
    exact = o.agg(F.countDistinct("o_custkey").alias("n_exact"))
    return (
        s.crossJoin(F.broadcast(exact))
        .select(
            "n_exact",
            det_round(e, 4).alias("n_estimated"),
            det_round(F.abs(e - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_error"),
            F.col("v").cast("long").alias("n_zero_registers"),
        )
    )


# --- Z-order (Morton) clustering key ---------------------------------------

#: 8-bit quantizers for the two clustering dimensions.
_ZQ_PX = "least(255, cast(floor(o_totalprice / 2000.0) as bigint))"
_ZQ_PY = (
    "least(255, greatest(0, cast(floor("
    "datediff(cast(o_orderdate as date), cast('1995-01-01' as date)) / 16.0"
    ") as bigint)))"
)
_ZQ_PY_DUCK = (
    "least(255, greatest(0, cast(floor("
    "date_diff('day', DATE '1995-01-01', cast(o_orderdate as date)) / 16.0"
    ") as bigint)))"
)
#: Morton interleave of two 8-bit ints as pure integer arithmetic
#: (floor-div + mod — no engine bit operators), generated ONCE and
#: shared verbatim by both engines.
_Z_INTERLEAVE = " + ".join(
    f"((cast(floor({{px}} / {1 << i}.0) as bigint) % 2) * {1 << (2 * i + 1)})"
    f" + ((cast(floor({{py}} / {1 << i}.0) as bigint) % 2) * {1 << (2 * i)})"
    for i in range(8)
)


@query(
    "q_zorder_key",
    oracle=f"""
    WITH q AS (
      SELECT {_ZQ_PX} AS px, {_ZQ_PY_DUCK} AS py FROM orders
    ),
    z AS (
      SELECT px, py, ({_Z_INTERLEAVE.format(px='px', py='py')}) AS zkey FROM q
    )
    SELECT cast(floor(zkey / 1024.0) as bigint) AS z_bucket,
           count(*) AS n_orders,
           min(px) AS px_min, max(px) AS px_max,
           min(py) AS py_min, max(py) AS py_max
    FROM z GROUP BY 1
    """,
    tags=("scalar", "layout", "zorder"),
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key — the multi-dimensional data-
    layout primitive behind Delta's OPTIMIZE ZORDER BY (gated in this
    container, sources/delta_maintenance.py; the KEY computation is
    engine work and runs for keeps here): quantize (total price,
    order date) to 8 bits each and interleave the bits, so
    lexicographic order on zkey keeps BOTH dimensions locally dense —
    files written in zkey order serve min/max skipping on EITHER
    column, where a plain sort serves only its leading column. The
    interleave is pure integer floor-div/mod arithmetic generated
    once in Python and shared verbatim with the oracle (no engine
    bit-operator trust). Output: per 1024-wide zkey bucket, the count
    and both dimensions' min/max extents — the bounded-extent
    property IS the file-skipping guarantee (every bucket spans ≤ an
    1/8 x 1/4 tile of the quantized plane, test-pinned). Plan: one
    row-local projection + one map-side-combined agg; at 100 TB this
    runs in the write path as `repartitionByRange(zkey)`."""
    o = read_table(spark, sf_dir, "orders")
    q = o.select(
        F.expr(_ZQ_PX).alias("px"), F.expr(_ZQ_PY).alias("py")
    )
    z = q.select(
        "px", "py", F.expr(_Z_INTERLEAVE.format(px="px", py="py")).alias("zkey")
    )
    return (
        z.groupBy(
            F.expr("cast(floor(zkey / 1024.0) as bigint)").alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("px").alias("px_min"),
            F.max("px").alias("px_max"),
            F.min("py").alias("py_min"),
            F.max("py").alias("py_max"),
        )
    )


# --- consistent-hash shard rebalancing audit -------------------------------

_SH_OLD, _SH_NEW = 16, 17  # shard counts before/after the scale-out


@query(
    "q_shard_rebalance",
    oracle=f"""
    WITH k AS (SELECT DISTINCT o_custkey AS key FROM orders),
    h AS (
      SELECT key, {H60_SQL.format(x='cast(key as varchar)')} AS hk FROM k
    ),
    e AS (
      SELECT k.key, u.s,
             {H60_SQL.format(x="cast(k.key as varchar) || '#' || cast(u.s as varchar)")} AS sc
      FROM k, (SELECT unnest(range({_SH_NEW})) AS s) u
    ),
    hrw AS (
      SELECT key,
             max(CASE WHEN s < {_SH_OLD} THEN {{'sc': sc, 'ns': -s}} END) AS o,
             max({{'sc': sc, 'ns': -s}}) AS n
      FROM e GROUP BY 1
    ),
    per_key AS (
      SELECT h.key,
             CASE WHEN (h.hk % {_SH_OLD}) <> (h.hk % {_SH_NEW}) THEN 1 ELSE 0 END AS mv_mod,
             CASE WHEN hrw.o.ns <> hrw.n.ns THEN 1 ELSE 0 END AS mv_hrw
      FROM h JOIN hrw ON hrw.key = h.key
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(mv_mod) AS BIGINT) AS moved_mod,
           {R4_SQL.format(c='sum(mv_mod) / CAST(count(*) AS DOUBLE)')} AS frac_mod,
           CAST(sum(mv_hrw) AS BIGINT) AS moved_hrw,
           {R4_SQL.format(c='sum(mv_hrw) / CAST(count(*) AS DOUBLE)')} AS frac_hrw
    FROM per_key
    """,
    tags=("scalar", "layout", "hash"),
)
def q_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-rebalancing audit: what fraction of keys MOVE when a
    {_SH_OLD}-shard layout scales to {_SH_NEW}, under (a) mod-hash
    placement — the naive scheme, which remaps ~{_SH_OLD}/{_SH_NEW}
    of ALL keys and forces a near-total reshuffle of a 100 TB
    bucketed table — vs (b) rendezvous (HRW) hashing — argmax over
    per-(key, shard) md5 scores, where only keys whose NEW shard's
    score wins move (expected 1/{_SH_NEW}). The argmax tie-breaks by
    lexicographic struct max (score, then lowest shard id) so both
    engines agree exactly. This is the engine's data-layout answer to
    cluster scale-out: HRW placement keys stay put, so bucketed joins
    survive topology changes without rewriting the table. Plan: one
    distinct over the key column, a {_SH_NEW}-row broadcast expand,
    one key-grouped struct-max agg, one 1-row reduction."""
    o = read_table(spark, sf_dir, "orders")
    k = o.select(F.col("o_custkey").alias("key")).distinct()
    hk = hash60(F.col("key").cast("string"))
    shards = spark.range(_SH_NEW).select(F.col("id").alias("s"))
    e = k.crossJoin(F.broadcast(shards)).select(
        "key",
        "s",
        hash60(
            F.concat(F.col("key").cast("string"), F.lit("#"), F.col("s").cast("string"))
        ).alias("sc"),
    )
    pair = F.struct(F.col("sc").alias("sc"), (-F.col("s")).alias("ns"))
    hrw = e.groupBy("key").agg(
        F.max(F.when(F.col("s") < _SH_OLD, pair)).alias("o"),
        F.max(pair).alias("n"),
    )
    per_key = k.select("key", hk.alias("hk")).join(hrw, "key").select(
        F.when((F.col("hk") % _SH_OLD) != (F.col("hk") % _SH_NEW), 1)
        .otherwise(0)
        .alias("mv_mod"),
        F.when(F.col("o.ns") != F.col("n.ns"), 1).otherwise(0).alias("mv_hrw"),
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("mv_mod").cast("long").alias("moved_mod"),
        det_round(F.sum("mv_mod") / F.count(F.lit(1)).cast("double"), 4).alias("frac_mod"),
        F.sum("mv_hrw").cast("long").alias("moved_hrw"),
        det_round(F.sum("mv_hrw") / F.count(F.lit(1)).cast("double"), 4).alias("frac_hrw"),
    )


# --- FULL OUTER snapshot diff ----------------------------------------------


@query(
    "q_full_outer_diff",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS k, count(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    ),
    b AS (
      SELECT o_custkey AS k, count(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1
    )
    SELECT coalesce(a.k, b.k) AS custkey,
           coalesce(a.n, 0) AS n_1996,
           coalesce(b.n, 0) AS n_1997,
           CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'removed'
                WHEN a.n = b.n THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
    tags=("join", "outer", "cdc"),
)
def q_full_outer_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER snapshot diff — the one join type the suite's
    repertoire (§2.3: inner/left/semi/anti/left-outer/cross) still
    lacked, in its canonical CDC role: per-customer activity in two
    adjacent years, keys present only left → 'removed', only right →
    'added', both → changed/unchanged. This is the key-level
    companion to q_reconciliation's total-level compare and the diff
    a migration validates with before cutover. Plan: two filtered
    pre-aggregations (partition-prunable at scale) then ONE full
    outer sort-merge on the key — both sides arrive already
    partitioned by k, so AQE reuses the exchanges; null-safe
    coalesce classification is row-local."""
    o = read_table(spark, sf_dir, "orders")

    def year_counts(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    a = year_counts(1996).select(F.col("k").alias("ka"), F.col("n").alias("na"))
    b = year_counts(1997).select(F.col("k").alias("kb"), F.col("n").alias("nb"))
    j = a.join(b, a.ka == b.kb, "full_outer")
    return j.select(
        F.coalesce("ka", "kb").alias("custkey"),
        F.coalesce("na", F.lit(0)).cast("long").alias("n_1996"),
        F.coalesce("nb", F.lit(0)).cast("long").alias("n_1997"),
        F.when(F.col("ka").isNull(), "added")
        .when(F.col("kb").isNull(), "removed")
        .when(F.col("na") == F.col("nb"), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )


# --- join-key skew audit ---------------------------------------------------

_SKEW_PARTS = 32  # simulated hash-partition count


@query(
    "q_data_skew_report",
    oracle=f"""
    WITH stacked AS (
      SELECT 'lineitem.l_suppkey' AS keycol, CAST(l_suppkey AS VARCHAR) AS k FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    ),
    kc AS (SELECT keycol, k, count(*) AS n FROM stacked GROUP BY 1, 2),
    parts AS (
      SELECT keycol,
             ({H60_SQL.format(x='k')}) % {_SKEW_PARTS} AS part,
             sum(n) AS pn
      FROM kc GROUP BY 1, 2
    ),
    pstat AS (
      SELECT keycol, max(pn) AS max_pn, sum(pn) AS tot FROM parts GROUP BY 1
    ),
    kstat AS (
      SELECT keycol, sum(n) AS n_rows, count(*) AS n_keys, max(n) AS top1
      FROM kc GROUP BY 1
    )
    SELECT k.keycol,
           CAST(k.n_rows AS BIGINT) AS n_rows,
           CAST(k.n_keys AS BIGINT) AS n_keys,
           {R6_SQL.format(c='k.top1 / CAST(k.n_rows AS DOUBLE)')} AS top1_share,
           {R6_SQL.format(c='p.max_pn / CAST(p.tot AS DOUBLE)')} AS max_part_share,
           {R4_SQL.format(c=f'(p.max_pn / CAST(p.tot AS DOUBLE)) * {_SKEW_PARTS}')} AS part_skew_factor
    FROM kstat k JOIN pstat p ON p.keycol = k.keycol
    """,
    tags=("quality", "skew", "layout"),
)
def q_data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the measurement BEHIND every salting
    decision in this library (operators/skew.py, q_salted_agg,
    q_topk_per_group): for each audited join key, the per-key
    concentration (top-1 key's row share) and the simulated
    {_SKEW_PARTS}-way hash-partition imbalance (max partition share x
    partition count = the straggler factor a shuffle on that key
    pays; 1.0 = perfectly balanced). Partitions are simulated with
    the engine's portable md5-60 hash so both engines see identical
    placement — at 100 TB run this ON the key columns BEFORE the big
    join and salt exactly the keys this report names. One Expand
    stacks all audited (table, key) pairs → one (keycol, key) count
    → two tiny rollups; cost ≈ one scan per audited table."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    stacked = (
        li.select(
            F.lit("lineitem.l_suppkey").alias("keycol"),
            F.col("l_suppkey").cast("string").alias("k"),
        )
        .unionByName(
            li.select(
                F.lit("lineitem.l_partkey").alias("keycol"),
                F.col("l_partkey").cast("string").alias("k"),
            )
        )
        .unionByName(
            o.select(
                F.lit("orders.o_custkey").alias("keycol"),
                F.col("o_custkey").cast("string").alias("k"),
            )
        )
    )
    kc = stacked.groupBy("keycol", "k").agg(F.count(F.lit(1)).alias("n"))
    hk = hash60(F.col("k"))
    parts = kc.groupBy(
        "keycol", (hk % _SKEW_PARTS).alias("part")
    ).agg(F.sum("n").alias("pn"))
    pstat = parts.groupBy("keycol").agg(
        F.max("pn").alias("max_pn"), F.sum("pn").alias("tot")
    )
    kstat = kc.groupBy("keycol").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("top1"),
    )
    return kstat.join(pstat, "keycol").select(
        "keycol",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        det_round(F.col("top1") / F.col("n_rows").cast("double"), 6).alias("top1_share"),
        det_round(F.col("max_pn") / F.col("tot").cast("double"), 6).alias("max_part_share"),
        det_round(
            F.col("max_pn") / F.col("tot").cast("double") * _SKEW_PARTS, 4
        ).alias("part_skew_factor"),
    )


# --- Fellegi-Sunter record-linkage pattern weights --------------------------

_FS_M = 0.95  # prior P(field agrees | true match), standard literature prior
# Clamp the data-estimated chance-agreement rates into [eps, 1-eps]
# (standard FS practice): a block where no pair shares a suffix gives
# u=0 and log2(m/0) = ±Inf with engine-divergent rendering. Both
# bounds are shared Python literals so the two engines see identical
# doubles.
_FS_EPS = 1e-6
_FS_1ME = 1.0 - 1e-6


@query(
    "q_record_linkage",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             substr(c_name, length(c_name) - 2, 3) AS sfx
      FROM customer
    ),
    pairs AS (
      SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS agree_seg,
             CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END AS agree_bal,
             CASE WHEN a.sfx = b.sfx THEN 1 ELSE 0 END AS agree_sfx
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ),
    u AS (
      SELECT least(greatest(avg(agree_seg), {_FS_EPS!r}), {_FS_1ME!r}) AS u_seg,
             least(greatest(avg(agree_bal), {_FS_EPS!r}), {_FS_1ME!r}) AS u_bal,
             least(greatest(avg(agree_sfx), {_FS_EPS!r}), {_FS_1ME!r}) AS u_sfx,
             count(*) AS n_total
      FROM pairs
    )
    SELECT agree_seg, agree_bal, agree_sfx,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {R4_SQL.format(c=(
             f"(CASE WHEN agree_seg = 1 THEN log2({_FS_M} / u_seg) ELSE log2({1 - _FS_M} / (1 - u_seg)) END) + "
             f"(CASE WHEN agree_bal = 1 THEN log2({_FS_M} / u_bal) ELSE log2({1 - _FS_M} / (1 - u_bal)) END) + "
             f"(CASE WHEN agree_sfx = 1 THEN log2({_FS_M} / u_sfx) ELSE log2({1 - _FS_M} / (1 - u_sfx)) END)"
           ))} AS fs_weight
    FROM pairs, u
    GROUP BY 1, 2, 3, u_seg, u_bal, u_sfx
    """,
    tags=("join", "mdm", "linkage", "statistics"),
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage — the SCORING half
    of entity resolution (q_golden_record is the survivorship half,
    q_fuzzy_match the comparison primitive): nation-blocked customer
    pairs compared on three quasi-identifiers (market segment,
    account-balance band, name suffix), each agreement pattern
    weighted by log2(m/u) — m the standard match prior, u estimated
    FROM THE DATA as each field's chance-agreement rate over the
    block-pair population (the unsupervised u-estimation that makes
    FS practical). Output: the classic 8-row agreement-pattern table
    with pair counts and composite weights — high-weight patterns are
    the review queue. Plan: one nation-blocked self-join (the
    blocking bounds pairs to Σ|block|², never n²), one 8-group agg,
    u's as a 1-row broadcast; at 100 TB the block key graduates to
    (nation, name-prefix) exactly like the LSH banding."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        F.expr("substr(c_name, length(c_name) - 2, 3)").alias("sfx"),
    )
    a, b = c.alias("a"), c.alias("b").hint("SHUFFLE_HASH")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.when(F.col("a.c_mktsegment") == F.col("b.c_mktsegment"), 1).otherwise(0).alias("agree_seg"),
        F.when(F.col("a.bal_band") == F.col("b.bal_band"), 1).otherwise(0).alias("agree_bal"),
        F.when(F.col("a.sfx") == F.col("b.sfx"), 1).otherwise(0).alias("agree_sfx"),
    )
    clamp = lambda c: F.least(F.greatest(c, F.lit(_FS_EPS)), F.lit(_FS_1ME))
    u = pairs.agg(
        clamp(F.avg("agree_seg")).alias("u_seg"),
        clamp(F.avg("agree_bal")).alias("u_bal"),
        clamp(F.avg("agree_sfx")).alias("u_sfx"),
    )
    m, d = F.lit(_FS_M), F.lit(1 - _FS_M)

    def w(agree_col: str, u_col: str) -> F.Column:
        return F.when(
            F.col(agree_col) == 1, F.log2(m / F.col(u_col))
        ).otherwise(F.log2(d / (F.lit(1.0) - F.col(u_col))))

    return (
        pairs.groupBy("agree_seg", "agree_bal", "agree_sfx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(F.broadcast(u))
        .select(
            "agree_seg",
            "agree_bal",
            "agree_sfx",
            "n_pairs",
            det_round(
                w("agree_seg", "u_seg") + w("agree_bal", "u_bal") + w("agree_sfx", "u_sfx"),
                4,
            ).alias("fs_weight"),
        )
    )
