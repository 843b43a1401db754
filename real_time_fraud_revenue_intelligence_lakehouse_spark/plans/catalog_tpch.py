"""Round-4 TPC-H anchor completion — the classic relational shapes
the earlier anchor set (Q1/Q3/Q5/Q7/Q8/Q9/Q10/Q14/Q17/Q18/Q19) still
lacked: correlated EXISTS counting (Q4), two-bucket conditional
classification (Q12), outer-join distribution histogram (Q13),
view + scalar-max equality join (Q15), the lone-late-supplier
multi-EXISTS shape (Q21), anti-join + scalar-subquery gate (Q22),
single-row filter aggregate (Q6), HAVING-against-global-share (Q11),
and the groupwise-min join-back (Q2's essence).

The reference never writes these literal queries; they anchor the
*capability categories* its revenue/fraud rollups imply (SURVEY §2.4
conditional aggregates — `revenue_aggregations.py:66-85`; §2.3 join
repertoire) so a user migrating arbitrary warehouse SQL onto this
engine has every classic shape exercised and oracle-checked.

Schema adaptations (this star schema has no partsupp, no
l_commitdate/l_receiptdate/l_shipmode, no c_phone): "late" is
l_shipdate > o_orderdate + 60 days (order-local, so the correlated
predicate still spans two tables exactly like the original), Q12's
shipmode becomes the return flag, Q13's comment filter becomes an
order-priority exclusion, Q22's phone prefix becomes the nation key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    AVG_SQL,
    R2_SQL,
    REV_SUM_SQL,
    SUM_SQL,
    det_round,
    exact_avg,
    rev_sum,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- TPC-H Q4: order-priority checking (correlated EXISTS count) -----------

@query(
    "q_order_priority_check",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-07-01'
      AND o.o_orderdate < DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
    tags=("join", "semi", "tpch"),
)
def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in one quarter with at least one line
    shipped >60 days after order placement, counted per priority. The
    EXISTS correlates on BOTH the join key and an inequality between
    the two tables — Spark's LEFT SEMI join carries the compound
    condition natively, so the probe side (filtered orders) is never
    duplicated and only (l_orderkey, l_shipdate) ships from lineitem.
    The quarter filter pushes to the orders scan; at 100 TB the
    surviving order keys broadcast into the lineitem-side semi join."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --- TPC-H Q12: two-bucket priority classification -------------------------

@query(
    "q_line_priority_mix",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1997-01-01'
      AND l.l_shipdate < DATE '1998-01-01'
    GROUP BY 1
    """,
    tags=("aggregate", "join", "tpch"),
)
def q_line_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (return flag standing in for ship mode): per
    flag, how many lines belong to urgent/high vs other orders — the
    canonical two-bucket conditional count over a fact⋈fact join. The
    ship-year filter prunes the lineitem scan before the join; the
    conditional sums partial-aggregate map-side (3 groups out)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    ).select("l_orderkey", "l_returnflag")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# --- TPC-H Q13: customer order-count distribution --------------------------

@query(
    "q_cust_order_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY 1
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY 1
    """,
    tags=("join", "outer", "aggregate", "tpch"),
)
def q_cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the order-count-per-customer histogram,
    INCLUDING zero-order customers — which forces a LEFT OUTER join
    with the exclusion predicate on the join itself (a WHERE would
    silently drop the zero bucket; the classic outer-join-filter
    trap, done right). Double aggregate: per-customer count, then
    distribution over counts. First agg shuffles on custkey (the
    join's own key — AQE reuses the exchange); the second shuffles a
    few dozen histogram rows."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --- TPC-H Q15: top supplier (view + scalar max equality) ------------------

@query(
    "q_top_supplier",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no, {REV_SUM_SQL} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue0 r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue0)
    """,
    tags=("aggregate", "subquery", "tpch"),
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly per-supplier revenue view, then the
    supplier(s) whose revenue equals the view's max — the
    materialize-once-use-twice pattern. The revenue view is tiny
    (|suppliers| rows), so its max is a 1-row broadcast and the
    equality filter + supplier join both stay broadcast-side; the
    only real work is the pruned lineitem scan + one suppkey agg.
    Revenue is the exact decimal sum, so the double equality against
    max is bit-safe on any layout."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        rev_sum().alias("total_revenue")
    )
    mx = rev0.agg(F.max("total_revenue").alias("_mx"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev0.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --- TPC-H Q21: suppliers who kept orders waiting --------------------------

@query(
    "q_waiting_suppliers",
    oracle="""
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2
    ),
    per_order AS (
      SELECT l_orderkey,
             count(*) AS n_supp,
             CAST(sum(is_late) AS BIGINT) AS n_late,
             min(CASE WHEN is_late = 1 THEN l_suppkey END) AS lone_late_supp
      FROM lo GROUP BY 1
    )
    SELECT s.s_name, count(*) AS numwait
    FROM per_order p
    JOIN supplier s ON s.s_suppkey = p.lone_late_supp
    WHERE p.n_supp > 1 AND p.n_late = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("join", "aggregate", "tpch", "heavy"),
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: for finalized multi-supplier orders, the
    supplier who was the ONLY late one — the textbook
    EXISTS + NOT-EXISTS double correlation, written here in its
    decorrelated aggregate form on BOTH engines (per-(order,supplier)
    lateness, then per-order counts; identical results, and the form
    Catalyst's subquery rewrite would converge to anyway). One
    lineitem⋈orders shuffle on the order key feeds both aggregation
    levels — the second groupBy rides the same partitioning — and the
    supplier name join broadcasts. The single-pass plan beats the
    original's three lineitem scans (l1/l2/l3) ~3× at any scale."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    lo = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").cast("long").alias("n_late"),
        F.min(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("lone_late_supp"),
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("lone_late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# --- TPC-H Q22: dormant high-balance customers -----------------------------

_AVG_POS_BAL = AVG_SQL.format(c="c_acctbal")


@query(
    "q_dormant_customers",
    oracle=f"""
    SELECT c.c_nationkey AS nation,
           count(*) AS numcust,
           {SUM_SQL.format(c="c.c_acctbal")} AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT {_AVG_POS_BAL} FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '1999-01-01')
    GROUP BY 1
    """,
    tags=("join", "anti", "subquery", "tpch"),
)
def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nation key standing in for the phone prefix):
    customers with above-average positive balance and no order since
    1999 — scalar-subquery threshold + anti join + aggregate in one
    query (dormancy is windowed because this generator gives every
    customer SOME order; the anti-join shape is identical). The
    threshold is a 1-row broadcast; the anti join's build side is the
    date-pruned orders' custkey column only, so at 100 TB it
    broadcasts or shuffles as ids; the final rollup has |nations|
    groups."""
    c = read_table(spark, sf_dir, "customer")
    thr = c.filter(F.col("c_acctbal") > 0).agg(
        exact_avg("c_acctbal", alias="_thr")
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("date")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("_thr"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
        )
    )


# --- TPC-H Q6: forecast revenue change (single-row filter aggregate) -------

@query(
    "q_forecast_revenue",
    oracle="""
    SELECT cast(sum(cast(l_extendedprice as decimal(18,2))
                    * cast(l_discount as decimal(18,2))) as double) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("aggregate", "tpch"),
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-throughput aggregate — three
    range predicates, no join, one output row. Every predicate pushes
    to the parquet scan (min/max page skipping does the real work at
    100 TB); the aggregate is a map-side partial + 1-row merge. The
    simplest query here and the purest measure of scan speed."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_discount").cast("decimal(18,2)")
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --- TPC-H Q11: parts above a global value share ---------------------------

@query(
    "q_important_parts",
    oracle=f"""
    WITH pv AS (
      SELECT l.l_partkey AS partkey, {REV_SUM_SQL} AS part_value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey IN (1, 2, 3)
      GROUP BY 1
    )
    SELECT p.partkey, p.part_value
    FROM pv p
    WHERE p.part_value > (
      SELECT cast(sum(cast(part_value as decimal(18,4))) as double) * 0.001 FROM pv
    )
    """,
    tags=("aggregate", "subquery", "having", "tpch"),
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem revenue standing in for partsupp
    stock value): parts whose value within a supplier-nation slice
    exceeds 0.1% of that slice's total — HAVING against a scalar
    aggregate OVER THE SAME derived view. The per-part view is built
    once and reused for both the threshold and the filter (Spark:
    cached-free — the 1-row total broadcasts back onto the same agg
    output, AQE reuses the exchange). Re-accumulation of the exact
    4-decimal part values through decimal(18,4) keeps the grand total
    layout-independent."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(1, 2, 3)
    ).select("s_suppkey")
    pv = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(rev_sum().alias("part_value"))
    )
    tot = pv.agg(
        (F.sum(F.col("part_value").cast("decimal(18,4)")).cast("double") * F.lit(0.001)).alias("_thr")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > F.col("_thr"))
        .select("partkey", "part_value")
    )


# --- TPC-H Q16: supplier variety per part class ----------------------------

@query(
    "q_part_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2
    """,
    tags=("aggregate", "anti", "tpch"),
)
def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (negative account balance standing in for the
    customer-complaints comment filter): how many distinct suppliers
    serve each qualifying (brand, size) class, excluding blacklisted
    suppliers — NOT IN over a subquery + multi-key COUNT DISTINCT.
    The blacklist is ids-only and broadcast as a LEFT ANTI join (the
    NOT IN set provably has no NULLs — a WHERE on a non-null key —
    so anti-join semantics are identical); part filters prune before
    the join; the distinct-agg shuffles (brand, size, suppkey) once,
    then collapses."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_size")
    bad = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --- TPC-H Q20: suppliers with excess volume -------------------------------

@query(
    "q_excess_suppliers",
    oracle=f"""
    WITH vol AS (
      SELECT l_suppkey, l_partkey,
             {SUM_SQL.format(c="l_quantity")} AS qty
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      GROUP BY 1, 2
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_nationkey IN (1, 2, 3, 4, 5)
      AND EXISTS (
        SELECT 1 FROM vol v
        JOIN part p ON p.p_partkey = v.l_partkey
        WHERE v.l_suppkey = s.s_suppkey
          AND p.p_type = 'ECONOMY'
          AND v.qty > 45
      )
    """,
    tags=("join", "semi", "subquery", "tpch"),
)
def q_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (year volume over lineitem standing in for the
    partsupp availqty rule): suppliers in a nation set who moved >45
    units of some ECONOMY part in 1997 — a nested aggregate feeding
    an EXISTS chain. Decorrelated the way Catalyst would: per
    (supplier, part) year volumes, ECONOMY filter via broadcast part
    join, threshold, then the surviving supplier ids semi-join the
    supplier scan. One lineitem shuffle on the compound key; every
    later side is ids-only."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("qty"))
        .filter(F.col("qty") > 45)
        .select("l_suppkey")
    )
    s = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(1, 2, 3, 4, 5)
    )
    return s.join(vol, s.s_suppkey == vol.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


# --- TPC-H Q2 essence: groupwise-min join-back -----------------------------

@query(
    "q_groupwise_min",
    oracle=f"""
    WITH up AS (
      SELECT l_partkey, l_suppkey,
             {R2_SQL.format(c='l_extendedprice / l_quantity')} AS unit_price
      FROM lineitem
    ),
    mn AS (
      SELECT l_partkey, min(unit_price) AS min_price FROM up GROUP BY 1
    )
    SELECT u.l_partkey AS partkey,
           min(u.l_suppkey) AS best_suppkey,
           m.min_price
    FROM up u
    JOIN mn m ON u.l_partkey = m.l_partkey AND u.unit_price = m.min_price
    GROUP BY 1, 3
    """,
    tags=("join", "aggregate", "tpch"),
)
def q_groupwise_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 essence: the cheapest-source-per-part lookup — a
    groupwise MIN whose carrying row must be joined back (the
    'value = (SELECT min ...)' correlation). Spark form: one agg on
    partkey, join back on (key, price = min) — both sides partition on
    l_partkey so AQE reuses the exchange; ties collapse
    deterministically to the smallest supplier id. The det_round
    unit price makes the double equality join bit-safe. (q_minmax_by
    covers the single-pass max_by alternative; this keeps the
    join-back shape a migrating user's SQL will actually contain.)"""
    li = read_table(spark, sf_dir, "lineitem")
    up = li.select(
        "l_partkey",
        "l_suppkey",
        det_round(F.col("l_extendedprice") / F.col("l_quantity"), 2).alias("unit_price"),
    )
    mn = up.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("unit_price").alias("min_price")
    )
    return (
        up.join(
            mn,
            (up.l_partkey == mn.pk) & (up.unit_price == mn.min_price),
        )
        .groupBy(F.col("l_partkey").alias("partkey"), F.col("min_price"))
        .agg(F.min("l_suppkey").alias("best_suppkey"))
        .select("partkey", "best_suppkey", "min_price")
    )


# --- TPC-H Q2: min-cost supplier over the full dim chain -------------------

@query(
    "q_min_cost_supplier",
    oracle=f"""
    WITH up AS (
      SELECT l_partkey, l_suppkey,
             min({R2_SQL.format(c='l_extendedprice / l_quantity')}) AS cost
      FROM lineitem GROUP BY 1, 2
    ),
    eligible AS (
      SELECT u.l_partkey, u.l_suppkey, u.cost, s.s_name, s.s_acctbal, n.n_name
      FROM up u
      JOIN supplier s ON s.s_suppkey = u.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    mn AS (SELECT l_partkey, min(cost) AS min_cost FROM eligible GROUP BY 1)
    SELECT p.p_partkey AS partkey, p.p_brand, e.s_name, e.n_name,
           e.cost AS min_cost, e.s_acctbal
    FROM eligible e
    JOIN mn m ON m.l_partkey = e.l_partkey AND e.cost = m.min_cost
    JOIN part p ON p.p_partkey = e.l_partkey
    WHERE p.p_size = 5 AND p.p_type = 'STANDARD'
    """,
    tags=("join", "aggregate", "subquery", "tpch"),
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 FULL shape (q_groupwise_min keeps only the essence):
    the correlated min runs over the complete part→supplier→nation→
    region dim chain — cheapest EUROPE supplier for each STANDARD
    size-5 part, all tied suppliers returned with their nation and
    account balance, exactly the `WHERE cost = (SELECT min(cost) ...
    WHERE region = ...)` correlation of the original. lineitem
    unit-price minima stand in for partsupp supplycost (no partsupp
    in this star schema, SURVEY §2 N/A note). Plan: one lineitem
    shuffle to (partkey, suppkey) minima; the region-filtered
    supplier dim chain broadcasts (supplier ≪ fact by ~4 orders of
    magnitude in any TPC-H-scaled corpus); the correlated min is one
    partkey agg joined back on (key, cost = min) — both sides already
    partition on partkey, so AQE reuses the exchange; the part
    filter broadcasts and prunes before output. det_round on the
    unit price makes the double equality join bit-safe on both
    engines."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 5) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    # r16 (guide §3.2): the part predicate keeps ~1% of parts and the
    # whole query is per-partkey — correlated min included — so the
    # broadcast part semi-join prunes LINEITEM before the big
    # aggregation instead of after it. min(cost) per (partkey,
    # suppkey) and the per-partkey min_cost are unchanged for every
    # surviving partkey (both are functions of that partkey's rows
    # only). Previously the full 600k-row agg ran — TWICE (the
    # eligible subtree fed both mn and the final join) — and 99% of
    # it was discarded by the part join at the end.
    li = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi"
    )
    up = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            det_round(F.col("l_extendedprice") / F.col("l_quantity"), 2)
        ).alias("cost")
    )
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = read_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eligible = up.join(F.broadcast(s), up.l_suppkey == F.col("s_suppkey")).localCheckpoint()
    mn = eligible.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        eligible.join(mn, (eligible.l_partkey == mn.pk) & (eligible.cost == mn.min_cost))
        .join(F.broadcast(p), eligible.l_partkey == p.p_partkey)
        .select(
            F.col("p_partkey").alias("partkey"),
            "p_brand",
            "s_name",
            "n_name",
            F.col("cost").alias("min_cost"),
            "s_acctbal",
        )
    )
