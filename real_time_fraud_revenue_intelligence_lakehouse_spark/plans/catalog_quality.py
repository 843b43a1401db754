"""M4 — data-quality queries (SURVEY §2.10).

The full validation suite as one declared query (q_dq_suite) plus
the FK/anti-join check separately (orphan rows, not just the count,
so the oracle verifies the join itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.quality import (
    check_accepted_values,
    check_expression,
    check_fk,
    check_freshness,
    check_min_rows,
    check_not_null,
    check_range,
    check_unique,
    run_suite,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R2_SQL, R6_SQL, det_round
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


@query(
    "q_dq_suite",
    oracle="""
    WITH raw AS (
      SELECT 'not_null_o_orderkey' AS check_name,
             (SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS violations
      UNION ALL SELECT 'not_null_o_custkey',
             (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
      UNION ALL SELECT 'unique_o_orderkey',
             (SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders)
      UNION ALL SELECT 'range_o_totalprice',
             (SELECT count(*) FROM orders WHERE o_totalprice < 0 OR o_totalprice > 1000000)
      UNION ALL SELECT 'accepted_values_o_orderstatus',
             (SELECT count(*) FROM orders
              WHERE o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL)
      UNION ALL SELECT 'min_rows_orders_1000',
             (SELECT CASE WHEN count(*) >= 1000 THEN 0 ELSE 1 END FROM orders)
      UNION ALL SELECT 'fk_orders_customer',
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      UNION ALL SELECT 'fk_lineitem_orders',
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL SELECT 'nonneg_amounts',
             (SELECT count(*) FROM orders WHERE NOT (o_totalprice >= 0))
      UNION ALL SELECT 'sanity_fulfilled_rate',
             (SELECT CASE WHEN count(CASE WHEN o_orderstatus='F' THEN 1 END) * 1.0
                               / (count(*) + 0.001) BETWEEN 0.001 AND 0.99
                          THEN 0 ELSE 1 END FROM orders)
    )
    SELECT check_name, cast(violations as bigint) AS violations,
           violations = 0 AS passed
    FROM raw
    """,
    tags=("quality",),
)
def q_dq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 15-check validation runner + dbt generic tests
    (`validate.py:67-171`, `schema.yml`) as one unioned Spark result:
    not_null, unique, range, accepted_values, min_rows, FK
    relationships (anti-join), non-negative amounts, fraud-rate-style
    sanity bounds (`validate.py:152-171`)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    li = read_table(spark, sf_dir, "lineitem")
    fulfilled_rate = (
        F.count(F.when(F.col("o_orderstatus") == "F", True)) * 1.0
        / (F.count(F.lit(1)) + 0.001)
    )
    sanity = o.agg(
        F.when(fulfilled_rate.between(0.001, 0.99), 0).otherwise(1).cast("long").alias("violations")
    ).select(F.lit("sanity_fulfilled_rate").alias("check_name"), "violations")
    return run_suite(
        [
            check_not_null(o, "o_orderkey"),
            check_not_null(o, "o_custkey"),
            check_unique(o, "o_orderkey"),
            check_range(o, "o_totalprice", 0, 1_000_000),
            check_accepted_values(o, "o_orderstatus", ["O", "F", "P"]),
            check_min_rows(o, 1000, "min_rows_orders_1000"),
            check_fk(o, c, "o_custkey", "c_custkey", "fk_orders_customer"),
            check_fk(li, o, "l_orderkey", "o_orderkey", "fk_lineitem_orders"),
            check_expression(o, F.col("o_totalprice") >= 0, "nonneg_amounts"),
            sanity,
        ]
    )


#: Injected logical clock for the freshness check — the events table
#: ends 2024-01-30T23:5x at every SF, so this "now" puts the data age
#: at ~12.5 h: within a 24 h SLA, violating the reference's 3 h one.
_FRESHNESS_NOW = "2024-01-31 12:00:00"


@query(
    "q_dq_freshness",
    oracle=f"""
    WITH m AS (SELECT max(ts) AS mx FROM events),
    raw AS (
      SELECT 'freshness_ts_max24h' AS check_name,
        CASE WHEN mx IS NULL THEN 1
             WHEN (epoch(TIMESTAMP '{_FRESHNESS_NOW}') - epoch(mx)) / 3600.0 > 24
             THEN 1 ELSE 0 END AS violations
      FROM m
      UNION ALL
      SELECT 'freshness_ts_max3h',
        CASE WHEN mx IS NULL THEN 1
             WHEN (epoch(TIMESTAMP '{_FRESHNESS_NOW}') - epoch(mx)) / 3600.0 > 3
             THEN 1 ELSE 0 END
      FROM m
    )
    SELECT check_name, CAST(violations AS BIGINT) AS violations,
           violations = 0 AS passed
    FROM raw
    """,
    tags=("quality",),
)
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness SLA check (`validate.py:118-138`): newest event age
    vs a max-hours budget — with the clock INJECTED as a constant so
    the check is deterministic and oracle-verifiable (the reference
    reads the wall clock; production callers pass the run's logical
    timestamp). Two SLAs over one table: 24 h (green at ~12.5 h age)
    and the reference's 3 h default (red) — both outcomes exercised."""
    e = read_table(spark, sf_dir, "events")
    return run_suite(
        [
            check_freshness(e, "ts", 24, _FRESHNESS_NOW),
            check_freshness(e, "ts", 3, _FRESHNESS_NOW),
        ]
    )


@query(
    "q_dq_fk_orphans",
    oracle="""
    WITH small_part AS (SELECT p_partkey FROM part WHERE p_size <= 10),
         reliable_supp AS (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
    SELECT DISTINCT l.l_orderkey, l.l_partkey, l.l_suppkey,
      NOT EXISTS (SELECT 1 FROM small_part p WHERE p.p_partkey = l.l_partkey)
        AS missing_part,
      NOT EXISTS (SELECT 1 FROM reliable_supp s WHERE s.s_suppkey = l.l_suppkey)
        AS missing_supp
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM small_part p WHERE p.p_partkey = l.l_partkey)
       OR NOT EXISTS (SELECT 1 FROM reliable_supp s WHERE s.s_suppkey = l.l_suppkey)
    """,
    tags=("quality", "join"),
)
def q_dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity orphan ROWS (not just counts) across two
    FKs — dbt relationships as left-anti joins. The parents are
    *filtered* dimension subsets (small parts, non-negative-balance
    suppliers) so the anti-join genuinely produces rows on clean TPC-H
    data; flags say which FK failed. ONE pass over the fact: both
    parent key sets broadcast as null-markers (missing FK ⇔ no match),
    so the only shuffle is the final distinct — vs the naive two
    anti-join scans + union + re-aggregate form."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10).select(
        F.col("p_partkey").alias("l_partkey"), F.lit(1).alias("_p_hit")
    )
    s = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0).select(
        F.col("s_suppkey").alias("l_suppkey"), F.lit(1).alias("_s_hit")
    )
    return (
        li.join(F.broadcast(p), "l_partkey", "left")
        .join(F.broadcast(s), "l_suppkey", "left")
        .select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            F.col("_p_hit").isNull().alias("missing_part"),
            F.col("_s_hit").isNull().alias("missing_supp"),
        )
        .filter(F.col("missing_part") | F.col("missing_supp"))
        .distinct()
    )


# --- privacy / governance: k-anonymity -------------------------------------

KANON_K = 5


@query(
    "q_k_anonymity",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS group_size
      FROM customer GROUP BY 1, 2
    ),
    t AS (SELECT sum(group_size) AS total FROM g)
    SELECT CAST(c_nationkey AS INTEGER) AS c_nationkey, c_mktsegment,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(CASE WHEN group_size < {KANON_K} THEN 1 ELSE 0 END AS BIGINT) AS violates_k,
           {R6_SQL.format(c="cast(group_size as double) / total")} AS row_share
    FROM g, t
    """,
    tags=("quality", "privacy", "governance"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over the (nation, market-segment)
    quasi-identifier: every equivalence class with its size, a
    violates-k flag (size < {KANON_K} ⇒ those rows are
    re-identifiable by the quasi-identifier alone), and its row
    share — the privacy gate a training-data release pipeline runs
    before exporting user-derived tables. One map-side-combined agg
    over the quasi-identifier + a 1-row total broadcast; suppression
    or generalization (coarsen the QI, drop violating classes)
    composes downstream on these rows."""
    c = read_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    t = g.agg(F.sum("group_size").alias("total"))
    from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round

    return g.crossJoin(F.broadcast(t)).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("group_size").cast("long").alias("group_size"),
        F.when(F.col("group_size") < KANON_K, 1).otherwise(0).cast("long").alias(
            "violates_k"
        ),
        det_round(F.col("group_size").cast("double") / F.col("total"), 6).alias(
            "row_share"
        ),
    )


# --- functional-dependency discovery ----------------------------------------


#: Candidate FDs profiled over the part table (lhs → rhs).
FD_CANDIDATES = (
    ("p_partkey", "p_name"),
    ("p_name", "p_brand"),
    ("p_brand", "p_type"),
    ("p_type", "p_size"),
)


@query(
    "q_fd_discovery",
    oracle="""
    {body}
    """.format(
        body="\n    UNION ALL\n    ".join(
            f"""SELECT '{lhs}->{rhs}' AS fd,
           CAST(count(DISTINCT {lhs}) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT ({lhs}, {rhs})) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT ({lhs}, {rhs})) - count(DISTINCT {lhs}) AS BIGINT)
             AS violations,
           CAST(CASE WHEN count(DISTINCT ({lhs}, {rhs})) = count(DISTINCT {lhs})
                     THEN 1 ELSE 0 END AS BIGINT) AS holds
    FROM part"""
            for lhs, rhs in FD_CANDIDATES
        )
    ),
    tags=("quality", "profiling"),
)
def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs:
    lhs → rhs holds iff every lhs value maps to exactly one rhs value,
    i.e. |distinct (lhs, rhs)| = |distinct lhs| — the data-profiling
    primitive behind key detection, normalization advice, and schema
    drift alarms (a dependency that held yesterday and breaks today is
    an upstream bug). ONE scan serves all candidates: the pair list
    unpivots via explode into (fd, lhs, rhs) rows, then a single
    two-level distinct aggregation scores every FD — vs the naive
    one-scan-per-candidate loop, the profile cost stays flat as the
    candidate list grows (the property that matters when profiling
    hundreds of pairs at 100 TB)."""
    p = read_table(spark, sf_dir, "part")
    stacked = p.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{lhs}->{rhs}").alias("fd"),
                        F.col(lhs).cast("string").alias("l"),
                        F.col(rhs).cast("string").alias("r"),
                    )
                    for lhs, rhs in FD_CANDIDATES
                ]
            )
        ).alias("x")
    ).select("x.fd", "x.l", "x.r")
    per_pair = stacked.groupBy("fd", "l", "r").agg(F.count(F.lit(1)).alias("_n"))
    per_lhs = per_pair.groupBy("fd", "l").agg(F.count(F.lit(1)).alias("n_r"))
    return per_lhs.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_lhs"),
        F.sum("n_r").alias("n_pairs"),
        (F.sum("n_r") - F.count(F.lit(1))).alias("violations"),
        F.when(F.sum("n_r") == F.count(F.lit(1)), 1).otherwise(0).cast("long").alias("holds"),
    ).select(
        "fd",
        F.col("n_lhs").cast("long").alias("n_lhs"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("violations").cast("long").alias("violations"),
        "holds",
    )


# --- cross-table reconciliation ---------------------------------------------

RECON_TOL = 0.05  # relative-difference alarm threshold


@query(
    "q_reconciliation",
    oracle=f"""
    WITH o AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS orders_total,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT date_trunc('month', CAST(ord.o_orderdate AS DATE)) AS month,
             CAST(sum(CAST({{r2}} AS DECIMAL(18,2))) AS DOUBLE) AS lineitem_total,
             count(DISTINCT li.l_orderkey) AS n_li_orders
      FROM lineitem li JOIN orders ord ON li.l_orderkey = ord.o_orderkey
      GROUP BY 1
    )
    SELECT o.month, o.orders_total,
           coalesce(l.lineitem_total, 0.0) AS lineitem_total,
           CAST(o.n_orders AS BIGINT) AS n_orders,
           CAST(coalesce(l.n_li_orders, 0) AS BIGINT) AS n_li_orders,
           {{r6}} AS rel_diff,
           CAST(CASE WHEN abs(o.orders_total - coalesce(l.lineitem_total, 0.0))
                          > {RECON_TOL} * o.orders_total
                     THEN 1 ELSE 0 END AS BIGINT) AS alarm
    FROM o LEFT JOIN l ON o.month = l.month
    """.format(
        r2=R2_SQL.format(c="li.l_extendedprice * (1 - li.l_discount)"),
        r6=R6_SQL.format(
            c="abs(o.orders_total - coalesce(l.lineitem_total, 0.0)) / o.orders_total"
        ),
    ),
    tags=("quality", "reconciliation"),
)
def q_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mart reconciliation: per order month, the orders-table revenue
    vs the lineitem-derived revenue (discounted extended price), with
    order-count coverage and a relative-difference alarm — the
    summing-check every warehouse runs between a fact and its rollup
    (the reference reconciles its revenue marts against raw payments
    the same way). Both sides reduce to |months| rows before the
    join; the lineitem branch shuffles once on orderkey to pick up the
    month. Decimal accumulation + det-rounded per-line revenue keep
    both totals layout-free, so the alarm bit itself is hash-stable."""
    o = read_table(spark, sf_dir, "orders")
    om = o.groupBy(F.date_trunc("month", F.to_date("o_orderdate")).alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("orders_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        .cast("decimal(18,2)")
        .alias("rev"),
    )
    # r16 (guide §2.3 partial aggregation): reduce lineitem to one row
    # per order BEFORE the join — the join shuffles |orders| rows
    # instead of |lineitem| (~4x fewer), and the month rollup's
    # countDistinct(orderkey) (a two-phase dedup shuffle) degenerates
    # to a plain count because orderkeys are unique after the pre-agg.
    # Decimal sums are exact, so sum-of-per-order-sums is
    # value-identical to the flat sum.
    per_order = li.groupBy("l_orderkey").agg(F.sum("rev").alias("rev"))
    lm = (
        per_order.join(
            o.select("o_orderkey", "o_orderdate"),
            per_order.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.date_trunc("month", F.to_date("o_orderdate")).alias("month"))
        .agg(
            F.sum("rev").cast("double").alias("lineitem_total"),
            F.count(F.lit(1)).alias("n_li_orders"),
        )
    )
    j = om.join(lm, "month", "left")
    lt = F.coalesce(F.col("lineitem_total"), F.lit(0.0))
    return j.select(
        "month",
        "orders_total",
        lt.alias("lineitem_total"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.coalesce(F.col("n_li_orders"), F.lit(0)).cast("long").alias("n_li_orders"),
        det_round(F.abs(F.col("orders_total") - lt) / F.col("orders_total"), 6).alias("rel_diff"),
        F.when(F.abs(F.col("orders_total") - lt) > RECON_TOL * F.col("orders_total"), 1)
        .otherwise(0)
        .cast("long")
        .alias("alarm"),
    )


# --- cross-snapshot schema/profile drift ------------------------------------

_DRIFT_SPLIT = "1998-01-01"  # snapshot boundary (historical vs recent)


@query(
    "q_schema_drift",
    oracle=f"""
    WITH stacked AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_SPLIT}' THEN 'hist' ELSE 'recent' END AS period,
             u.col, u.val
      FROM orders, LATERAL (
        SELECT * FROM (VALUES
          ('o_orderstatus', o_orderstatus),
          ('o_orderpriority', o_orderpriority),
          ('o_totalprice_band', CAST(CAST(floor(o_totalprice / 100000.0) AS INT) AS VARCHAR))
        ) AS t(col, val)
      ) u
    ),
    counts AS (
      SELECT period, col, val, count(*) AS n FROM stacked GROUP BY 1, 2, 3
    ),
    modes AS (
      SELECT period, col, n_rows, n_distinct, mode_val FROM (
        SELECT period, col, n_rows, n_distinct, val AS mode_val,
               row_number() OVER (PARTITION BY period, col ORDER BY n DESC, val ASC) AS rk
        FROM counts JOIN (SELECT period AS p2, col AS c2, sum(n) AS n_rows, count(*) AS n_distinct
                          FROM counts GROUP BY 1, 2) s
          ON s.p2 = counts.period AND s.c2 = counts.col
      ) WHERE rk = 1
    )
    SELECT a.col,
           CAST(a.n_rows AS BIGINT) AS n_hist, CAST(b.n_rows AS BIGINT) AS n_recent,
           CAST(a.n_distinct AS BIGINT) AS distinct_hist,
           CAST(b.n_distinct AS BIGINT) AS distinct_recent,
           a.mode_val AS mode_hist, b.mode_val AS mode_recent,
           CASE WHEN a.n_distinct <> b.n_distinct OR a.mode_val <> b.mode_val
                THEN 1 ELSE 0 END AS drifted
    FROM (SELECT * FROM modes WHERE period = 'hist') a
    JOIN (SELECT * FROM modes WHERE period = 'recent') b ON a.col = b.col
    """,
    tags=("quality", "monitoring", "drift"),
)
def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot column-profile drift — the schema/stats diff a
    pipeline runs between yesterday's and today's partition before
    promoting data (q_psi measures distribution drift on ONE numeric
    ladder; this profiles EVERY audited column's cardinality and
    mode at once, and q_reconciliation checks totals — together the
    promotion gate): per column and period, row count, distinct
    count, and deterministic mode (tie → lexicographically smallest,
    the q_median_mode discipline); `drifted` flags a cardinality or
    mode change. One Expand stacks the audited columns (the
    q_profile_cardinality shape) so the whole profile is ONE scan +
    one (period, col, val) agg however many columns are audited —
    at 100 TB this replaces N per-column profile jobs with one."""
    o = read_table(spark, sf_dir, "orders")
    period = F.when(
        F.col("o_orderdate") < F.lit(_DRIFT_SPLIT).cast("timestamp"), "hist"
    ).otherwise("recent")
    stacked = o.select(
        period.alias("period"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("o_orderstatus").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("col"),
                    F.col("o_orderpriority").alias("val"),
                ),
                F.struct(
                    F.lit("o_totalprice_band").alias("col"),
                    F.floor(F.col("o_totalprice") / 100000.0)
                    .cast("int")
                    .cast("string")
                    .alias("val"),
                ),
            )
        ).alias("cv"),
    ).select("period", F.col("cv.col").alias("col"), F.col("cv.val").alias("val"))
    counts = stacked.groupBy("period", "col", "val").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    wtot = Window.partitionBy("period", "col")
    wrk = Window.partitionBy("period", "col").orderBy(F.desc("n"), F.asc("val"))
    modes = (
        counts.withColumn("n_rows", F.sum("n").over(wtot))
        .withColumn("n_distinct", F.count(F.lit(1)).over(wtot))
        .withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .select("period", "col", "n_rows", "n_distinct", F.col("val").alias("mode_val"))
    )
    a = modes.filter(F.col("period") == "hist").select(
        "col",
        F.col("n_rows").cast("long").alias("n_hist"),
        F.col("n_distinct").cast("long").alias("distinct_hist"),
        F.col("mode_val").alias("mode_hist"),
    )
    b = modes.filter(F.col("period") == "recent").select(
        "col",
        F.col("n_rows").cast("long").alias("n_recent"),
        F.col("n_distinct").cast("long").alias("distinct_recent"),
        F.col("mode_val").alias("mode_recent"),
    )
    return a.join(b, "col").select(
        "col",
        "n_hist",
        "n_recent",
        "distinct_hist",
        "distinct_recent",
        "mode_hist",
        "mode_recent",
        F.when(
            (F.col("distinct_hist") != F.col("distinct_recent"))
            | (F.col("mode_hist") != F.col("mode_recent")),
            1,
        )
        .otherwise(0)
        .alias("drifted"),
    )
