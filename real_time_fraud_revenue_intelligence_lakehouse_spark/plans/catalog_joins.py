"""M2 — joins & window functions (SURVEY §2.3, §2.5).

Left enrichment joins, N:1 lookup chains, agg-then-join folds, star
joins against a generated date spine, ranking dedup, per-entity
window ratios, lag deltas, trailing velocity windows, as-of joins,
and MERGE upsert emulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    R2_SQL,
    R4_SQL,
    R6_SQL,
    SUM_SQL,
    det_round,
    exact_sum,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.merge import merge_upsert
from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.ranking import (
    ntile_banded,
    rank_distributed,
    rank_positions,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.velocity import velocity_rangeframe
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- J1/J4: left equi-join with rename discipline -------------------------

@query(
    "q_join_left",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderstatus,
      c.c_name AS customer_name,
      c.c_mktsegment AS customer_segment,
      c.c_acctbal AS customer_acctbal
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("join",),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 left enrichment join with pre-join column renaming to avoid
    ambiguity (`transform_transactions.py:160-186`). AQE broadcasts
    the customer side when it fits; at 100 TB both sides shuffle on
    the key — co-locate by bucketing both tables on the key."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("customer_segment"),
        F.col("c_acctbal").alias("customer_acctbal"),
    )
    return o.join(c, o.o_custkey == c.cust_key, "left").select(
        "o_orderkey", "o_totalprice", "o_orderstatus",
        "customer_name", "customer_segment", "customer_acctbal",
    )


# --- J3: N:1 lookup chain --------------------------------------------------

@query(
    "q_join_lookup",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber,
      p.p_brand, p.p_type, s.s_name,
      {{r2}} AS net_price
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """.format(r2=R2_SQL.format(c="l.l_extendedprice * (1 - l.l_discount)")),
    tags=("join", "lookup"),
)
def q_join_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained N:1 dimension lookups (`build_fraud_features.py:167-176`
    user/refund/device stat joins). Dims are broadcast — zero
    shuffles for the fact table at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    s = read_table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "left")
        .select(
            "l_orderkey", "l_linenumber", "p_brand", "p_type", "s_name",
            det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("net_price"),
        )
    )


# --- J5: aggregate-then-join fold -----------------------------------------

@query(
    "q_agg_join",
    oracle=f"""
    WITH day_orders AS (
      SELECT cast(o_orderdate as date) AS d, count(*) AS n_orders,
             {SUM_SQL.format(c="o_totalprice")} AS gmv
      FROM orders GROUP BY 1
    ), day_returns AS (
      SELECT cast(l_shipdate as date) AS d,
             count(*) AS n_returns,
             {SUM_SQL.format(c="l_quantity")} AS return_qty
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    )
    SELECT o.d AS event_date, o.n_orders, o.gmv,
           coalesce(r.n_returns, 0) AS n_returns,
           coalesce(r.return_qty, 0.0) AS return_qty
    FROM day_orders o LEFT JOIN day_returns r ON o.d = r.d
    """,
    tags=("join", "aggregate"),
)
def q_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join fold with zero-defaulting
    (`fraud_summary.py:69-88`: per-day refund stats onto the fraud
    base). Two partial aggregations shrink both sides before the
    join — the join input is |days|, not |rows|."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    day_orders = o.groupBy(F.to_date("o_orderdate").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("gmv"),
    )
    day_returns = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.to_date("l_shipdate").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_returns"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("return_qty"),
        )
    )
    return (
        day_orders.join(day_returns, "event_date", "left")
        .fillna({"n_returns": 0, "return_qty": 0.0})
    )


# --- J6: star join on a generated date dim --------------------------------

@query(
    "q_star_join",
    oracle=f"""
    WITH bounds AS (
      SELECT min(cast(o_orderdate as date)) AS lo, max(cast(o_orderdate as date)) AS hi FROM orders
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS gs FROM bounds
    ), dim_dates AS (
      SELECT cast(gs as date) AS date_key,
             year(gs) AS d_year, quarter(gs) AS d_quarter,
             CASE WHEN dayofweek(gs) IN (0,6) THEN true ELSE false END AS d_is_weekend
      FROM spine
    )
    SELECT d.d_year, d.d_quarter, d.d_is_weekend,
           count(o.o_orderkey) AS n_orders,
           {SUM_SQL.format(c="o.o_totalprice")} AS gmv
    FROM orders o JOIN dim_dates d ON cast(o.o_orderdate as date) = d.date_key
    GROUP BY 1, 2, 3
    """,
    tags=("join", "marts"),
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⟕ generated calendar dim (`fact_orders.sql:64-65`; spine
    via sequence+explode replacing Postgres generate_series,
    `dim_dates.sql:11-44`), rolled up by calendar attributes. The dim
    is tiny → broadcast; the fact aggregates map-side first."""
    o = read_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"), F.max(F.to_date("o_orderdate")).alias("hi")
    )
    dim = bounds.select(F.explode(F.sequence("lo", "hi")).alias("date_key")).select(
        "date_key",
        F.year("date_key").alias("d_year"),
        F.quarter("date_key").alias("d_quarter"),
        (F.dayofweek("date_key") - 1).isin(0, 6).alias("d_is_weekend"),
    )
    return (
        o.join(F.broadcast(dim), F.to_date(o.o_orderdate) == dim.date_key)
        .groupBy("d_year", "d_quarter", "d_is_weekend")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("gmv"),
        )
    )


# --- W1: ranking dedup (latest per key) -----------------------------------

@query(
    "q_latest_per_key",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
    tags=("window",),
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-entity via ranking window
    (`transform_transactions.py:196-208` user_profiles dedup), with a
    deterministic total order (ties broken by key). One exchange +
    in-partition sort; at scale prefer this over groupBy+max+join."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


# --- W2: whole-partition mean ratio ---------------------------------------

@query(
    "q_ratio_to_user_avg",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
      {R4_SQL.format(c="cast(sum(cast(o_totalprice as decimal(18,2))) OVER w as double) / count(*) OVER w")} AS user_avg_amount,
      {R6_SQL.format(c="o_totalprice / (cast(sum(cast(o_totalprice as decimal(18,2))) OVER w as double) / count(*) OVER w)")} AS amount_vs_user_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey)
    """,
    tags=("window",),
)
def q_ratio_to_user_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amount vs whole-partition user mean
    (`build_fraud_features.py:46,55-60`), decimal-exact so the value
    is independent of partition layout."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    user_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        det_round(user_avg, 4).alias("user_avg_amount"),
        det_round(F.col("o_totalprice") / user_avg, 6).alias("amount_vs_user_avg"),
    )


# --- W3: whole-partition percentile ratio ---------------------------------

@query(
    "q_ratio_to_user_p95",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
      {R4_SQL.format(c="quantile_cont(o_totalprice, 0.95) OVER (PARTITION BY o_custkey)")} AS user_p95_amount,
      {R6_SQL.format(c="o_totalprice / (quantile_cont(o_totalprice, 0.95) OVER (PARTITION BY o_custkey) + 0.001)")} AS amount_vs_user_p95
    FROM orders
    """,
    tags=("window",),
)
def q_ratio_to_user_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amount vs per-user 95th percentile
    (`build_fraud_features.py:56,61-64`). Declared form uses the
    EXACT percentile (SURVEY §7: `percentile_approx` is kept as the
    scale variant but is not oracle-stable)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    p95 = F.percentile(F.col("o_totalprice"), F.lit(0.95)).over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        det_round(p95, 4).alias("user_p95_amount"),
        det_round(F.col("o_totalprice") / (p95 + 0.001), 6).alias("amount_vs_user_p95"),
    )


# --- lag delta -------------------------------------------------------------

@query(
    "q_lag_delta",
    oracle="""
    SELECT event_id, user_id,
      epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
    FROM events
    """,
    tags=("window",),
)
def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap via lag() — declared engine capability for the
    reference's imported-but-unused lag (`build_fraud_features.py:19-24`,
    SURVEY §2.5). Null for each user's first event."""
    e = read_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(ms, F.col("event_id"))
    return e.select(
        "event_id", "user_id", (ms - F.lag(ms).over(w)).alias("gap_ms")
    )


# --- J2/W4: trailing velocity windows (flagship feature op) ----------------

@query(
    "q_velocity_window",
    oracle="""
    SELECT event_id, user_id,
      count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        RANGE BETWEEN 3600000 PRECEDING AND 1 PRECEDING) AS velocity_1h,
      count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        RANGE BETWEEN 86400000 PRECEDING AND 1 PRECEDING) AS velocity_24h,
      count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING) AS velocity_7d
    FROM events
    """,
    tags=("window", "velocity"),
)
def q_velocity_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing [ts-W, ts) velocity counts in epoch-ms — the
    reference's 3× band-self-join feature (`build_fraud_features.py:
    68-134`) as ONE range-frame window pass (operators/velocity.py;
    equality of both forms is unit-tested). 6 shuffles → 1."""
    e = read_table(spark, sf_dir, "events")
    out = velocity_rangeframe(e, "user_id", "ts")
    return out.select("event_id", "user_id", "velocity_1h", "velocity_24h", "velocity_7d")


# --- §2.11 stretch: as-of geo join ----------------------------------------

@query(
    "q_asof_join",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
        max(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) OVER (
          PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ms
      FROM events
    )
    SELECT event_id, user_id, ms, last_click_ms,
      CASE WHEN last_click_ms IS NOT NULL AND ms - last_click_ms <= 300000
           THEN true ELSE false END AS click_within_5m
    FROM tagged WHERE event_type = 'purchase'
    """,
    tags=("join", "asof"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    strictly-prior click, flagged if within 5 minutes — the
    documented-but-never-implemented orders⟕geo_events window join
    (`SYSTEM_DESIGN.md:163`, SURVEY §2.11). Expressed as a running
    max over a rows-frame (single shuffle) instead of a range
    self-join — the union-scan as-of pattern that scales linearly."""
    e = read_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(ms, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(F.when(F.col("event_type") == "click", ms)).over(w)
    tagged = e.select(
        "event_id", "user_id", "event_type", ms.alias("ms"), last_click.alias("last_click_ms")
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ms",
        "last_click_ms",
        (
            F.col("last_click_ms").isNotNull()
            & ((F.col("ms") - F.col("last_click_ms")) <= 300_000)
        ).alias("click_within_5m"),
    )


# --- S11: MERGE upsert emulation ------------------------------------------

@query(
    "q_merge_upsert",
    oracle=f"""
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 <> 0
    ), source AS (
      SELECT o_orderkey, o_custkey,
             {R2_SQL.format(c="o_totalprice * 1.05")} AS o_totalprice,
             'F' AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
    """,
    tags=("merge",),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert semantics (`delta_utils.py:42-69`): source wins on
    matched keys, unmatched target rows kept, new source keys
    inserted — emulated as anti-join ∪ source (operators/merge.py;
    the Delta MERGE path is API-compatible when delta-spark is
    present). Deterministic synthetic target/source split so the
    oracle can verify all three MERGE branches."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    target = o.filter(F.col("o_orderkey") % 3 != 0)
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        det_round(F.col("o_totalprice") * 1.05, 2).alias("o_totalprice"),
        F.lit("F").alias("o_orderstatus"),
    )
    return merge_upsert(target, source, ["o_orderkey"])


# --- W: quartile banding (ntile) ------------------------------------------

@query(
    "q_ntile_quartiles",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             {SUM_SQL.format(c="o_totalprice")} AS total_spend
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, total_spend,
           ntile(4) OVER (ORDER BY total_spend DESC, o_custkey) AS spend_quartile
    FROM spend
    """,
    tags=("window",),
)
def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend quartiles via ntile — the reference imports
    ntile and never calls it (`build_fraud_features.py:19-24`, SURVEY
    §2.5); the engine ships it as the segmentation banding the
    import implies. Deterministic ordering (spend DESC, key) so both
    engines cut identical quartiles. The window runs over the
    per-customer AGGREGATE (|customers| rows, ≪ the fact) — at this
    tier the one-partition sort is measured ~3× cheaper than the
    distributed form's extra stages. The scale form is not just
    documented, it is a SWITCH: `spark.rtfril.rank.distributed=true`
    (the deployment conf for 1e9-customer tables) swaps in
    `ntile_banded` (operators/ranking.py) — proven bit-identical to
    ntile() at the operator level (tests/test_operators.py) AND at
    this query's level (tests/test_round11_queries.py runs both
    settings and diffs)."""
    o = read_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(exact_sum("o_totalprice", "total_spend"))
    if rank_distributed(spark):
        return ntile_banded(
            spend, 4, "total_spend", [F.asc("o_custkey")],
            descending=True, out_col="spend_quartile",
        ).select("o_custkey", "total_spend", "spend_quartile")
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return spend.select(
        "o_custkey", "total_spend", F.ntile(4).over(w).alias("spend_quartile")
    )


# --- W: distribution position (percent_rank / cume_dist) -------------------

@query(
    "q_percent_rank",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             {SUM_SQL.format(c="o_totalprice")} AS total_spend
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, total_spend,
           (floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0) AS spend_pct_rank,
           (floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0) AS spend_cume_dist
    FROM spend
    WINDOW w AS (ORDER BY total_spend, o_custkey)
    """,
    tags=("window",),
)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution position per customer: percent_rank and cume_dist
    over aggregated spend (the 'what percentile is this account in'
    question every risk dashboard asks). Both are SQL-standard —
    identical tie semantics in Spark and DuckDB; values det_round-ed.
    The window runs over the per-customer AGGREGATE (|customers|
    rows), not raw orders — same discipline and same
    `spark.rtfril.rank.distributed` switch as q_ntile_quartiles:
    `rank_positions` (operators/ranking.py), equality-pinned to
    these window forms at operator AND query level."""
    o = read_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(exact_sum("o_totalprice", "total_spend"))
    if rank_distributed(spark):
        return rank_positions(
            spend, "total_spend", [F.asc("o_custkey")], descending=False,
            pct_col="__p", cume_col="__c",
        ).select(
            "o_custkey",
            "total_spend",
            det_round(F.col("__p"), 6).alias("spend_pct_rank"),
            det_round(F.col("__c"), 6).alias("spend_cume_dist"),
        )
    w = Window.orderBy(F.asc("total_spend"), F.asc("o_custkey"))
    return spend.select(
        "o_custkey",
        "total_spend",
        det_round(F.percent_rank().over(w), 6).alias("spend_pct_rank"),
        det_round(F.cume_dist().over(w), 6).alias("spend_cume_dist"),
    )
