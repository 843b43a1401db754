"""Round-3 behavioral analytics over the `events` stream table.

The reference's fraud platform computes per-user profiles and daily
KPIs (`fraud_summary.py:91-134`, `revenue_aggregations.py:46-112`);
the event-level analytics every such platform grows next — funnel
conversion, cohort retention, RFM segmentation, and distribution-based
outlier gates — are declared here with the same decimal-sum /
det_round float discipline. All shapes are one-or-two hash
aggregations plus broadcast-able tiny joins: nothing here sorts the
full event log or collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60, hll_register
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    H52_SQL,
    H60_SQL,
    HLL_REGISTER_SQL,
    R4_SQL,
    R6_SQL,
    R8_SQL,
    SUM_SQL,
    det_round,
    exact_sum,
    h52,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.ranking import ntile_banded, rank_distributed
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- funnel conversion -----------------------------------------------------

@query(
    "q_event_funnel",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
    ),
    counts AS (
      SELECT 1 AS stage_no, 'view' AS stage, count(*) AS n_users FROM v
      UNION ALL
      SELECT 2, 'view>click', count(*) FROM c
      UNION ALL
      SELECT 3, 'view>click>purchase', count(*) FROM p
    )
    SELECT stage_no, stage, n_users,
           {R4_SQL.format(c="n_users / (first_value(n_users) OVER (ORDER BY stage_no) + 0.001)")} AS conversion
    FROM counts
    """,
    tags=("behavior", "funnel"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → later click → later purchase): each
    stage keeps users whose stage event happens strictly AFTER their
    previous stage's first event. Three per-user min-aggregates with
    the stage filter pushed into each scan; the stage-N population
    joins are on user_id and shrink monotonically — at 100 TB each
    stage's survivors broadcast to the next. Conversion is
    ratio-to-stage-1 via a 3-row window."""
    e = read_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(1).alias("stage_no"), F.lit("view").alias("stage"), "n_users")
        .unionByName(c.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(2).alias("stage_no"), F.lit("view>click").alias("stage"), "n_users"))
        .unionByName(p.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(3).alias("stage_no"), F.lit("view>click>purchase").alias("stage"), "n_users"))
    )
    w = Window.orderBy("stage_no")
    return counts.select(
        F.col("stage_no").cast("int").alias("stage_no"),
        "stage",
        "n_users",
        det_round(F.col("n_users") / (F.first("n_users").over(w) + F.lit(0.001)), 4).alias("conversion"),
    )


# --- weekly cohort retention -----------------------------------------------

@query(
    "q_retention_cohort",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(cast(ts as date)) AS first_date FROM events GROUP BY 1
    ),
    activity AS (
      SELECT e.user_id,
             cast(date_trunc('week', f.first_date) as date) AS cohort_week,
             cast(floor(date_diff('day', f.first_date, cast(e.ts as date)) / 7) as bigint) AS week_off
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_off,
           count(DISTINCT user_id) AS n_active
    FROM activity GROUP BY 1, 2
    """,
    tags=("behavior", "retention"),
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by Monday-truncated
    first-seen week, activity counted per whole-weeks-since-first
    offset. One agg for first dates (small, broadcasts back onto the
    log), one distinct-count agg for the matrix — the event log is
    scanned twice but shuffled only on (cohort_week, week_off)."""
    e = read_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_date"))
    activity = e.join(F.broadcast(firsts), "user_id").select(
        "user_id",
        F.date_trunc("week", "first_date").cast("date").alias("cohort_week"),
        F.floor(F.datediff(F.to_date("ts"), F.col("first_date")) / 7).alias("week_off"),
    )
    return activity.groupBy("cohort_week", "week_off").agg(
        F.countDistinct("user_id").alias("n_active")
    )


# --- RFM segmentation ------------------------------------------------------

@query(
    "q_rfm_segments",
    oracle=f"""
    WITH anchor AS (SELECT max(cast(ts as date)) AS d0 FROM events),
    per_user AS (
      SELECT user_id,
             date_diff('day', max(cast(ts as date)), (SELECT d0 FROM anchor)) AS recency_days,
             count(*) AS frequency,
             {SUM_SQL.format(c="CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")} AS monetary
      FROM events GROUP BY 1
    )
    SELECT user_id, recency_days, frequency, monetary,
           ntile(4) OVER (ORDER BY recency_days, user_id) AS r_score,
           ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
           ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
    FROM per_user
    """,
    tags=("behavior", "segmentation", "window"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency vs the corpus's own max date (no
    wall clock — deterministic), frequency, purchase-only monetary
    (decimal-exact), quartiled by ntile with user_id tie-breaks so
    the quartile assignment is total-ordered and reproducible.
    The global ntile sort is on |users| rows (already aggregated),
    not |events| — at 100 TB that's the 1000× smaller side, and at
    extreme user cardinality `spark.rtfril.rank.distributed=true`
    swaps each ntile for `ntile_banded` (operators/ranking.py) with
    no output change (equality run under both settings in
    tests/test_round11_queries.py)."""
    e = read_table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.to_date("ts")).alias("d0"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_date"),
            F.count(F.lit(1)).alias("frequency"),
            exact_sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0),
                "monetary",
            ),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("d0", "last_date").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    if rank_distributed(spark):
        banded = per_user.localCheckpoint()
        for col, desc, out in (
            ("recency_days", False, "r_score"),
            ("frequency", True, "f_score"),
            ("monetary", True, "m_score"),
        ):
            banded = ntile_banded(
                banded, 4, col, [F.asc("user_id")], descending=desc, out_col=out
            )
        return banded.select(
            "user_id", "recency_days", "frequency", "monetary",
            "r_score", "f_score", "m_score",
        )
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(Window.orderBy(F.asc("recency_days"), F.asc("user_id"))).alias("r_score"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"), F.asc("user_id"))).alias("f_score"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), F.asc("user_id"))).alias("m_score"),
    )


# --- winsorized values (percentile clamp) ----------------------------------

@query(
    "q_winsorize",
    oracle=f"""
    WITH bounds AS (
      SELECT event_type,
             {R4_SQL.format(c='quantile_cont(value, 0.05)')} AS p05,
             {R4_SQL.format(c='quantile_cont(value, 0.95)')} AS p95
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN e.value < b.p05 THEN b.p05
                WHEN e.value > b.p95 THEN b.p95
                ELSE e.value END AS value_winsorized,
           CAST(CASE WHEN e.value < b.p05 OR e.value > b.p95 THEN 1 ELSE 0 END AS BIGINT) AS clamped
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    """,
    tags=("behavior", "percentile", "cleanse"),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp each event's value into its type's
    [p05, p95] band — the outlier-capping cleanse step upstream of
    any feature build. Exact percentiles per type (one sort per
    small group), bounds broadcast back onto the log; at 100 TB the
    scale variant swaps in percentile_approx with the same plan."""
    e = read_table(spark, sf_dir, "events")
    arr = F.percentile(F.col("value"), F.array(F.lit(0.05), F.lit(0.95)))
    bounds = (
        e.groupBy("event_type")
        .agg(arr.alias("_p"))
        .select(
            "event_type",
            det_round(F.col("_p")[0], 4).alias("p05"),
            det_round(F.col("_p")[1], 4).alias("p95"),
        )
    )
    v, lo, hi = F.col("value"), F.col("p05"), F.col("p95")
    return e.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.when(v < lo, lo).when(v > hi, hi).otherwise(v).alias("value_winsorized"),
        F.when((v < lo) | (v > hi), 1).otherwise(0).cast("long").alias("clamped"),
    )


# --- z-score outliers ------------------------------------------------------

_VD = "cast(value as decimal(18,3))"


@query(
    "q_zscore_outliers",
    oracle=f"""
    WITH m AS (
      SELECT event_type, count(*) AS n,
             cast(sum({_VD}) as double) AS sx,
             cast(sum({_VD} * {_VD}) as double) AS sxx
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT event_type,
             sx / n AS mean_v,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS std_v
      FROM m
    )
    SELECT e.event_id, e.event_type, e.value,
           {R4_SQL.format(c='(e.value - s.mean_v) / s.std_v')} AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mean_v) / s.std_v) >= 2.5
    """,
    tags=("behavior", "stats", "quality"),
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier gate: events ≥2.5σ from their type's mean.
    Mean/std come from exact decimal moment sums (reproducible on any
    partition order, unlike built-in stddev over doubles), broadcast
    back as a 5-row stats table — a single shuffle-free pass over the
    log after the tiny agg."""
    e = read_table(spark, sf_dir, "events")
    vd = F.col("value").cast("decimal(18,3)")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).cast("double").alias("sx"),
        F.sum(vd * vd).cast("double").alias("sxx"),
    )
    stats = m.select(
        "event_type",
        (F.col("sx") / F.col("n")).alias("mean_v"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - F.lit(1))).alias("std_v"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) >= 2.5)
        .select("event_id", "event_type", "value", det_round(z, 4).alias("z"))
    )


# --- interval (band) join --------------------------------------------------

@query(
    "q_interval_join",
    oracle=f"""
    SELECT p.event_id, p.user_id, p.ts,
           count(c.event_id) AS clicks_5m,
           {SUM_SQL.format(c='c.value')} AS click_value_5m
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 5 MINUTE
     AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2, 3
    """,
    tags=("behavior", "join", "interval"),
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join as a JOIN (all clicks in the 5 minutes before
    each purchase, not just the latest — the geo-window join the
    reference documents but never ships, `SYSTEM_DESIGN.md:163`;
    q_asof_join covers the most-recent-only variant). Equi-key on
    user_id carries the shuffle; the time band is a secondary
    predicate — the exact stream-stream interval-join shape
    (test_streaming pins the streaming form)."""
    e = read_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
        F.col("value").alias("c_value"),
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.ts - F.expr("INTERVAL 5 MINUTES"))
        & (c.c_ts < p.ts),
        "left",
    )
    return joined.groupBy("event_id", "user_id", "ts").agg(
        F.count("c_id").alias("clicks_5m"),
        exact_sum("c_value", "click_value_5m"),
    )


# --- forensic / fraud statistics -------------------------------------------


@query(
    "q_benford",
    oracle=f"""
    WITH d AS (
      SELECT substr(cast(cast(floor(o_totalprice) as bigint) as varchar), 1, 1) AS digit,
             count(*) AS n
      FROM orders WHERE o_totalprice >= 1 GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total FROM d)
    SELECT digit, CAST(n AS BIGINT) AS n_orders,
           {R6_SQL.format(c="cast(n as double) / total")} AS p_obs,
           {R6_SQL.format(c="log10(1.0 + 1.0 / cast(digit as int))")} AS p_benford,
           {R6_SQL.format(c="cast(n as double) / total - log10(1.0 + 1.0 / cast(digit as int))")} AS deviation
    FROM d, tot
    """,
    tags=("behavior", "fraud", "statistics"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts — the classic
    forensic-accounting screen (fabricated amounts drift from the
    log10(1+1/d) leading-digit distribution that organic multi-scale
    amounts follow). One map-side-combined 9-group agg + a 1-row
    total broadcast; the observed share, the Benford expectation, and
    the signed deviation per digit. Flagging logic (χ², MAD-of-
    deviations) composes on these 9 rows driver-free."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.groupBy(
        F.substring(F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1).alias(
            "digit"
        )
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    tot = d.agg(F.sum("n_orders").alias("total"))
    p_obs = F.col("n_orders").cast("double") / F.col("total")
    p_ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("int"))
    return d.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_orders",
        det_round(p_obs, 6).alias("p_obs"),
        det_round(p_ben, 6).alias("p_benford"),
        det_round(p_obs - p_ben, 6).alias("deviation"),
    )


DUP_BUCKET = 1000   # currency units per amount bucket
DUP_DAYS = 90       # window within which repeats are suspicious


@query(
    "q_duplicate_invoice",
    oracle=f"""
    SELECT a.o_custkey, a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.o_totalprice AS price_a, b.o_totalprice AS price_b,
           CAST(abs(date_diff('day', cast(a.o_orderdate as date),
                              cast(b.o_orderdate as date))) AS BIGINT) AS days_apart
    FROM orders a
    JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND floor(a.o_totalprice / {DUP_BUCKET}) = floor(b.o_totalprice / {DUP_BUCKET})
     AND a.o_orderkey < b.o_orderkey
     AND abs(date_diff('day', cast(a.o_orderdate as date),
                       cast(b.o_orderdate as date))) <= {DUP_DAYS}
    """,
    tags=("behavior", "fraud", "join"),
)
def q_duplicate_invoice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice screen: same customer, same {DUP_BUCKET}-unit
    amount bucket, within {DUP_DAYS} days — the double-billing /
    split-payment rule every AP-fraud playbook starts with. The
    self-join equi-keys on (customer, amount bucket), so Spark plans
    a hash join — the date band rides the join as a residual
    predicate, never a cross product; bucketing the amount makes the
    blocking key DENSE (exact float equality would silently match
    nothing on real amounts). At 100 TB: self-join co-partitions on
    the customer key orders are already bucketed by."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") / DUP_BUCKET).alias("bucket"),
    )
    a = o.select(
        "o_custkey",
        "bucket",
        F.col("o_orderkey").alias("key_a"),
        F.col("o_totalprice").alias("price_a"),
        F.col("d").alias("d_a"),
    )
    b = o.select(
        "o_custkey",
        "bucket",
        F.col("o_orderkey").alias("key_b"),
        F.col("o_totalprice").alias("price_b"),
        F.col("d").alias("d_b"),
    )
    days = F.abs(F.datediff(F.col("d_a"), F.col("d_b")))
    return (
        a.join(b, ["o_custkey", "bucket"])
        .filter((F.col("key_a") < F.col("key_b")) & (days <= DUP_DAYS))
        .select(
            "o_custkey",
            "key_a",
            "key_b",
            "price_a",
            "price_b",
            days.cast("long").alias("days_apart"),
        )
    )


ROUND_Z = 2.0


@query(
    "q_round_amount_anomaly",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey, count(*) AS n,
             sum(CASE WHEN cast(floor(o_totalprice) as bigint) % 10 = 0 THEN 1 ELSE 0 END) AS r10
      FROM orders GROUP BY 1
    ),
    g AS (SELECT cast(sum(r10) as double) / sum(n) AS p0 FROM per)
    SELECT o_custkey, CAST(n AS BIGINT) AS n_orders, CAST(r10 AS BIGINT) AS n_round,
           {R6_SQL.format(c="cast(r10 as double) / n")} AS round_share,
           {R6_SQL.format(c="(cast(r10 as double) / n - p0) / sqrt(p0 * (1 - p0) / n)")} AS z_score
    FROM per, g
    WHERE (cast(r10 as double) / n - p0) / sqrt(p0 * (1 - p0) / n) > {ROUND_Z}
    """,
    tags=("behavior", "fraud", "statistics"),
)
def q_round_amount_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-amount anomaly screen: customers whose share of
    round-ten order amounts exceeds the population rate by more than
    {ROUND_Z} binomial standard errors — invented amounts
    over-represent round numbers (the behavioral cousin of the
    Benford digit audit, applied per entity with an
    expected-vs-observed z test). One per-customer agg, a 1-row
    global-rate broadcast, and a row-local z — the z filter runs on
    bit-identical doubles (identical op order both engines), so the
    boundary hash-gates."""
    o = read_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.floor(F.col("o_totalprice")).cast("bigint") % 10 == 0, 1).otherwise(0)
        ).alias("n_round"),
    )
    g = per.agg(
        (
            F.sum("n_round").cast("double") / F.sum("n_orders")
        ).alias("p0")
    )
    share = F.col("n_round").cast("double") / F.col("n_orders")
    z = (share - F.col("p0")) / F.sqrt(
        F.col("p0") * (1 - F.col("p0")) / F.col("n_orders")
    )
    return (
        per.crossJoin(F.broadcast(g))
        .filter(z > ROUND_Z)
        .select(
            "o_custkey",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_round").cast("long").alias("n_round"),
            det_round(share, 6).alias("round_share"),
            det_round(z, 6).alias("z_score"),
        )
    )


# --- Kaplan-Meier survival --------------------------------------------------

KM_TARGET = "purchase"


@query(
    "q_survival_km",
    oracle=f"""
    WITH users AS (
      SELECT user_id, min(ts) AS t0, max(ts) AS t_last,
             min(CASE WHEN event_type = '{KM_TARGET}' THEN ts END) AS t_target
      FROM events GROUP BY 1
    ),
    obs AS (
      SELECT CASE WHEN t_target IS NOT NULL
                  THEN date_diff('day', CAST(t0 AS DATE), CAST(t_target AS DATE))
                  ELSE date_diff('day', CAST(t0 AS DATE), CAST(t_last AS DATE)) END AS dur,
             CASE WHEN t_target IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM users
    ),
    g AS (
      SELECT dur, sum(ev) AS d, count(*) - sum(ev) AS c FROM obs GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n FROM obs),
    r AS (
      SELECT dur, d, c,
             n - coalesce(sum(d + c) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM g, tot
    ),
    km AS (
      SELECT dur, d, c, n_risk,
             CASE WHEN d = 0 OR d = n_risk THEN CAST(0 AS DECIMAL(38,8))
                  ELSE CAST({R8_SQL.format(c="ln(1 - CAST(d AS DOUBLE) / n_risk)")}
                            AS DECIMAL(38,8)) END AS lnterm,
             CASE WHEN d = n_risk AND d > 0 THEN 1 ELSE 0 END AS hit_zero
      FROM r
    )
    SELECT CAST(dur AS BIGINT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
           CASE WHEN max(hit_zero) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 THEN 0.0
                ELSE {R6_SQL.format(c="exp(CAST(sum(lnterm) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE))")}
           END AS survival
    FROM km
    """,
    tags=("behavior", "survival", "statistics"),
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: users
    enter at their first event; a first '{KM_TARGET}' is the event,
    users without one are right-censored at their last activity — the
    time-to-conversion estimator that handles censoring correctly
    (naive conversion-rate-by-day ignores users still "alive"). One
    per-user agg reduces the event log; the risk table and the
    product-limit estimator run on |distinct durations| rows. The
    running product is computed as exp(Σ ln(1−d/n)) with det-rounded
    decimal-accumulated terms — layout-free and engine-portable; the
    d = n_risk boundary (curve hits exactly 0, ln singular) is carried
    as an explicit flag instead."""
    e = read_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("t_last"),
        F.min(F.when(F.col("event_type") == KM_TARGET, F.col("ts"))).alias("t_target"),
    )
    has = F.col("t_target").isNotNull()
    obs = users.select(
        F.when(
            has, F.datediff(F.to_date("t_target"), F.to_date("t0"))
        ).otherwise(F.datediff(F.to_date("t_last"), F.to_date("t0"))).alias("dur"),
        F.when(has, 1).otherwise(0).alias("ev"),
    )
    g = obs.groupBy("dur").agg(
        F.sum("ev").alias("d"), (F.count(F.lit(1)) - F.sum("ev")).alias("c")
    )
    tot = obs.agg(F.count(F.lit(1)).alias("n"))
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = g.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n") - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)),
    )
    km = r.select(
        "dur",
        "d",
        "c",
        "n_risk",
        F.when((F.col("d") == 0) | (F.col("d") == F.col("n_risk")), F.lit(0).cast("decimal(38,8)"))
        .otherwise(
            det_round(F.log(F.lit(1) - F.col("d").cast("double") / F.col("n_risk")), 8).cast(
                "decimal(38,8)"
            )
        )
        .alias("lnterm"),
        F.when((F.col("d") == F.col("n_risk")) & (F.col("d") > 0), 1).otherwise(0).alias("hit_zero"),
    )
    return km.select(
        F.col("dur").cast("long").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        F.when(F.max("hit_zero").over(wcum) == 1, F.lit(0.0))
        .otherwise(det_round(F.exp(F.sum("lnterm").over(wcum).cast("double")), 6))
        .alias("survival"),
    )


# --- range anti-join: abandoned intents --------------------------------------

ABANDON_DAYS = 7


@query(
    "q_abandoned",
    oracle=f"""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    flagged AS (
      SELECT c.user_id,
             CASE WHEN EXISTS (
               SELECT 1 FROM events p
               WHERE p.event_type = 'purchase'
                 AND p.user_id = c.user_id
                 AND p.ts >= c.ts
                 AND p.ts < c.ts + INTERVAL {ABANDON_DAYS} DAY
             ) THEN 0 ELSE 1 END AS abandoned
      FROM clicks c
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(sum(abandoned) AS BIGINT) AS n_abandoned,
           {R4_SQL.format(c="CAST(sum(abandoned) AS DOUBLE) / count(*)")} AS abandon_rate
    FROM flagged GROUP BY 1
    """,
    tags=("behavior", "anti-join", "temporal"),
)
def q_abandoned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandonment screen: per user, clicks NOT followed by a purchase
    within {ABANDON_DAYS} days — the temporal NOT-EXISTS shape behind
    cart-abandonment, un-actioned-alert, and dropped-case metrics
    (the follow-up analysis to q_event_funnel's conversion view). The
    engine form is a LEFT ANTI join whose condition carries the
    equi-key (user) plus the time-range residual — Spark keeps the
    hash join on user_id and evaluates the range as a residual filter,
    so the probe never expands; only (user_id, ts) ships from the
    purchase side. Per-user rates then aggregate exact integers."""
    e = read_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") < F.col("cts") + F.expr(f"INTERVAL {ABANDON_DAYS} DAYS"))
    )
    abandoned = clicks.join(purchases, cond, "left_anti").groupBy(
        F.col("cu").alias("user_id")
    ).agg(F.count(F.lit(1)).alias("n_abandoned"))
    totals = clicks.groupBy(F.col("cu").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_clicks")
    )
    j = totals.join(abandoned, "user_id", "left").fillna(0, subset=["n_abandoned"])
    return j.select(
        "user_id",
        F.col("n_clicks").cast("long").alias("n_clicks"),
        F.col("n_abandoned").cast("long").alias("n_abandoned"),
        det_round(F.col("n_abandoned").cast("double") / F.col("n_clicks"), 4).alias("abandon_rate"),
    )


# --- top event paths ---------------------------------------------------------

PATH_LEN = 3
PATH_TOP = 10


@query(
    "q_event_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM seq WHERE rn <= {PATH_LEN}
      GROUP BY 1
      HAVING count(*) = {PATH_LEN}
    ),
    counted AS (
      SELECT path, count(*) AS n_users FROM paths GROUP BY 1
    )
    SELECT path, CAST(n_users AS BIGINT) AS n_users, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT path, n_users,
             row_number() OVER (ORDER BY n_users DESC, path ASC) AS rk
      FROM counted
    )
    WHERE rk <= {PATH_TOP}
    """,
    tags=("behavior", "sequence", "topk"),
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top opening paths: each user's first {PATH_LEN} events joined
    into a '>'-separated path string, ranked by how many users share
    it — the sequence-mining view ("what do journeys look like?")
    next to the transition matrix's one-step view
    (q_event_transitions). One user-keyed rank window bounds per-user
    work to {PATH_LEN} rows; path assembly is an ordered in-group
    aggregation (sort_array over (rn, type) structs — deterministic,
    unlike bare collect_list); the final top-{PATH_TOP} is a
    TakeOrdered over the path-count table. Users with fewer than
    {PATH_LEN} events are excluded on both sides."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= PATH_LEN)
    paths = (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", F.col("event_type").alias("t")))),
                    lambda x: x["t"],
                ),
                ">",
            ).alias("path"),
        )
        .filter(F.col("_n") == PATH_LEN)
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    return (
        counted.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("n_users"), F.asc("path")))
        )
        .filter(F.col("rk") <= PATH_TOP)
        .select("path", F.col("n_users").cast("long").alias("n_users"), F.col("rk").cast("long").alias("rk"))
    )


# --- cohort LTV curve --------------------------------------------------------


@query(
    "q_cohort_ltv",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort
      FROM events GROUP BY 1
    ),
    cohort_sizes AS (
      SELECT cohort, count(*) AS n_users FROM firsts GROUP BY 1
    ),
    rev AS (
      SELECT f.cohort,
             date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS age_days,
             sum(CAST({R4_SQL.format(c="e.value")} AS DECIMAL(38,4))) AS r
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT r.cohort, CAST(r.age_days AS BIGINT) AS age_days,
           CAST(s.n_users AS BIGINT) AS n_users,
           CAST(r.r AS DOUBLE) AS revenue,
           {R4_SQL.format(c=(
               "CAST(sum(r.r) OVER (PARTITION BY r.cohort ORDER BY r.age_days "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / s.n_users"
           ))} AS cum_ltv_per_user
    FROM rev r JOIN cohort_sizes s ON r.cohort = s.cohort
    """,
    tags=("behavior", "cohort", "window"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen
    day, purchase revenue accumulated by cohort age (days since
    entry), normalized per user — the money-weighted companion to
    q_retention_cohort's headcount view, and the curve every growth
    team reads ("does month-3 LTV cover acquisition cost?"). One
    per-user first-event agg, one join back onto purchases, one
    (cohort, age) agg; the cumulative window then runs over the tiny
    cohort×age matrix. Purchase values det-round into decimal(38,4)
    before any sum — layout-free."""
    e = read_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy("cohort", F.datediff(F.to_date("ts"), "cohort").alias("age_days"))
        .agg(F.sum(det_round(F.col("value"), 4).cast("decimal(38,4)")).alias("r"))
    )
    wcum = (
        Window.partitionBy("cohort")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(sizes, "cohort")
        .select(
            "cohort",
            F.col("age_days").cast("long").alias("age_days"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("r").cast("double").alias("revenue"),
            det_round(
                F.sum("r").over(wcum).cast("double") / F.col("n_users"), 4
            ).alias("cum_ltv_per_user"),
        )
    )


# --- funnel with per-step time budgets ---------------------------------------

FUNNEL_STEP1_H = 1   # view → click budget (hours)
FUNNEL_STEP2_H = 24  # click → purchase budget (hours)


@query(
    "q_funnel_windowed",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL {FUNNEL_STEP1_H} HOUR
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL {FUNNEL_STEP2_H} HOUR
      GROUP BY 1
    ),
    counts AS (
      SELECT 1 AS stage_no, 'view' AS stage, (SELECT count(*) FROM v) AS n_users
      UNION ALL
      SELECT 2, 'click_1h', (SELECT count(*) FROM c)
      UNION ALL
      SELECT 3, 'purchase_24h', (SELECT count(*) FROM p)
    )
    SELECT CAST(stage_no AS BIGINT) AS stage_no, stage,
           CAST(n_users AS BIGINT) AS n_users,
           {R4_SQL.format(c="CAST(n_users AS DOUBLE) / (SELECT n_users FROM counts WHERE stage_no = 1)")} AS conv_from_top
    FROM counts
    """,
    tags=("behavior", "funnel", "temporal"),
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with per-step TIME BUDGETS: click must follow the first
    view within {FUNNEL_STEP1_H}h and purchase within
    {FUNNEL_STEP2_H}h of that click — the constrained form of
    q_event_funnel (unbounded funnels overstate conversion by
    counting next-quarter purchases). Each stage is one min-aggregate
    semi-joined to the prior stage's anchor with a range residual on
    the user-key hash join — the q_abandoned shape chained twice.
    Counts are exact; rates divide exact integers."""
    e = read_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr(f"INTERVAL {FUNNEL_STEP1_H} HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr(f"INTERVAL {FUNNEL_STEP2_H} HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(1).alias("stage_no"), F.lit("view").alias("stage"), "n_users")
        .unionByName(c.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(2).alias("stage_no"), F.lit("click_1h").alias("stage"), "n_users"))
        .unionByName(p.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(3).alias("stage_no"), F.lit("purchase_24h").alias("stage"), "n_users"))
    )
    top = counts.filter(F.col("stage_no") == 1).select(F.col("n_users").alias("n_top"))
    return counts.crossJoin(F.broadcast(top)).select(
        F.col("stage_no").cast("long").alias("stage_no"),
        "stage",
        F.col("n_users").cast("long").alias("n_users"),
        det_round(F.col("n_users").cast("double") / F.col("n_top"), 4).alias("conv_from_top"),
    )


# --- two-proportion A/B test -------------------------------------------------

AB_Z_CRIT = 1.96


@query(
    "q_ab_test",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             {H52_SQL.format(x="'ab-' || cast(user_id as varchar)")} % 2 AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    conv AS (
      -- converted = purchased within 24h of first activity (every user
      -- eventually purchases in this corpus; the windowed definition
      -- keeps the rate interior so the z machinery is exercised)
      SELECT t.user_id FROM (
        SELECT user_id, min(ts) AS t0,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        FROM events GROUP BY 1
      ) t
      WHERE t.tp IS NOT NULL AND t.tp <= t.t0 + INTERVAL 1 DAY
    ),
    arms AS (
      SELECT a.arm, count(*) AS n,
             sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS nc
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY 1
    ),
    w AS (
      SELECT
        max(CASE WHEN arm = 0 THEN n END) AS n0,
        max(CASE WHEN arm = 0 THEN nc END) AS c0,
        max(CASE WHEN arm = 1 THEN n END) AS n1,
        max(CASE WHEN arm = 1 THEN nc END) AS c1
      FROM arms
    ),
    z AS (
      SELECT n0, c0, n1, c1,
             CAST(c0 AS DOUBLE) / n0 AS p0, CAST(c1 AS DOUBLE) / n1 AS p1,
             CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pp
      FROM w
    )
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(c0 AS BIGINT) AS conv_control,
           {R4_SQL.format(c="p0")} AS rate_control,
           CAST(n1 AS BIGINT) AS n_treat, CAST(c1 AS BIGINT) AS conv_treat,
           {R4_SQL.format(c="p1")} AS rate_treat,
           CASE WHEN pp > 0 AND pp < 1
                THEN {R6_SQL.format(c="(p1 - p0) / sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))")}
           END AS z_stat,
           CAST(CASE WHEN pp > 0 AND pp < 1
                      AND abs((p1 - p0) / sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1)))
                          > {AB_Z_CRIT!r} THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM z
    """,
    tags=("behavior", "experiment", "statistics"),
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test: users split 50/50 by the
    domain-tagged md5 hash (append-stable, engine-portable — the
    same assignment discipline as the train/test splitter), converted
    = any purchase; z = (p₁−p₀)/√(p̂(1−p̂)(1/n₀+1/n₁)) with the pooled
    rate — the experimentation-platform readout. On hash-split arms
    of the same population the test should (correctly) find nothing:
    the null machinery is what's being verified. Per-user reduce →
    2-row arm table → scalar arithmetic; every ratio divides exact
    integers."""
    e = read_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    arm = F.pmod(
        h52(F.concat(F.lit("ab-"), F.col("user_id").cast("string"))),
        F.lit(2),
    ).alias("arm")
    assign = users.select("user_id", arm)
    firsts = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    conv = (
        firsts.filter(
            F.col("tp").isNotNull()
            & (F.col("tp") <= F.col("t0") + F.expr("INTERVAL 1 DAYS"))
        )
        .select("user_id")
        .withColumn("_c", F.lit(1))
    )
    arms = (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.coalesce(F.col("_c"), F.lit(0))).alias("nc"))
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("nc"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("nc"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    interior = (pp > 0) & (pp < 1)
    zexpr = F.when(
        interior,
        (p1 - p0) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
    )
    return w.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("c0").cast("long").alias("conv_control"),
        det_round(p0, 4).alias("rate_control"),
        F.col("n1").cast("long").alias("n_treat"),
        F.col("c1").cast("long").alias("conv_treat"),
        det_round(p1, 4).alias("rate_treat"),
        det_round(zexpr, 6).alias("z_stat"),
        F.when(F.abs(zexpr) > AB_Z_CRIT, 1).otherwise(0).cast("long").alias("significant"),
    )


# --- DAU / WAU / stickiness --------------------------------------------------

WAU_DAYS = 7


@query(
    "q_active_users",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN du u
        ON u.day > d.day - {WAU_DAYS} AND u.day <= d.day
      GROUP BY 1
    )
    SELECT d.day, CAST(a.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
           {R4_SQL.format(c="CAST(a.dau AS DOUBLE) / w.wau")} AS stickiness
    FROM days d JOIN dau a ON d.day = a.day JOIN wau w ON d.day = w.day
    """,
    tags=("behavior", "engagement", "window"),
)
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-{WAU_DAYS}-day WAU / stickiness (DAU÷WAU) — the
    product-engagement headline. Rolling DISTINCT counts don't fold
    into window frames (distinctness isn't decomposable), so the
    trailing count is a day-spine range join over the per-day
    DISTINCT (day, user) reduce — exact and deterministic; at 100 TB
    the exact tier is replaced by per-day HLL sketches merged over
    the trailing window (the approx_variants pattern), with this
    exact form as its oracle at validation scale. The range join
    expands each user-day into ≤{WAU_DAYS} spine rows — bounded
    fan-out, one shuffle."""
    e = read_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # each user-day contributes to the next WAU_DAYS spine days: a
    # map-side sequence explode + EQUI join (broadcast day spine) —
    # a pure range join would plan as a nested loop here.
    expanded = du.select(
        F.explode(
            F.expr(f"sequence(day, date_add(day, {WAU_DAYS - 1}))")
        ).alias("day"),
        "user_id",
    )
    wau = (
        expanded.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            det_round(F.col("dau").cast("double") / F.col("wau"), 4).alias("stickiness"),
        )
    )


# --- HLL-merged rolling WAU (the q_active_users 100 TB tier) ----------------

# Same deterministic 256-register HLL as q_hll_registers
# (catalog_relational.py) — md5-60 hash, 8 index bits, string-search
# leading-zero rank; constants imported so the two sketches can never
# drift apart.
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_relational import (  # noqa: E402
    _HLL_M,
    _HLL_NUM,
)

_UHLL_H_DUCK = H60_SQL.format(x="cast(user_id as varchar)")


def hll_day_registers(events: DataFrame) -> DataFrame:
    """Per-day HLL registers over user_id: (day, idx, m_j) with only
    non-zero cells materialized — ≤ {m} rows per day regardless of
    user cardinality. No pre-distinct: duplicates cannot change a
    max. This is the mergeable summary a deployment maintains as a
    bucketed daily table; any trailing window (7-day WAU, 28-day MAU)
    is an elementwise-max merge of the day rows, never a rescan."""
    h = events.select(
        F.to_date("ts").alias("day"),
        hash60(F.col("user_id").cast("string")).alias("h"),
    )
    idx, r = hll_register(F.col("h"))
    rho = h.select("day", idx.alias("idx"), r.alias("r"))
    return rho.groupBy("day", "idx").agg(F.max("r").alias("m_j"))


def hll_estimate(merged: DataFrame, group_cols: list[str]) -> DataFrame:
    """Registers → cardinality estimate per group: the integer
    harmonic sum Σ2^(53-m_j) with absent cells contributing 2^53
    arithmetically (no grid join needed), then alpha·m²/s with the
    standard linear-counting small-range correction. Exact integer +
    shared-literal float arithmetic — hash-gates against any engine."""
    s = merged.groupBy(*group_cols).agg(
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 53 - m_j)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.expr("shiftleft(cast(1 as bigint), 53)")
        ).alias("s_int"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("v"),
    )
    e_raw = F.lit(float(_HLL_NUM)) / F.col("s_int").cast("double")
    est = F.when(
        (e_raw <= 2.5 * _HLL_M) & (F.col("v") > 0),
        F.lit(_HLL_M) * F.log(F.lit(_HLL_M) / F.col("v").cast("double")),
    ).otherwise(e_raw)
    return s.select(*group_cols, est.alias("est"))


@query(
    "q_active_users_hll",
    oracle=f"""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day, {_UHLL_H_DUCK} AS h FROM events
    ),
    rho AS (
      SELECT day, {HLL_REGISTER_SQL}
      FROM h
    ),
    dreg AS (SELECT day, idx, max(r) AS m_j FROM rho GROUP BY 1, 2),
    days AS (SELECT DISTINCT day FROM dreg),
    merged AS (
      SELECT d.day, r.idx, max(r.m_j) AS m_j
      FROM days d JOIN dreg r ON r.day > d.day - {{wau}} AND r.day <= d.day
      GROUP BY 1, 2
    ),
    s AS (
      SELECT day,
             sum((CAST(1 AS BIGINT) << (53 - m_j)))
               + ({{m}} - count(*)) * (CAST(1 AS BIGINT) << 53) AS s_int,
             {{m}} - count(*) AS v
      FROM merged GROUP BY 1
    ),
    est AS (
      SELECT day,
             CASE WHEN ({{num}} / CAST(s_int AS DOUBLE)) <= 2.5 * {{m}} AND v > 0
                  THEN {{m}} * ln({{m}} / CAST(v AS DOUBLE))
                  ELSE {{num}} / CAST(s_int AS DOUBLE) END AS e
      FROM s
    ),
    du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    exact AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau_exact
      FROM days d JOIN du u ON u.day > d.day - {{wau}} AND u.day <= d.day
      GROUP BY 1
    )
    SELECT e.day, CAST(x.wau_exact AS BIGINT) AS wau_exact,
           {{r4_est}} AS wau_hll,
           {{r4_err}} AS rel_error
    FROM est e JOIN exact x ON e.day = x.day
    """.format(
        wau=WAU_DAYS,
        m=_HLL_M,
        num=_HLL_NUM,
        r4_est=R4_SQL.format(c="e.e"),
        r4_err=R4_SQL.format(c="abs(e.e - x.wau_exact) / x.wau_exact"),
    ),
    tags=("behavior", "sketch", "engagement"),
)
def q_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day WAU via per-day HLL register merge — THE
    100 TB tier q_active_users' docstring promises: rolling DISTINCT
    doesn't fold into window frames, but per-day 256-cell register
    summaries DO (elementwise max is associative + idempotent), so
    the trailing window merges ≤ 256·7 summary rows per day
    instead of re-touching every (day, user) pair. Next to the
    estimate, the exact rolling distinct (the q_active_users plan)
    joins in so the sketch's relative error is itself hash-gated —
    the CMS/MG validation pattern. Plan: one (day, idx) register
    agg (map-side combined), a ≤7-day sequence-explode equi-join
    over the broadcast day spine (never a nested-loop range join),
    one merge agg over day×256 cells, and the exact tier for
    validation — at production scale the exact branch drops and the
    daily register table persists as the bucketed corpus summary.
    Merge associativity is property-tested (tests/test_plans.py)."""
    e = read_table(spark, sf_dir, "events")
    dreg = hll_day_registers(e)
    days = dreg.select("day").distinct()
    expanded = dreg.select(
        F.explode(
            F.expr(f"sequence(day, date_add(day, {WAU_DAYS - 1}))")
        ).alias("day"),
        "idx",
        "m_j",
    )
    merged = (
        expanded.join(F.broadcast(days), "day")
        .groupBy("day", "idx")
        .agg(F.max("m_j").alias("m_j"))
    )
    est = hll_estimate(merged, ["day"])
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    uexp = du.select(
        F.explode(
            F.expr(f"sequence(day, date_add(day, {WAU_DAYS - 1}))")
        ).alias("day"),
        "user_id",
    )
    exact = (
        uexp.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
    )
    return est.join(exact, "day").select(
        "day",
        F.col("wau_exact").cast("long").alias("wau_exact"),
        det_round(F.col("est"), 4).alias("wau_hll"),
        det_round(
            F.abs(F.col("est") - F.col("wau_exact")) / F.col("wau_exact"), 4
        ).alias("rel_error"),
    )


# --- marketing/channel attribution -------------------------------------------


@query(
    "q_attribution_last_touch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS chan
      FROM events
    ),
    agg AS (
      SELECT coalesce(chan, 'direct') AS channel,
             count(*) AS n_purchases,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM seq WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT channel, CAST(n_purchases AS BIGINT) AS n_purchases, revenue,
           {R4_SQL.format(c="revenue / sum(revenue) OVER ()")} AS revenue_share
    FROM agg
    """,
    tags=("behavior", "attribution", "window"),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the
    user's most recent PRECEDING non-purchase event type (the
    'channel'; 'direct' when the purchase is the user's first
    touch) — the marketing-analytics twin of the fraud funnel, and
    the canonical ignore-nulls carry-forward window (`F.last(...,
    ignorenulls=True)` over an unbounded-preceding frame). One
    user-partitioned window shuffle (ordered by ts with event_id as
    the unique tiebreak), one 5-row channel aggregate; the share
    window runs over that aggregated frame, so nothing unreduced
    crosses a SinglePartition exchange. Exact decimal revenue sums."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chan = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    agg = (
        e.select("user_id", "event_type", "value", chan.alias("chan"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("chan"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )
    share_w = Window.partitionBy(F.lit(1))
    return agg.select(
        "channel",
        "n_purchases",
        "revenue",
        det_round(F.col("revenue") / F.sum("revenue").over(share_w), 4).alias(
            "revenue_share"
        ),
    )


# --- inter-arrival / burstiness profile --------------------------------------


@query(
    "q_interarrival_stats",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             epoch_ms(ts) - lag(epoch_ms(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
      FROM events
    ),
    s AS (
      SELECT user_id, count(*) AS n_gaps,
             CAST(sum(CAST(gap_ms AS DECIMAL(38,0))) AS DOUBLE) AS s_ms,
             CAST(sum(CAST(gap_ms AS DECIMAL(38,0)) * CAST(gap_ms AS DECIMAL(38,0))) AS DOUBLE) AS ss_ms
      FROM g WHERE gap_ms IS NOT NULL GROUP BY 1 HAVING count(*) >= 2
    ),
    m AS (
      SELECT user_id, n_gaps,
             s_ms / n_gaps / 1000.0 AS mean_s,
             sqrt(greatest((ss_ms - s_ms * s_ms / n_gaps) / (n_gaps - 1), 0.0)) / 1000.0 AS std_s
      FROM s
    )
    SELECT user_id, CAST(n_gaps + 1 AS BIGINT) AS n_events,
           {R4_SQL.format(c="mean_s")} AS mean_gap_s,
           {R4_SQL.format(c="std_s")} AS std_gap_s,
           {R4_SQL.format(c="(std_s - mean_s) / (std_s + mean_s)")} AS burstiness
    FROM m
    """,
    tags=("behavior", "timeseries", "fraud-feature"),
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics + burstiness B=(σ−μ)/(σ+μ)
    (Goh & Barabási): B→−1 is metronomic (bot-like timers), B→+1 is
    bursty (human sessions) — a fraud-velocity feature the reference's
    per-user profiles imply but never compute. Gaps are EXACT integer
    epoch-milliseconds from one user-partitioned lag window; their
    sums and squared sums fold through decimal(38,0) (associative,
    layout-free), and every downstream float (mean, the one-pass
    variance identity, sqrt) is the same IEEE expression on both
    engines, so a second-moment statistic hash-gates exactly. Users
    need ≥ 3 events (2 gaps) for a sample variance. One window
    shuffle + one agg; at 100 TB both key on user_id — the same
    partitioning, no extra exchange."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias("gap_ms")
    g = e.select("user_id", gap).filter(F.col("gap_ms").isNotNull())
    d = F.col("gap_ms").cast("decimal(38,0)")
    s = (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum(d).cast("double").alias("s_ms"),
            F.sum(d * d).cast("double").alias("ss_ms"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    mean_s = F.col("s_ms") / F.col("n_gaps") / F.lit(1000.0)
    var = F.greatest(
        (F.col("ss_ms") - F.col("s_ms") * F.col("s_ms") / F.col("n_gaps"))
        / (F.col("n_gaps") - 1),
        F.lit(0.0),
    )
    std_s = F.sqrt(var) / F.lit(1000.0)
    return s.select(
        "user_id",
        (F.col("n_gaps") + 1).cast("long").alias("n_events"),
        det_round(mean_s, 4).alias("mean_gap_s"),
        det_round(std_s, 4).alias("std_gap_s"),
        det_round((std_s - mean_s) / (std_s + mean_s), 4).alias("burstiness"),
    )


ATTR_WINDOW_DAYS = 7


@query(
    "q_attribution_linear",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts AS t_ts, event_type AS channel
      FROM events WHERE event_type <> 'purchase'
    ),
    pt AS (
      SELECT p.p_id, p.value, t.channel
      FROM purchases p LEFT JOIN touches t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
    ),
    counted AS (
      SELECT p_id, value, channel,
             count(channel) OVER (PARTITION BY p_id) AS n_t
      FROM pt
    ),
    credits AS (
      SELECT coalesce(channel, 'direct') AS channel,
             CASE WHEN channel IS NULL THEN value
                  ELSE {R6_SQL.format(c="value / n_t")} END AS credit
      FROM counted
    ),
    agg AS (
      SELECT channel, count(*) AS n_credits,
             CAST(sum(CAST(credit AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM credits GROUP BY 1
    )
    SELECT channel, CAST(n_credits AS BIGINT) AS n_credits, revenue,
           {R4_SQL.format(c="revenue / sum(revenue) OVER ()")} AS revenue_share
    FROM agg
    """,
    tags=("behavior", "attribution", "join"),
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR (multi-touch) attribution — the equal-split counterpart
    of q_attribution_last_touch: each purchase's value divides evenly
    across ALL the user's touches in the trailing 7-day window
    (purchases with no prior touch stay 'direct'). The touch
    expansion is a user-keyed interval join (the q_stream_interval_join
    machinery in its batch role); the per-purchase fan-out is bounded
    by the window, per-credit amounts det-round to 6 digits before the
    decimal(28,6) fold (so the split's rounding is identical on both
    engines — per-purchase credits may sum a few micro-units off the
    purchase value, the standard split-rounding artifact), and the
    channel rollup + share window run on a 5-row aggregate."""
    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"), "value"
    )
    touches = e.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    cond = (
        (touches["t_user"] == purchases["user_id"])
        & (touches["t_ts"] < purchases["p_ts"])
        & (touches["t_ts"] >= purchases["p_ts"] - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS"))
    )
    pt = purchases.join(touches, cond, "left").select("p_id", "value", "channel")
    counted = pt.withColumn(
        "n_t", F.count("channel").over(Window.partitionBy("p_id"))
    )
    credit = F.when(
        F.col("channel").isNull(), F.col("value")
    ).otherwise(det_round(F.col("value") / F.col("n_t"), 6))
    agg = (
        counted.select(
            F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
            credit.alias("credit"),
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credits"),
            F.sum(F.col("credit").cast("decimal(28,6)")).cast("double").alias("revenue"),
        )
    )
    share_w = Window.partitionBy(F.lit(1))
    return agg.select(
        "channel",
        "n_credits",
        "revenue",
        det_round(F.col("revenue") / F.sum("revenue").over(share_w), 4).alias("revenue_share"),
    )


@query(
    "q_conversion_latency",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY 1
    ),
    conv AS (
      SELECT date_diff('second', first_click, first_purchase) AS latency_s
      FROM firsts
      WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_click
    )
    SELECT count(*) AS n_converted,
           CAST(min(latency_s) AS BIGINT) AS min_s,
           {R4_SQL.format(c="quantile_cont(latency_s, 0.5)")} AS p50_s,
           {R4_SQL.format(c="quantile_cont(latency_s, 0.9)")} AS p90_s,
           CAST(max(latency_s) AS BIGINT) AS max_s
    FROM conv
    """,
    tags=("behavior", "funnel", "latency"),
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion latency distribution: per user, time
    from FIRST click to FIRST purchase (users whose first purchase
    precedes any click are organic/direct and excluded — same rule
    both engines), then min/p50/p90/max over the converting cohort —
    the funnel-VELOCITY artifact next to q_event_funnel's conversion
    RATES ('half convert within ~28 h; the p90 tail takes 5 days').
    One conditional-min agg per user (map-side combined), then one
    tiny percentile agg over |converted users| integer latencies (the
    q_winsorize quantile_cont ≡ F.percentile convention, det-rounded).
    Latencies are exact integer seconds — both engines' timestamp
    subtraction truncates identically."""
    e = read_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    conv = firsts.filter(
        F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_click"))
    ).select(
        (F.unix_timestamp("first_purchase") - F.unix_timestamp("first_click")).alias("latency_s")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("latency_s").cast("long").alias("min_s"),
        det_round(F.percentile("latency_s", F.lit(0.5)), 4).alias("p50_s"),
        det_round(F.percentile("latency_s", F.lit(0.9)), 4).alias("p90_s"),
        F.max("latency_s").cast("long").alias("max_s"),
    )


@query(
    "q_new_vs_returning",
    oracle=f"""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
    ),
    purchases AS (
      SELECT CAST(e.ts AS DATE) AS day, e.user_id, e.value,
             CASE WHEN CAST(e.ts AS DATE) = f.first_day THEN 1 ELSE 0 END AS is_new
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
    )
    SELECT day,
           CAST(sum(is_new) AS BIGINT) AS n_new_purchases,
           CAST(sum(1 - is_new) AS BIGINT) AS n_returning_purchases,
           CAST(sum(CASE WHEN is_new = 1 THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS new_revenue,
           CAST(sum(CASE WHEN is_new = 0 THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS returning_revenue,
           {R4_SQL.format(c=(
               "CAST(sum(CASE WHEN is_new = 1 THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE)"
               " / CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
           ))} AS new_share
    FROM purchases GROUP BY 1
    """,
    tags=("behavior", "marts", "engagement"),
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue split by NEW vs RETURNING purchasers (new = the
    purchase lands on the user's very first active day) — the
    acquisition-vs-retention decomposition on every growth dashboard,
    and the day-grain companion to q_retention_cohort. One per-user
    min-date reduce joined back onto the purchase scan (user-keyed —
    at 100 TB both sides bucket by user), then one day-grain
    conditional decimal rollup; the share divides two exact decimal
    sums. Days with zero purchases don't emit (both engines agree —
    join semantics, no spine)."""
    e = read_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            F.to_date("ts").alias("day"),
            F.when(F.to_date("ts") == F.col("first_day"), 1).otherwise(0).alias("is_new"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    new_rev = F.sum(F.when(F.col("is_new") == 1, F.col("v")).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
    ret_rev = F.sum(F.when(F.col("is_new") == 0, F.col("v")).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
    return p.groupBy("day").agg(
        F.sum("is_new").cast("long").alias("n_new_purchases"),
        F.sum(1 - F.col("is_new")).cast("long").alias("n_returning_purchases"),
        new_rev.alias("new_revenue"),
        ret_rev.alias("returning_revenue"),
        det_round(new_rev / F.sum("v").cast("double"), 4).alias("new_share"),
    )
