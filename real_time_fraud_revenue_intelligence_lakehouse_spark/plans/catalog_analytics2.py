"""Round-6 analytic depth — warehouse shapes with distinct execution
patterns the earlier catalogs still lacked:

- q_topk_per_group: top-k rows per group via the two-stage salted
  window — the skew-proof form of the classic row_number()<=k (a
  5-group window over the full fact would put 1/5 of the table in one
  task at 100 TB; the salt stage bounds every task).
- q_cumulative_distinct: running distinct-user count per day — the
  first-occurrence reduction (per-user min day) turns an unbounded
  windowed COUNT(DISTINCT) into one agg + a days-sized cumsum.
- q_twap: time-weighted average event value per user (each value
  weighted by its holding duration until the next event) — the
  finance/telemetry aggregate SQL AVG gets wrong.
- q_yoy_growth: year-over-year revenue growth per nation — yearly
  rollup then lag over a 25-partition window.
- q_chi_square: χ², Cramér's V, and mutual information between order
  priority and status from ONE contingency pass — the feature
  association audit of a training pipeline.
- q_weighted_sample: Efraimidis–Spirakis weighted sampling
  (key = ln(u)/w with the deterministic md5 uniform) — the
  reservoir-style cousin of q_priority_sample, planned as
  TakeOrderedAndProject.
- q_allocation: largest-remainder (Hamilton) integer allocation of a
  fixed budget proportional to revenue — exactly sum-preserving, the
  rounding shape pro-rata financial jobs need.

The reference's revenue/risk marts (`revenue_aggregations.py`,
`user_risk_profiles.py`) motivate the group-wise and ratio shapes;
the association/allocation/sampling forms extend them to the
feature-prep surface. All seven are pure DataFrame plans — zero
Python stages, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    H52_SQL,
    H60_SQL,
    R2_SQL,
    R4_SQL,
    R6_SQL,
    R8_SQL,
    SUM_SQL,
    TWO52,
    det_round,
    h52,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.ranking import distributed_row_number, rank_distributed
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- salted two-stage top-k per group ---------------------------------------

TOPK_K = 3
TOPK_SALTS = 32


@query(
    "q_topk_per_group",
    oracle=f"""
    SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders
    )
    WHERE rk <= {TOPK_K}
    """,
    tags=("window", "topk", "skew"),
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_K} orders by value per priority. The naive plan — one
    row_number window partitioned by the 5 priorities — sends 1/5 of
    the fact table into a single task; at 100 TB that task never
    finishes. This plan salts first: stage 1 ranks within
    (priority, pmod(hash(key), {TOPK_SALTS})) so every task holds a
    bounded slice and keeps only its local top-{TOPK_K}; stage 2 ranks
    the ≤ groups×salts×k survivors. Any global top-k row is a local
    top-k row in its salt shard, so the result is exactly the naive
    window's (the oracle runs the naive form). Ties on value break on
    the unique key in BOTH stages, keeping the composition
    deterministic."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.topk import salted_topk

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    ranked = salted_topk(
        o,
        group_cols=["o_orderpriority"],
        order_cols=[F.desc("o_totalprice")],
        tiebreak_col="o_orderkey",
        k=TOPK_K,
        salts=TOPK_SALTS,
    )
    return ranked.select(
        "o_orderpriority", F.col("rk").cast("long").alias("rk"), "o_orderkey", "o_totalprice"
    )


# --- running distinct users --------------------------------------------------


@query(
    "q_cumulative_distinct",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
    ),
    daily AS (
      SELECT first_day AS day, count(*) AS new_users FROM first_seen GROUP BY 1
    )
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily
    """,
    tags=("window", "distinct", "behavior"),
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day. A windowed
    COUNT(DISTINCT) is unbounded state; the first-occurrence rewrite
    (each user contributes only on their min day) reduces the stream
    to one per-user agg + a per-day agg, and the cumulative sum then
    runs over |days| rows — a single-task window on an already-tiny
    frame, valid at any corpus scale."""
    e = read_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


# --- time-weighted average ---------------------------------------------------


@query(
    "q_twap",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, value,
             lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) - epoch_ms(ts)
               AS dur_ms
      FROM events
    ),
    agg AS (
      SELECT user_id,
             sum(CAST({R4_SQL.format(c="value * dur_ms")} AS DECIMAL(38,4))) AS wsum,
             sum(dur_ms) AS tot_ms, count(*) AS n_intervals
      FROM seq WHERE dur_ms IS NOT NULL GROUP BY 1
    )
    SELECT user_id, CAST(n_intervals AS BIGINT) AS n_intervals,
           CAST(tot_ms AS BIGINT) AS tot_ms,
           {R6_SQL.format(c="CAST(wsum AS DOUBLE) / tot_ms")} AS twap_value
    FROM agg WHERE tot_ms > 0
    """,
    tags=("window", "timeseries"),
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user: each value is held
    until the user's next event, so it weighs by its duration — the
    aggregate plain AVG misstates whenever sampling is irregular
    (exactly the shape of the reference's event stream,
    `generator/events.py`). One lead window shuffles on user_id
    (ordered by ts with the unique event_id tiebreak); products are
    det-rounded then decimal-accumulated so the sum is
    partition-layout-free; the final division is one exact-input IEEE
    op. Zero-span users (all events at one instant) are excluded on
    both sides."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    ms = F.unix_millis(F.col("ts"))
    seq = e.select(
        "user_id",
        "value",
        (F.lead(ms).over(w) - ms).alias("dur_ms"),
    ).filter(F.col("dur_ms").isNotNull())
    agg = seq.groupBy("user_id").agg(
        F.sum(det_round(F.col("value") * F.col("dur_ms"), 4).cast("decimal(38,4)")).alias("wsum"),
        F.sum("dur_ms").alias("tot_ms"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    return agg.filter(F.col("tot_ms") > 0).select(
        "user_id",
        "n_intervals",
        F.col("tot_ms").cast("long").alias("tot_ms"),
        det_round(F.col("wsum").cast("double") / F.col("tot_ms"), 6).alias("twap_value"),
    )


# --- year-over-year growth ---------------------------------------------------


@query(
    "q_yoy_growth",
    oracle=f"""
    WITH yearly AS (
      SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, order_year, revenue,
           {R4_SQL.format(c="(revenue - prev_rev) / prev_rev * 100.0")} AS yoy_pct
    FROM (
      SELECT n_name, order_year, revenue,
             lag(revenue) OVER (PARTITION BY n_name ORDER BY order_year) AS prev_rev
      FROM yearly
    )
    WHERE prev_rev IS NOT NULL AND prev_rev > 0
    """,
    tags=("window", "aggregate", "trend"),
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the rollup
    the reference's monthly revenue mart implies at annual grain
    (`revenue_aggregations.py:66-85`) plus the lag comparison. The
    fact joins dims (both broadcast-sized here; custkey shuffle join
    at 100 TB), aggregates to |nations|×|years| rows, and the lag
    window runs on that tiny frame. Decimal revenue accumulation
    keeps the doubles layout-free; the growth ratio divides two
    exact-cent doubles."""
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("order_year")
    return (
        yearly.withColumn("prev_rev", F.lag("revenue").over(w))
        .filter(F.col("prev_rev").isNotNull() & (F.col("prev_rev") > 0))
        .select(
            "n_name",
            "order_year",
            "revenue",
            det_round((F.col("revenue") - F.col("prev_rev")) / F.col("prev_rev") * 100.0, 4).alias("yoy_pct"),
        )
    )


# --- χ² / Cramér's V / mutual information ------------------------------------


@query(
    "q_chi_square",
    oracle=f"""
    WITH cells AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS n_ab
      FROM orders GROUP BY 1, 2
    ),
    na AS (SELECT o_orderpriority AS a, count(*) AS n_a FROM orders GROUP BY 1),
    nb AS (SELECT o_orderstatus AS b, count(*) AS n_b FROM orders GROUP BY 1),
    tot AS (SELECT sum(n_a) AS n FROM na),
    marg AS (
      -- densified: the chi-square sum runs over EVERY (a, b) cell,
      -- including observed-zero ones (each contributes its expectation)
      SELECT na.a, nb.b, na.n_a, nb.n_b, coalesce(c.n_ab, 0) AS n_ab
      FROM na CROSS JOIN nb
      LEFT JOIN cells c ON c.a = na.a AND c.b = nb.b
    ),
    terms AS (
      SELECT
        CAST({R8_SQL.format(c="pow(n_ab - CAST(n_a AS DOUBLE) * n_b / n, 2) / (CAST(n_a AS DOUBLE) * n_b / n)")} AS DECIMAL(38,8)) AS chi_term,
        CAST({R8_SQL.format(c="CASE WHEN n_ab = 0 THEN 0.0 ELSE CAST(n_ab AS DOUBLE) / n * ln(CAST(n_ab AS DOUBLE) * n / (CAST(n_a AS DOUBLE) * n_b)) END")} AS DECIMAL(38,8)) AS mi_term
      FROM marg, tot
    ),
    dims AS (
      SELECT (SELECT count(*) FROM na) AS ka, (SELECT count(*) FROM nb) AS kb
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof,
           {R6_SQL.format(c="CAST(chi2 AS DOUBLE)")} AS chi2,
           {R6_SQL.format(c="sqrt(CAST(chi2 AS DOUBLE) / (n * least(ka - 1, kb - 1)))")} AS cramers_v,
           {R6_SQL.format(c="CAST(mi AS DOUBLE)")} AS mutual_info
    FROM (SELECT sum(chi_term) AS chi2, sum(mi_term) AS mi FROM terms), tot, dims
    """,
    tags=("stats", "aggregate"),
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association audit between order priority and status: χ²
    statistic, Cramér's V effect size, and mutual information (nats)
    from a single contingency pass — the categorical-feature screen a
    training pipeline runs before one-hot-encoding (and the
    independence check behind the reference's priority/status rollups).
    One count agg reduces the fact to ≤ |a|×|b| cells; marginals come
    from windows over that tiny frame, so nothing after the first
    shuffle scales with the table. Per-cell terms are det-rounded then
    decimal-summed — layout-free despite ln/pow."""
    o = read_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    ).agg(F.count(F.lit(1)).alias("n_ab"))
    na = o.groupBy(F.col("o_orderpriority").alias("a")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    nb = o.groupBy(F.col("o_orderstatus").alias("b")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    # densified contingency: observed-zero cells still contribute their
    # expectation to chi2 (and 0 to MI) — dropping them understates both.
    marg = (
        na.crossJoin(F.broadcast(nb))
        .join(cells, ["a", "b"], "left")
        .fillna(0, subset=["n_ab"])
    )
    tot = na.agg(F.sum("n_a").alias("n"))
    dims = na.agg(F.count(F.lit(1)).alias("ka")).crossJoin(
        F.broadcast(nb.agg(F.count(F.lit(1)).alias("kb")))
    )
    nd = F.col("n").cast("double")
    exp = F.col("n_a").cast("double") * F.col("n_b") / nd
    chi_term = det_round(F.pow(F.col("n_ab") - exp, F.lit(2.0)) / exp, 8).cast("decimal(38,8)")
    mi_term = det_round(
        F.when(F.col("n_ab") == 0, F.lit(0.0)).otherwise(
            F.col("n_ab").cast("double") / nd
            * F.log(
                F.col("n_ab").cast("double") * nd / (F.col("n_a").cast("double") * F.col("n_b"))
            )
        ),
        8,
    ).cast("decimal(38,8)")
    sums = (
        marg.crossJoin(F.broadcast(tot))
        .select(chi_term.alias("chi_term"), mi_term.alias("mi_term"))
        .agg(F.sum("chi_term").alias("chi2"), F.sum("mi_term").alias("mi"))
    )
    return (
        sums.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("n").cast("long").alias("n_rows"),
            ((F.col("ka") - 1) * (F.col("kb") - 1)).cast("long").alias("dof"),
            det_round(F.col("chi2").cast("double"), 6).alias("chi2"),
            det_round(
                F.sqrt(F.col("chi2").cast("double") / (F.col("n") * F.least(F.col("ka") - 1, F.col("kb") - 1))), 6
            ).alias("cramers_v"),
            det_round(F.col("mi").cast("double"), 6).alias("mutual_info"),
        )
    )


# --- Efraimidis–Spirakis weighted sample -------------------------------------

WS_K = 20


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH u AS (
      SELECT o_orderkey, o_totalprice,
             cast({H52_SQL.format(x="'ws-' || cast(o_orderkey as varchar)")} as double)
               / {TWO52!r} AS unif
      FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           {R8_SQL.format(c="ln(unif) / o_totalprice")} AS es_key
    FROM u
    ORDER BY ln(unif) / o_totalprice DESC, o_orderkey ASC
    LIMIT {WS_K}
    """,
    tags=("sampling", "weighted", "deterministic"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement:
    rank by key = u^(1/w), equivalently ln(u)/w (monotone for
    u ∈ (0,1)), keep the top {WS_K}. The uniform is the deterministic
    md5 52-bit fraction (domain-tagged 'ws-' so this sample is
    independent of q_priority_sample's), making the draw reproducible
    and append-stable — adding rows never changes surviving keys.
    Complements q_priority_sample: A-ES is the without-replacement
    reservoir scheme; priority sampling the subset-sum estimator.
    Plans as TakeOrderedAndProject (per-partition heap, driver k-merge
    — no global sort at any scale)."""
    o = read_table(spark, sf_dir, "orders")
    u = o.select(
        "o_orderkey",
        "o_totalprice",
        (
            h52(F.concat(F.lit("ws-"), F.col("o_orderkey").cast("string"))).cast("double")
            / F.lit(TWO52)
        ).alias("unif"),
    )
    es_key = F.log(F.col("unif")) / F.col("o_totalprice")
    return (
        u.orderBy(es_key.desc(), F.asc("o_orderkey"))
        .limit(WS_K)
        .select("o_orderkey", "o_totalprice", det_round(es_key, 8).alias("es_key"))
    )


# --- largest-remainder integer allocation ------------------------------------

ALLOC_BUDGET = 10000


@query(
    "q_allocation",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    ),
    sh AS (
      SELECT n_name, revenue,
             revenue / sum(revenue) OVER () * {ALLOC_BUDGET} AS share
      FROM rev
    ),
    fl AS (
      SELECT n_name, revenue, share,
             CAST(floor(share) AS BIGINT) AS base,
             row_number() OVER (ORDER BY share - floor(share) DESC, n_name ASC) AS frac_rank,
             {ALLOC_BUDGET} - sum(CAST(floor(share) AS BIGINT)) OVER () AS slots
      FROM sh
    )
    SELECT n_name, revenue,
           CAST(base + CASE WHEN frac_rank <= slots THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM fl
    """,
    tags=("aggregate", "window", "finance"),
)
def q_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) allocation: split an integer
    budget of {ALLOC_BUDGET} units across nations proportional to
    revenue so the allocations sum EXACTLY to the budget — floor every
    share, then hand the leftover units to the largest fractional
    parts (ties on name). Pro-rata financial distribution with naive
    rounding drifts off the total; this is the standard fix. The fact
    reduces to |nations| rows first; every window after that runs on
    the tiny frame. Shares divide exact-cent doubles by their exact
    sum, so fractional parts are bit-identical across engines."""
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
    )
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.allocation import largest_remainder

    return largest_remainder(rev, key_col="n_name", weight_col="revenue", budget=ALLOC_BUDGET).select(
        "n_name", "revenue", "alloc"
    )


# --- leave-one-out target encoding -------------------------------------------

TE_SMOOTH = 20  # prior pseudo-count for the smoothed variant


@query(
    "q_target_encoding",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS category,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (
      SELECT category, count(*) AS n, sum(y) AS n_pos FROM s GROUP BY 1
    ),
    prior AS (SELECT CAST(sum(n_pos) AS DOUBLE) / sum(n) AS p FROM g),
    loo AS (
      SELECT s.category, s.y,
             CAST(g.n_pos - s.y AS DOUBLE) / (g.n - 1) AS enc
      FROM s JOIN g ON s.category = g.category
      WHERE g.n > 1
    )
    SELECT l.category, CAST(g.n AS BIGINT) AS n, CAST(g.n_pos AS BIGINT) AS n_pos,
           {{r6mean}} AS mean_target,
           {{r6pos}} AS loo_mean_pos,
           {{r6neg}} AS loo_mean_neg,
           {{r6sm}} AS smoothed
    FROM loo l
    JOIN g ON l.category = g.category
    CROSS JOIN prior
    GROUP BY l.category, g.n, g.n_pos, prior.p
    """.format(
        r6mean=R6_SQL.format(c="CAST(g.n_pos AS DOUBLE) / g.n"),
        r6pos=R6_SQL.format(c="sum(CASE WHEN l.y = 1 THEN l.enc END) / nullif(count(CASE WHEN l.y = 1 THEN 1 END), 0)"),
        r6neg=R6_SQL.format(c="sum(CASE WHEN l.y = 0 THEN l.enc END) / nullif(count(CASE WHEN l.y = 0 THEN 1 END), 0)"),
        r6sm=R6_SQL.format(c=f"(g.n_pos + {TE_SMOOTH} * prior.p) / (g.n + {TE_SMOOTH})"),
    ),
    tags=("feature-prep", "encoding"),
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against the
    fulfilled label — the high-cardinality-categorical encoder that
    replaces one-hot at scale, with the leakage discipline that makes
    it safe: each row's encoding excludes ITS OWN label
    ((Σy − yᵢ)/(n − 1)), so the feature never memorizes the target.
    Row-level encodings are exercised for real (computed per row,
    then summarized as the per-class means, which take exactly two
    values per category — the formula's fingerprint); the smoothed
    variant shrinks toward the global prior with {TE_SMOOTH}
    pseudo-counts. One broadcast of the category stats back over the
    fact; every ratio divides exact integers."""
    o = read_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("category"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    prior = g.agg((F.sum("n_pos").cast("double") / F.sum("n")).alias("p"))
    loo = (
        s.join(F.broadcast(g), "category")
        .filter(F.col("n") > 1)
        .withColumn("enc", (F.col("n_pos") - F.col("y")).cast("double") / (F.col("n") - 1))
    )
    pos_enc = F.sum(F.when(F.col("y") == 1, F.col("enc")))
    neg_enc = F.sum(F.when(F.col("y") == 0, F.col("enc")))
    n_posr = F.count(F.when(F.col("y") == 1, True))
    n_negr = F.count(F.when(F.col("y") == 0, True))
    return (
        loo.crossJoin(F.broadcast(prior))
        .groupBy("category", "n", "n_pos", "p")
        .agg(
            det_round(F.col("n_pos").cast("double") / F.col("n"), 6).alias("mean_target"),
            det_round(pos_enc / F.nullif(n_posr, F.lit(0)), 6).alias("loo_mean_pos"),
            det_round(neg_enc / F.nullif(n_negr, F.lit(0)), 6).alias("loo_mean_neg"),
            det_round(
                (F.col("n_pos") + TE_SMOOTH * F.col("p")) / (F.col("n") + TE_SMOOTH), 6
            ).alias("smoothed"),
        )
        .select(
            "category",
            F.col("n").cast("long").alias("n"),
            F.col("n_pos").cast("long").alias("n_pos"),
            "mean_target",
            "loo_mean_pos",
            "loo_mean_neg",
            "smoothed",
        )
    )


# --- difference-in-differences ----------------------------------------------

DID_PRE, DID_POST = 1996, 1997


@query(
    "q_diff_in_diff",
    oracle=f"""
    WITH cells AS (
      SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS treated,
             CASE WHEN year(l.l_shipdate) = {DID_POST} THEN 1 ELSE 0 END AS post,
             count(*) AS n,
             CAST(sum(CAST({R4_SQL.format(c="l.l_extendedprice * (1 - l.l_discount)")}
                  AS DECIMAL(38,4))) AS DOUBLE) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE year(l.l_shipdate) IN ({DID_PRE}, {DID_POST})
      GROUP BY 1, 2
    ),
    m AS (
      SELECT
        max(CASE WHEN treated = 1 AND post = 0 THEN rev / n END) AS t_pre,
        max(CASE WHEN treated = 1 AND post = 1 THEN rev / n END) AS t_post,
        max(CASE WHEN treated = 0 AND post = 0 THEN rev / n END) AS c_pre,
        max(CASE WHEN treated = 0 AND post = 1 THEN rev / n END) AS c_post,
        CAST(sum(n) AS BIGINT) AS n_lines
      FROM cells
    )
    SELECT n_lines,
           {R6_SQL.format(c="t_pre")} AS treated_pre, {R6_SQL.format(c="t_post")} AS treated_post,
           {R6_SQL.format(c="c_pre")} AS control_pre, {R6_SQL.format(c="c_post")} AS control_post,
           {R6_SQL.format(c="(t_post - t_pre) - (c_post - c_pre)")} AS did
    FROM m
    """,
    tags=("stats", "causal", "aggregate"),
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the causal-inference workhorse for
    "did the promo line's revenue move MORE than the market between
    {DID_PRE} and {DID_POST}?" — treated (PROMO parts) vs control,
    pre vs post, DiD = (T₂−T₁) − (C₂−C₁) on per-line mean revenue,
    netting out both the group level and the market-wide trend that a
    naive before/after comparison confounds. One broadcast part join,
    one 4-cell aggregate; everything after is scalar arithmetic on
    exact decimal-folded cell sums. The year filter pushes to the
    lineitem scan."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(DID_PRE, DID_POST)
    )
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").cast("int").alias("treated")
    )
    rev = det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
        "decimal(38,4)"
    )
    cells = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "treated",
            (F.year("l_shipdate") == DID_POST).cast("int").alias("post"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(rev).cast("double").alias("rev"))
    )
    cell = lambda t, po: F.max(
        F.when((F.col("treated") == t) & (F.col("post") == po), F.col("rev") / F.col("n"))
    )
    m = cells.agg(
        cell(1, 0).alias("t_pre"),
        cell(1, 1).alias("t_post"),
        cell(0, 0).alias("c_pre"),
        cell(0, 1).alias("c_post"),
        F.sum("n").cast("long").alias("n_lines"),
    )
    return m.select(
        "n_lines",
        det_round(F.col("t_pre"), 6).alias("treated_pre"),
        det_round(F.col("t_post"), 6).alias("treated_post"),
        det_round(F.col("c_pre"), 6).alias("control_pre"),
        det_round(F.col("c_post"), 6).alias("control_post"),
        det_round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 6
        ).alias("did"),
    )


# --- percent-of-parent hierarchical rollup -----------------------------------


@query(
    "q_parent_share",
    oracle=f"""
    WITH base AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    nation_rows AS (
      SELECT 'nation' AS level, region, nation, revenue,
             {R6_SQL.format(c="revenue / sum(revenue) OVER (PARTITION BY region)")}
               AS share_of_parent
      FROM base
    ),
    region_rows AS (
      SELECT 'region' AS level, region, CAST(NULL AS VARCHAR) AS nation,
             CAST(sum(CAST(revenue AS DECIMAL(38,2))) AS DOUBLE) AS revenue,
             {R6_SQL.format(c=(
                 "CAST(sum(CAST(revenue AS DECIMAL(38,2))) AS DOUBLE)"
                 " / sum(CAST(sum(CAST(revenue AS DECIMAL(38,2))) AS DOUBLE)) OVER ()"
             ))} AS share_of_parent
      FROM base GROUP BY region
    )
    SELECT * FROM nation_rows UNION ALL SELECT * FROM region_rows
    """,
    tags=("aggregate", "window", "hierarchy"),
)
def q_parent_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-PARENT across a hierarchy: each nation's share of
    its region and each region's share of the grand total, in one
    long-form frame — the drill-down ratio OLAP tools label "% of
    parent row total" (q_window_share's flat percent-of-total can't
    express the middle level). The base rollup reduces the fact once;
    both levels then derive from the |nations|-sized frame (a window
    per region; a re-aggregate + whole-frame window for regions).
    Revenue sums are decimal-accumulated at every level, so shares
    divide exact-cent doubles."""
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
    )
    wr = Window.partitionBy("region")
    nation_rows = base.select(
        F.lit("nation").alias("level"),
        "region",
        "nation",
        "revenue",
        det_round(F.col("revenue") / F.sum("revenue").over(wr), 6).alias("share_of_parent"),
    )
    regions = base.groupBy("region").agg(
        F.sum(F.col("revenue").cast("decimal(38,2)")).cast("double").alias("revenue")
    )
    wall = Window.partitionBy()
    region_rows = regions.select(
        F.lit("region").alias("level"),
        "region",
        F.lit(None).cast("string").alias("nation"),
        "revenue",
        det_round(F.col("revenue") / F.sum("revenue").over(wall), 6).alias("share_of_parent"),
    )
    return nation_rows.unionByName(region_rows)


# --- price/volume revenue bridge ---------------------------------------------

BRIDGE_Y1, BRIDGE_Y2 = 1996, 1997


@query(
    "q_revenue_bridge",
    oracle=f"""
    WITH y AS (
      SELECT year(l_shipdate) AS yr,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS qty,
             CAST(sum(CAST({R4_SQL.format(c="l_extendedprice * (1 - l_discount)")}
                  AS DECIMAL(38,4))) AS DOUBLE) AS rev
      FROM lineitem
      WHERE year(l_shipdate) IN ({BRIDGE_Y1}, {BRIDGE_Y2})
      GROUP BY 1
    ),
    w AS (
      SELECT
        max(CASE WHEN yr = {BRIDGE_Y1} THEN qty END) AS q1,
        max(CASE WHEN yr = {BRIDGE_Y1} THEN rev END) AS r1,
        max(CASE WHEN yr = {BRIDGE_Y2} THEN qty END) AS q2,
        max(CASE WHEN yr = {BRIDGE_Y2} THEN rev END) AS r2
      FROM y
    ),
    p AS (SELECT q1, r1, q2, r2, r1 / q1 AS p1, r2 / q2 AS p2 FROM w)
    SELECT r1 AS rev_pre, r2 AS rev_post,
           {R4_SQL.format(c="r2 - r1")} AS delta_rev,
           {R4_SQL.format(c="p1 * (q2 - q1)")} AS volume_effect,
           {R4_SQL.format(c="q1 * (p2 - p1)")} AS price_effect,
           {R4_SQL.format(c="(p2 - p1) * (q2 - q1)")} AS cross_effect
    FROM p
    """,
    tags=("finance", "aggregate"),
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume revenue bridge between {BRIDGE_Y1} and
    {BRIDGE_Y2}: ΔRev decomposes EXACTLY into p₁·Δq (volume effect) +
    q₁·Δp (price effect) + Δp·Δq (cross/mix) — the finance
    "waterfall" that answers whether revenue moved because of volume
    or pricing (identity pinned by test). Two year-cells from one
    pruned scan; unit price divides exact decimal-folded sums, and
    the decomposition is scalar arithmetic on those exact inputs."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(BRIDGE_Y1, BRIDGE_Y2)
    )
    rev = det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(38,4)")
    y = li.groupBy(F.year("l_shipdate").alias("yr")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,3)")).cast("double").alias("qty"),
        F.sum(rev).cast("double").alias("rev"),
    )
    w = y.agg(
        F.max(F.when(F.col("yr") == BRIDGE_Y1, F.col("qty"))).alias("q1"),
        F.max(F.when(F.col("yr") == BRIDGE_Y1, F.col("rev"))).alias("r1"),
        F.max(F.when(F.col("yr") == BRIDGE_Y2, F.col("qty"))).alias("q2"),
        F.max(F.when(F.col("yr") == BRIDGE_Y2, F.col("rev"))).alias("r2"),
    )
    p1 = F.col("r1") / F.col("q1")
    p2 = F.col("r2") / F.col("q2")
    return w.select(
        F.col("r1").alias("rev_pre"),
        F.col("r2").alias("rev_post"),
        det_round(F.col("r2") - F.col("r1"), 4).alias("delta_rev"),
        det_round(p1 * (F.col("q2") - F.col("q1")), 4).alias("volume_effect"),
        det_round(F.col("q1") * (p2 - p1), 4).alias("price_effect"),
        det_round((p2 - p1) * (F.col("q2") - F.col("q1")), 4).alias("cross_effect"),
    )


# --- golden-record survivorship ----------------------------------------------


@query(
    "q_golden_record",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_totalprice, o_orderpriority,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_latest
      FROM orders
    ),
    modes AS (
      SELECT o_custkey, o_orderpriority AS mode_priority FROM (
        SELECT o_custkey, o_orderpriority, count(*) AS c,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY count(*) DESC, o_orderpriority ASC) AS rm
        FROM orders GROUP BY 1, 2
      ) WHERE rm = 1
    ),
    base AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             min(CAST(o_orderdate AS DATE)) AS first_seen,
             max(o_totalprice) AS max_order_value
      FROM orders GROUP BY 1
    )
    SELECT b.o_custkey AS customer, b.n_orders, b.first_seen, b.max_order_value,
           r.o_orderstatus AS latest_status, m.mode_priority
    FROM base b
    JOIN (SELECT o_custkey, o_orderstatus FROM ranked WHERE rn_latest = 1) r
      ON b.o_custkey = r.o_custkey
    JOIN modes m ON b.o_custkey = m.o_custkey
    """,
    tags=("mdm", "window", "survivorship"),
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: one consolidated row per customer
    with per-FIELD merge rules — most-recent wins (latest status, by
    order date with the unique key as tiebreak), first wins
    (first-seen date), greatest wins (max order value), and most-
    frequent wins (mode priority, ties → lexicographic) — the MDM
    merge step after entity resolution (fuzzy_match/dedup find the
    duplicates; this decides which field values survive). One shuffle
    on the entity key serves the ranking window, the mode count, and
    the plain aggregates; every rule is deterministic, so the golden
    record itself hash-gates."""
    o = read_table(spark, sf_dir, "orders")
    w_latest = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = (
        o.withColumn("rn", F.row_number().over(w_latest))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderstatus").alias("latest_status"))
    )
    w_mode = Window.partitionBy("o_custkey").orderBy(
        F.desc("c"), F.asc("o_orderpriority")
    )
    modes = (
        o.groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rm", F.row_number().over(w_mode))
        .filter(F.col("rm") == 1)
        .select("o_custkey", F.col("o_orderpriority").alias("mode_priority"))
    )
    base = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min(F.to_date("o_orderdate")).alias("first_seen"),
        F.max("o_totalprice").alias("max_order_value"),
    )
    return (
        base.join(latest, "o_custkey")
        .join(modes, "o_custkey")
        .select(
            F.col("o_custkey").alias("customer"),
            F.col("n_orders").cast("long").alias("n_orders"),
            "first_seen",
            "max_order_value",
            "latest_status",
            "mode_priority",
        )
    )


# --- revenue concentration: Gini + Pareto share ------------------------------


@query(
    "q_gini",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT o_custkey, rev,
             row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS i,
             row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS top_rank,
             count(*) OVER () AS n
      FROM cust
    ),
    s AS (
      SELECT max(n) AS n,
             CAST(sum(CAST(rev AS DECIMAL(38,2))) AS DOUBLE) AS tot,
             CAST(sum(CAST({R4_SQL.format(c="i * rev")} AS DECIMAL(38,4))) AS DOUBLE) AS iw,
             CAST(sum(CAST(CASE WHEN top_rank <= n // 5 THEN rev ELSE 0 END
                  AS DECIMAL(38,2))) AS DOUBLE) AS top20
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers, tot AS total_rev,
           {R6_SQL.format(c="2.0 * iw / (n * tot) - (n + 1.0) / n")} AS gini,
           {R6_SQL.format(c="top20 / tot")} AS top20_share
    FROM s
    """,
    tags=("stats", "concentration", "window"),
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the Gini coefficient over per-customer
    revenue (rank formula G = 2Σi·xᵢ/(nΣx) − (n+1)/n on the ascending
    sort — exact, no binning) plus the literal Pareto check (share of
    revenue held by the top 20% of customers) — the whale-dependence
    metrics behind credit/churn risk assessments. The fact reduces to
    |customers| rows first; the two ranking windows run on that agg
    output. At extreme customer cardinality
    `spark.rtfril.rank.distributed=true` swaps both ranks for
    `distributed_row_number` (operators/ranking.py) — no output
    change (equality run under both settings in
    tests/test_round11_queries.py); at this tier the measured cost
    favors the one-partition sort (the agg frame is ≪ the fact).
    Ties on revenue are rank-order independent for
    the Gini sum (equal xᵢ commute), and the explicit key tiebreak
    pins the top-20% cut. Rank·revenue products det-round into
    decimal(38,4) — layout-free."""
    o = read_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev")
    )
    if rank_distributed(spark):
        ranked = distributed_row_number(
            cust.localCheckpoint(), "rev", [F.asc("o_custkey")],
            descending=False, rn_col="i", total_col="n",
        )
        ranked = distributed_row_number(
            ranked, "rev", [F.asc("o_custkey")], descending=True, rn_col="top_rank"
        )
    else:
        ranked = cust.select(
            "o_custkey",
            "rev",
            F.row_number().over(Window.orderBy(F.asc("rev"), F.asc("o_custkey"))).alias("i"),
            F.row_number().over(Window.orderBy(F.desc("rev"), F.asc("o_custkey"))).alias("top_rank"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
    s = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.col("rev").cast("decimal(38,2)")).cast("double").alias("tot"),
        F.sum(det_round(F.col("i") * F.col("rev"), 4).cast("decimal(38,4)")).cast("double").alias("iw"),
        F.sum(
            F.when(F.col("top_rank") <= F.floor(F.col("n") / 5), F.col("rev")).otherwise(0.0).cast("decimal(38,2)")
        ).cast("double").alias("top20"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("tot").alias("total_rev"),
        det_round(
            2.0 * F.col("iw") / (F.col("n") * F.col("tot")) - (F.col("n") + 1.0) / F.col("n"), 6
        ).alias("gini"),
        det_round(F.col("top20") / F.col("tot"), 6).alias("top20_share"),
    )


# --- ship-latency SLA --------------------------------------------------------

SLA_DAYS = 60


@query(
    "q_latency_sla",
    oracle=f"""
    WITH lat AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
               AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           {{r4p50}} AS p50_days,
           {{r4p95}} AS p95_days,
           CAST(sum(CASE WHEN days > {SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_breach,
           {{r4br}} AS breach_rate
    FROM lat GROUP BY 1
    """.format(
        r4p50=R4_SQL.format(c="quantile_cont(days, 0.50)"),
        r4p95=R4_SQL.format(c="quantile_cont(days, 0.95)"),
        r4br=R4_SQL.format(c=f"CAST(sum(CASE WHEN days > {SLA_DAYS} THEN 1 ELSE 0 END) AS DOUBLE) / count(*)"),
    ),
    tags=("operations", "aggregate", "percentile"),
)
def q_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA per priority: exact interpolated
    p50/p95 of the ship delay plus the share of lines breaching the
    {SLA_DAYS}-day promise — the fulfillment-operations readout
    (and the operational twin of the fraud-side velocity windows).
    Latencies are small exact integers, so the interpolated quantile
    is a deterministic arithmetic blend on both engines (Spark
    `percentile` ≡ DuckDB `quantile_cont`); negative-latency rows
    (data errors) are excluded symmetrically. One join + one
    5-group aggregate."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days"),
        )
    )
    pct = F.percentile(F.col("days"), F.array(F.lit(0.50), F.lit(0.95)))
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            pct.alias("_p"),
            F.sum(F.when(F.col("days") > SLA_DAYS, 1).otherwise(0)).alias("n_breach"),
        )
        .select(
            "o_orderpriority",
            F.col("n_lines").cast("long").alias("n_lines"),
            det_round(F.col("_p")[0], 4).alias("p50_days"),
            det_round(F.col("_p")[1], 4).alias("p95_days"),
            F.col("n_breach").cast("long").alias("n_breach"),
            det_round(F.col("n_breach").cast("double") / F.col("n_lines"), 4).alias("breach_rate"),
        )
    )


# --- deterministic bootstrap confidence interval ---------------------------

BOOT_B = 48  # replicates (one bit of the 60-bit order hash each)


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH h AS (
      SELECT o_totalprice,
             {H60_SQL.format(x="'bs-' || CAST(o_orderkey AS VARCHAR)")} AS h1
      FROM orders
    ),
    reps AS (SELECT unnest(range({BOOT_B})) AS b),
    mem AS (
      SELECT r.b, h.o_totalprice
      FROM h, reps r
      WHERE ((h.h1 >> r.b) & 1) = 0
    ),
    m AS (
      SELECT b,
             {SUM_SQL.format(c="o_totalprice")} / count(*) AS rep_mean
      FROM mem GROUP BY 1
    ),
    g AS (SELECT {R6_SQL.format(c=f'sum(rep_mean) / {BOOT_B}.0')} AS grand FROM m),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_reps,
             {R4_SQL.format(c='quantile_cont(rep_mean, 0.025)')} AS ci_lo,
             {R4_SQL.format(c='quantile_cont(rep_mean, 0.975)')} AS ci_hi,
             {R4_SQL.format(c=f'sqrt(sum((rep_mean - grand) * (rep_mean - grand)) / ({BOOT_B} - 1))')} AS se_boot
      FROM m, g GROUP BY grand
    ),
    full_m AS (
      SELECT {R4_SQL.format(c='cast(sum(cast(o_totalprice as decimal(18,2))) as double) / count(*)')} AS mean_full
      FROM orders
    )
    SELECT n_reps, mean_full, ci_lo, ci_hi, se_boot FROM stats, full_m
    """,
    tags=("statistics", "sampling", "deterministic"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value, RNG-free:
    {BOOT_B} half-sample replicates (subagging) where replicate b
    contains an order iff BIT b of the order's domain-tagged md5
    60-bit hash is 0 — ONE hash per row serves every replicate
    (md5 bits are pairwise-independent coin flips; hashing per
    (row, replicate) measured ~7x slower for no statistical gain).
    Reproducible across engines, layouts, and reruns, so the CI
    itself hash-gates. Replicate means use exact decimal sums
    (identical doubles both engines); the bootstrap SE centers
    against a det-rounded grand mean (the two-pass centered-variance
    convention from q_cusum/q_ols_trend); the CI is the exact
    interpolated 2.5/97.5 percentile of the replicate means. Plan:
    one row-local hash projection, a map-side {BOOT_B}-way bit-test
    expansion, one {BOOT_B}-group decimal agg — at 100 TB the only
    shuffle is {BOOT_B} rows of partial sums."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    h = o.select(
        "o_totalprice",
        hash60(F.concat(F.lit("bs-"), F.col("o_orderkey").cast("string"))).alias("h1"),
    )
    # r16 (guide §2.3 "aggregate before you shuffle"): the old plan
    # expanded every order {BOOT_B}-ways (crossJoin + bit filter ≈
    # B/2 · |orders| rows into the hash aggregate); membership is a
    # pure bit test, so one scan with {BOOT_B} conditional (sum,
    # count) accumulator pairs computes every replicate's moments
    # map-side — the shuffle is ONE row of 2·{BOOT_B} cells, and the
    # replicate means unstack from it. The per-replicate sums
    # accumulate as LONG CENTS (decimal(18,2)·100 is exactly integral;
    # 96 long buffers codegen, 96 Decimal buffers measured ~3x slower)
    # and re-scale through an exact decimal division, so rep_mean sees
    # the identical rational → the identical double as the old
    # decimal-sum path (equality checked in-engine: exp log r16).
    # Empty replicates — impossible at |orders| ≫ B — would drop from
    # the old groupBy, mirrored by the c > 0 filter.
    hc = h.select((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"), "h1")
    cond = lambda b: F.expr(f"(shiftright(h1, {b}) & 1) = 0")
    one = hc.agg(
        *[
            a
            for b in range(BOOT_B)
            for a in (
                F.sum(F.when(cond(b), F.col("cents"))).alias(f"s{b}"),
                F.count(F.when(cond(b), F.lit(1))).alias(f"c{b}"),
            )
        ]
    )
    stacked = ", ".join(f"{b}, s{b}, c{b}" for b in range(BOOT_B))
    m = (
        one.selectExpr(f"stack({BOOT_B}, {stacked}) AS (b, s, c)")
        .filter(F.col("c") > 0)
        .select(
            (
                (F.col("s").cast("decimal(38,2)") / 100).cast("double") / F.col("c")
            ).alias("rep_mean")
        )
    )
    g = m.agg(det_round(F.sum("rep_mean") / F.lit(float(BOOT_B)), 6).alias("grand"))
    dev2 = (F.col("rep_mean") - F.col("grand")) * (F.col("rep_mean") - F.col("grand"))
    stats = (
        m.crossJoin(F.broadcast(g))
        .groupBy("grand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reps"),
            det_round(F.percentile(F.col("rep_mean"), F.lit(0.025)), 4).alias("ci_lo"),
            det_round(F.percentile(F.col("rep_mean"), F.lit(0.975)), 4).alias("ci_hi"),
            det_round(F.sqrt(F.sum(dev2) / F.lit(float(BOOT_B - 1))), 4).alias("se_boot"),
        )
        .drop("grand")
    )
    full_m = o.agg(
        det_round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_full")
    )
    return stats.crossJoin(F.broadcast(full_m)).select(
        "n_reps", "mean_full", "ci_lo", "ci_hi", "se_boot"
    )


# --- exact weighted median -------------------------------------------------


@query(
    "q_weighted_median",
    oracle=f"""
    WITH v AS (
      SELECT l_returnflag AS flag,
             {R2_SQL.format(c='l_extendedprice / l_quantity')} AS price,
             {SUM_SQL.format(c="l_quantity")} AS w
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT flag, price, w,
             sum(w) OVER (PARTITION BY flag ORDER BY price
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY flag) AS tw
      FROM v
    )
    SELECT flag, price AS wmedian,
           {R2_SQL.format(c='tw')} AS total_weight
    FROM (
      SELECT flag, price, tw,
             row_number() OVER (PARTITION BY flag ORDER BY price) AS rk
      FROM c WHERE 2.0 * cw >= tw
    ) WHERE rk = 1
    """,
    tags=("aggregate", "order-statistics", "weighted"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted (lower) median unit price per return
    flag — the order statistic SQL's percentile/median can't weight:
    the smallest price whose cumulative quantity reaches half the
    group's total. Prices det-round to cents and pre-aggregate per
    (flag, price) — the cumulative window then runs over the DISTINCT
    price ladder (bounded domain), not the raw fact, so the one sort
    per group is tiny at any scale; weights sum as exact decimals so
    the 2·cum ≥ total threshold sees identical doubles in both
    engines. Lower-median semantics (no interpolation) keep the
    answer an actual traded price."""
    li = read_table(spark, sf_dir, "lineitem")
    v = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            det_round(F.col("l_extendedprice") / F.col("l_quantity"), 2).alias("price"),
        )
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("w"))
    )
    wc = Window.partitionBy("flag").orderBy("price").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("flag")
    c = v.select(
        "flag",
        "price",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    ).filter(2.0 * F.col("cw") >= F.col("tw"))
    rk = Window.partitionBy("flag").orderBy("price")
    return (
        c.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "flag",
            F.col("price").alias("wmedian"),
            det_round(F.col("tw"), 2).alias("total_weight"),
        )
    )
