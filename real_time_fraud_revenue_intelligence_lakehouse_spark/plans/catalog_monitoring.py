"""Model-monitoring metrics — the drift/discrimination statistics a
production fraud-scoring pipeline runs next to its marts (the
reference trains and scores a fraud model, `ml/train.py` +
`ml/models/fraud_detector.py`; these queries are the monitoring
surface such a deployment needs: is the input distribution drifting,
and does the score still separate classes?).

- q_psi: Population Stability Index between two periods over the
  amount-tier ladder — THE industry drift gate (PSI > 0.2 = retrain).
- q_ks_test: exact two-sample Kolmogorov-Smirnov statistic — the
  distribution-free drift test on the raw value, computed by cumsum
  over DISTINCT values (ties resolved exactly, not by sort order).
- q_auc: ROC AUC via the Mann-Whitney rank-sum identity with exact
  average-rank tie handling — rank statistics are pure integer
  arithmetic, so an evaluation metric usually quoted ±1e-3 here
  hash-gates bit-exactly.

All three reduce big scans to small aggregates before any window
runs; every probability/logarithm term folds through det-rounded
decimals (the entropy/unigram trick) so sums are layout-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import model_metrics, model_metrics_ctes
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R4_SQL, R6_SQL, R8_SQL, det_round
from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.ranking import distributed_cumsum, distributed_row_number
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# The 5-way amount-tier ladder (same cuts as the cleanse tier).
TIER = (
    "CASE WHEN {c} < 50 THEN 'micro' WHEN {c} < 200 THEN 'low' "
    "WHEN {c} < 1000 THEN 'medium' WHEN {c} < 5000 THEN 'high' "
    "ELSE 'premium' END"
)

PSI_YEAR_A, PSI_YEAR_B = 1995, 1996


@query(
    "q_psi",
    oracle=f"""
    WITH b AS (
      SELECT {TIER.format(c='o_totalprice')} AS tier,
             year(cast(o_orderdate as date)) AS y
      FROM orders
      WHERE year(cast(o_orderdate as date)) IN ({PSI_YEAR_A}, {PSI_YEAR_B})
    ),
    c AS (
      SELECT tier,
             sum(CASE WHEN y = {PSI_YEAR_A} THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN y = {PSI_YEAR_B} THEN 1 ELSE 0 END) AS n_b
      FROM b GROUP BY 1
    ),
    t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c)
    SELECT tier, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           {R6_SQL.format(c="cast(n_a as double) / ta")} AS p_a,
           {R6_SQL.format(c="cast(n_b as double) / tb")} AS p_b,
           {R8_SQL.format(c=(
               "(cast(n_a as double) / ta - cast(n_b as double) / tb)"
               " * ln((cast(n_a as double) / ta) / (cast(n_b as double) / tb))"
           ))} AS psi_term
    FROM c, t
    """,
    tags=("monitoring", "drift", "statistics"),
)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between {PSI_YEAR_A} and
    {PSI_YEAR_B} order-amount tiers: per tier,
    (p_a − p_b)·ln(p_a/p_b); the PSI is the sum of the returned
    psi_terms (kept per-tier so the drilldown shows WHICH bucket
    moved). One conditional-sum agg over the year-pruned scan + a
    1-row totals broadcast; the ln runs on identical divisions both
    engines. Empty tiers would yield ±inf terms — the ladder is
    total, and both engines would agree on the inf, but a production
    gate adds the standard +ε floor."""
    o = read_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    b = o.filter(y.isin(PSI_YEAR_A, PSI_YEAR_B)).select(
        F.when(F.col("o_totalprice") < 50, "micro")
        .when(F.col("o_totalprice") < 200, "low")
        .when(F.col("o_totalprice") < 1000, "medium")
        .when(F.col("o_totalprice") < 5000, "high")
        .otherwise("premium")
        .alias("tier"),
        y.alias("y"),
    )
    c = b.groupBy("tier").agg(
        F.sum(F.when(F.col("y") == PSI_YEAR_A, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("y") == PSI_YEAR_B, 1).otherwise(0)).alias("n_b"),
    )
    t = c.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    pa = F.col("n_a").cast("double") / F.col("ta")
    pb = F.col("n_b").cast("double") / F.col("tb")
    return c.crossJoin(F.broadcast(t)).select(
        "tier",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        det_round(pa, 6).alias("p_a"),
        det_round(pb, 6).alias("p_b"),
        det_round((pa - pb) * F.log(pa / pb), 8).alias("psi_term"),
    )


@query(
    "q_ks_test",
    oracle=f"""
    WITH b AS (
      SELECT o_totalprice AS v, year(cast(o_orderdate as date)) AS y
      FROM orders
      WHERE year(cast(o_orderdate as date)) IN ({PSI_YEAR_A}, {PSI_YEAR_B})
    ),
    c AS (
      SELECT v,
             sum(CASE WHEN y = {PSI_YEAR_A} THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN y = {PSI_YEAR_B} THEN 1 ELSE 0 END) AS bb
      FROM b GROUP BY 1
    ),
    t AS (SELECT sum(a) AS na, sum(bb) AS nb FROM c),
    cum AS (
      SELECT sum(a) OVER (ORDER BY v) AS ca,
             sum(bb) OVER (ORDER BY v) AS cb
      FROM c
    )
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           {R6_SQL.format(c=(
               "max(abs(cast(ca as double) / na - cast(cb as double) / nb))"
           ))} AS ks_stat
    FROM cum, t
    GROUP BY t.na, t.nb
    """,
    tags=("monitoring", "drift", "statistics"),
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the two
    periods' amount distributions: D = max |F̂_a(v) − F̂_b(v)|. Exact
    tie handling by construction — counts aggregate per DISTINCT
    value first, then a cumulative sum over the distinct-value table
    (|values| ≪ |rows|), so the CDF step lands after all equal
    values regardless of sort stability. The running sums come from
    `distributed_cumsum` (operators/ranking.py — sketch-banded,
    bands-way parallel), so even at extreme value-cardinality (a
    continuous score makes |values| ≈ |rows|) NO single-partition
    window runs — the quantile-binning fallback this docstring used
    to defer is superseded by an exact distributed CDF. The final
    max folds |diff| doubles computed from identical integer
    divisions."""
    o = read_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    b = o.filter(y.isin(PSI_YEAR_A, PSI_YEAR_B)).select(
        F.col("o_totalprice").alias("v"), y.alias("y")
    )
    c = b.groupBy("v").agg(
        F.sum(F.when(F.col("y") == PSI_YEAR_A, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("y") == PSI_YEAR_B, 1).otherwise(0)).alias("bb"),
    ).localCheckpoint()
    # r16 (guide §1.2): the per-class totals ride distributed_cumsum's
    # already-eager boundary job as exact integer sums and fold back
    # in as literals (model_metrics' treatment) — drops the totals subtree
    # and its broadcast crossJoin; the CDF divisions see the identical
    # exact-int-derived doubles.
    cum, tot = distributed_cumsum(c, "v", ["a", "bb"], total_sums=["a", "bb"])
    cum = cum.select(F.col("cum_a").alias("ca"), F.col("cum_bb").alias("cb"))
    na, nb = int(tot["a"] or 0), int(tot["bb"] or 0)
    diff = F.abs(
        F.col("ca").cast("double") / F.lit(na)
        - F.col("cb").cast("double") / F.lit(nb)
    )
    return (
        cum.agg(det_round(F.max(diff), 6).alias("ks_stat"))
        .select(
            F.lit(na).cast("long").alias("n_a"),
            F.lit(nb).cast("long").alias("n_b"),
            "ks_stat",
        )
        # empty-input parity with the old groupBy form: zero rows, not
        # one null row, when there is no data at all
        .where(F.lit(na + nb) > 0)
    )


# AUC label/score: does a high order amount predict 'F' (fulfilled)
# status? Arbitrary but fully deterministic — the point is the exact
# rank-sum machinery, which transfers to any (score, label) pair.
AUC_POS = "F"


def _auc_oracle() -> str:
    ctes, card = model_metrics_ctes()
    return f"""WITH scored AS (
      SELECT CASE WHEN o_orderstatus = '{AUC_POS}' THEN 1 ELSE 0 END AS label,
             o_totalprice AS s
      FROM orders
    ),
    {ctes}
    SELECT n_pos, n - n_pos AS n_neg, roc_auc AS auc FROM {card}"""


@query(
    "q_auc",
    oracle=_auc_oracle(),
    tags=("monitoring", "evaluation", "statistics"),
)
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney rank-sum identity:
    AUC = (Σ ranks(positives) − n₊(n₊+1)/2) / (n₊·n₋), with
    average-rank tie handling (each distinct score's rows take rank
    cum_before + (n+1)/2). AUC is invariant to monotone transforms,
    so the raw amount IS the score — no model inference needed to
    exercise the metric. It is the model card's AUC
    (ext/training.model_metrics on label = 'F' status, s = amount),
    so the continuous-score case — |distinct scores| ≈ |rows| — runs
    the same reduction every card does: distributed_cumsum offsets
    (no single-partition window) and class totals folded in as
    literals. The oracle is model_metrics_ctes under the same final
    select. Degenerate inputs follow model_metrics on both engines: an
    empty orders table gives no row, and one class gives auc 0.0."""
    o = read_table(spark, sf_dir, "orders")
    scored = o.select(
        F.when(F.col("o_orderstatus") == AUC_POS, 1).otherwise(0).alias("label"),
        F.col("o_totalprice").alias("s"),
    )
    return model_metrics(scored).select(
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.col("roc_auc").alias("auc"),
    )


# --- decile lift / gains table ----------------------------------------------


@query(
    "q_decile_lift",
    oracle=f"""
    WITH s AS (
      SELECT o_orderkey, o_totalprice AS score,
             CASE WHEN o_orderstatus = '{AUC_POS}' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    r AS (
      SELECT pos,
             row_number() OVER (ORDER BY score DESC, o_orderkey ASC) AS rn,
             count(*) OVER () AS n
      FROM s
    ),
    g AS (
      SELECT CAST(floor((rn - 1) * 10.0 / n) + 1 AS BIGINT) AS decile,
             count(*) AS n_rows, sum(pos) AS n_pos
      FROM r GROUP BY 1
    ),
    t AS (SELECT sum(n_rows) AS nt, sum(n_pos) AS pt FROM g)
    SELECT decile, CAST(n_rows AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           {R6_SQL.format(c="CAST(n_pos AS DOUBLE) / n_rows")} AS event_rate,
           {R6_SQL.format(c="(CAST(n_pos AS DOUBLE) / n_rows) / (CAST(pt AS DOUBLE) / nt)")} AS lift,
           {R6_SQL.format(c="CAST(sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / pt")} AS cum_capture
    FROM g, t
    """,
    tags=("monitoring", "evaluation"),
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table: rows ranked by score (highest first, unique
    key tiebreak) into 10 equal-count bands via the explicit
    floor((rn-1)·10/n) rule — NOT ntile(), whose remainder placement
    is engine-specific — then per-decile event rate, lift over the
    global rate, and cumulative capture share. This is THE campaign/
    fraud-triage evaluation artifact ("the top decile catches 34% of
    fraud at 3.1x lift").

    The ranking stage is `distributed_row_number` (operators/
    ranking.py): quantile-sketch band boundaries broadcast back as
    literal expressions, band-partitioned row_number, and a
    ≤bands+1-row prefix-sum offset join — exactly rank-faithful
    (hash-matches the oracle's single-stream row_number; sketch error
    moves band sizes, never band order) with NO
    Exchange-SinglePartition WindowExec over base rows, so the plan
    survives a 100 TB fact table. tests/test_operators.py pins its
    bit-equality to the single-partition window form under heavy
    ties. Everything after the rank runs on 10 rows. All ratios
    divide exact integers."""
    o = read_table(spark, sf_dir, "orders")
    s = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderstatus") == AUC_POS, 1).otherwise(0).alias("pos"),
    )
    r = distributed_row_number(
        s, "score", [F.asc("o_orderkey")], descending=True, rn_col="rn", total_col="n"
    ).select("pos", "rn", "n")
    g = (
        r.groupBy(
            (F.floor((F.col("rn") - 1) * 10.0 / F.col("n")) + 1)
            .cast("long")
            .alias("decile")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("pos").alias("n_pos"))
    )
    t = g.agg(F.sum("n_rows").alias("nt"), F.sum("n_pos").alias("pt"))
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rate = F.col("n_pos").cast("double") / F.col("n_rows")
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "decile",
            F.col("n_rows").cast("long").alias("n"),
            F.col("n_pos").cast("long").alias("n_pos"),
            det_round(rate, 6).alias("event_rate"),
            det_round(rate / (F.col("pt").cast("double") / F.col("nt")), 6).alias("lift"),
            det_round(
                F.sum("n_pos").over(wcum).cast("double") / F.col("pt"), 6
            ).alias("cum_capture"),
        )
    )


# --- CUSUM change-point detection -------------------------------------------

CUSUM_K = 0.5  # slack, in std units
CUSUM_H = 5.0  # alarm threshold, in std units


@query(
    "q_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(rev AS DECIMAL(38,2))) AS DOUBLE) / count(*) AS mean
      FROM daily
    ),
    st AS (
      -- two-pass centered variance: deviations are ~1e6 where raw
      -- squares are ~1e12 — the det-rounded long stays far from 2^63
      -- (floor(rev^2 * 1e6) overflowed Spark's long-typed floor)
      SELECT n, mean,
             sqrt(CAST(sum(CAST({R4_SQL.format(c="(rev - mean) * (rev - mean)")}
                  AS DECIMAL(38,4))) AS DOUBLE) / (n - 1)) AS sd
      FROM daily, m GROUP BY n, mean
    ),
    d AS (
      SELECT day, rev,
             CAST({R6_SQL.format(c="(rev - mean) / sd - " + repr(CUSUM_K))} AS DECIMAL(38,6)) AS dev
      FROM daily, st
    ),
    c AS (
      SELECT day, rev, dev,
             sum(dev) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu
      FROM d
    ),
    s AS (
      SELECT day, rev, dev, cu,
             CAST(cu AS DOUBLE) - least(CAST(min(cu) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 0.0)
               AS cusum
      FROM c
    )
    SELECT day, rev AS revenue,
           {R6_SQL.format(c="CAST(dev AS DOUBLE)")} AS zdev,
           {R6_SQL.format(c="cusum")} AS cusum,
           CAST(CASE WHEN cusum > {CUSUM_H!r} THEN 1 ELSE 0 END AS BIGINT) AS alarm
    FROM s
    """,
    tags=("monitoring", "changepoint", "timeseries"),
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detector over daily revenue: the
    sequential statistic s_t = max(0, s_{{t-1}} + (z_t − k)) flags a
    sustained upward mean shift when it crosses h — the classic SPC
    drift alarm (k=0.5σ slack, h=5σ), complementing the distribution
    gates (PSI/KS) with a TIME-ORDERED one. The recursion is not a
    window aggregate, but it has the closed reflection form
    s_t = cum_t − min(0, min_{{j≤t}} cum_j), so two cumulative windows
    over the |days|-sized frame compute it exactly. Deviations are
    det-rounded into decimal(38,6) before the cumulative sums —
    associative, layout-free; day-level revenue reduces the fact
    first, so nothing past the first agg scales with the table."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev")
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("rev").cast("decimal(38,2)")).cast("double") / F.count(F.lit(1))).alias("mean"),
    )
    dev2 = det_round((F.col("rev") - F.col("mean")) * (F.col("rev") - F.col("mean")), 4)
    st = (
        daily.crossJoin(F.broadcast(m))
        .groupBy("n", "mean")
        .agg(
            F.sqrt(
                F.sum(dev2.cast("decimal(38,4)")).cast("double") / (F.col("n") - 1)
            ).alias("sd")
        )
    )
    d = daily.crossJoin(F.broadcast(st)).select(
        "day",
        "rev",
        det_round((F.col("rev") - F.col("mean")) / F.col("sd") - CUSUM_K, 6)
        .cast("decimal(38,6)")
        .alias("dev"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = d.withColumn("cu", F.sum("dev").over(wcum))
    s = c.withColumn(
        "cusum",
        F.col("cu").cast("double")
        - F.least(F.min("cu").over(wcum).cast("double"), F.lit(0.0)),
    )
    return s.select(
        "day",
        F.col("rev").alias("revenue"),
        det_round(F.col("dev").cast("double"), 6).alias("zdev"),
        det_round(F.col("cusum"), 6).alias("cusum"),
        F.when(F.col("cusum") > CUSUM_H, 1).otherwise(0).cast("long").alias("alarm"),
    )


# --- OLS trend + forecast ---------------------------------------------------

OLS_HORIZON = 7  # days ahead to project


@query(
    "q_ols_trend",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    tx AS (
      SELECT date_diff('day', (SELECT min(day) FROM daily), day) AS t, rev
      FROM daily
    ),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(t) AS DOUBLE) / count(*) AS tbar,
             CAST(sum(CAST(rev AS DECIMAL(38,2))) AS DOUBLE) / count(*) AS ybar,
             max(t) AS tmax
      FROM tx
    ),
    c AS (
      SELECT n, tbar, ybar, tmax,
             CAST(sum(CAST({R4_SQL.format(c="(t - tbar) * (rev - ybar)")} AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
             CAST(sum(CAST({R4_SQL.format(c="(t - tbar) * (t - tbar)")} AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
             CAST(sum(CAST({R4_SQL.format(c="(rev - ybar) * (rev - ybar)")} AS DECIMAL(38,4))) AS DOUBLE) AS syy
      FROM tx, m GROUP BY n, tbar, ybar, tmax
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           {R6_SQL.format(c="sxy / sxx")} AS slope,
           {R6_SQL.format(c="ybar - (sxy / sxx) * tbar")} AS intercept,
           {R6_SQL.format(c="(sxy * sxy) / (sxx * syy)")} AS r2,
           {R6_SQL.format(c=f"(ybar - (sxy / sxx) * tbar) + (sxy / sxx) * (tmax + {OLS_HORIZON})")} AS forecast
    FROM c
    """,
    tags=("monitoring", "regression", "timeseries"),
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend over daily revenue: slope,
    intercept, R², and the {OLS_HORIZON}-day-ahead projection — the
    "is revenue structurally growing and by how much" question the
    reference's dashboards answer by eye, as a hash-gated statistic.
    Two-pass centered sums (means first, then det-rounded centered
    products folded through decimal(38,4)) keep every sum layout-free
    and far from the long-floor overflow the raw-moment form hits
    (the q_cusum lesson); the day-level reduce bounds everything
    downstream at |days| rows. Closed-form OLS needs no iteration —
    the right tool before reaching for gradient descent."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev")
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    tx = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").alias("t"), "rev"
    )
    m = tx.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("tbar"),
        (F.sum(F.col("rev").cast("decimal(38,2)")).cast("double") / F.count(F.lit(1))).alias("ybar"),
        F.max("t").alias("tmax"),
    )
    ct = F.col("t") - F.col("tbar")
    cy = F.col("rev") - F.col("ybar")
    c = (
        tx.crossJoin(F.broadcast(m))
        .groupBy("n", "tbar", "ybar", "tmax")
        .agg(
            F.sum(det_round(ct * cy, 4).cast("decimal(38,4)")).cast("double").alias("sxy"),
            F.sum(det_round(ct * ct, 4).cast("decimal(38,4)")).cast("double").alias("sxx"),
            F.sum(det_round(cy * cy, 4).cast("decimal(38,4)")).cast("double").alias("syy"),
        )
    )
    slope = F.col("sxy") / F.col("sxx")
    intercept = F.col("ybar") - slope * F.col("tbar")
    return c.select(
        F.col("n").cast("long").alias("n_days"),
        det_round(slope, 6).alias("slope"),
        det_round(intercept, 6).alias("intercept"),
        det_round((F.col("sxy") * F.col("sxy")) / (F.col("sxx") * F.col("syy")), 6).alias("r2"),
        det_round(intercept + slope * (F.col("tmax") + OLS_HORIZON), 6).alias("forecast"),
    )


# --- day-of-week seasonal anomaly -------------------------------------------

SEAS_Z = 3.0  # flag threshold in per-weekday std units


@query(
    "q_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             -- DuckDB dayofweek is 0-based (Sun=0); Spark's is 1-based
             dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT dow, count(*) AS n,
             CAST(sum(CAST(rev AS DECIMAL(38,2))) AS DOUBLE) / count(*) AS mu
      FROM daily GROUP BY 1
    ),
    sd AS (
      SELECT d.dow, m.n, m.mu,
             sqrt(CAST(sum(CAST({R4_SQL.format(c="(d.rev - m.mu) * (d.rev - m.mu)")}
                  AS DECIMAL(38,4))) AS DOUBLE) / (m.n - 1)) AS sigma
      FROM daily d JOIN m ON d.dow = m.dow
      GROUP BY d.dow, m.n, m.mu
    )
    SELECT d.day, CAST(d.dow AS BIGINT) AS dow, d.rev,
           {R6_SQL.format(c="s.mu")} AS dow_mean,
           {R6_SQL.format(c="(d.rev - s.mu) / s.sigma")} AS resid_z,
           CAST(CASE WHEN abs(d.rev - s.mu) > {SEAS_Z!r} * s.sigma
                     THEN 1 ELSE 0 END AS BIGINT) AS flag
    FROM daily d JOIN sd s ON d.dow = s.dow
    """,
    tags=("monitoring", "anomaly", "timeseries"),
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly screen: each day's revenue scored
    against ITS OWN weekday's mean/std (Monday vs Mondays), so weekly
    rhythm doesn't masquerade as anomaly the way it does under the
    global z-score (q_zscore_outliers) — the standard first
    de-seasonalization in revenue monitoring. Day-level reduce, then
    7-group two-pass centered stats broadcast back over the day
    frame; same decimal-fold discipline as q_cusum/q_ols_trend.
    Weekday indexing is normalized to Spark's 1=Sunday convention
    (DuckDB's dayofweek is 0-based — the oracle shifts by one)."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.dayofweek(F.to_date("o_orderdate")).alias("dow"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev"))
    m = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("rev").cast("decimal(38,2)")).cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    dev = F.col("rev") - F.col("mu")
    sd = (
        daily.join(F.broadcast(m), "dow")
        .groupBy("dow", "n", "mu")
        .agg(
            F.sqrt(
                F.sum(det_round(dev * dev, 4).cast("decimal(38,4)")).cast("double")
                / (F.col("n") - 1)
            ).alias("sigma")
        )
    )
    return (
        daily.join(F.broadcast(sd.select("dow", "mu", "sigma")), "dow")
        .select(
            "day",
            F.col("dow").cast("long").alias("dow"),
            "rev",
            det_round(F.col("mu"), 6).alias("dow_mean"),
            det_round((F.col("rev") - F.col("mu")) / F.col("sigma"), 6).alias("resid_z"),
            F.when(F.abs(F.col("rev") - F.col("mu")) > SEAS_Z * F.col("sigma"), 1)
            .otherwise(0)
            .cast("long")
            .alias("flag"),
        )
    )
