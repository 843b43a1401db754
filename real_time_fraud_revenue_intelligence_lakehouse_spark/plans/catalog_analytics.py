"""Round-5 analytic depth — the warehouse/feature-prep shapes the
earlier catalogs still lacked, each chosen for a distinct execution
pattern:

- q_event_transitions: first-order Markov transition matrix (the
  sequence-model view of the reference's behavioral event stream —
  `generator/events.py` emits the sessions these transitions
  summarize): one lag window + one agg, probabilities by a second
  window over the transition counts.
- q_skyline: 2-D Pareto frontier (cheapest-and-biggest parts). The
  naive form is a quadratic NOT EXISTS self-join (the oracle); the
  engine form is the sort-based sweep — per-price max, running max
  over strictly-cheaper prices, join back — which is one small-side
  window over DISTINCT prices plus one equi-join, no self-join at any
  scale.
- q_median_mode: exact median (interpolated) and deterministic mode
  (tie → lexicographically smallest) per group — the two "order
  statistics SQL forgot" with explicit tie discipline so they can
  hash-match.
- q_priority_sample: Duffield-Lund-Thorup priority sampling — a
  weighted sample with a DETERMINISTIC uniform (md5-derived 52-bit
  fraction, exactly representable in a double), so the "random"
  sample is reproducible, append-stable, and oracle-checkable. The
  top-k-by-priority shape plans as TakeOrderedAndProject — no global
  sort materialization at any scale.
- q_token_entropy: per-source Shannon entropy of the token
  distribution — the corpus-diversity signal training pipelines use
  to detect template/boilerplate sources. Per-term contributions are
  det-rounded then summed as decimal(28,8), so the float sum is
  partition-layout-free (the unigram-LM trick).
- q_robust_scale: median/IQR robust scaling with sentinel imputation
  (negative balance = unknown → segment median) — the outlier-proof
  cousin of z-score normalization (q_zscore_outliers) and the last
  classic feature-prep op missing from the sampling/scoring family.

All six are pure DataFrame plans — zero Python stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    H52_SQL,
    R4_SQL,
    R6_SQL,
    R8_SQL,
    SUM_SQL,
    TWO52,
    det_round,
    h52,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- Markov transition matrix ----------------------------------------------


@query(
    "q_event_transitions",
    oracle="""
    WITH t AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    ),
    c AS (
      SELECT prev_type, next_type, count(*) AS n
      FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n_trans,
           {r6} AS p_trans
    FROM c
    """.format(
        r6=R6_SQL.format(
            c="cast(n as double) / cast(sum(n) OVER (PARTITION BY prev_type) as double)"
        )
    ),
    tags=("behavior", "window", "sequence"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous event type). The lag
    window shuffles once on user_id (ordered by ts with event_id as
    the unique tiebreak, so the sequence is total and deterministic);
    the count agg and the per-prev normalization window both run on
    the |types|² matrix — tiny at any corpus scale. n_trans/total is
    a single int÷int double division (exact inputs < 2^53), so the
    probability bits match any engine."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    t = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = t.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n_trans"))
    tot = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n_trans",
        det_round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(tot).cast("double"), 6
        ).alias("p_trans"),
    )


# --- Pareto skyline --------------------------------------------------------


@query(
    "q_skyline",
    oracle="""
    SELECT a.p_partkey, a.p_retailprice, CAST(a.p_size AS INTEGER) AS p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    """,
    tags=("relational", "skyline"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier: parts not dominated on (price ↓, size ↑).
    The oracle is the textbook quadratic NOT EXISTS; the engine form
    is the sort-sweep equivalence: a part survives iff it has the max
    size within its exact price AND that size strictly exceeds the
    max size over all strictly cheaper prices. The running max runs
    over DISTINCT prices (already reduced), and the only full-table
    op is one equi-join back on price — the classic O(n log n)
    skyline, no self-join at any scale. Equal (price, size) twins
    dominate neither and both survive, matching NOT EXISTS exactly."""
    p = read_table(spark, sf_dir, "part")
    grp = p.groupBy("p_retailprice").agg(F.max("p_size").alias("grp_max"))
    w = Window.orderBy(F.asc("p_retailprice")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pg = grp.withColumn("prev_max", F.max("grp_max").over(w))
    return (
        p.join(F.broadcast(pg), "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("grp_max"))
            & (F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# --- exact median + deterministic mode -------------------------------------


@query(
    "q_median_mode",
    oracle=f"""
    WITH med AS (
      SELECT l_returnflag,
             {R4_SQL.format(c="median(l_quantity)")} AS med_qty,
             {R4_SQL.format(c="median(l_extendedprice)")} AS med_price,
             count(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    mc AS (
      SELECT l_returnflag, l_linestatus, count(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    md AS (
      SELECT l_returnflag, l_linestatus AS mode_status,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY cnt DESC, l_linestatus ASC) AS rk
      FROM mc
    )
    SELECT med.l_returnflag, med.med_qty, med.med_price,
           CAST(med.n_rows AS BIGINT) AS n_rows, md.mode_status
    FROM med JOIN md ON med.l_returnflag = md.l_returnflag AND md.rk = 1
    """,
    tags=("agg", "order-statistics"),
)
def q_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median and deterministic mode per return
    flag. Median is Spark's exact `percentile(0.5)` (sort-based
    within the agg, interpolating even-count midpoints exactly like
    DuckDB's `median`); mode is made hash-checkable by pinning the
    tie-break (highest count, then lexicographically smallest value)
    via row_number over the (flag, status) count table — |groups|²
    rows, so the ranking window is free. Two scans of lineitem
    (median agg + mode counts) joined on the 3-row group key."""
    li = read_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        det_round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("med_qty"),
        det_round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("med_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    mc = li.groupBy("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("cnt"))
    wr = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.asc("l_linestatus")
    )
    mode = (
        mc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select("l_returnflag", F.col("l_linestatus").alias("mode_status"))
    )
    return med.join(F.broadcast(mode), "l_returnflag")


# --- deterministic weighted (priority) sampling ----------------------------

PRIO_K = 200


@query(
    "q_priority_sample",
    oracle=f"""
    WITH u AS (
      SELECT o_orderkey, o_totalprice,
             cast({H52_SQL.format(x="cast(o_orderkey as varchar)")} as double)
               / {TWO52!r} AS unif
      FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           {R6_SQL.format(c="o_totalprice / unif")} AS priority
    FROM u
    ORDER BY o_totalprice / unif DESC, o_orderkey ASC
    LIMIT {PRIO_K}
    """,
    tags=("sampling", "weighted", "deterministic"),
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): weighted sample of
    {PRIO_K} orders where P(selected) grows with o_totalprice, using
    priority = weight / uniform. The uniform is a DETERMINISTIC
    md5-derived 52-bit fraction — no RNG, so the sample is
    reproducible across runs/engines and append-stable (a new row
    never changes another row's priority; the same property the
    train/test splitter relies on). Both engines compute h/2^52 and
    w/u as single correctly-rounded IEEE divisions on identical
    inputs → identical bits → identical ranking; exact ties break on
    the key. Plans as TakeOrderedAndProject (per-partition heap +
    driver-side k-merge), never a global sort."""
    o = read_table(spark, sf_dir, "orders")
    u = o.select(
        "o_orderkey",
        "o_totalprice",
        (h52(F.col("o_orderkey").cast("string")).cast("double") / F.lit(TWO52)).alias(
            "unif"
        ),
    )
    prio = F.col("o_totalprice") / F.col("unif")
    return (
        u.orderBy(prio.desc(), F.asc("o_orderkey"))
        .limit(PRIO_K)
        .select("o_orderkey", "o_totalprice", det_round(prio, 6).alias("priority"))
    )


# --- per-source token entropy ----------------------------------------------


@query(
    "q_token_entropy",
    oracle="""
    WITH ex AS (
      SELECT source, u.tok
      FROM (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents), unnest(t) AS u(tok)
    ),
    cnt AS (SELECT source, tok, count(*) AS c FROM ex GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS n, count(*) AS v FROM cnt GROUP BY 1),
    terms AS (
      SELECT cnt.source,
             cast({r8} as decimal(28,8)) AS term, tot.n, tot.v
      FROM cnt JOIN tot USING (source)
    )
    SELECT source, CAST(any_value(n) AS BIGINT) AS n_tokens,
           CAST(any_value(v) AS BIGINT) AS v_size,
           {r6} AS entropy
    FROM terms GROUP BY source
    """.format(
        r8=R8_SQL.format(
            c="-(cast(c as double)/cast(n as double))"
            " * ln(cast(c as double)/cast(n as double))"
        ),
        r6=R6_SQL.format(c="cast(sum(term) as double)"),
    ),
    tags=("ext", "text", "quality"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution (nats) —
    low entropy flags template/boilerplate sources that inflate a
    training corpus without adding signal. One explode+groupBy builds
    per-source token counts (map-side combined); totals broadcast
    back; each -p·ln(p) term is det-rounded to 8 digits and summed as
    decimal(28,8) so the reduction is associative and
    partition-layout-free (the unigram-LM trick, ext/text.py)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import tokens

    d = read_table(spark, sf_dir, "documents")
    ex = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = ex.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    terms = cnt.join(F.broadcast(tot), "source").select(
        "source",
        "n",
        "v",
        det_round(-p * F.log(p), 8).cast("decimal(28,8)").alias("term"),
    )
    return terms.groupBy("source").agg(
        F.any_value("n").cast("long").alias("n_tokens"),
        F.any_value("v").cast("long").alias("v_size"),
        det_round(F.sum("term").cast("double"), 6).alias("entropy"),
    )


# --- robust scaling with sentinel imputation -------------------------------


@query(
    "q_robust_scale",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer
    ),
    st AS (
      SELECT c_mktsegment,
             median(bal) AS med,
             quantile_cont(bal, 0.75) - quantile_cont(bal, 0.25) AS iqr
      FROM base GROUP BY 1
    )
    SELECT b.c_custkey, b.c_mktsegment,
           {R4_SQL.format(c="coalesce(b.bal, st.med)")} AS bal_imputed,
           {R4_SQL.format(c="(coalesce(b.bal, st.med) - st.med) / st.iqr")} AS bal_scaled
    FROM base b JOIN st USING (c_mktsegment)
    """,
    tags=("sampling", "feature-prep"),
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling with sentinel imputation: negative
    account balance is the 'unknown' sentinel → impute the segment
    median, then scale as (x - median) / IQR — the outlier-proof
    normalization (z-score's median/quartile cousin; q_winsorize and
    q_zscore_outliers cover the other two classic treatments). One
    agg over ~5 segments (exact interpolated percentiles), broadcast
    back onto one customer scan — no second shuffle. Null-median
    segments (all-sentinel) would propagate null, preserved as-is."""
    c = read_table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal"),
    )
    st = base.groupBy("c_mktsegment").agg(
        F.percentile("bal", F.lit(0.5)).alias("med"),
        (F.percentile("bal", F.lit(0.75)) - F.percentile("bal", F.lit(0.25))).alias(
            "iqr"
        ),
    )
    imput = F.coalesce(F.col("bal"), F.col("med"))
    return base.join(F.broadcast(st), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        det_round(imput, 4).alias("bal_imputed"),
        det_round((imput - F.col("med")) / F.col("iqr"), 4).alias("bal_scaled"),
    )


# --- time-series gap fill + linear interpolation ---------------------------


@query(
    "q_gap_fill",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, cast(ts as date) AS day,
             {SUM_SQL.format(c="value")} AS day_value
      FROM events WHERE user_id % 20 = 0 GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM rng
    ),
    j AS (
      SELECT s.user_id, s.day, d.day_value
      FROM spine s LEFT JOIN daily d USING (user_id, day)
    ),
    f AS (
      SELECT user_id, day, day_value,
        last_value(day_value IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(day_value IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT user_id, day,
      {R4_SQL.format(c=(
          "CASE WHEN day_value IS NOT NULL THEN day_value "
          "ELSE pv + (nv - pv) * (date_diff('day', pd, day)::DOUBLE"
          " / date_diff('day', pd, nd)) END"
      ))} AS filled_value,
      CAST(CASE WHEN day_value IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM f
    """,
    tags=("timeseries", "window"),
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily gap fill with linear interpolation — the
    time-series densification every forecasting/feature pipeline
    needs: build each user's full day spine (`sequence` — row-local
    expansion, no join against a global calendar), left-join the
    observed daily sums, then interpolate missing days between the
    previous and next observed values via ignore-nulls running
    last/first windows. BOTH directions share one (user × day)
    Exchange+Sort — Catalyst plans the forward and backward frames
    over the same Window spec pair, so the whole fill is one shuffle
    past the daily rollup. Interior gaps only by construction (the
    spine is bounded by each user's min/max observed day), so the
    interpolation formula is total. The deterministic user subset
    (user_id % 20) keeps the declared-query output bounded; the
    operator itself has no such restriction."""
    e = read_table(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("day_value")
    )
    rng = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = rng.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    back = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    known_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    pv = F.last("day_value", ignorenulls=True).over(back)
    pd_ = F.last(known_day, ignorenulls=True).over(back)
    nv = F.first("day_value", ignorenulls=True).over(fwd)
    nd = F.first(known_day, ignorenulls=True).over(fwd)
    frac = F.datediff(F.col("day"), pd_).cast("double") / F.datediff(nd, pd_)
    interp = F.when(
        F.col("day_value").isNotNull(), F.col("day_value")
    ).otherwise(pv + (nv - pv) * frac)
    return j.select(
        "user_id",
        "day",
        det_round(interp, 4).alias("filled_value"),
        F.when(F.col("day_value").isNull(), 1).otherwise(0).cast("long").alias("is_gap"),
    )


# --- rolling median --------------------------------------------------------


@query(
    "q_rolling_median",
    oracle=f"""
    SELECT event_id, user_id,
           {R4_SQL.format(c=(
               "median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
               "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
           ))} AS roll_med
    FROM events
    """,
    tags=("timeseries", "window", "order-statistics"),
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row rolling median per user — the robust smoother
    (moving average's outlier-proof cousin). Spark has no holistic
    window aggregates, so the frame materializes as a sorted array
    (collect_list over ROWS BETWEEN 6 PRECEDING — O(w log w) per row,
    fine for small w; a two-heap segment-tree operator is the path if
    w grows to thousands) and the median indexes it: odd frame →
    middle, even frame → mean of the two middles, the same
    interpolation DuckDB's windowed `median` applies. One shuffle:
    the user-keyed Exchange+Sort that every per-user window in the
    suite shares."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-6, 0)
    )
    arr = F.array_sort(F.collect_list(F.col("value").cast("double")).over(w))
    n = F.size(arr)
    mid_hi = (n / 2 + 1).cast("int")   # n even: upper middle
    mid_lo = (n / 2).cast("int")
    odd_mid = ((n + 1) / 2).cast("int")
    med = F.when(n % 2 == 1, F.element_at(arr, odd_mid)).otherwise(
        (F.element_at(arr, mid_lo) + F.element_at(arr, mid_hi)) / 2.0
    )
    return e.select("event_id", "user_id", det_round(med, 4).alias("roll_med"))


# --- median-absolute-deviation outliers ------------------------------------

MAD_SCALE = 1.4826   # Φ⁻¹(0.75) normalizer: MAD → σ under normality
MAD_CUT = 3.5


@query(
    "q_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_id, d.event_type, d.value,
           {R4_SQL.format(c=f"(d.value - d.med) / ({MAD_SCALE} * m.mad)")} AS rob_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE abs((d.value - d.med) / ({MAD_SCALE} * m.mad)) > {MAD_CUT}
    """,
    tags=("quality", "outliers", "order-statistics"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier flags — the robust companion
    to q_zscore_outliers: with median/MAD in place of mean/stddev, a
    single extreme value cannot drag the threshold toward itself.
    Two exact-percentile aggregations over ~|event_type| groups, each
    broadcast back onto the fact scan (the double-pass is inherent:
    MAD is a median OF deviations from a median). The 3.5 robust-z
    cut runs on bit-identical doubles (same op order both engines),
    so the boundary filter hash-gates."""
    e = read_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    rob_z = (F.col("value") - F.col("med")) / (F.lit(MAD_SCALE) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(rob_z) > MAD_CUT)
        .select("event_id", "event_type", "value", det_round(rob_z, 4).alias("rob_z"))
    )


# --- exponentially weighted moving average ---------------------------------

EWMA_DECAY = 0.8
EWMA_SPAN = 16   # trailing frame length


@query(
    "q_ewma",
    oracle=f"""
    WITH base AS (
      SELECT event_id, user_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {EWMA_SPAN - 1} PRECEDING AND CURRENT ROW) AS a
      FROM events
    )
    SELECT event_id, user_id,
           {R4_SQL.format(c=(
               "cast(list_sum(list_transform(range(len(a)), i -> "
               f"CAST({R8_SQL.format(c=f'a[i+1] * pow({EWMA_DECAY}, len(a)-1-i)')} AS DECIMAL(28,8)))) as double)"
               " / "
               "cast(list_sum(list_transform(range(len(a)), i -> "
               f"CAST({R8_SQL.format(c=f'pow({EWMA_DECAY}, len(a)-1-i)')} AS DECIMAL(28,8)))) as double)"
           ))} AS ewma
    FROM base
    """,
    tags=("timeseries", "window"),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (decay 0.8) over each
    user's trailing {EWMA_SPAN}-row frame — the adjust-normalized
    form y = Σ dᵏ·x / Σ dᵏ (k = rows back), i.e. pandas' ewm
    semantics truncated to a bounded frame so the closed form needs
    no unbounded recursion and no d⁻ᵗ overflow. The frame
    materializes once as an ordered array (one user-keyed
    Exchange+Sort shared with every per-user window in the suite);
    weights and weighted terms are det-rounded to 8 digits and folded
    through decimal(28,8) accumulators, so the two sums are exact and
    the only float steps (pow, the final division) run on identical
    inputs in any engine."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-(EWMA_SPAN - 1), 0)
    )
    base = e.select(
        "event_id",
        "user_id",
        F.collect_list(F.col("value").cast("double")).over(w).alias("a"),
    )
    n = F.size(F.col("a"))
    dec = lambda c: c.cast("decimal(28,8)")
    zero = F.lit(0).cast("decimal(28,8)")
    add = lambda acc, x: (acc + x).cast("decimal(28,8)")
    wt = lambda x, i: det_round(
        F.pow(F.lit(EWMA_DECAY), (n - 1 - i).cast("double")), 8
    )
    terms = F.transform(F.col("a"), lambda x, i: dec(det_round(x * F.pow(F.lit(EWMA_DECAY), (n - 1 - i).cast("double")), 8)))
    wts = F.transform(F.col("a"), lambda x, i: dec(wt(x, i)))
    num = F.aggregate(terms, zero, add)
    den = F.aggregate(wts, zero, add)
    return base.select(
        "event_id",
        "user_id",
        det_round(num.cast("double") / den.cast("double"), 4).alias("ewma"),
    )


# --- Holt-Winters double exponential smoothing -----------------------------

HW_ALPHA, HW_BETA = 0.3, 0.1


@query(
    "q_holt_winters",
    oracle=f"""
    WITH RECURSIVE wk AS (
      SELECT o_orderpriority AS pri,
             CAST(date_trunc('week', o_orderdate) AS DATE) AS w,
             {SUM_SQL.format(c="o_totalprice")} AS x
      FROM orders GROUP BY 1, 2
    ),
    s AS (
      SELECT pri, x, row_number() OVER (PARTITION BY pri ORDER BY w) AS rn
      FROM wk
    ),
    hw AS (
      SELECT pri, rn, x, x AS l, CAST(0.0 AS DOUBLE) AS b,
             CAST(0.0 AS DOUBLE) AS sae
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.pri, s.rn, s.x,
             {HW_ALPHA} * s.x + {1 - HW_ALPHA} * (h.l + h.b) AS l,
             {HW_BETA} * (({HW_ALPHA} * s.x + {1 - HW_ALPHA} * (h.l + h.b)) - h.l)
               + {1 - HW_BETA} * h.b AS b,
             h.sae + abs(s.x - (h.l + h.b)) AS sae
      FROM s JOIN hw h ON s.pri = h.pri AND s.rn = h.rn + 1
    ),
    last AS (
      SELECT pri, rn, l, b, sae,
             row_number() OVER (PARTITION BY pri ORDER BY rn DESC) AS rk
      FROM hw
    )
    SELECT pri AS priority, CAST(rn AS BIGINT) AS n_weeks,
           {R4_SQL.format(c='l')} AS level_end,
           {R4_SQL.format(c='b')} AS trend_end,
           {R4_SQL.format(c='l + 4 * b')} AS forecast_4w,
           {R4_SQL.format(c='CASE WHEN rn > 1 THEN sae / (rn - 1) ELSE 0.0 END')} AS mae_1step
    FROM last WHERE rk = 1
    """,
    tags=("timeseries", "forecast", "iterative"),
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + trend, α=0.3,
    β=0.1) over each priority class's weekly revenue series, with the
    one-step-ahead MAE accumulated during the SAME fold — the
    trend-aware forecaster q_ewma (level only) and q_ols_trend
    (global line) bracket. The recursion ℓ_t = αx + (1-α)(ℓ+b) is
    order-sensitive and has no closed window form, so the engine runs
    it as ONE array-local F.aggregate fold over each series
    (collect_list → sorted struct array → left fold with a
    (level, trend, sae) struct accumulator — one shuffle per series
    key, zero Python, zero driver actions however long the series),
    and the oracle unrolls the identical left fold as a recursive CTE
    (the greedy-packing convention). Both engines execute the same
    double arithmetic in the same order, so outputs hash-match.
    At 100 TB series are key-partitioned; a series too long for one
    array folds segment-wise with carried state (the CUSUM batch-twin
    pattern)."""
    o = read_table(spark, sf_dir, "orders")
    wk = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("w"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("x")
        )
    )
    ser = wk.groupBy("priority").agg(
        F.array_sort(F.collect_list(F.struct("w", "x"))).alias("arr")
    )
    a, b_ = F.lit(HW_ALPHA), F.lit(HW_BETA)
    init = F.struct(
        F.element_at(F.col("arr"), 1)["x"].alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("sae"),
    )
    def step(acc, e):
        x = e["x"]
        newl = a * x + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        newb = b_ * (newl - acc["l"]) + (F.lit(1.0) - b_) * acc["b"]
        sae = acc["sae"] + F.abs(x - (acc["l"] + acc["b"]))
        return F.struct(newl.alias("l"), newb.alias("b"), sae.alias("sae"))

    folded = ser.select(
        "priority",
        F.size("arr").alias("n_weeks"),
        F.aggregate(F.expr("slice(arr, 2, size(arr) - 1)"), init, step).alias("st"),
    )
    return folded.select(
        "priority",
        F.col("n_weeks").cast("long").alias("n_weeks"),
        det_round(F.col("st.l"), 4).alias("level_end"),
        det_round(F.col("st.b"), 4).alias("trend_end"),
        det_round(F.col("st.l") + 4 * F.col("st.b"), 4).alias("forecast_4w"),
        # Guard the 1-week degenerate series: 0.0/0 is NaN in Spark
        # doubles but a divide-by-zero NULL in the oracle's CTE — both
        # sides pin it to 0.0 instead (no forecast errors observed).
        det_round(
            F.when(
                F.col("n_weeks") > 1, F.col("st.sae") / (F.col("n_weeks") - 1)
            ).otherwise(0.0),
            4,
        ).alias("mae_1step"),
    )


# --- Theil-Sen robust trend ---------------------------------------------------


@query(
    "q_theil_sen",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT {R8_SQL.format(c="(b.y - a.y) / (b.x - a.x)")} AS s
      FROM daily a JOIN daily b ON a.x < b.x
    ),
    ms AS (
      SELECT s FROM (
        SELECT s, row_number() OVER (ORDER BY s) AS rn, count(*) OVER () AS n
        FROM slopes
      ) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
    ),
    resid AS (
      SELECT {R4_SQL.format(c="d.y - (SELECT s FROM ms) * d.x")} AS r FROM daily d
    ),
    mi AS (
      SELECT r FROM (
        SELECT r, row_number() OVER (ORDER BY r) AS rn, count(*) OVER () AS n
        FROM resid
      ) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
    )
    SELECT (SELECT count(*) FROM daily) AS n_days,
           (SELECT count(*) FROM slopes) AS n_pairs,
           (SELECT s FROM ms) AS slope,
           (SELECT r FROM mi) AS intercept
    """,
    tags=("analytics", "robust", "timeseries"),
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: slope = median of all
    pairwise day-slopes, intercept = median residual — the
    breakdown-point-29% alternative to q_ols_trend (one corrupted
    day moves OLS arbitrarily; Theil-Sen shrugs off up to 29% of
    days). The |days|² pair stage runs on the AGGREGATED day frame —
    |days| is calendar-bounded (~2.4k for seven TPC-H years at ANY
    fact scale), so the pair tier is ~3M rows regardless of corpus
    size; the fact table itself only ever sees the one daily
    aggregation. Both medians are LOWER medians selected through the
    distributed_cumsum CDF (operators/ranking.py) — a rank-select,
    not a sort — and slopes det-round to 8 digits first so both
    engines pick the identical element. Day index = epoch days (no
    anchor subquery needed). Both medians run through `select_kth`
    (operators/ranking.py): distributed SELECTION — count, band,
    index into the one rank-holding band — never a 3M-row sort or
    groupBy-CDF (a first cut CDF'd the near-all-distinct slope
    multiset: 18 s; selection runs the query in ~4 s)."""
    o = read_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("y")
        )
        .select(F.datediff("d", F.lit("1970-01-01").cast("date")).alias("x"), "y")
        .localCheckpoint()
    )
    # r16 (guide §2.5 input-skew rule): the checkpointed daily agg
    # AQE-coalesces to ONE partition, so without a re-spread the
    # |days|²-pair BNLJ, the slope projection and the boundary sketch
    # all run single-threaded. Round-robin the STREAM side to the
    # core count first — pair content, det_round slopes and both
    # medians are partition-layout-free, so results are bit-identical
    # (measured 8.8 s → ~3.5 s build at sf0.1/local[32]).
    par = spark.sparkContext.defaultParallelism
    a = daily.repartition(par).select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = a.join(b, F.col("xa") < F.col("xb")).select(
        det_round((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa")), 8).alias("s")
    ).localCheckpoint()
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.ranking import select_kth

    # r16 (guide §1.2): n_pairs is C(d, 2) by construction — the x
    # values are DISTINCT epoch days, so the xa < xb join emits
    # exactly d·(d−1)/2 rows. Counting the 2.4k-row daily frame
    # replaces a full pass over the 2.9M-row slope table (the
    # select_kth call re-counts internally anyway and still validates
    # k against the actual count).
    d_days = daily.count()
    n_pairs = d_days * (d_days - 1) // 2
    slope = select_kth(slopes, "s", n=n_pairs)
    resid = daily.select(
        det_round(F.col("y") - F.lit(slope) * F.col("x"), 4).alias("r")
    )
    # r16: pass the known count — the residual median then runs as ONE
    # sorted-array job (select_kth's n-trusting small path validates
    # the collected length against d_days before indexing).
    intercept = select_kth(resid, "r", n=d_days)
    return daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        F.lit(slope).alias("slope"),
        F.lit(intercept).alias("intercept"),
    )


# --- price elasticity of demand -----------------------------------------------

ELASTICITY_MIN_N = 30


@query(
    "q_price_elasticity",
    oracle=f"""
    WITH pts AS (
      SELECT p.p_brand AS brand,
             {R8_SQL.format(c="ln(l.l_extendedprice / l.l_quantity)")} AS x,
             {R8_SQL.format(c="ln(l.l_quantity)")} AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    m AS (
      SELECT brand, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
             CAST(sum(CAST({R8_SQL.format(c="x * y")} AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
             CAST(sum(CAST({R8_SQL.format(c="x * x")} AS DECIMAL(38,8))) AS DOUBLE) AS sxx
      FROM pts GROUP BY 1
    )
    SELECT brand, CAST(n AS BIGINT) AS n,
           {R6_SQL.format(c="(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS elasticity
    FROM m WHERE n >= {ELASTICITY_MIN_N}
    """,
    tags=("analytics", "econometrics", "regression"),
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand: the log-log OLS slope of
    ln(quantity) on ln(unit price) over every line item — THE retail
    econometrics artifact ('Brand#12 demand drops ~0.50% per 1% price
    increase'), and the engine's grouped-regression shape (q_ols_trend
    is one global series; this is a closed-form regression PER KEY
    from one pass of moment sums). Both log terms and their products
    det-round to 8 digits then fold through decimal(38,8) (the
    unigram-entropy discipline) so grouped second-moment statistics
    hash-gate; the final slope arithmetic is identical IEEE on both
    engines. One broadcast dim join + one grouped agg — no per-group
    iteration, the closed form IS the aggregate."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = det_round(F.log(F.col("l_extendedprice") / F.col("l_quantity")), 8)
    y = det_round(F.log(F.col("l_quantity")), 8)
    pts = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"), x.alias("x"), y.alias("y")
    )
    d8 = lambda c: c.cast("decimal(38,8)")
    m = pts.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d8(F.col("x"))).cast("double").alias("sx"),
        F.sum(d8(F.col("y"))).cast("double").alias("sy"),
        F.sum(d8(det_round(F.col("x") * F.col("y"), 8))).cast("double").alias("sxy"),
        F.sum(d8(det_round(F.col("x") * F.col("x"), 8))).cast("double").alias("sxx"),
    )
    nn = F.col("n").cast("double")
    slope = (nn * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nn * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.filter(F.col("n") >= ELASTICITY_MIN_N).select(
        "brand",
        F.col("n").cast("long").alias("n"),
        det_round(slope, 6).alias("elasticity"),
    )


@query(
    "q_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
             sum(CAST({R4_SQL.format(c="l.l_extendedprice * (1 - l.l_discount)")} AS DECIMAL(38,4))) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nation, sum(r) AS t, count(*) AS n_suppliers FROM rev GROUP BY 1)
    SELECT t.nation, CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
           CAST(sum(CAST({R8_SQL.format(c="(CAST(r.r AS DOUBLE) / CAST(t.t AS DOUBLE)) * (CAST(r.r AS DOUBLE) / CAST(t.t AS DOUBLE))")} AS DECIMAL(28,8))) AS DOUBLE) AS hhi,
           {R6_SQL.format(c="1.0 / t.n_suppliers")} AS hhi_floor
    FROM rev r JOIN tot t ON r.nation = t.nation
    GROUP BY t.nation, t.n_suppliers
    """,
    tags=("analytics", "economics", "concentration"),
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier concentration per nation market:
    HHI = Σ (supplier revenue share)² — the market-structure metric
    regulators and category managers quote (1/n = perfectly split,
    1.0 = monopoly; the 1/n floor is emitted next to it so the gap IS
    the concentration excess). Complements q_gini: Gini measures
    inequality of the distribution, HHI the dominance mass at its
    top. Two grouped aggregates (supplier revenue in exact decimal,
    then shares² det-rounded into a decimal(28,8) fold — the
    layout-free square-sum discipline) and one broadcast-size join of
    the 25-row totals; no windows, no sorts."""
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nation"), F.col("l_suppkey").alias("supp")
        )
        .agg(
            F.sum(
                det_round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                ).cast("decimal(38,4)")
            ).alias("r")
        )
    )
    tot = rev.groupBy("nation").agg(
        F.sum("r").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("r").cast("double") / F.col("t").cast("double")
    return (
        rev.join(F.broadcast(tot), "nation")
        .groupBy("nation", "n_suppliers")
        .agg(
            F.sum(det_round(share * share, 8).cast("decimal(28,8)"))
            .cast("double")
            .alias("hhi"),
        )
        .select(
            "nation",
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
            "hhi",
            det_round(F.lit(1.0) / F.col("n_suppliers"), 6).alias("hhi_floor"),
        )
    )
