"""M5 — streaming-semantics queries, batch-checked (SURVEY §2.11).

The stateful streaming operators (tumbling/session windows) run the
SAME plan in batch and streaming mode; registering them as batch
queries lets the DuckDB oracle verify the window semantics the stream
will execute. The stream-only behaviors (watermark late-drop,
checkpoint recovery, foreachBatch merge) are covered by
tests/test_streaming.py with deterministic file micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import H60_SQL, HLL_REGISTER_SQL, SUM_SQL, exact_sum
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table
from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import (
    session_agg,
    tumbling_agg,
)


@query(
    "q_stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           {SUM_SQL.format(c="value")} AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window"),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregate via `F.window` — the
    documented-but-unshipped streaming window (`SYSTEM_DESIGN.md`
    real-time framing; `window` imported unused at
    `build_fraud_features.py:23`). Identical plan runs under
    writeStream (see test_streaming.py); aligned tumbling windows are
    oracle-equivalent to date_trunc. Partial aggregation is map-side;
    one shuffle on (window, event_type)."""
    ev = read_table(spark, sf_dir, "events")
    return tumbling_agg(
        ev,
        "1 hour",
        extra_keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "total_value"),
        ],
    )


@query(
    "q_session_window",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 5 MINUTE AS session_end,
           count(*) AS n_events,
           {SUM_SQL.format(c="value")} AS total_value
    FROM numbered
    GROUP BY user_id, sess_id
    """,
    tags=("streaming", "window"),
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user via `F.session_window`
    (5-minute gap) — SURVEY §2.11 stretch. Oracle is the classic
    gaps-and-islands: a new session starts when the gap to the
    previous event is >= the timeout (Spark merges windows that
    overlap, i.e. strictly-less-than-gap spacing). Stateful shuffle on
    user_id; in streaming mode the watermark bounds session state."""
    ev = read_table(spark, sf_dir, "events")
    return session_agg(
        ev,
        "5 minutes",
        keys=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "total_value"),
        ],
    )


@query(
    "q_sessionize_batch",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    flagged AS (
      SELECT *,
        CASE WHEN prev_ts IS NULL
               OR epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, event_id, ts,
        CAST(sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events
    FROM numbered
    GROUP BY 1, 2
    """,
    tags=("window", "session"),
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gaps-and-islands: a session break is
    a >30-min silence; session ids are the running sum of break flags
    — the lag + cumulative-sum idiom (vs q_session_window's native
    session_window operator: same business question, the two classic
    techniques cross-checkable against each other). The lag and the
    running sum share ONE entity-key Exchange+Sort (same partition
    and order spec); the session rollup adds the aggregation
    exchange — two shuffles total for the whole pipeline."""
    e = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    numbered = e.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_idx"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_stateful_profile",
    oracle="""
    WITH b AS (
      SELECT user_id,
             strftime(date_trunc('month', ts), '%Y-%m') AS batch_key,
             count(*) AS batch_events,
             sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      FROM events
      GROUP BY 1, 2
    )
    SELECT user_id, batch_key,
           CAST(batch_events AS BIGINT) AS batch_events,
           CAST(sum(batch_events) OVER w AS BIGINT) AS total_events,
           CAST(sum(cents) OVER w AS BIGINT) / 100.0 AS total_value
    FROM b
    WINDOW w AS (PARTITION BY user_id ORDER BY batch_key
                 ROWS UNBOUNDED PRECEDING)
    """,
    tags=("streaming", "stateful", "pandas"),
)
def q_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) verified
    through its deterministic batch twin: the per-user running-profile
    state machine of `streaming/stateful.py` replayed over event-month
    "micro-batches" via applyInPandas — the SAME accumulator code the
    stream executes, so the oracle checks the state-transition logic
    itself (streaming-mode state carry-over is pinned by
    tests/test_streaming.py::test_stateful_running_profiles, and
    batch-vs-stream equality by test_stateful_batch_twin). Values
    accumulate as integer cents, never float, so running totals are
    order-independent at any partition layout."""
    ev = read_table(spark, sf_dir, "events")
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_user_profiles_batch,
    )

    return running_user_profiles_batch(
        ev, F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM")
    )


@query(
    "q_sliding_window",
    oracle=f"""
    WITH slots AS (
      SELECT event_type, value, ts,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE]) AS window_start
      FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           {SUM_SQL.format(c="value")} AS total_value
    FROM slots
    WHERE ts < window_start + INTERVAL 1 HOUR
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window"),
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour SLIDING window (30-min slide) via `F.window(ts, '1
    hour', '30 minutes')` — each event lands in exactly two
    overlapping windows (Spark expands in-row, no self-join). The
    oracle replays the expansion with a 2-slot unnest. Same plan runs
    under writeStream with a watermark; batch-checkable because
    aligned slide slots are pure arithmetic on the event time."""
    ev = read_table(spark, sf_dir, "events")
    return tumbling_agg(
        ev,
        "1 hour",
        extra_keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "total_value"),
        ],
        slide="30 minutes",
    )


@query(
    "q_stream_interval_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS l_event_id, c.ts AS l_ts, c.value AS l_value,
           p.event_id AS r_event_id, p.ts AS r_ts, p.value AS r_value
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming-twin", "join", "interval"),
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked stream-stream interval join
    (streaming/joins.py): every purchase within 1 h of a same-user
    click — click→purchase attribution at pair granularity. The
    EXACT builder also runs as a live two-stream join (watermarks +
    range condition bound the state store; stream ≡ batch equality in
    tests/test_streaming.py::test_stream_stream_interval_join_matches_batch_twin).
    Batch plan: one user-keyed shuffle join with the time-range as a
    residual predicate — at 100 TB both feeds bucket by user and the
    range residual evaluates in the sort-merge scan."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.joins import interval_pair_join

    e = read_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase")
    return interval_pair_join(clicks, purchases, within="1 hour")


@query(
    "q_stream_interval_join_outer",
    oracle="""
    SELECT c.user_id, c.event_id AS l_event_id, c.ts AS l_ts,
           c.value AS l_value
    FROM events c LEFT JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_id IS NULL
    """,
    tags=("streaming-twin", "join", "interval", "outer"),
)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandonment WHILE LIVE: clicks with NO same-user purchase
    inside the 1 h horizon — the left-outer face of
    q_stream_interval_join and the streaming twin of q_abandoned
    (which answers the same question nightly over landed data; this
    form answers it the moment the watermark proves no purchase can
    still arrive). The EXACT builder runs as a live two-stream
    left-outer join — unmatched rows flush once the right watermark
    passes the horizon, the contract pinned (with its
    watermark-the-source-before-splitting trap) in
    tests/test_streaming.py::test_stream_stream_left_outer_emits_unmatched_after_watermark.
    Batch plan: one user-keyed shuffle join with the range residual,
    null-filtered — same cost shape as the inner form; at 100 TB both
    feeds bucket by user."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.joins import interval_pair_join

    e = read_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase")
    pairs = interval_pair_join(clicks, purchases, within="1 hour", how="left_outer")
    return pairs.filter(F.col("r_event_id").isNull()).select(
        "user_id", "l_event_id", "l_ts", "l_value"
    )


@query(
    "q_ewma_recursive",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             list(CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                  ORDER BY ts, event_id) AS xs
      FROM events GROUP BY 1
    )
    SELECT event_type AS series_key,
           CAST(len(xs) AS BIGINT) AS total_rows,
           CAST(list_reduce(xs,
                (s, x) -> (200000 * x + 800000 * s) // 1000000) AS DOUBLE)
             / 1000000.0 AS ewma
    FROM seq
    """,
    tags=("streaming-twin", "timeseries"),
)
def q_ewma_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive (infinite-history) EWMA per event type — the batch
    face of streaming/stateful.running_ewma, and the order-dependent
    cousin of the frame-based q_ewma: s' = (A·x + (M−A)·s)//M in
    integer micros, seeded at the series' first value. The oracle
    replays the IDENTICAL integer fold via DuckDB list_reduce, so a
    stateful recursion hash-gates exactly (the q_cusum trick, but
    with the fold itself in SQL instead of a closed form). Spark
    plan: one applyInPandas pass per key over (ts, event_id)-sorted
    history — the sanctioned Arrow stage, mirroring
    q_stateful_profile; the stream twin carries the same state across
    micro-batches (equality + expiry proven in
    tests/test_streaming.py)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import running_ewma_batch

    e = read_table(spark, sf_dir, "events")
    return running_ewma_batch(e).select("series_key", "total_rows", "ewma")


@query(
    "q_distinct_hll_shards",
    oracle=f"""
    WITH h AS (
      SELECT {H60_SQL.format(x="cast(user_id as varchar)")} AS h
      FROM events
    ),
    rho AS (
      SELECT {HLL_REGISTER_SQL}
      FROM h
    ),
    cells AS (
      SELECT (idx % 4) AS shard, idx, max(r) AS r, count(*) AS n
      FROM rho GROUP BY 1, 2
    )
    SELECT shard, idx, CAST(r AS BIGINT) AS max_rho, CAST(n AS BIGINT) AS n_rows
    FROM cells
    """,
    tags=("streaming-twin", "sketch", "distinct"),
)
def q_distinct_hll_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of streaming/stateful.running_distinct_hll: the
    sharded 256-register HLL over the event stream's user ids as a
    SCALAR cell table (shard, idx, max rho, per-cell row count) — one
    JVM map-side-combined groupBy, the hash-gateable form (the
    comparator hashes scalar rows; the array-packed form is the
    stream twin's state shape). The stream twin maintains the SAME
    registers across micro-batches in ≤64-cell-per-shard state and is
    proven exactly batch-equal (elementwise max is multiset-pure) in
    tests/test_streaming.py::test_streaming_hll_registers_equal_batch_exactly;
    estimates read off the merged shards via hll_estimate (the
    q_active_users_hll machinery)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import hll_rho_cols

    e = read_table(spark, sf_dir, "events")
    return (
        hll_rho_cols(e)
        .groupBy("shard", "idx")
        .agg(
            F.max("r").cast("long").alias("max_rho"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


_ALERT_W = {"bias": -3.0, "value": 6.0}


@query(
    "q_fraud_alert_windows",
    oracle="""
    WITH scored AS (
      SELECT ts,
             (floor((1.0 / (1.0 + exp(-(-3.0 + 6.0 * (CAST(value AS DOUBLE) / 500.0)))))
                    * 1000000.0 + 0.5) / 1000000.0) AS fraud_score
      FROM events
    ),
    agg AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             CAST(sum(CASE WHEN fraud_score >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
             CAST(sum(CAST(CASE WHEN fraud_score >= 0.7 THEN fraud_score ELSE 0.0 END
                           AS DECIMAL(18,6))) AS DOUBLE) AS score_mass
      FROM scored GROUP BY 1
    )
    SELECT window_start, n_alerts, score_mass FROM agg WHERE n_alerts > 0
    """,
    tags=("streaming-twin", "scoring", "alerting"),
)
def q_fraud_alert_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LIVE fraud-alert feed (streaming/scoring.py):
    every event scored in-row by the model expression, hourly tumbling
    windows of high-risk (≥0.7) volume + exact decimal score mass,
    zero-alert windows dropped AFTER the aggregate. The identical
    builder runs as a watermarked streaming query — including this
    module's hardest-won lesson: the rollup aggregates CONDITIONALLY
    over ALL rows instead of filtering first, because Catalyst pushes
    a non-event-time predicate through the EventTimeWatermark node
    and a filtered stream's watermark stalls on quiet traffic
    (stream ≡ batch equality + the trap pinned in
    tests/test_streaming.py::test_stream_scoring_matches_batch_and_alert_rollup).
    One scan, one window agg; scoring is whole-stage-codegen
    row-local — the REST-free counterpart of the reference's
    `/predict` path (`ml/serving/api.py:198-258`)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import (
        high_risk_alerts,
        score_stream,
    )

    ev = read_table(spark, sf_dir, "events")
    scored = score_stream(ev, _ALERT_W, ("value",), {"value": 500.0})
    return high_risk_alerts(scored, watermark=None)
