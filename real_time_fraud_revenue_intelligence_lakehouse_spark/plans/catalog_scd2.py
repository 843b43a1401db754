"""SCD Type-2 dimension build (SURVEY §2.11 — the reference documents
slowly-changing dim_users (`SYSTEM_DESIGN.md:424-433`) but ships a
type-1 view; the engine implements the documented intent).

Change events → validity intervals, the standard two-window build:
(1) collapse consecutive duplicates (a change row survives only when
the attribute differs from its predecessor), (2) close each interval
with the successor's start (open interval = current row). Two window
passes over the same (entity, time) ordering ⇒ a single sort/shuffle
on the entity key reused by both — Catalyst plans one Exchange+Sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R4_SQL, det_round
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


def scd2_from_events(
    df: DataFrame,
    key: str,
    attr: str,
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Generic SCD2 builder over a change-event stream."""
    w = Window.partitionBy(key).orderBy(F.col(ts_col), F.col(tiebreak))
    changes = (
        df.withColumn("_prev", F.lag(attr).over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(attr)))
        .select(key, F.col(attr).alias("segment"),
                F.col(ts_col).alias("valid_from"), F.col(tiebreak).alias("_tb"))
    )
    w2 = Window.partitionBy(key).orderBy(F.col("valid_from"), F.col("_tb"))
    nxt = F.lead("valid_from").over(w2)
    return changes.select(
        key,
        "segment",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


#: DuckDB twin of :func:`scd2_from_events`' change rows over the
#: events stream (user_id, event_type by (ts, event_id)): ``ordered``
#: carries each row's predecessor segment, ``changes`` keeps the rows
#: whose segment differs from it.
_SCD2_CHANGES_SQL = """ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_seg
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type AS segment, ts AS valid_from, event_id
      FROM ordered
      WHERE prev_seg IS NULL OR prev_seg <> event_type
    )"""


@query(
    "q_scd2_segments",
    oracle=f"""
    WITH {_SCD2_CHANGES_SQL}
    SELECT user_id, segment, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           lead(valid_from) OVER w2 IS NULL AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
    tags=("marts", "scd2", "window"),
)
def q_scd2_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 user-segment dimension from the events stream: each
    user's event_type treated as a changing attribute; output rows
    are validity intervals with an open current row. Deterministic
    ordering via (ts, event_id) so both engines agree on ties."""
    ev = read_table(spark, sf_dir, "events")
    return scd2_from_events(ev, "user_id", "event_type", "ts", "event_id")


@query(
    "q_cdc_apply",
    oracle="""
    WITH snap AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderkey % 4 <> 0
    ),
    changes AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 3 = 0 THEN 'D'
             WHEN o_orderkey % 4 = 0 THEN 'I' ELSE 'U' END AS op,
        (floor(o_totalprice * 1.1 * 100.0 + 0.5) / 100.0) AS o_totalprice,
        'F' AS o_orderstatus,
        CAST(1 AS BIGINT) AS seq
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op,
        (floor(o_totalprice * 1.2 * 100.0 + 0.5) / 100.0) AS o_totalprice,
        'O' AS o_orderstatus,
        CAST(2 AS BIGINT) AS seq
      FROM orders WHERE o_orderkey % 6 = 0
    ),
    latest AS (
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY seq DESC, op
        ) AS rn FROM changes
      ) WHERE rn = 1
    )
    SELECT s.o_orderkey,
           coalesce(l.o_totalprice, s.o_totalprice) AS o_totalprice,
           coalesce(l.o_orderstatus, s.o_orderstatus) AS o_orderstatus
    FROM snap s LEFT JOIN latest l ON s.o_orderkey = l.o_orderkey
    WHERE l.op IS NULL OR l.op <> 'D'
    UNION ALL
    SELECT l.o_orderkey, l.o_totalprice, l.o_orderstatus
    FROM latest l LEFT JOIN snap s ON s.o_orderkey = l.o_orderkey
    WHERE s.o_orderkey IS NULL AND l.op <> 'D'
    """,
    tags=("cdc", "merge"),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changes-feed application — the Delta/Debezium 'apply
    changes into snapshot' shape: a change batch carrying I/U/D ops
    and a per-key sequence collapses to latest-per-key (seq DESC,
    deterministic op tie-break), then merges into the snapshot:
    deletes drop, updates overwrite, inserts append; keys touched by
    BOTH change batches genuinely collapse to the later one. One window over
    the (smaller) change batch + one key join — the same plan a
    MERGE WHEN MATCHED DELETE/UPDATE/INSERT compiles to; both the
    change feed and snapshot are derived deterministically from
    orders so the oracle replays every branch."""

    o = read_table(spark, sf_dir, "orders")
    snap = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    batch1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, "D")
        .when(F.col("o_orderkey") % 4 == 0, "I")
        .otherwise("U")
        .alias("op"),
        det_round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        F.lit("F").alias("o_orderstatus"),
        F.lit(1).cast("long").alias("seq"),
    )
    batch2 = o.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, "D").otherwise("U").alias("op"),
        det_round(F.col("o_totalprice") * 1.2, 2).alias("o_totalprice"),
        F.lit("O").alias("o_orderstatus"),
        F.lit(2).cast("long").alias("seq"),
    )
    changes = batch1.unionByName(batch2)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"), F.asc("op"))
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    kept = (
        snap.alias("s")
        .join(latest.alias("l"), "o_orderkey", "left")
        .filter(F.col("l.op").isNull() | (F.col("l.op") != "D"))
        .select(
            "o_orderkey",
            F.coalesce("l.o_totalprice", "s.o_totalprice").alias("o_totalprice"),
            F.coalesce("l.o_orderstatus", "s.o_orderstatus").alias("o_orderstatus"),
        )
    )
    inserted = (
        latest.alias("l")
        .join(snap.alias("s"), "o_orderkey", "left_anti")
        .filter(F.col("op") != "D")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    return kept.unionByName(inserted)


# --- SCD2 point-in-time lookup ----------------------------------------------


@query(
    "q_scd2_lookup",
    oracle=f"""
    WITH {_SCD2_CHANGES_SQL},
    dim AS (
      SELECT user_id, segment, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, event_id) AS valid_to
      FROM changes
    ),
    facts AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT d.segment,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST({R4_SQL.format(c="f.value")} AS DECIMAL(38,4))) AS DOUBLE)
             AS total_value,
           {R4_SQL.format(c=(
               "CAST(sum(CAST(" + R4_SQL.format(c="f.value") + " AS DECIMAL(38,4))) AS DOUBLE)"
               " / count(*)"
           ))} AS avg_value
    FROM facts f
    JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts > d.valid_from
     AND (d.valid_to IS NULL OR f.ts <= d.valid_to)
    GROUP BY 1
    """,
    tags=("marts", "scd2", "temporal", "join"),
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — THE reason SCD2 exists: each
    purchase fact joins the segment interval the user was in COMING
    INTO the purchase (valid_from < ts ≤ valid_to; the purchase
    itself opens a new interval, so the strict bound picks the prior
    state — "what were they doing when they bought"), then value
    aggregates per segment. A type-1 join here silently attributes
    old facts to current segments — the classic late-arriving-
    dimension bug this pattern prevents. First-ever-event purchases
    have no prior state and drop out of the inner join on both sides. The join keeps the user_id equi-key hash join with the
    interval bounds as residual filter (same shape as q_abandoned);
    intervals partition each user's timeline, so exactly one dim row
    matches per fact and the join never expands. Purchase values
    det-round into decimal(38,4) before summing — layout-free."""
    ev = read_table(spark, sf_dir, "events")
    dim = scd2_from_events(ev, "user_id", "event_type", "ts", "event_id").select(
        F.col("user_id").alias("du"), "segment", "valid_from", "valid_to"
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    cond = (
        (F.col("user_id") == F.col("du"))
        & (F.col("ts") > F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") <= F.col("valid_to")))
    )

    vdec = det_round(F.col("value"), 4).cast("decimal(38,4)")
    return (
        facts.join(dim, cond)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(vdec).cast("double").alias("total_value"),
            det_round(F.sum(vdec).cast("double") / F.count(F.lit(1)), 4).alias("avg_value"),
        )
    )
