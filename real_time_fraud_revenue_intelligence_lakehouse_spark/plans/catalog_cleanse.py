"""M1 — cleansing & scalar layer (SURVEY §2.2, §2.8).

Row-level cleansing, enum normalization, tiering, masking, epoch-ms
time handling, json parsing, hashing, and the feature-vector wide
projection — the silver-layer semantics of
`transform_transactions.py` / `build_fraud_features.py`, exercised on
the driver testdata columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    R2_SQL,
    R6_SQL,
    SUM_SQL,
    amount_tier,
    det_round,
    mask_dotted,
    surrogate_key,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- P1/P2: null-key + range cleansing filter ------------------------------

@query(
    "q_clean_filter",
    oracle="""
    SELECT * FROM orders
    WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
      AND o_totalprice > 0 AND o_totalprice < 100000
    """,
    tags=("cleanse",),
)
def q_clean_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-key + business-cap range filter
    (`transform_transactions.py:55-58`: ids non-null, 0 < amount <
    100000). Pure Catalyst predicates → pushed to the parquet scan."""
    o = read_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_custkey").isNotNull()
        & (F.col("o_totalprice") > 0)
        & (F.col("o_totalprice") < 100000)
    )


# --- P3: dedup by key ------------------------------------------------------

@query(
    "q_dedup_keep_any",
    oracle="SELECT DISTINCT o_custkey FROM orders",
    tags=("cleanse",),
)
def q_dedup_keep_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key dedup (`dropDuplicates(["order_id"])`,
    `transform_transactions.py:59`) in its deterministic projection
    form: distinct keys. (Keep-latest variant: q_latest_per_key.)"""
    return read_table(spark, sf_dir, "orders").select("o_custkey").distinct()


# --- P6: enum whitelist ----------------------------------------------------

@query(
    "q_enum_whitelist",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
      CASE WHEN o_orderstatus IN ('O','F') THEN o_orderstatus
           ELSE 'unknown' END AS status_normalized
    FROM orders
    """,
    tags=("cleanse",),
)
def q_enum_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enum whitelist normalization (`transform_transactions.py:62-67`):
    values outside the accepted set collapse to 'unknown'."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderstatus").isin("O", "F"), F.col("o_orderstatus"))
        .otherwise(F.lit("unknown"))
        .alias("status_normalized"),
    )


# --- P13: outcome mapping --------------------------------------------------

@query(
    "q_enum_mapping",
    oracle="""
    SELECT o_orderkey,
      CASE WHEN o_orderstatus = 'F' THEN 'fulfilled'
           WHEN o_orderstatus = 'P' THEN 'pending'
           ELSE 'open' END AS order_outcome
    FROM orders
    """,
    tags=("cleanse",),
)
def q_enum_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status→outcome mapping ladder
    (`transform_transactions.py:135-140`)."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "fulfilled")
        .when(F.col("o_orderstatus") == "P", "pending")
        .otherwise("open")
        .alias("order_outcome"),
    )


# --- P10: amount tiering ---------------------------------------------------

@query(
    "q_bucket_tier",
    oracle=f"""
    SELECT CASE WHEN o_totalprice < 50 THEN 'micro'
                WHEN o_totalprice < 200 THEN 'low'
                WHEN o_totalprice < 1000 THEN 'medium'
                WHEN o_totalprice < 5000 THEN 'high'
                ELSE 'premium' END AS amount_tier,
           count(*) AS n_orders,
           {SUM_SQL.format(c="o_totalprice")} AS tier_gmv
    FROM orders GROUP BY 1
    """,
    tags=("cleanse",),
)
def q_bucket_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way amount-tier ladder, cuts 50/200/1000/5000
    (`transform_transactions.py:109-117`), aggregated per tier."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(amount_tier("o_totalprice").alias("amount_tier"), "o_totalprice")
        .groupBy("amount_tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("tier_gmv"),
        )
    )


# --- P5/P11 + string family ------------------------------------------------

@query(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
      upper(c_mktsegment) AS seg_upper,
      lower(c_mktsegment) AS seg_lower,
      split_part(c_name, '#', 2) AS name_id,
      length(c_name) AS name_len,
      concat_ws('.', cast(c_custkey % 223 + 1 as varchar),
                     cast(cast(floor(c_custkey / 7) as bigint) % 256 as varchar),
                     cast(cast(floor(c_custkey / 11) as bigint) % 256 as varchar),
                     cast(c_custkey % 256 as varchar)) AS synth_ip,
      concat_ws('.', cast(c_custkey % 223 + 1 as varchar),
                     cast(cast(floor(c_custkey / 7) as bigint) % 256 as varchar),
                     '*', '*') AS ip_masked,
      lpad(cast(c_custkey as varchar), 9, '0') AS key_padded
    FROM customer
    """,
    tags=("scalar",),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface (§2.8): upper/lower/split/length/concat_ws/lpad
    + the PII dotted-mask pattern (`transform_transactions.py:118-123`)
    over a synthesized IP-like string."""
    c = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    octets = [
        (k % 223 + 1).cast("string"),
        (F.floor(k / 7).cast("bigint") % 256).cast("string"),
        (F.floor(k / 11).cast("bigint") % 256).cast("string"),
        (k % 256).cast("string"),
    ]
    synth_ip = F.concat_ws(".", *octets)
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.split(F.col("c_name"), "#")[1].alias("name_id"),
        F.length("c_name").alias("name_len"),
        synth_ip.alias("synth_ip"),
        mask_dotted(synth_ip).alias("ip_masked"),
        F.lpad(k.cast("string"), 9, "0").alias("key_padded"),
    )


# --- P4/P14 + math family --------------------------------------------------

@query(
    "q_scalar_math",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
      {R2_SQL.format(c='l_extendedprice * (1 - l_discount)')} AS net_price,
      {R2_SQL.format(c='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS charged_price,
      {R2_SQL.format(c='l_extendedprice * 0.029 + 0.30')} AS processor_fee,
      {R2_SQL.format(c='l_extendedprice - (l_extendedprice * 0.029 + 0.30)')} AS effective_amount,
      {R6_SQL.format(c='ln(l_extendedprice + 1)')} AS amount_log,
      l_orderkey % 7 AS key_mod,
      abs(l_discount - 0.05) AS disc_dev
    FROM lineitem
    """,
    tags=("scalar",),
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface (§2.8): rounding, ε-free fee arithmetic
    (`payments.py:49` processor fee), log1p feature
    (`build_fraud_features.py:51`), mod, abs."""
    li = read_table(spark, sf_dir, "lineitem")
    price, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    fee = price * 0.029 + 0.30
    return li.select(
        "l_orderkey",
        "l_linenumber",
        det_round(price * (1 - disc), 2).alias("net_price"),
        det_round(price * (1 - disc) * (1 + tax), 2).alias("charged_price"),
        det_round(fee, 2).alias("processor_fee"),
        det_round(price - fee, 2).alias("effective_amount"),
        det_round(F.log(price + 1), 6).alias("amount_log"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.abs(disc - 0.05).alias("disc_dev"),
    )


# --- P7/S5: epoch-ms conventions ------------------------------------------

@query(
    "q_epoch_ms_to_date",
    oracle="""
    SELECT event_id,
      epoch_ms(ts) AS ts_ms,
      make_timestamp(epoch_ms(ts) * 1000) AS ts_from_ms,
      cast(make_timestamp(epoch_ms(ts) * 1000) as date) AS event_date
    FROM events
    """,
    tags=("scalar", "time"),
)
def q_epoch_ms_to_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's load-bearing epoch-millisecond convention
    (`ingest_stream.py:88-94`, FIXTURES.md): timestamp → epoch ms →
    timestamp → partition date, UTC-pinned."""
    e = read_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    return e.select(
        "event_id",
        ms.alias("ts_ms"),
        F.timestamp_millis(ms).alias("ts_from_ms"),
        F.to_date(F.timestamp_millis(ms)).alias("event_date"),
    )


# --- time parts (fixes reference bug §2.12-2) ------------------------------

@query(
    "q_time_parts",
    oracle="""
    SELECT event_id,
      hour(ts) AS hour_of_day,
      minute(ts) AS minute_of_hour,
      dayofweek(ts) AS day_of_week,
      CASE WHEN dayofweek(ts) IN (0, 6) THEN true ELSE false END AS is_weekend,
      year(ts) AS year, quarter(ts) AS quarter, month(ts) AS month,
      dayofmonth(ts) AS day_of_month
    FROM events
    """,
    tags=("scalar", "time"),
)
def q_time_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar parts with CORRECT semantics — the reference derives
    hour/day-of-week by casting DATE→long/86400
    (`build_fraud_features.py:52-54`), which is wrong units (SURVEY
    §2.12-2); the engine uses native hour()/dayofweek(). day_of_week
    is normalized to 0=Sunday to match the oracle."""
    e = read_table(spark, sf_dir, "events")
    dow = F.dayofweek(F.col("ts")) - 1  # Spark: 1=Sunday → 0=Sunday
    return e.select(
        "event_id",
        F.hour("ts").alias("hour_of_day"),
        F.minute("ts").alias("minute_of_hour"),
        dow.alias("day_of_week"),
        dow.isin(0, 6).alias("is_weekend"),
        F.year("ts").alias("year"),
        F.quarter("ts").alias("quarter"),
        F.month("ts").alias("month"),
        F.dayofmonth("ts").alias("day_of_month"),
    )


# --- P15: bulk null defaulting --------------------------------------------

@query(
    "q_fillna",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      coalesce(CASE WHEN l_discount > 0.05 THEN NULL ELSE l_discount END, 0.0) AS disc_filled,
      coalesce(CASE WHEN l_tax > 0.04 THEN NULL ELSE l_tax END, 0.0) AS tax_filled,
      coalesce(nullif(l_returnflag, 'N'), 'none') AS returnflag_filled
    FROM lineitem
    """,
    tags=("cleanse",),
)
def q_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk null defaulting (`build_fraud_features.py:133,170-176`):
    nulls are manufactured with when()/nullif then healed with
    df.fillna maps — the coalesce semantics the oracle mirrors."""
    li = read_table(spark, sf_dir, "lineitem")
    made_null = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") > 0.05, None).otherwise(F.col("l_discount")).alias("disc_filled"),
        F.when(F.col("l_tax") > 0.04, None).otherwise(F.col("l_tax")).alias("tax_filled"),
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("returnflag_filled"),
    )
    return made_null.fillna({"disc_filled": 0.0, "tax_filled": 0.0, "returnflag_filled": "none"})


# --- P8: casts -------------------------------------------------------------

@query(
    "q_casts",
    oracle="""
    SELECT o_orderkey,
      cast(o_orderkey as varchar) AS key_str,
      cast(floor(o_totalprice) as bigint) AS price_floor_int,
      cast(cast(o_totalprice as decimal(18,2)) as double) AS price_dec_double,
      cast(o_orderstatus = 'F' as int) AS is_fulfilled_int,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date_str
    FROM orders
    """,
    tags=("scalar",),
)
def q_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast surface (`build_fraud_features.py:258-265` boolean→int,
    `transform_transactions.py:84` float→double). double→int goes
    through floor() because bare casts disagree across engines
    (Spark truncates, DuckDB rounds)."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor_int"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price_dec_double"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_fulfilled_int"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
    )


# --- S2: JSON payload parse ------------------------------------------------

@query(
    "q_json_parse",
    oracle="""
    SELECT event_id,
      cast(json_extract_string(props, '$.k') as int) AS prop_k
    FROM events
    """,
    tags=("source", "json"),
)
def q_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON parse with an explicit StructType — the
    bronze `from_json(value, schema)` pattern (`ingest_stream.py:62-73`,
    no schema inference anywhere)."""
    e = read_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return e.select("event_id", parsed["k"].alias("prop_k"))


# --- hash/crypto surface ---------------------------------------------------

@query(
    "q_hash_key",
    oracle="""
    SELECT o_orderkey,
      md5(concat_ws('-', cast(o_orderkey as varchar), cast(o_custkey as varchar))) AS order_sk,
      md5(coalesce(cast(o_orderstatus as varchar), '')) AS status_hash
    FROM orders
    """,
    tags=("scalar", "hash"),
)
def q_hash_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 surrogate keys (dbt `generate_surrogate_key.sql:1-18`,
    generator SHA fingerprints `base.py:146-148`)."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        surrogate_key("o_orderkey", "o_custkey").alias("order_sk"),
        F.md5(F.coalesce(F.col("o_orderstatus").cast("string"), F.lit(""))).alias("status_hash"),
    )


# --- P12: dict-lookup as native expression / broadcast join ---------------

@query(
    "q_lookup_join",
    oracle="""
    SELECT c.c_custkey, n.n_name, r.r_name,
      CASE r.r_name
        WHEN 'AFRICA' THEN 0.12 WHEN 'AMERICA' THEN 0.03
        WHEN 'ASIA' THEN 0.06 WHEN 'EUROPE' THEN 0.02
        ELSE 0.05 END AS region_risk,
      CASE WHEN (CASE r.r_name
        WHEN 'AFRICA' THEN 0.12 WHEN 'AMERICA' THEN 0.03
        WHEN 'ASIA' THEN 0.06 WHEN 'EUROPE' THEN 0.02
        ELSE 0.05 END) > 0.05 THEN true ELSE false END AS is_high_risk_region
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    tags=("join", "lookup"),
)
def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's country-risk dict lookup is a Python UDF
    (`transform_transactions.py:33-48`) — re-expressed as broadcast
    dim joins + a literal CASE ladder so the plan stays wholly inside
    whole-stage codegen (§2.13 policy: zero row-UDFs). The broadcast
    hint keeps the lookup shuffle-free at any scale."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    risk = (
        F.when(F.col("r_name") == "AFRICA", 0.12)
        .when(F.col("r_name") == "AMERICA", 0.03)
        .when(F.col("r_name") == "ASIA", 0.06)
        .when(F.col("r_name") == "EUROPE", 0.02)
        .otherwise(0.05)
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            "n_name",
            "r_name",
            risk.alias("region_risk"),
            (risk > 0.05).alias("is_high_risk_region"),
        )
    )


# --- P9: derived flags -----------------------------------------------------

@query(
    "q_derived_flags",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      l_returnflag <> l_linestatus AS flag_mismatch,
      l_discount >= 0.08 AS big_discount,
      (l_returnflag <> l_linestatus) AND (l_shipdate >= TIMESTAMP '1998-01-01') AS late_mismatch
    FROM lineitem
    """,
    tags=("cleanse",),
)
def q_derived_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality-derived boolean flags — the geo_mismatch pattern
    (`transform_transactions.py:104-108`)."""
    li = read_table(spark, sf_dir, "lineitem")
    mismatch = F.col("l_returnflag") != F.col("l_linestatus")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        mismatch.alias("flag_mismatch"),
        (F.col("l_discount") >= 0.08).alias("big_discount"),
        (mismatch & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))).alias(
            "late_mismatch"
        ),
    )


# --- P16: feature-vector wide projection ----------------------------------

@query(
    "q_feature_vector",
    oracle=f"""
    SELECT o.o_orderkey,
      cast(o.o_orderstatus = 'F' as int) AS label,
      o.o_totalprice AS amount,
      {R6_SQL.format(c='ln(o.o_totalprice + 1)')} AS amount_log,
      CASE WHEN o.o_totalprice < 50 THEN 0 WHEN o.o_totalprice < 200 THEN 1
           WHEN o.o_totalprice < 1000 THEN 2 WHEN o.o_totalprice < 5000 THEN 3
           ELSE 4 END AS tier_encoded,
      coalesce(c.c_acctbal, 0.0) AS acctbal,
      cast(coalesce(c.c_acctbal, 0.0) < 0 as int) AS acctbal_neg,
      CASE c.c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
           WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
           WHEN 'MACHINERY' THEN 4 ELSE -1 END AS segment_encoded,
      coalesce(c.c_nationkey, -1) AS nation_key,
      dayofweek(o.o_orderdate) AS order_dow,
      month(o.o_orderdate) AS order_month,
      cast(dayofweek(o.o_orderdate) IN (0, 6) as int) AS is_weekend,
      cast(o.o_orderpriority IN ('1-URGENT', '2-HIGH') as int) AS is_urgent
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("features",),
)
def q_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide ML-feature projection with per-feature coalesce defaults —
    the 26-column fraud vector shape (`build_fraud_features.py:227-274`)
    reduced to the testdata columns: label, amount features, encoded
    categoricals, calendar features. All numeric, all JVM-native."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    price = F.col("o_totalprice")
    acct = F.coalesce(F.col("c_acctbal"), F.lit(0.0))
    dow = F.dayofweek("o_orderdate") - 1
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey",
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
        price.alias("amount"),
        det_round(F.log(price + 1), 6).alias("amount_log"),
        F.when(price < 50, 0)
        .when(price < 200, 1)
        .when(price < 1000, 2)
        .when(price < 5000, 3)
        .otherwise(4)
        .alias("tier_encoded"),
        acct.alias("acctbal"),
        (acct < 0).cast("int").alias("acctbal_neg"),
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", 0)
        .when(F.col("c_mktsegment") == "BUILDING", 1)
        .when(F.col("c_mktsegment") == "FURNITURE", 2)
        .when(F.col("c_mktsegment") == "HOUSEHOLD", 3)
        .when(F.col("c_mktsegment") == "MACHINERY", 4)
        .otherwise(-1)
        .alias("segment_encoded"),
        F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nation_key"),
        dow.alias("order_dow"),
        F.month("o_orderdate").alias("order_month"),
        dow.isin(0, 6).cast("int").alias("is_weekend"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("is_urgent"),
    )
