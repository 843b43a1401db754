"""Dataset-assembly queries (training-pipeline extensions): splits,
stratified sampling, sequence packing. Hash-based determinism means
even the *sampling* queries hash-match the DuckDB oracle — no RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.sampling import (
    greedy_pack_sequences,
    hash_split,
    pack_sequences,
    stratified_sample,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import H60_SQL
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

H60_ID = H60_SQL.format(x="doc_id::VARCHAR")


@query(
    "q_train_test_split",
    oracle=f"""
    WITH b AS (SELECT doc_id, lang, {H60_ID} % 100 AS bucket FROM documents)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
    tags=("ext", "sampling"),
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test by content-hash bucket — stable across
    reruns and appends (a doc never changes split), row-local, no
    RNG. Grouped by lang to show split balance per class."""
    d = hash_split(read_table(spark, sf_dir, "documents"))
    return d.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "q_stratified_sample",
    oracle=f"""
    WITH b AS (SELECT doc_id, lang, {H60_ID} % 10000 AS bucket FROM documents)
    SELECT doc_id, lang FROM b
    WHERE (lang = 'en' AND bucket < 2500)
       OR (lang = 'de' AND bucket < 5000)
       OR (lang = 'zh' AND bucket < 10000)
    """,
    tags=("ext", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-conditional downsampling (en 25%, de 50%,
    zh 100%, others dropped) via hash thresholds — reproducible class
    rebalancing without `sampleBy`'s partition-layout-dependent RNG."""
    d = read_table(spark, sf_dir, "documents")
    return stratified_sample(
        d, "lang", {"en": 0.25, "de": 0.50, "zh": 1.0}
    ).select("doc_id", "lang")


@query(
    "q_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             sum(least(n_tokens, 512)) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor((cum - least(n_tokens, 512)) / 512) AS BIGINT) AS pack_id
    FROM c
    """,
    tags=("ext", "sampling", "window"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-offset packing of documents into 512-token shards per
    language (ext/sampling.pack_sequences closed form) — one window
    shuffle on the group key; the SQL twin is the same cumulative
    sum."""
    d = read_table(spark, sf_dir, "documents")
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import tokens

    t = d.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_sequences(t, "n_tokens", 512, group_cols=["lang"], order_col="doc_id")


@query(
    "q_greedy_packing",
    oracle="""
    WITH RECURSIVE t AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    walk AS (
      SELECT lang, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS pack_id,
             CAST(CASE WHEN n_tokens >= 512 THEN 1 ELSE 0 END AS BIGINT) AS nxt,
             CAST(CASE WHEN n_tokens >= 512 THEN 0 ELSE n_tokens END AS BIGINT) AS used
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN w.used > 0 AND w.used + t.n_tokens > 512
                  THEN w.nxt + 1 ELSE w.nxt END AS pack_id,
             CASE WHEN t.n_tokens >= 512
                  THEN (CASE WHEN w.used > 0 AND w.used + t.n_tokens > 512
                             THEN w.nxt + 1 ELSE w.nxt END) + 1
                  ELSE (CASE WHEN w.used > 0 AND w.used + t.n_tokens > 512
                             THEN w.nxt + 1 ELSE w.nxt END) END AS nxt,
             CASE WHEN t.n_tokens >= 512 THEN 0
                  ELSE (CASE WHEN w.used > 0 AND w.used + t.n_tokens > 512
                             THEN 0 ELSE w.used END) + t.n_tokens END AS used
      FROM t JOIN walk w ON t.lang = w.lang AND t.rn = w.rn + 1
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens, pack_id
    FROM walk
    """,
    tags=("ext", "sampling"),
)
def q_greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-budget greedy packing (next-fit, ≤512 tokens per pack)
    via applyInPandas — the running reset is not a closed-form
    window, so the DuckDB oracle unrolls the identical fold as a
    recursive CTE walking each lang's docs in doc_id order (the
    engine's _bf_oracle convention for iterative ops): state =
    (current pack id, tokens used), new pack when the next doc would
    overflow, ≥budget docs get a singleton pack. Invariants also
    pytest-pinned (test_sampling.py)."""
    d = read_table(spark, sf_dir, "documents")
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import tokens

    t = d.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return greedy_pack_sequences(t, "n_tokens", 512, group_col="lang")


# --- k-fold cross-validation assignment ------------------------------------

KFOLDS = 5


@query(
    "q_kfold",
    oracle=f"""
    WITH b AS (SELECT doc_id, lang, {H60_ID} % {KFOLDS} AS fold FROM documents)
    SELECT CAST(fold AS BIGINT) AS fold, lang, count(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
    tags=("ext", "sampling"),
)
def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment (k=5) by content-hash
    bucket — the train/test splitter generalized: fold = h(id) mod k
    is disjoint and exhaustive BY CONSTRUCTION (every id lands in
    exactly one fold), stable across reruns and appends, row-local,
    no RNG. Grouped by lang to expose per-class fold balance — at any
    scale this is one map-side-combined agg over a pure projection."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60

    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.pmod(hash60(F.col("doc_id").cast("string")), F.lit(KFOLDS))
            .cast("long")
            .alias("fold"),
            "lang",
        )
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
