"""Unit tests for the round-3 relational / behavioral / corpus
queries — semantic invariants and plan shapes the DuckDB oracle
can't express (the oracle gate itself runs in tools/selfcheck.py and
the driver's correctness pass).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry


@pytest.fixture(scope="module")
def qs():
    return registry.all_queries()


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_semi_anti_partition_customers(spark, sf_dir, qs):
    """Semi ∪ anti = every customer exactly once (same build side)."""
    semi = qs["q_semi_join"](spark, sf_dir).count()
    anti = qs["q_anti_join"](spark, sf_dir).count()
    total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert semi + anti == total


def test_semi_anti_are_join_plans(spark, sf_dir, qs):
    p_semi = _plan(qs["q_semi_join"](spark, sf_dir))
    p_anti = _plan(qs["q_anti_join"](spark, sf_dir))
    assert "LeftSemi" in p_semi
    assert "LeftAnti" in p_anti


def test_returned_revenue_is_topk_not_full_sort(spark, sf_dir, qs):
    """LIMIT after ORDER BY must plan as TakeOrderedAndProject —
    a per-partition heap, never a global sort of the aggregate."""
    p = _plan(qs["q_returned_revenue"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_unpivot_is_single_scan_expand(spark, sf_dir, qs):
    """Native unpivot = ONE lineitem scan + Expand (the UNION ALL
    oracle text reads the table four times; the engine must not)."""
    import re

    p = _plan(qs["q_unpivot"](spark, sf_dir))
    assert "Expand" in p
    # formatted explain prints each node twice (tree + detail); count
    # the numbered detail headers.
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_running_total_monotone_per_customer(spark, sf_dir, qs):
    df = qs["q_running_total"](spark, sf_dir)
    bad = (
        df.withColumn(
            "_prev",
            F.lag("running_spend").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("o_custkey")
                .orderBy("order_date", "o_orderkey")
            ),
        )
        .filter(F.col("_prev").isNotNull() & (F.col("running_spend") < F.col("_prev")))
        .count()
    )
    assert bad == 0


def test_funnel_monotone(spark, sf_dir, qs):
    rows = {r["stage_no"]: r["n_users"] for r in qs["q_event_funnel"](spark, sf_dir).collect()}
    assert rows[1] >= rows[2] >= rows[3] >= 0


def test_rfm_scores_in_range(spark, sf_dir, qs):
    df = qs["q_rfm_segments"](spark, sf_dir)
    out = df.agg(
        F.min("r_score"), F.max("r_score"),
        F.min("f_score"), F.max("f_score"),
        F.min("m_score"), F.max("m_score"),
    ).collect()[0]
    assert min(out) >= 1 and max(out) <= 4


def test_winsorize_bounds(spark, sf_dir, qs):
    """Clamped values never exceed the per-type band; unclamped rows
    keep their original value."""
    df = qs["q_winsorize"](spark, sf_dir)
    changed_but_unclamped = df.filter(
        (F.col("clamped") == 0) & (F.col("value") != F.col("value_winsorized"))
    ).count()
    assert changed_but_unclamped == 0


def test_dedup_pipeline_drops_only_cluster_members(spark, sf_dir, qs):
    """Survivors + dropped = corpus; every dropped doc belongs to a
    cluster whose representative survived."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    survivors = qs["q_dedup_pipeline"](spark, sf_dir)
    clusters = D.dup_clusters(docs, "doc_id", "text")
    n_dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).count()
    assert survivors.count() == docs.count() - n_dropped
    reps = set(
        r["cluster_id"] for r in clusters.select("cluster_id").distinct().collect()
    )
    kept = set(r["doc_id"] for r in survivors.select("doc_id").collect())
    assert reps <= kept


def test_knn_vote_one_row_per_query(spark, sf_dir, qs):
    df = qs["q_knn_label_vote"](spark, sf_dir)
    n_queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 50)
        .count()
    )
    assert df.count() == n_queries
    assert df.select("query_id").distinct().count() == n_queries


def test_salted_agg_matches_plain(spark, sf_dir, qs):
    """Salting must be semantically invisible (the oracle asserts the
    same at sf0.01; this is the fast local pin)."""
    plain = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    salted = qs["q_salted_agg"](spark, sf_dir).select("user_id", "n_events")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_pagerank_mass_conserved(spark, sf_dir, qs):
    """Bidirectional graph with no dangling nodes: total rank mass
    stays 1 (up to the output rounding) after every round."""
    total = (
        qs["q_pagerank"](spark, sf_dir)
        .agg(F.sum("pagerank").alias("s"))
        .collect()[0]["s"]
    )
    assert abs(total - 1.0) < 1e-4


def test_cms_overestimates_only(spark, sf_dir, qs):
    """CMS invariant: estimate ≥ exact for every probed token."""
    bad = (
        qs["q_cms_heavy_hitters"](spark, sf_dir)
        .filter(F.col("overestimate") < 0)
        .count()
    )
    assert bad == 0


def test_kmv_estimate_close(spark, sf_dir, qs):
    """KMV with k=64 on ~1500 distinct keys: relative error is loose
    (1/√k ≈ 12.5%) but must be bounded."""
    row = qs["q_kmv_distinct"](spark, sf_dir).collect()[0]
    assert row["rel_error"] < 0.5


def test_bloom_prune_superset_and_invisible(spark, sf_dir, qs):
    """The pruned set contains every true match (no false negatives);
    the full query equals the unpruned join (oracle asserts the same
    at sf0.01 — this is the fast structural pin)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.bloom import bloom_build, bloom_prune
    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    bits = bloom_build(o, "o_orderkey")
    pruned = bloom_prune(li, "l_orderkey", bits)
    true_matches = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
    # no false negatives: every true match survives pruning
    assert true_matches.exceptAll(
        pruned.select(*true_matches.columns)
    ).count() == 0
    # pruning actually prunes (not a pass-through)
    assert pruned.count() < li.count()
