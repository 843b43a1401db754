"""Bucketed co-located joins — the big-join scale lever (SCALE.md):
two fact-sized tables bucketed on the join key join WITHOUT any
exchange, because bucket layout already satisfies the join's
distribution requirement."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def no_broadcast(spark):
    """Force the join planner away from broadcast so the test shows
    the bucketing effect (broadcast would hide the shuffle anyway)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark, sf_dir, no_broadcast):
    # warehouse dir is set at session build (session.get_spark).
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")
    # the in-memory catalog forgets tables across sessions but their
    # files persist — clear stale locations so saveAsTable can recreate
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_bkt", "customer_bkt"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    (
        orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("orders_bkt")
    )
    (
        customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("customer_bkt")
    )
    joined = spark.table("orders_bkt").join(
        spark.table("customer_bkt"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "o_custkey", "c_name")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join still shuffled"

    # correctness: same result as the plain (shuffling) join
    want = orders.join(customer, orders.o_custkey == customer.c_custkey).count()
    assert joined.count() == want


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_edges_make_graph_round_exchange_free_on_edge_side(
    spark, sf_dir, no_broadcast
):
    """The 100 TB claim in the q_pagerank*/q_hits/q_bfs_distance
    docstrings ('edges bucketed by src'), made checkable (VERDICT r11
    #3): once |nodes| outgrows the broadcast threshold, the per-round
    edges⋈scores join goes sort-merge — and with the edge table
    WRITTEN bucketed by src, the round join plans with NO Exchange
    above the edge scan. Only the (|nodes|-sized, per-round-changing)
    scores side shuffles; the edge table — the 100 TB side — is read
    in place every round. The unbucketed twin shuffles BOTH sides."""
    import shutil

    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_heavy import _trade_graph

    edges = _trade_graph(spark, sf_dir)
    # PageRank round-0 state: uniform 1/|nodes| ranks and out-degrees
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = nodes.crossJoin(
        F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n")))
    ).select("node", (F.lit(1.0) / F.col("n")).alias("rank"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("outdeg"))
    spark.sql("DROP TABLE IF EXISTS trade_edges_bkt")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/trade_edges_bkt", ignore_errors=True)
    (
        edges.write.bucketBy(8, "src").sortBy("src")
        .mode("overwrite").saveAsTable("trade_edges_bkt")
    )
    edges_bkt = spark.table("trade_edges_bkt")

    # the per-round moving side: scores + outdeg keyed by src (what a
    # real deployment maintains as one frame so each round is ONE
    # join). Materialized first — in the iterative loop this frame IS
    # the previous round's output, so its build lineage is not part
    # of the round-join plan under test.
    scores = (
        ranks.join(deg, "node")
        .select(F.col("node").alias("src"), "rank", "outdeg")
        .localCheckpoint()
    )

    def round_join(e):
        return e.join(scores, "src").select(
            "dst",
            (F.col("rank") / F.col("outdeg")).cast("decimal(28,14)").alias("c"),
        )

    import re

    def n_exchanges(plan: str) -> int:
        # formatted explain lists each operator twice (tree + detail
        # section) — count the unique "(N) Exchange" detail headers
        return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))

    plan_bkt = _plan_of(round_join(edges_bkt))
    plan_plain = _plan_of(round_join(edges))
    assert "SortMergeJoin" in plan_bkt
    assert "Bucketed: true" in plan_bkt  # the edge scan reads bucket layout
    # bucketed: ONE exchange (scores side only); plain: both sides
    assert n_exchanges(plan_bkt) == 1, plan_bkt
    assert n_exchanges(plan_plain) >= 2, plan_plain

    # and the contribution aggregate itself is identical either way
    agg = lambda e: {  # noqa: E731
        r["dst"]: str(r["s"])
        for r in round_join(e).groupBy("dst").agg(F.sum("c").alias("s")).collect()
    }
    assert agg(edges_bkt) == agg(edges)
