"""Heavy benchmark anchors — TPC-H-shaped pricing summary (Q1) and
shipping priority (Q3) analogs over the full lineitem table.

These are the two classic stress shapes the rest of the suite doesn't
exercise at full weight: a 4-expression arithmetic chain over every
lineitem row (scan + map-side aggregation throughput), and a
3-way fact join with selective date filters and a top-k (join
ordering + pushdown + partial topK). They anchor BENCH at sf0.1
(lineitem ~600k rows) and are the queries whose plans matter most at
100 TB — see the plan assertions in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R4_SQL, WIDE_SUM_SQL, det_round
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import (
    cust_supp,
    note_dropped_checkpoints,
    shared_frame,
    trade_graph_sql,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


@query(
    "q_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {WIDE_SUM_SQL.format(c='l_quantity')} AS sum_qty,
           {WIDE_SUM_SQL.format(c='l_extendedprice')} AS sum_base_price,
           {WIDE_SUM_SQL.format(c=R4_SQL.format(c='l_extendedprice * (1 - l_discount)'))} AS sum_disc_price,
           {WIDE_SUM_SQL.format(c=R4_SQL.format(c='l_extendedprice * (1 - l_discount) * (1 + l_tax)'))} AS sum_charge,
           {R4_SQL.format(c=WIDE_SUM_SQL.format(c='l_quantity') + ' / count(*)')} AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("aggregate", "heavy"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-lineitem scan, date predicate pushed to
    parquet, 4 chained-arithmetic decimal sums + derived mean, 2-key
    group (6 groups → the shuffle is bytes; throughput is pure scan +
    map-side combine). Decimal(38,4) accumulators keep the chained
    products order-free."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    dec = lambda c: c.cast("decimal(38,4)")
    # chained double products are rounded with the portable floor
    # formula BEFORE decimal accumulation: double->decimal casts use
    # different tie-breaking across engines (HALF_UP vs half-even),
    # which drifts over 600k rows; det_round is bit-identical.
    disc_price = dec(det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
    charge = dec(det_round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 4
    ))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        det_round(
            F.sum(dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg


@query(
    "q_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {WIDE_SUM_SQL.format(c=R4_SQL.format(c='l.l_extendedprice * (1 - l.l_discount)'))} AS revenue,
           cast(o.o_orderdate as date) AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("join", "heavy"),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on all three tables (pushed
    to each scan), customer⋈orders⋈lineitem, revenue aggregate per
    order, deterministic top-10 (revenue DESC, key). At scale the
    filtered customer side broadcasts and AQE re-plans the
    orders⋈lineitem side from runtime stats; TakeOrderedAndProject
    replaces a global sort for the LIMIT."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
    )
    rev = det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(38,4)")
    agg = joined.groupBy(
        "l_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_orderpriority",
    ).agg(F.sum(rev).cast("double").alias("revenue"))
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10).select(
        "l_orderkey", "revenue", "order_date", "o_orderpriority"
    )


@query(
    "q_market_share",
    oracle=f"""
    WITH flat AS (
      SELECT year(cast(o.o_orderdate as date)) AS o_year,
             {R4_SQL.format(c='l.l_extendedprice * (1 - l.l_discount)')} AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN region r   ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'AMERICA'
        AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= DATE '1995-01-01'
        AND o.o_orderdate < DATE '1998-01-01'
    )
    SELECT o_year,
      {WIDE_SUM_SQL.format(c="CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END")}
        AS nation_volume,
      {WIDE_SUM_SQL.format(c='volume')} AS total_volume,
      {R4_SQL.format(c=(
          WIDE_SUM_SQL.format(c="CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END")
          + ' / ' + WIDE_SUM_SQL.format(c='volume')
      ))} AS mkt_share
    FROM flat
    GROUP BY 1
    """,
    tags=("aggregate", "join", "heavy"),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style market share: one supplier nation's slice of a
    region's ECONOMY-part revenue per order year — the widest join in
    the suite (lineitem × orders × customer × nation × region ×
    supplier × nation × part). Everything but the two facts is
    dim-sized and broadcasts; Catalyst orders the join chain and
    pushes the region/type/date filters into the scans, which is the
    whole 100 TB story: the only real shuffle is lineitem ⋈ orders."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = read_table(spark, sf_dir, "supplier")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    ns = n.select(
        F.col("n_nationkey").alias("s_natkey"), F.col("n_name").alias("supp_nation")
    )
    flat = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == ns["s_natkey"])
        .select(
            F.year(F.col("o_orderdate")).alias("o_year"),
            det_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("volume"),
            "supp_nation",
        )
    )
    dec = lambda c: c.cast("decimal(38,4)")
    nation_vol = F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(0.0)
    agg = flat.groupBy("o_year").agg(
        F.sum(dec(nation_vol)).cast("double").alias("nation_volume"),
        F.sum(dec(F.col("volume"))).cast("double").alias("total_volume"),
    )
    return agg.select(
        "o_year",
        "nation_volume",
        "total_volume",
        det_round(F.col("nation_volume") / F.col("total_volume"), 4).alias("mkt_share"),
    )


# --- unrolled PageRank (iterative algorithm surface) -----------------------

PR_ITERS = 3
PR_DAMP = 0.85
# Contribution quantizer: decimal(28,14) makes the per-node sums exact
# and order-independent (the same associativity trick as the money
# sums; a raw double sum would depend on partition order).
_C14 = "cast({x} as decimal(28,14))"

#: Hash-partition count of the resident trade edge tables (by dst).
#: ClusteredDistribution is satisfied by ANY hash-partition count on
#: dst, so the per-round groupBy(dst) skips its Exchange at 8 just as
#: at 32 — and the node-sized rounds then run 8 tasks instead of 32
#: mostly-empty ones (measured q_pagerank 4.07 s at 32). On a cluster
#: the analog is the edge table's bucket count, never the local core
#: count.
EDGE_PARTS = 8


def _pr_oracle() -> str:
    its = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        its.append(f"""
    it{k} AS (
      SELECT e.dst AS node,
             0.15 / s.n + {PR_DAMP} * cast(sum({_C14.format(x='r.rank / d.outdeg')}) as double) AS rank
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN deg d ON d.node = e.src
      CROSS JOIN stats s
      GROUP BY e.dst, s.n
    )""")
        prev = f"it{k}"
    return f"""
    WITH {trade_graph_sql()},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    stats AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
    r0 AS (SELECT node, 1.0 / s.n AS rank FROM nodes CROSS JOIN stats s),
    {','.join(its)}
    SELECT node, (floor(rank * 100000000.0 + 0.5) / 100000000.0) AS pagerank
    FROM {prev}
    """


@query(
    "q_pagerank",
    oracle=_pr_oracle(),
    tags=("graph", "iterative", "heavy"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled iterations) over the
    bidirectional supplier↔customer trade graph (suppliers carry
    -(key+1) ids — negation alone would collide supplier 0 with
    customer 0; both key spaces start at 0). The iterative-algorithm
    shape beyond connected components: each round is one edges⋈ranks
    join + per-dst aggregation — contributions quantized through
    decimal(28,14) so the sums are associative and layout-independent,
    which is what lets a fixed-point float algorithm hash-match an
    oracle at all. Fixed iteration count (no convergence action), so
    the whole 3-round plan is ONE lazy DAG: Catalyst sees it end to
    end, and the per-round shuffles reuse the same (node) partitioning.
    At 100 TB: localCheckpoint every ~5 rounds to cap lineage (the
    dup_clusters pattern), keep edges bucketed by src."""
    edges = _trade_graph(spark, sf_dir)
    # r16 (guide §2.4/§1.2): collect |nodes| once, prejoin outdeg
    # once, checkpoint round-0 ranks — each round is then one BHJ +
    # one agg over the dst-partitioned resident edges with NO
    # stats/nodes subtree re-execution. 23 → 10 jobs, same output hash.
    e2 = _with_outdeg(edges)
    n, ranks = _pr_start(edges)
    for _ in range(PR_ITERS):
        ranks = _pr_round(e2, n, ranks)
    return ranks.select("node", det_round(F.col("rank"), 8).alias("pagerank"))


def _trade_graph(spark, sf_dir, year: int | None = None) -> DataFrame:
    """Bidirectional supplier↔customer trade graph (src, dst),
    materialized once per process via shared_frames — PageRank, its
    convergence twin, personalized PageRank and BFS all iterate over
    the same table, and within one query the distinct-pair join feeds
    every round plus the outdegrees and the node set. ``year``
    restricts to one order year (partition-prunable at scale) for the
    convergence variant's smaller per-round scans; the unfiltered
    graph derives from the shared cust_supp distinct instead of
    re-joining the facts. shared_frames.trade_graph_sql is the DuckDB
    twin."""

    def build_edges() -> DataFrame:
        if year is None:
            pairs = cust_supp(spark, sf_dir).select(
                (-(F.col("supp") + 1)).alias("s_node"), F.col("cust").alias("c_node")
            )
        else:
            li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
            o = (
                read_table(spark, sf_dir, "orders")
                .filter(F.year("o_orderdate") == year)
                .select("o_orderkey", "o_custkey")
            )
            pairs = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .select(
                    (-(F.col("l_suppkey") + 1)).alias("s_node"),
                    F.col("o_custkey").alias("c_node"),
                )
                .distinct()
            )
        # r16: hash-partition the resident edge table by dst (the
        # per-round aggregation key of every PageRank round) and A/B
        # the storage mode (guide §1.2 empirical loop). persist keeps
        # the dst layout visible to Catalyst (no per-round Exchange),
        # but at bench scale the InMemoryRelation re-scan per round
        # measured SLOWER than the checkpointed RDD + one tiny
        # AQE-coalesced exchange per round (pagerank 2.3 s checkpoint
        # vs 2.5-3.0 s persist; PPR likewise) — so this table keeps
        # the default checkpoint storage (the 100 TB analog is a
        # dst-bucketed edge table, where the no-Exchange layout always
        # wins; q_pagerank_converge's 40-round table persists for
        # exactly that reason).
        return (
            pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
            .unionByName(pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst")))
            .repartition(EDGE_PARTS, "dst")
        )

    return shared_frame(spark, sf_dir, f"trade_edges_{year}", build_edges)


def _with_outdeg(edges: DataFrame) -> DataFrame:
    """``edges`` with each src's out-degree prejoined as ``outdeg``
    (one |nodes|-sized broadcast, once per query, not per round)."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return edges.join(F.broadcast(deg), "src")


def _pr_start(edges: DataFrame) -> tuple[int, DataFrame]:
    """PageRank round 0: the node count, collected once (the
    sanctioned tiny scalar collect, the select_kth/IVF-centroid
    class), and the uniform 1/n ranks behind a localCheckpoint so no
    round re-executes the nodes-distinct subtree."""
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.agg(F.count(F.lit(1)).alias("n")).first()["n"]
    ranks = nodes.select("node", F.lit(1.0 / n if n else 0.0).alias("rank"))
    return n, ranks.localCheckpoint()


def _pr_round(edges, n: int, ranks, damp: float = PR_DAMP, teleport: float = 0.15):
    """One PageRank power-iteration round over ``edges`` with
    ``outdeg`` prejoined (:func:`_with_outdeg`) and the collected node
    count ``n``. Ranks are |nodes|-sized (≪ edges) — broadcast so
    each round is one scan of the resident edge table plus a
    partial-agg shuffle of (dst, contribution) pairs; contributions
    quantize through decimal(28,14) for layout-independent sums.
    ``teleport`` is passed as its own literal (not computed as
    1-damp) because 1.0-0.85 differs from the literal 0.15 in the
    last ulp — and the oracle hash sees that ulp.

    r16: the teleport term is the Python double ``teleport / n`` —
    the same bigint→double division the per-row lit/col form ran,
    bit-identical — so no round carries a node-count
    BroadcastNestedLoopJoin, whose nodes-distinct lineage AQE re-ran
    as extra query-stage jobs per action (measured on q_pagerank:
    23 → 10 jobs, identical output hash). n == 0 (empty graph) is
    guarded: the frame is rowless there, so the value is unreachable,
    and a folded 0-division literal would raise."""
    contrib = (
        edges.join(F.broadcast(ranks.withColumnRenamed("node", "src")), "src")
        .select(
            "dst",
            (F.col("rank") / F.col("outdeg")).cast("decimal(28,14)").alias("c"),
        )
    )
    agg = contrib.groupBy(F.col("dst").alias("node")).agg(
        F.sum("c").cast("double").alias("_s")
    )
    tele_n = teleport / n if n else 0.0
    return agg.select(
        "node",
        (F.lit(tele_n) + F.lit(damp) * F.col("_s")).alias("rank"),
    )


#: Convergence-variant parameters. The power iteration contracts by
#: the damping factor per round, so rounds-to-eps ≈ log(eps)/log(d):
#: d=0.85 needs ~80 rounds for 1e-7 (measured: 4.7e-4 after 30) —
#: fine on a cluster, hostile in a per-round-action local bench.
#: d=0.5 converges to 1e-6 in ~15 rounds and exercises the identical
#: loop/checkpoint/convergence-action machinery; the damping is a
#: plain parameter of _pr_round either way.
PR_CONV_DAMP = 0.5
PR_CONV_YEAR = 1996  # convergence variant runs on one year's trade slice
PR_EPS = 1e-6
PR_MAX_ITERS = 40
PR_CHECK_EVERY = 3  # rounds between convergence actions (lazy in between)


def _pr_conv_oracle() -> str:
    """DuckDB oracle for the convergence-driven loop: a recursive CTE
    whose recursive term performs PR_CHECK_EVERY unrolled PageRank
    rounds per step (the engine's rounds between convergence actions),
    computes the L-inf delta against the previous checkpoint via a
    window max, and recurses only while `delta >= PR_EPS AND it <
    PR_MAX_ITERS` — exactly the engine's `while done < PR_MAX_ITERS …
    break if delta < PR_EPS` loop, so the trip count is data-driven on
    BOTH sides (no SF-calibrated constant). Per-round arithmetic is
    verbatim `_pr_oracle`'s proven pattern (decimal(28,14)-quantized
    contributions → layout-independent sums → bit-identical doubles),
    which is what makes the float comparison `delta < eps` decide
    identically in both engines."""
    # innermost round reads the (still-running) previous checkpoint
    round_sql = (
        "SELECT e.dst AS node, "
        f"{PR_CONV_DAMP} / s.n + {PR_CONV_DAMP} * "
        "cast(sum(cast(r.rank / d.outdeg AS decimal(28,14))) AS double) AS rank\n"
        "      FROM edges e\n"
        "      JOIN ({prev}) r ON r.node = e.src\n"
        "      JOIN deg d ON d.node = e.src\n"
        "      CROSS JOIN stats s\n"
        "      GROUP BY e.dst, s.n"
    )
    prev = f"SELECT node, rank FROM pr WHERE delta >= {PR_EPS} AND it < {PR_MAX_ITERS}"
    for _ in range(PR_CHECK_EVERY):
        prev = round_sql.format(prev=prev)
    return f"""
    WITH RECURSIVE {trade_graph_sql(year=PR_CONV_YEAR)},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    stats AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
    pr(it, node, rank, delta) AS (
      SELECT 0, node, 1.0 / s.n, 1e9 FROM nodes CROSS JOIN stats s
      UNION ALL
      SELECT b.it + {PR_CHECK_EVERY}, r3.node, r3.rank,
             max(abs(r3.rank - b.rank)) OVER () AS delta
      FROM ({prev}) r3
      JOIN pr b ON b.node = r3.node
    )
    SELECT node,
           (floor(rank * 100000000.0 + 0.5) / 100000000.0) AS pagerank,
           CAST(it AS BIGINT) AS rounds_run,
           delta < {PR_EPS} AS converged
    FROM pr
    WHERE it = (SELECT max(it) FROM pr)
    """


@query(
    "q_pagerank_converge",
    oracle=_pr_conv_oracle(),
    tags=("graph", "iterative", "heavy"),
)
def q_pagerank_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence-driven PageRank: iterate until no node's rank moves
    by more than PR_EPS (L∞), capped at PR_MAX_ITERS — the production
    form of q_pagerank's fixed-round twin (ROADMAP round-5 item 3).
    Convergence is checked every PR_CHECK_EVERY rounds (amortizing the
    driver action; the rounds in between stay one lazy DAG), and each
    checked round localCheckpoints to truncate lineage — without it
    the plan doubles per round and Catalyst analysis dominates by
    round ~10. At 100 TB the per-round cost is identical to
    q_pagerank's; the convergence action adds a |nodes|-row
    broadcast-join aggregate, negligible next to the edge scan.

    Two local-bench-motivated (and cluster-valid) round-cost cuts vs
    the fixed twin: the graph is the 1996 trade slice (a prunable
    year predicate — convergence semantics unchanged), and outdegrees
    prejoin into the resident edge table ONCE instead of
    re-broadcasting every round."""
    base_edges = _trade_graph(spark, sf_dir, year=PR_CONV_YEAR)
    edges = shared_frame(
        spark,
        sf_dir,
        f"trade_edges_{PR_CONV_YEAR}_outdeg",
        # outdegrees prejoined ONCE into the resident edge table;
        # small table, many rounds: fewer partitions beat per-task
        # overhead. r16: hash-partitioned by dst (was coalesce(8)) and
        # persisted so every round's groupBy(dst) reuses the layout —
        # zero per-round Exchange (guide §2.4; the bucketed-edge
        # layout SCALE.md already argues for at 100 TB).
        lambda: _with_outdeg(base_edges).repartition(EDGE_PARTS, "dst"),
        storage="persist",
    )
    n, ranks = _pr_start(base_edges)
    done = 0
    converged = False
    while done < PR_MAX_ITERS:
        new_ranks = ranks
        for _ in range(PR_CHECK_EVERY):
            new_ranks = _pr_round(edges, n, new_ranks, PR_CONV_DAMP, teleport=0.5)
        new_ranks = new_ranks.localCheckpoint()
        done += PR_CHECK_EVERY
        delta = (
            new_ranks.join(
                F.broadcast(ranks.select("node", F.col("rank").alias("_old"))), "node"
            )
            .agg(F.max(F.abs(F.col("rank") - F.col("_old"))).alias("d"))
            .collect()[0]["d"]
        )
        ranks = new_ranks
        if delta is not None and delta < PR_EPS:
            converged = True
            break
    note_dropped_checkpoints(spark)  # per-round checkpoints dropped above
    return ranks.select(
        "node",
        det_round(F.col("rank"), 8).alias("pagerank"),
        # loop telemetry, so the adaptive trip count itself is under
        # the oracle hash (VERDICT r6 #2): both engines must agree on
        # WHEN the L-inf delta first dropped below PR_EPS, not just on
        # the final ranks.
        F.lit(done).cast("long").alias("rounds_run"),
        F.lit(bool(converged)).alias("converged"),
    )


# --- TPC-H Q7-style nation-pair trade volume -------------------------------

@query(
    "q_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {WIDE_SUM_SQL.format(c='volume')} AS revenue
    FROM (
      SELECT ns.n_name AS supp_nation,
             nc.n_name AS cust_nation,
             year(cast(l.l_shipdate as date)) AS l_year,
             {R4_SQL.format(c='l.l_extendedprice * (1 - l.l_discount)')} AS volume
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      WHERE l.l_shipdate >= DATE '1996-01-01'
        AND l.l_shipdate < DATE '1998-01-01'
        AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
          OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
    )
    GROUP BY 1, 2, 3
    """,
    tags=("aggregate", "join", "heavy"),
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations per
    ship year (reference analog: the cross-country revenue rollups in
    `revenue_aggregations.py`). The nation-pair disjunction lives on
    the two BROADCAST nation dims, so at 100 TB the plan is: shipdate
    range pushed into the lineitem scan, one lineitem ⋈ orders
    shuffle, then dim hash-joins with the pair filter applied before
    the final 3-key aggregate (a handful of groups → bytes)."""
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    nc = n.select(F.col("n_nationkey").alias("c_natkey"), F.col("n_name").alias("cust_nation"))
    ns = n.select(F.col("n_nationkey").alias("s_natkey"), F.col("n_name").alias("supp_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    flat = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_natkey"))
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_natkey"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("volume"),
        )
    )
    return flat.groupBy("supp_nation", "cust_nation", "l_year").agg(
        F.sum(F.col("volume").cast("decimal(38,4)")).cast("double").alias("revenue")
    )


# --- TPC-H Q9-style product profit -----------------------------------------

@query(
    "q_product_profit",
    oracle=f"""
    SELECT nation, o_year, {WIDE_SUM_SQL.format(c='amount')} AS sum_profit
    FROM (
      SELECT ns.n_name AS nation,
             year(cast(o.o_orderdate as date)) AS o_year,
             {R4_SQL.format(c='l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * 0.6 * l.l_quantity')} AS amount
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      WHERE p.p_name LIKE '%widget%'
    )
    GROUP BY 1, 2
    """,
    tags=("aggregate", "join", "heavy"),
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape adapted to this schema (no partsupp table:
    supply cost is modeled as 60% of `p_retailprice`): per supplier
    nation and order year, profit on parts whose name matches a
    substring. The LIKE filter lands on the broadcast part dim and
    prunes lineitem through the join; the only big shuffle is
    lineitem ⋈ orders. Profit terms go through det_round then
    decimal(38,4) accumulation so the sum is order-independent."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    ns = n.select(F.col("n_nationkey").alias("s_natkey"), F.col("n_name").alias("nation"))
    amount = det_round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.6) * F.col("l_quantity"),
        4,
    )
    flat = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_natkey"))
        .select(
            "nation",
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
    )
    return flat.groupBy("nation", "o_year").agg(
        F.sum(F.col("amount").cast("decimal(38,4)")).cast("double").alias("sum_profit")
    )


# --- TPC-H Q14-style promotion share ---------------------------------------

@query(
    "q_promo_share",
    oracle=f"""
    SELECT
      {WIDE_SUM_SQL.format(c="CASE WHEN p.p_type = 'PROMO' THEN volume ELSE 0 END")} AS promo_revenue,
      {WIDE_SUM_SQL.format(c='volume')} AS total_revenue,
      {R4_SQL.format(c=(
          '100.0 * ' + WIDE_SUM_SQL.format(c="CASE WHEN p.p_type = 'PROMO' THEN volume ELSE 0 END")
          + ' / ' + WIDE_SUM_SQL.format(c='volume')
      ))} AS promo_pct
    FROM (
      SELECT l_partkey,
             {R4_SQL.format(c='l_extendedprice * (1 - l_discount)')} AS volume
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-03-01' AND l_shipdate < DATE '1997-04-01'
    ) l
    JOIN part p ON l.l_partkey = p.p_partkey
    """,
    tags=("aggregate", "join", "heavy"),
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from PROMO-type
    parts — a single-row conditional-aggregate ratio. The month
    predicate prunes the lineitem scan down to ~1/36 of rows BEFORE
    the broadcast part join; the aggregate is map-side partial into
    one global row, so the shuffle is a handful of bytes. At 100 TB
    the scan range-prunes on the shipdate partition/statistics."""
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = read_table(spark, sf_dir, "part")
    dec = lambda c: c.cast("decimal(38,4)")
    flat = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"]).select(
        "p_type",
        det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("volume"),
    )
    promo = F.when(F.col("p_type") == "PROMO", F.col("volume")).otherwise(0.0)
    agg = flat.agg(
        F.sum(dec(promo)).cast("double").alias("promo_revenue"),
        F.sum(dec(F.col("volume"))).cast("double").alias("total_revenue"),
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        det_round(F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 4).alias("promo_pct"),
    )


# --- TPC-H Q19-style disjunctive bracket revenue ---------------------------

@query(
    "q_bracket_revenue",
    oracle=f"""
    SELECT {WIDE_SUM_SQL.format(c=R4_SQL.format(c='l.l_extendedprice * (1 - l.l_discount)'))} AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1  AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    tags=("aggregate", "join", "heavy"),
)
def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three disjunctive (brand, size,
    quantity) brackets — the classic OR-of-ANDs predicate test. The
    part-only conjuncts (brand ∈ {…}, size ≥ 1) are implied by the
    disjunction and get pushed to the broadcast part scan; the mixed
    part×lineitem residual applies post-join. One global aggregate
    row, so after the broadcast join the plan is pure scan throughput
    — no shuffle of consequence at any scale."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    b = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 25)
            & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#16")
            & F.col("p_size").between(1, 35)
            & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30)
        )
    )
    return joined.filter(b).agg(
        F.sum(
            det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
                "decimal(38,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- breadth-first search (frontier iteration vs recursive-CTE oracle) -----

BFS_ROUNDS = 4


@query(
    "q_bfs_distance",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT -(l_suppkey + 1) AS src, o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      UNION
      SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    walk(node, dist) AS (
      SELECT (SELECT min(o_custkey) FROM orders) AS node, 0 AS dist
      UNION
      SELECT e.dst, w.dist + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.dist < {BFS_ROUNDS}
    )
    SELECT CASE WHEN node < 0 THEN 'supplier' ELSE 'customer' END AS node_type,
           CAST(CASE WHEN node < 0 THEN -node - 1 ELSE node END AS BIGINT) AS node_id,
           CAST(min(dist) AS BIGINT) AS dist
    FROM walk GROUP BY 1, 2
    """,
    tags=("graph", "iterative", "heavy"),
)
def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest hop-distance (≤ {BFS_ROUNDS} hops) from
    the lowest-keyed customer over the bidirectional supplier↔customer
    trade graph — the frontier-iteration shape that emulates SQL's
    recursive CTE (the oracle IS `WITH RECURSIVE`, the one classic
    warehouse construct Spark SQL lacks). Each round: frontier ⋈ edges
    (frontier broadcast — a frontier is ≤ |nodes| ≪ |edges|), then an
    anti-join against the visited set so settled nodes never re-enter,
    then a distinct. Fixed round count keeps the whole loop
    oracle-exact (no convergence action); per-round localCheckpoint
    caps lineage exactly like q_pagerank_converge. At 100 TB: edges
    stay partitioned by src across rounds (one shuffle, reused), the
    visited set grows monotonically and anti-joins shuffle-free while
    it broadcasts; distances are small ints, so BFS traffic is
    ids-only."""
    edges = _trade_graph(spark, sf_dir)
    o = read_table(spark, sf_dir, "orders")
    seed = o.agg(F.min("o_custkey").alias("node")).select(
        "node", F.lit(0).alias("dist")
    )
    dist = seed.localCheckpoint()
    frontier = dist
    for i in range(1, BFS_ROUNDS + 1):
        frontier = (
            edges.join(
                F.broadcast(frontier.select(F.col("node").alias("src"))), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            # r16: the visited set is ≤|nodes| checkpointed rows with
            # unknown stats — without the hint the anti-join was a
            # sort-merge that re-shuffled the frontier every round
            # (the docstring's "anti-joins shuffle-free while it
            # broadcasts" claim, now actually in the plan).
            .join(F.broadcast(dist.select("node")), "node", "left_anti")
            .select("node", F.lit(i).alias("dist"))
            .localCheckpoint()
        )
        # dist is a union of ≤BFS_ROUNDS checkpointed frontiers —
        # already barrier-backed, no second checkpoint action needed.
        dist = dist.unionByName(frontier)
    return dist.select(
        F.when(F.col("node") < 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        F.when(F.col("node") < 0, -F.col("node") - 1)
        .otherwise(F.col("node"))
        .cast("long")
        .alias("node_id"),
        F.col("dist").cast("long").alias("dist"),
    )


# --- HITS hubs & authorities -------------------------------------------------

HITS_ITERS = 2
#: normalization-sum quantizer — raw scores fold through decimal(28,14)
#: so the L1 totals are associative (the PageRank _C14 discipline).
_H14 = "cast({x} as decimal(28,14))"


def _hits_oracle() -> str:
    steps = []
    prev_hub = "hub0"
    for k in range(1, HITS_ITERS + 1):
        steps.append(f"""
    auth{k}r AS (
      SELECT e.dst AS node, cast(sum({_H14.format(x='h.score')}) as double) AS raw
      FROM edges e JOIN {prev_hub} h ON h.node = e.src GROUP BY 1
    ),
    auth{k} AS (
      SELECT node, raw / (SELECT cast(sum({_H14.format(x='raw')}) as double) FROM auth{k}r) AS score
      FROM auth{k}r
    ),
    hub{k}r AS (
      SELECT e.src AS node, cast(sum({_H14.format(x='a.score')}) as double) AS raw
      FROM edges e JOIN auth{k} a ON a.node = e.dst GROUP BY 1
    ),
    hub{k} AS (
      SELECT node, raw / (SELECT cast(sum({_H14.format(x='raw')}) as double) FROM hub{k}r) AS score
      FROM hub{k}r
    )""")
        prev_hub = f"hub{k}"
    return f"""
    WITH {trade_graph_sql(both_ways=False)},
    hub0 AS (SELECT DISTINCT src AS node, 1.0 AS score FROM edges),
    {','.join(steps)}
    SELECT node, 'hub' AS role, (floor(score * 100000000.0 + 0.5) / 100000000.0) AS score
    FROM hub{HITS_ITERS}
    UNION ALL
    SELECT node, 'authority' AS role, (floor(score * 100000000.0 + 0.5) / 100000000.0) AS score
    FROM auth{HITS_ITERS}
    """


@query(
    "q_hits",
    oracle=_hits_oracle(),
    tags=("graph", "iterative", "heavy"),
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities over the DIRECTED bipartite
    supplier→customer trade graph — the mutual-reinforcement twin of
    q_pagerank (reference parity: the reference ships no graph tier at
    all; this completes the engine's iterative family: PR / BFS /
    Bellman-Ford / CC / HITS). Suppliers are hubs (score ∝ the
    authority of customers they serve), customers are authorities
    (∝ the hub mass pointing at them); each half-round is one
    edges⋈scores join + per-node aggregation with contributions
    quantized through decimal(28,14) (associative, layout-free) and
    L1 normalization via a 1-row broadcast total — float division of
    two exact-decimal-derived doubles, identical IEEE on both
    engines, which is what lets a normalized fixed-point algorithm
    hash-gate. Fixed {HITS_ITERS} rounds, each half-round's
    |nodes|-sized state behind a localCheckpoint (see the comment in
    half_round). At 100 TB: edges bucketed by src; scores are
    |nodes|-sized and broadcast."""
    pairs = cust_supp(spark, sf_dir).select(
        (-(F.col("supp") + 1)).alias("src"), F.col("cust").alias("dst")
    )
    edges = pairs
    hub = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0).alias("score")
    )
    d14 = lambda c: c.cast("decimal(28,14)")

    def half_round(frontier: DataFrame, join_col: str, out_col: str) -> DataFrame:
        # The raw per-node sums feed BOTH the L1 total and the final
        # select; without a materialization barrier those two branches
        # re-execute the edges join, and the doubling COMPOUNDS per
        # half-round (2^4 edge scans at 2 iterations — measured 4.4 s
        # before, 2.7 s after at sf0.1). localCheckpoint of the |nodes|-sized
        # raw frame is the pagerank_converge discipline: per-round
        # state is tiny, the edge table stays resident.
        raw = (
            # r16: the score frame is |nodes|-sized (the documented
            # broadcast-class state) but reaches here as a
            # localCheckpoint with UNKNOWN size stats, so the planner
            # was sort-merge-joining — shuffling the edge table every
            # half-round. An explicit broadcast makes each half-round
            # one streamed pass over the resident edges (guide §3.1:
            # size estimates are often wrong after checkpoints — hint
            # when you know a side is small).
            edges.join(
                F.broadcast(frontier.withColumnRenamed("node", join_col)), join_col
            )
            .groupBy(F.col(out_col).alias("node"))
            .agg(F.sum(d14(F.col("score"))).cast("double").alias("raw"))
            .localCheckpoint()
        )
        tot = raw.agg(F.sum(d14(F.col("raw"))).cast("double").alias("tot"))
        return raw.crossJoin(F.broadcast(tot)).select(
            "node", (F.col("raw") / F.col("tot")).alias("score")
        )

    auth = None
    for _ in range(HITS_ITERS):
        auth = half_round(hub, "src", "dst")
        hub = half_round(auth, "dst", "src")
    note_dropped_checkpoints(spark)  # per-half-round raw checkpoints dropped above
    out_hub = hub.select("node", F.lit("hub").alias("role"), det_round(F.col("score"), 8).alias("score"))
    out_auth = auth.select("node", F.lit("authority").alias("role"), det_round(F.col("score"), 8).alias("score"))
    return out_hub.unionByName(out_auth)


# --- personalized PageRank ----------------------------------------------------

PPR_NATION = 1


def _ppr_oracle() -> str:
    its = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        its.append(f"""
    it{k} AS (
      SELECT coalesce(x.node, t.node) AS node,
             coalesce(t.tele, 0) + {PR_DAMP} * coalesce(x.s, 0) AS rank
      FROM (
        SELECT e.dst AS node,
               cast(sum({_C14.format(x='r.rank / d.outdeg')}) as double) AS s
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY 1
      ) x
      FULL JOIN tele t ON t.node = x.node
    )""")
        prev = f"it{k}"
    return f"""
    WITH {trade_graph_sql()},
    deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
    snodes AS (
      SELECT DISTINCT -(s_suppkey + 1) AS node FROM supplier
      WHERE s_nationkey = {PPR_NATION}
    ),
    sstats AS (SELECT count(*) AS sn FROM snodes),
    tele AS (SELECT node, 0.15 / s.sn AS tele FROM snodes, sstats s),
    r0 AS (SELECT node, 1.0 / s.sn AS rank FROM snodes, sstats s),
    {','.join(its)}
    SELECT node, (floor(rank * 100000000.0 + 0.5) / 100000000.0) AS ppr
    FROM {prev}
    """


@query(
    "q_personalized_pagerank",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative", "heavy"),
)
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at nation-1's suppliers: the
    teleport mass returns to the SOURCE SET instead of spreading
    uniformly, so the fixed point ranks every node by its proximity
    to those suppliers — THE graph-proximity primitive behind
    'customers likely served by this supplier group' recommendations
    (global q_pagerank answers importance; this answers importance TO
    WHOM). Same decimal(28,14)-quantized power iteration and
    fixed-round single-DAG shape as q_pagerank; the only structural
    change is the teleport: a FULL outer join with the |S|-row source
    table (coalesce 0 on both sides) replacing the uniform 0.15/n
    term — full, not left, because on a bipartite graph alternate
    rounds starve one side of in-contributions and the seeds must
    keep their teleport mass regardless. Nodes outside S start at
    rank 0 and are simply absent from r0 (identical join semantics
    both engines)."""
    edges = _trade_graph(spark, sf_dir)
    sup = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == PPR_NATION
    )
    snodes = sup.select((-(F.col("s_suppkey") + 1)).alias("node")).distinct()
    # r16 (same as q_pagerank): |S| as a collected literal and the
    # |S|-row teleport/seed frames checkpointed once — the supplier
    # scan + distinct no longer re-executes inside every round's
    # union branch and broadcast build (sn is a bigint count, so
    # lit(0.15)/lit(sn) is the identical double division).
    sn = snodes.count()
    # Python-side division of doubles is the same IEEE op the old
    # per-row lit/col division ran; guard sn == 0 (empty seed set —
    # both frames are rowless, the value is unreachable) because a
    # folded literal 0.15/0 would raise where the per-row form
    # simply never evaluated.
    tele = snodes.select(
        "node", F.lit(0.15 / sn if sn else 0.0).alias("tele")
    ).localCheckpoint()
    ranks = snodes.select(
        "node", F.lit(1.0 / sn if sn else 0.0).alias("rank")
    ).localCheckpoint()
    e2 = _with_outdeg(edges)
    for _ in range(PR_ITERS):
        contrib = (
            e2.join(F.broadcast(ranks.withColumnRenamed("node", "src")), "src")
            .select(
                "dst",
                (F.col("rank") / F.col("outdeg")).cast("decimal(28,14)").alias("c"),
                F.lit(None).cast("double").alias("t"),
            )
        )
        # Teleport rows FOLD INTO the contribution aggregate (one
        # union + one shuffle per round) instead of a FULL outer join
        # after it (two shuffles) — r12 plan fix for the 1.4×
        # adjudication, VERDICT r11 #4. Semantics are the old full
        # join's exactly: seed nodes keep their teleport mass even on
        # rounds where no contribution reaches them (bipartite parity
        # starves one side of in-edges on alternate rounds — a left
        # join silently zeroed the seeds' teleport there, which is
        # not PPR); at most ONE tele row per node, so sum(t) IS the
        # teleport double, bit-exactly, and the oracle's
        # coalesce(t.tele,0) + 0.85·coalesce(x.s,0) is unchanged.
        tele_rows = tele.select(
            F.col("node").alias("dst"),
            F.lit(None).cast("decimal(28,14)").alias("c"),
            F.col("tele").alias("t"),
        )
        ranks = (
            contrib.unionByName(tele_rows)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum("t").alias("_t"),
                F.sum("c").cast("double").alias("_s"),
            )
            .select(
                "node",
                (
                    F.coalesce(F.col("_t"), F.lit(0.0))
                    + F.lit(PR_DAMP) * F.coalesce(F.col("_s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", det_round(F.col("rank"), 8).alias("ppr"))
