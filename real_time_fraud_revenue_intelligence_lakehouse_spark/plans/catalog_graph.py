"""Graph & co-occurrence analytics over the trade data — the
association-mining and graph-topology shapes that complement the
iterative algorithms in catalog_heavy (PageRank, BFS, label
propagation in ext/dedup):

- q_basket_lift: market-basket association — support and lift for
  part pairs co-purchased within an order. The pair blow-up is
  order-local (C(basket,2) per order), then ONE pair-key shuffle; the
  classic frequent-itemset first pass (FP-growth's candidate tier).
- q_knn_triangles: build a k-nearest-neighbor graph over suppliers
  (similarity = #common customers), then count triangles and the
  global clustering coefficient. kNN-graph construction + triangle
  closure is the standard graph-ML pipeline for entity-clustering;
  the kNN cap (k={K_NN}) keeps the graph O(k·n) edges at ANY corpus
  scale, so the triangle join never sees a quadratic edge set.
- q_graph_degree: log2-bucketed degree histogram of the bipartite
  supplier↔customer trade graph — the skew diagnostic you run BEFORE
  choosing join/salt strategies on a new graph.

The reference's fraud domain motivates these: fraud rings surface as
dense triangles in shared-entity graphs, and its user↔merchant event
stream is exactly such a bipartite graph (`generator/events.py`).
All pure DataFrame plans; counts are exact integers so every ratio
divides exact inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.dedup import connected_components_star
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R6_SQL, det_round
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import (
    BASKET_MIN_SUP as MIN_SUP,  # orders containing both parts
    CO_SERVICE_SQL,
    CUST_SUPP_SQL,
    basket_pair_counts,
    basket_singles,
    co_service_sim,
    cust_supp,
    note_dropped_checkpoints,
    shared_frame,
    trade_graph_sql,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


K_NN = 3  # neighbors kept per supplier node


# --- market-basket support / lift -------------------------------------------


@query(
    "q_basket_lift",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
    singles AS (
      SELECT l_partkey, count(*) AS part_orders FROM baskets GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS pair_orders
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_SUP}
    )
    SELECT p.part_a, p.part_b, CAST(p.pair_orders AS BIGINT) AS pair_orders,
           {R6_SQL.format(c="CAST(p.pair_orders AS DOUBLE) / n.n_orders")} AS support,
           {R6_SQL.format(c="CAST(p.pair_orders AS DOUBLE) * n.n_orders / (sa.part_orders * CAST(sb.part_orders AS DOUBLE))")} AS lift
    FROM pairs p
    JOIN singles sa ON p.part_a = sa.l_partkey
    JOIN singles sb ON p.part_b = sb.l_partkey
    CROSS JOIN n
    """,
    tags=("graph", "basket", "join"),
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over order baskets: for every part pair
    co-purchased in ≥{MIN_SUP} orders, the support (share of orders
    with both) and lift (observed co-rate over the independence
    expectation — lift > 1 means genuinely bought together). The
    self-join explodes only WITHIN an order (C(basket,2), bounded by
    basket size), then one shuffle on the pair key aggregates; the
    min-support HAVING prunes the long random-pair tail before the
    singles join, and the singles/total sides are agg outputs orders
    of magnitude smaller than the fact. Lift divides exact integers —
    bit-stable."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket build + pair expansion + singles are shared with
    # q_item_sim (plans/shared_frames — same pair graph, two scorers)
    n = li.select("l_orderkey").distinct().agg(F.count(F.lit(1)).alias("n_orders"))
    singles = basket_singles(spark, sf_dir)
    pairs = basket_pair_counts(spark, sf_dir).select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        F.col("co").alias("pair_orders"),
    )
    sa = singles.select(
        F.col("l_partkey").alias("part_a"), F.col("part_orders").alias("orders_a")
    )
    sb = singles.select(
        F.col("l_partkey").alias("part_b"), F.col("part_orders").alias("orders_b")
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            det_round(F.col("pair_orders").cast("double") / F.col("n_orders"), 6).alias("support"),
            det_round(
                F.col("pair_orders").cast("double")
                * F.col("n_orders")
                / (F.col("orders_a") * F.col("orders_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected supplier kNN-graph edge set (a < b), checkpointed
    and memoized per process (shared_frames) — it feeds degree,
    wedges, THREE triangle-join legs, and the community-detection CC
    rounds, across two different queries.

    Pair generation stays a per-key self-join (NOT the sorted-set
    array comprehension q_basket_lift uses): per-customer supplier
    sets are wide (~40 at sf0.1), and materializing C(k,2) nested-
    array structs per row measured 2x slower than streaming the same
    pairs out of the join. Baskets are narrow (~4 parts), so the
    array form wins there — pick per shape."""

    def build() -> DataFrame:
        sim = co_service_sim(spark, sf_dir)
        directed = sim.select(
            F.col("s1").alias("src"), F.col("s2").alias("dst"), "common_cust"
        ).unionByName(
            sim.select(F.col("s2").alias("src"), F.col("s1").alias("dst"), "common_cust")
        )
        w = Window.partitionBy("src").orderBy(F.desc("common_cust"), F.asc("dst"))
        knn = directed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= K_NN)
        return knn.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        ).distinct()

    return shared_frame(spark, sf_dir, "knn_edges", build)


#: DuckDB twin of :func:`_knn_edges` before its canonical distinct:
#: :data:`CO_SERVICE_SQL`, directed (both orientations) and knn (each
#: supplier's K_NN best neighbours).
_KNN_SQL = f"""{CO_SERVICE_SQL},
    directed AS (
      SELECT s1 AS src, s2 AS dst, common_cust FROM sim
      UNION ALL
      SELECT s2 AS src, s1 AS dst, common_cust FROM sim
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY common_cust DESC, dst ASC) AS rn
        FROM directed
      ) WHERE rn <= {K_NN}
    )"""


# --- kNN graph + triangle count ---------------------------------------------


@query(
    "q_knn_triangles",
    oracle=f"""
    WITH {_KNN_SQL},
    edges AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
      ) GROUP BY 1
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    summary AS (
      SELECT (SELECT count(*) FROM deg) AS n_nodes,
             (SELECT count(*) FROM edges) AS n_edges,
             (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
             (SELECT n_triangles FROM tri) AS n_triangles
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
           n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
           {R6_SQL.format(c="3.0 * n_triangles / n_wedges")} AS clustering
    FROM summary
    """,
    tags=("graph", "triangles", "knn"),
)
def q_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-similarity kNN graph + triangle census. Similarity =
    number of common customers (the shared-entity signal fraud-ring
    detection keys on); each supplier keeps its top-{K_NN} neighbors
    (ties → smaller id), the directed lists symmetrize into an
    undirected edge set of at most {K_NN}·n edges, and triangles close
    via the oriented two-hop join (a<b<c, so each triangle counts
    once). Output: node/edge/wedge/triangle counts and the global
    clustering coefficient 3·T/W. The kNN cap is what makes this
    100 TB-safe: the similarity tier shuffles per-customer C(k,2)
    pairs (bounded by per-customer breadth), the window tops ≤ n·deg
    rows, and every triangle-join input is O(k·n) — no quadratic edge
    set at any scale, unlike threshold graphs whose density is
    data-dependent."""
    edges = _knn_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    summary = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges"),
        )
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return summary.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_wedges").cast("long").alias("n_wedges"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        det_round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6).alias("clustering"),
    )


# --- bipartite degree histogram ---------------------------------------------


@query(
    "q_graph_degree",
    oracle=f"""
    WITH {CUST_SUPP_SQL},
    deg AS (
      SELECT 'supplier' AS side, supp AS node, count(*) AS d FROM cs GROUP BY 2
      UNION ALL
      SELECT 'customer' AS side, cust AS node, count(*) AS d FROM cs GROUP BY 2
    )
    SELECT side, CAST(floor(ln(d) / ln(2)) AS BIGINT) AS deg_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(d) AS BIGINT) AS min_deg, CAST(max(d) AS BIGINT) AS max_deg
    FROM deg
    GROUP BY 1, 2
    """,
    tags=("graph", "histogram"),
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree histogram of the bipartite supplier↔
    customer trade graph, per side — the first diagnostic on any new
    graph: a heavy top bucket says "salt the hub keys before joining
    on this graph" (the skew rule SCALE.md records). One distinct
    reduce builds the edge list, two tiny aggs do the rest; the
    bucket is floor(log2(d)) so the histogram stays ~32 rows at any
    scale. Buckets via ln(d)/ln(2) on exact integer degrees — the
    ratio is far from integer boundaries for d not a power of two,
    and exact for powers of two, so floor is engine-stable."""
    cs = cust_supp(spark, sf_dir)
    deg = (
        cs.groupBy(F.col("supp").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.lit("supplier").alias("side"), "node", "d")
        .unionByName(
            cs.groupBy(F.col("cust").alias("node"))
            .agg(F.count(F.lit(1)).alias("d"))
            .select(F.lit("customer").alias("side"), "node", "d")
        )
    )
    return (
        deg.groupBy(
            "side",
            F.floor(F.log(F.col("d").cast("double")) / F.log(F.lit(2.0))).cast("long").alias("deg_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").cast("long").alias("min_deg"),
            F.max("d").cast("long").alias("max_deg"),
        )
    )


# --- item-item collaborative filtering ---------------------------------------

ITEM_K = 3  # similar items kept per part


@query(
    "q_item_sim",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    singles AS (
      SELECT l_partkey, count(*) AS part_orders FROM baskets GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS co
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_SUP}
    ),
    directed AS (
      SELECT pa AS part, pb AS neighbor, co FROM pairs
      UNION ALL
      SELECT pb AS part, pa AS neighbor, co FROM pairs
    ),
    scored AS (
      SELECT d.part, d.neighbor, d.co,
             d.co / sqrt(sa.part_orders * CAST(sb.part_orders AS DOUBLE)) AS sim
      FROM directed d
      JOIN singles sa ON d.part = sa.l_partkey
      JOIN singles sb ON d.neighbor = sb.l_partkey
    )
    SELECT part, neighbor, CAST(co AS BIGINT) AS co_orders,
           {R6_SQL.format(c="sim")} AS sim, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT part, neighbor, co, sim,
             row_number() OVER (PARTITION BY part
                                ORDER BY sim DESC, neighbor ASC) AS rk
      FROM scored
    )
    WHERE rk <= {ITEM_K}
    """,
    tags=("graph", "recommender", "window"),
)
def q_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between
    parts over binary order-occurrence vectors (co/√(nₐ·n_b)), top
    {ITEM_K} neighbors per part — the classic "customers also bought"
    recommender build. Reuses the basket-pair tier (per-order sorted-
    set comprehension, one shuffle, min-support prune) so the
    similarity graph never sees the random-pair tail; the per-part
    ranking window runs on the pruned pair set, whose per-part width
    the support floor bounds. Similarity divides exact integers by a
    sqrt of exact integers — bit-stable; ranking ties break on the
    neighbor id."""
    singles = basket_singles(spark, sf_dir)
    pairs = basket_pair_counts(spark, sf_dir)
    directed = pairs.select(
        F.col("pa").alias("part"), F.col("pb").alias("neighbor"), "co"
    ).unionByName(
        pairs.select(F.col("pb").alias("part"), F.col("pa").alias("neighbor"), "co")
    )
    sa = singles.select(F.col("l_partkey").alias("part"), F.col("part_orders").alias("na"))
    sb = singles.select(F.col("l_partkey").alias("neighbor"), F.col("part_orders").alias("nb"))
    scored = (
        directed.join(sa, "part")
        .join(sb, "neighbor")
        .withColumn("sim", F.col("co") / F.sqrt(F.col("na") * F.col("nb").cast("double")))
    )
    w = Window.partitionBy("part").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ITEM_K)
        .select(
            "part",
            "neighbor",
            F.col("co").cast("long").alias("co_orders"),
            det_round(F.col("sim"), 6).alias("sim"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# --- community detection over the kNN graph ----------------------------------


@query(
    "q_graph_communities",
    oracle=f"""
    WITH RECURSIVE
    {_KNN_SQL},
    e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn
    ),
    bi AS (
      SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e
    ),
    nodes AS (SELECT DISTINCT src AS node FROM bi),
    comp(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT bi.dst, c.lbl FROM comp c JOIN bi ON bi.src = c.node
    ),
    labels AS (SELECT node, min(lbl) AS cid FROM comp GROUP BY 1),
    sizes AS (SELECT cid, count(*) AS community_size FROM labels GROUP BY 1)
    SELECT CAST(community_size AS BIGINT) AS community_size,
           CAST(count(*) AS BIGINT) AS n_communities
    FROM sizes GROUP BY 1
    """,
    tags=("graph", "communities", "iterative"),
)
def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the supplier kNN graph — the
    community structure the triangle census (q_knn_triangles)
    summarizes locally, computed globally, as a size histogram. This
    is a cross-domain REUSE of the dedup stack's large-star/small-star
    operator (ext/dedup.connected_components_star, Kiveris et al.):
    the same O(log diameter) two-pass rounds that collapse duplicate
    clusters collapse trade communities, because both are just
    undirected edge frames. The oracle computes the identical
    transitive closure with a recursive CTE. kNN capping keeps the
    edge set O(k·n) at any scale; each CC round is two groupBy-join
    passes over the CURRENT (shrinking) edge set."""
    edges = _knn_edges(spark, sf_dir).select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )
    # _knn_edges output is already canonical (least/greatest +
    # distinct) AND checkpointed — skip CC's redundant prologue.
    labels = connected_components_star(edges, assume_canonical=True)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("community_size"))
    return sizes.groupBy("community_size").agg(
        F.count(F.lit(1)).alias("n_communities")
    ).select(
        F.col("community_size").cast("long").alias("community_size"),
        F.col("n_communities").cast("long").alias("n_communities"),
    )


# --- bounded weighted shortest path (Bellman-Ford rounds) --------------------

BF_ROUNDS = 4


#: co-service graph + source CTEs shared by the Bellman-Ford oracle
#: and the route-reconstruction oracle.
_BF_GRAPH_CTES = f"""
    WITH {CO_SERVICE_SQL},
    ew AS (
      SELECT s1 AS src, s2 AS dst, 1.0 / common_cust AS w FROM sim
      UNION ALL
      SELECT s2 AS src, s1 AS dst, 1.0 / common_cust AS w FROM sim
    ),
    src AS (SELECT min(supp) AS s FROM cs),"""


def _bf_oracle() -> str:
    rounds = []
    for r in range(1, BF_ROUNDS + 1):
        rounds.append(
            f"""
    d{r} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{r - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{r - 1} d JOIN ew e ON e.src = d.node
      ) GROUP BY 1
    )"""
        )
    return (
        _BF_GRAPH_CTES
        + """
    d0 AS (SELECT s AS node, 0.0 AS dist FROM src),"""
        + ",".join(rounds)
        + f"""
    SELECT node,
           {R6_SQL.format(c="dist")} AS dist
    FROM d{BF_ROUNDS}
    """
    )


def _bf_relax(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """BF_ROUNDS Bellman-Ford relaxation rounds from the minimum
    supplier over the co-service graph (edge cost 1/common_customers)
    → (the 1-row ``src_node`` frame, the last round's candidates
    (node, dist, pred), the LAZY (node, dist) state). Each round is
    one join of the node-sized state against the edge list plus a
    per-node min; costs add in round order, so the doubles are
    deterministic. q_cheapest_route reads the state;
    q_route_reconstruct takes each node's (dist, pred) argmin over the
    last round's candidates.

    The rounds compose LAZILY (the star-CC round-fusing trick,
    ext/dedup): min-plus arithmetic is unchanged, so every checkpoint
    dropped is one fewer Spark action barrier buying the same bits. r16
    interleaved A/B at sf0.1: checkpoint every 2 rounds 3.17 s vs
    every 4 rounds 2.76 s — the 4-round horizon fuses into ONE lazy
    DAG. Also measured and REJECTED (r16): a per-round
    broadcast(state) hint — it collects the fused round chain into
    a broadcast every round (2.9 s → 4.2 s), while the AQE-coalesced
    sort-merge join of two node-sized frames is free. And (r18): an
    argmin by min(struct(dist, pred)) in every round — a struct
    buffer plans as SortAggregate instead of HashAggregate, which
    cost q_cheapest_route about 1.3 s (9%) at sf0.1."""
    sim = co_service_sim(spark, sf_dir)
    w = (F.lit(1.0) / F.col("common_cust")).alias("w")

    def build_ew() -> DataFrame:
        return sim.select(F.col("s1").alias("src"), F.col("s2").alias("dst"), w).unionByName(
            sim.select(F.col("s2").alias("src"), F.col("s1").alias("dst"), w)
        )

    ew = shared_frame(spark, sf_dir, "co_service_ew", build_ew)
    src1 = cust_supp(spark, sf_dir).agg(F.min("supp").alias("src_node"))
    dist = src1.select(F.col("src_node").alias("node"), F.lit(0.0).alias("dist")).localCheckpoint()
    for _ in range(BF_ROUNDS):
        relax = dist.join(ew, dist.node == ew.src).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
            dist.node.alias("pred"),
        )
        dist = (
            dist.unionByName(relax.drop("pred"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    note_dropped_checkpoints(spark)  # the round-0 checkpoint is superseded
    return src1, relax, dist


@query("q_cheapest_route", oracle=_bf_oracle(), tags=("graph", "shortest-path", "iterative"))
def q_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded weighted shortest path: {BF_ROUNDS} Bellman-Ford
    relaxation rounds from the minimum supplier node over the
    co-service graph, edge cost 1/common_customers (strong ties are
    cheap) — the weighted companion to q_bfs_distance's hop counting,
    and the min-plus matrix shape (distance products) Spark lacks as
    a builtin. Each round is one join of the current distance frame
    against the edge list plus a min aggregate; the distance frame is
    node-sized and the rounds are a FIXED horizon, so the oracle
    unrolls exactly (recursive CTEs with min-plus don't terminate on
    cyclic graphs — bounding the horizon is what makes the shape
    well-defined on both engines). Costs add in round order on both
    sides, so the doubles agree bit-for-bit."""
    _, _, dist = _bf_relax(spark, sf_dir)
    return dist.select("node", det_round(F.col("dist"), 6).alias("dist"))


# --- shortest-path ROUTE reconstruction (predecessor walk) -------------------

WALK_STEPS = 6  # pred-walk unroll; > BF_ROUNDS because a node's final
#                 predecessor may have improved AFTER proposing the
#                 node's distance, so the pred chain (strictly
#                 dist-decreasing, hence acyclic) can be longer than
#                 the relaxation horizon; `complete` reports whether
#                 the walk reached the source within the unroll.


def _route_oracle() -> str:
    parts = [
        _BF_GRAPH_CTES
        + """
    d0 AS (SELECT s AS node, 0.0 AS dist, s AS pred FROM src)"""
    ]
    for r in range(1, BF_ROUNDS + 1):
        parts.append(
            f"""
    d{r} AS (
      SELECT node, dist, pred FROM (
        SELECT node, dist, pred,
               row_number() OVER (PARTITION BY node ORDER BY dist, pred) AS rn
        FROM (
          SELECT node, dist, pred FROM d{r - 1}
          UNION ALL
          SELECT e.dst AS node, d.dist + e.w AS dist, d.node AS pred
          FROM d{r - 1} d JOIN ew e ON e.src = d.node
        )
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    w0 AS (
      SELECT d.node, d.dist, s.s AS src_node,
             CAST(d.node AS VARCHAR) AS path,
             d.node AS head, d.pred AS cur, 0 AS hops
      FROM d{BF_ROUNDS} d CROSS JOIN src s
    )"""
    )
    for r in range(1, WALK_STEPS + 1):
        parts.append(
            f"""
    w{r} AS (
      SELECT w.node, w.dist, w.src_node,
             CASE WHEN w.head = w.src_node THEN w.path
                  ELSE CAST(w.cur AS VARCHAR) || '->' || w.path END AS path,
             CASE WHEN w.head = w.src_node THEN w.head ELSE w.cur END AS head,
             CASE WHEN w.head = w.src_node THEN w.cur ELSE p.pred END AS cur,
             CASE WHEN w.head = w.src_node THEN w.hops ELSE w.hops + 1 END AS hops
      FROM w{r - 1} w JOIN d{BF_ROUNDS} p ON p.node = w.cur
    )"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT node,
           {R6_SQL.format(c="dist")} AS dist,
           path, CAST(hops AS BIGINT) AS n_hops,
           head = src_node AS complete
    FROM w{WALK_STEPS}
    """
    )


@query(
    "q_route_reconstruct",
    oracle=_route_oracle(),
    tags=("graph", "shortest-path", "iterative"),
)
def q_route_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path ROUTE reconstruction — q_cheapest_route answers
    "how far", this answers "which way": the same {BF_ROUNDS}
    Bellman-Ford rounds additionally yield a PREDECESSOR per node
    (the oracle's per-round argmin by (dist, pred), which equals one
    argmin over the last round's candidates — deterministic because
    candidate distances are path-ordered float sums both engines
    compute identically, ties broken by pred id), then a fixed
    {WALK_STEPS}-step pred walk prepends node ids into the route
    string "src->…->node". Positive weights make pred chains strictly
    dist-decreasing (acyclic, terminating at the source); `complete`
    flags whether the walk got there within the unroll, because a
    node's final pred can improve after proposing the node's distance
    — the classic BF pred-chain subtlety, reported honestly instead
    of assumed away. Execution: the pred table is node-sized, so each
    walk step is a broadcast join; at 100 TB the walk is K joins of a
    small dimension against itself — route materialization costs
    nothing next to the relaxation shuffles. The whole walk — state,
    prepends, hop counts — is hash-verified against the unrolled SQL
    twin."""
    src1, relax, _ = _bf_relax(spark, sf_dir)
    # The oracle's per-round argmin by (dist, pred) ends at the argmin
    # over the LAST round's candidates plus the source row: a node's
    # state was proposed by some u from an earlier, never smaller
    # dist(u), and IEEE addition is monotone, so u's last-round
    # candidate is ≤ that state in (dist, pred) order; the source
    # keeps (0, itself) because every weight is positive. So one
    # argmin aggregate replaces one per round.
    src_row = src1.select(
        F.col("src_node").alias("node"), F.lit(0.0).alias("dist"), F.col("src_node").alias("pred")
    )
    # the pred walk below re-reads the final state 7x (6 broadcast
    # steps + the walk spine), so it checkpoints once; node-sized
    # state, many tiny stages: fewer partitions beat per-task
    # overhead (the q_pagerank coalesce rationale)
    state = (
        relax.unionByName(src_row)
        .groupBy("node")
        .agg(F.min(F.struct("dist", "pred")).alias("b"))
        .select("node", "b.dist", "b.pred")
        .coalesce(4)
        .localCheckpoint()
    )
    pm = state.select(F.col("node").alias("cn"), F.col("pred").alias("cp"))
    walk = state.crossJoin(F.broadcast(src1)).select(
        "node",
        "dist",
        "src_node",
        F.col("node").cast("string").alias("path"),
        F.col("node").alias("head"),
        F.col("pred").alias("cur"),
        F.lit(0).alias("hops"),
    )
    for _ in range(WALK_STEPS):
        done = F.col("head") == F.col("src_node")
        walk = walk.join(F.broadcast(pm), walk.cur == pm.cn).select(
            "node",
            "dist",
            "src_node",
            F.when(done, F.col("path"))
            .otherwise(F.concat(F.col("cur").cast("string"), F.lit("->"), F.col("path")))
            .alias("path"),
            F.when(done, F.col("head")).otherwise(F.col("cur")).alias("head"),
            F.when(done, F.col("cur")).otherwise(F.col("cp")).alias("cur"),
            F.when(done, F.col("hops")).otherwise(F.col("hops") + 1).alias("hops"),
        )
    return walk.select(
        "node",
        det_round(F.col("dist"), 6).alias("dist"),
        "path",
        F.col("hops").cast("long").alias("n_hops"),
        (F.col("head") == F.col("src_node")).alias("complete"),
    )


# --- degree assortativity -----------------------------------------------------


@query(
    "q_degree_assortativity",
    oracle=f"""
    WITH {trade_graph_sql()},
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
    joined AS (
      SELECT CAST(a.d AS DECIMAL(38,0)) AS dx, CAST(b.d AS DECIMAL(38,0)) AS dy
      FROM edges e JOIN deg a ON a.node = e.src JOIN deg b ON b.node = e.dst
    ),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
             CAST(sum(dx * dy) AS DOUBLE) AS sxy,
             CAST(sum(dx * dx) AS DOUBLE) AS sxx,
             CAST(sum(dy * dy) AS DOUBLE) AS syy
      FROM joined
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           {R6_SQL.format(c="(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))")}
             AS assortativity
    FROM m
    """,
    tags=("graph", "statistics"),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the bidirectional trade
    graph: Pearson correlation between the degrees at the two ends of
    every edge — negative r is the disassortative hub-to-leaf wiring
    typical of commerce graphs, and the one-number upgrade over
    q_graph_degree's histogram when deciding whether hub-salting is
    needed. One degree agg + two broadcast joins of the |nodes|-sized
    degree table onto the edge list + one moment agg; degree products
    fold through decimal(38,0) (exact at any scale — no float
    moments), and the final Pearson arithmetic is the identical IEEE
    expression on both engines."""
    cs = cust_supp(spark, sf_dir).select(
        (-(F.col("supp") + 1)).alias("s_node"), F.col("cust").alias("c_node")
    )
    edges = cs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst")).unionByName(
        cs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    dx = F.col("da").cast("decimal(38,0)")
    dy = F.col("db").cast("decimal(38,0)")
    joined = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("src"), F.col("d").alias("da"))), "src"
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"), F.col("d").alias("db"))), "dst"
        )
        .select(dx.alias("dx"), dy.alias("dy"))
    )
    m = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("long").alias("n_edges"),
        det_round(r, 6).alias("assortativity"),
    )
