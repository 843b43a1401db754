"""Similarity search over embedding columns (`array<float>`).

Two tiers (BASELINE.json extension surface):

- **Brute-force cosine top-k** — the exactness baseline: query set ×
  corpus cross join, JVM-native dot products via `zip_with` +
  `aggregate` (no Python boundary), `row_number` top-k. O(|Q|·n) —
  fine when |Q| is small or n is pre-filtered.
- **Hyperplane-LSH ANN** — sign-bit bucketing against a deterministic
  set of pseudo-random hyperplanes (seeded from md5, so the oracle
  can reproduce them bit-for-bit). Candidates = same-bucket rows;
  search cost drops to the bucket's share of the corpus. The recall /
  cost trade is the number of planes (here 6 ⇒ 64 buckets).

At 100 TB: the corpus side partitions by bucket (or IVF cell) so each
query only shuffles to its candidate partitions; the brute-force tier
becomes a broadcast of the (small) query set against a bucketed scan.
All arithmetic is double-precision with sequential folds, matching
DuckDB's list_dot_product accumulation order for oracle parity.

Each operator has one kernel, chosen by measurement (sf0.1, local[4],
interleaved pairs, equal outputs on both sides):

- the JVM fold (:func:`dot`) for brute force, top-1 and IVF cell
  assignment. At 64 dims over a small panel the Python hop costs more
  than the fold saves, and the IVF query side stays lazy (no
  centroid collect while the plan is built).
- Arrow with per-dimension sequential accumulation
  (:func:`lsh_index_pandas`, :func:`seq_dot_pandas_udf`) for the LSH
  index and the ANN / near-dup pair dots, where the candidate pair
  count makes the interpreted fold the cost. Both reproduce the fold's
  IEEE addition order, so every double equals the oracle's.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round, det_round_sql

#: Multi-table LSH geometry: L tables of r planes each. A table's
#: bucket must match on ALL r sign bits (AND); a candidate needs to
#: match in ANY table (OR) — the classic amplification that trades
#: index size (L copies) for recall. For sign-random-projection the
#: per-plane agreement probability is 1 − θ/π, so r and L set the
#: recall curve; r=4, L=8 gives ~0.5-0.8 on mid-similarity neighbors.
N_TABLES = 8
PLANES_PER_TABLE = 4
EMBED_DIM = 64

#: Digits every cosine similarity det-rounds to before ranking — the
#: oracles round with det_round_sql(…, SIM_DIGITS), so both engines
#: rank the same values.
SIM_DIGITS = 6


def _plane_value(table: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1):
    md5-seeded so Python, Spark literals, and oracle SQL agree."""
    h = hashlib.md5(f"plane:{table}:{plane}:{dim}".encode()).hexdigest()
    return (int(h[:15], 16) % 2000) / 1000.0 - 1.0


def hyperplanes(table: int) -> list[list[float]]:
    return [
        [_plane_value(table, p, d) for d in range(EMBED_DIM)]
        for p in range(PLANES_PER_TABLE)
    ]


def as_double(vec: Column) -> Column:
    """float32 → float64 once, so all downstream arithmetic is double
    (Spark would otherwise multiply in single precision, drifting from
    the oracle's double accumulation)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: aggregate(zip_with(a,b,*), +)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


#: DuckDB twins (oracle SQL text): :func:`as_double` of the list ``v``
#: and :func:`cosine` of the lists ``a`` and ``b``.
DBL_SQL = "list_transform({v}, x -> x::DOUBLE)"
COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Keep each query's ``k`` best rows of ``scored`` (query_id,
    match_id, cosine_sim): similarity descending, match id ascending,
    numbered by ``rank``. :func:`topk_sql` is the SQL twin."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine_sim", "rank")
    )


def topk_sql(k: int) -> str:
    """DuckDB twin of :func:`_topk` over a ``scored`` CTE; top-1 keeps
    no rank column."""
    rank, cols, keep = ("rn", "", "rn = 1") if k == 1 else ("rank", ", rank", f"rank <= {k}")
    return f"""SELECT query_id, match_id, cosine_sim{cols} FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, match_id
      ) AS {rank} FROM scored
    ) WHERE {keep}"""


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query vector. Ties break on corpus id so
    results are deterministic; similarity is rounded *before* ranking
    so the order the oracle sees is the order Spark ranked by.

    r16 (guide §3.1): the pair stage STREAMS the corpus and
    BROADCASTS the query panel — the 100 TB shape this module's
    docstring promises ("a broadcast of the (small) query set against
    a bucketed scan"). The previous ``q.crossJoin(c)`` did the
    opposite: Catalyst built/broadcast the corpus side and streamed
    the ≤50-row panel, so the whole O(|Q|·n) dot stage ran in the
    panel scan's SINGLE task. The corpus is round-robined to
    ``defaultParallelism`` first (a one-file panel corpus otherwise
    scans as one split); pair values are row-local and det-rounded
    before ranking, so results are layout-free, bit-identical."""
    # Norms projected once per side: the O(|Q|·n) stage then runs ONE
    # fold per pair (dot) instead of three — algebraically identical
    # to the oracle's per-pair cosine, bit-for-bit (same doubles).
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.select(
        F.col(id_col).alias("match_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        c.repartition(par)
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            det_round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                SIM_DIGITS,
            ).alias("cosine_sim"),
        )
    )
    return _topk(scored, k)


def unit_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, unit vector): embeddings normalized to length 1 ONCE, so
    every downstream cosine is a plain dot product — the store-
    normalized-at-write-time pattern. At 100 TB this runs in the
    ingest pass and saves two folds + a division per scored pair in
    every similarity query forever after. Staged projection: the norm
    is computed once per row, not once per element."""
    v = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    return v.select(
        F.col(id_col),
        F.transform(F.col("_v"), lambda x: x / F.col("_n")).alias(vec_col),
    )


def brute_force_top1(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact nearest neighbor (k=1) over PRE-NORMALIZED vectors via a
    single max-aggregate — the two embedding-depth optimizations from
    the roadmap in one operator:

    - inputs go through :func:`unit_vectors`, so scoring is one dot
      fold per pair (no norms, no division);
    - top-1 is ``max(struct(sim, -match_id))`` — a partial-aggregable
      single shuffle with map-side combine, instead of a window
      row_number that must SORT every query's candidate list. Ties
      break to the smallest match id, same as the rank-based form.
    The plan contains no Window/Sort node (pinned in
    tests/test_plans.py)."""
    q = unit_vectors(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = unit_vectors(corpus, id_col, vec_col).select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv")
    )
    # r16 (guide §3.1): stream the corpus (re-spread to the core
    # count — a one-file corpus scans as a single split), broadcast
    # the panel; the old q.crossJoin(c) built the CORPUS broadcast
    # and ran every pair dot in the panel scan's one task. Values are
    # row-local + det-rounded and top-1 is a max-struct — layout-free.
    # r16 batch 3 (guide §4): the pair dot is the JVM fold, not the
    # Arrow seq_dot — at 64 dims the Python hop costs more than
    # the interpreted fold saves (interleaved A/B 1.79 s Arrow vs
    # 1.36 s JVM on the |Q|=50 panel, identical output hash; the
    # brute_force_topk tier made the same call), and it was also the
    # suite bench's most Python-worker-contention-sensitive row.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    scored = (
        c.repartition(par)
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            det_round(dot(F.col("qv"), F.col("cv")), SIM_DIGITS).alias("cosine_sim"),
        )
    )
    best = scored.groupBy("query_id").agg(
        F.max(
            F.struct(
                F.col("cosine_sim").alias("s"), (-F.col("match_id")).alias("nm")
            )
        ).alias("b")
    )
    return best.select(
        "query_id",
        (-F.col("b.nm")).cast("long").alias("match_id"),
        F.col("b.s").alias("cosine_sim"),
    )


#: The embedding near-dup cut: pairs with cosine ≥ this.
NEARDUP_COSINE = 0.35


def neardup_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All pairs with cosine ≥ :data:`NEARDUP_COSINE` — the embedding
    near-dup tier's exact form, meant for a (sampled) corpus; the
    scale path takes candidates from the LSH/IVF index first and
    applies this threshold to candidates only.

    Fully distributed: norms projected once per side (JVM fold), the
    ``id_a < id_b`` self-join generates pairs on executors, and the
    pair dots run through the Arrow sequential-accumulation UDF. No
    driver materialization anywhere in the plan (pinned by
    tests/test_ext.py), so it survives a corpus that doesn't fit on
    the driver. Arrow is the pair kernel because the pair count is
    quadratic: at q_embed_neardup's 1/5 sample it ran 1.31 s against
    the JVM fold's 1.52 s (sf0.1, 6 interleaved pairs), and 9.1 s
    against 23.3 s at 2M pairs."""
    v = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("v")).select(
        id_col, "v", norm(F.col("v")).alias("nrm")
    )
    a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    seq_dot = seq_dot_pandas_udf()
    sim = det_round(
        seq_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), SIM_DIGITS
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= NEARDUP_COSINE)
    )


CENTROID_MOD = 37  # every 37th vector seeds an IVF centroid

#: DuckDB twin of the centroid set over an ``e (vec_id, v)`` CTE.
IVF_CENT_SQL = (
    f"cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % {CENTROID_MOD} = 0)"
)


def ivf_assignments(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by
    cosine (rounded before ranking; centroid-id tie-break).

    The centroid side is broadcast — it's tiny by construction — so
    assignment is a single narrow pass over the corpus, scored by the
    JVM fold. This one kernel serves the corpus-wide pass
    (plans/shared_frames.ivf_corpus_cells) and every query side, so a
    query and the corpus it probes agree on cells by construction,
    and building the plan runs no centroid collect. The NumPy-over-Arrow
    query side it replaced was not measurably faster: q_ivf_topk took
    a median 3.88 s with it and 4.21 s with this kernel, inside the
    former's quartile spread of 3.71–4.48 s (sf0.1, local[4], 10
    interleaved pairs)."""
    v = vectors.select(
        F.col(id_col), as_double(F.col("embedding")).alias("v")
    ).withColumn("vn", norm(F.col("v")))
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), as_double(F.col("embedding")).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col,
        "centroid_id",
        det_round(
            dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn")), SIM_DIGITS
        ).alias("centroid_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("centroid_sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select(id_col, "centroid_id", "crank")
    )


#: DuckDB twin of the corpus-wide :func:`ivf_assignments` pass
#: (plans/shared_frames.ivf_corpus_cells) over an ``e`` CTE: cent,
#: assign (every vector's centroid ranks), corpus_cells (crank = 1).
IVF_CELLS_SQL = f"""{IVF_CENT_SQL},
    assign AS (
      SELECT vec_id, centroid_id, crank FROM (
        SELECT e.vec_id, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {det_round_sql(COS_SQL.format(a='e.v', b='cent.cv'), SIM_DIGITS)} DESC, cent.centroid_id
               ) AS crank
        FROM e, cent
      )
    ),
    corpus_cells AS (SELECT vec_id AS match_id, centroid_id FROM assign WHERE crank = 1)"""


def ivf_cand_sql(nprobe: int, n_queries: int) -> str:
    """DuckDB twin of :func:`ivf_topk`'s candidates for the queries
    vec_id < ``n_queries``: :data:`IVF_CELLS_SQL`, query_cells (the
    ``nprobe`` nearest cells) and cand (query_id, match_id)."""
    return f"""{IVF_CELLS_SQL},
    query_cells AS (SELECT vec_id AS query_id, centroid_id FROM assign
                    WHERE crank <= {nprobe} AND vec_id < {n_queries}),
    cand AS (
      SELECT DISTINCT query_id, match_id
      FROM query_cells JOIN corpus_cells USING (centroid_id)
      WHERE query_id <> match_id
    )"""


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 2,
    centroid_mod: int = CENTROID_MOD,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single
    nearest centroid's cell; a query probes its ``nprobe`` nearest
    cells and ranks exactly within them.

    Centroids are data-derived deterministically (every
    ``centroid_mod``-th vector) — a stand-in for k-means that keeps
    the oracle reproducible; swap the centroid source for trained
    centroids without touching the search. At 100 TB the corpus is
    written partitioned by centroid_id, so a query scans nprobe/|C|
    of the data — the classic IVF cost model."""
    centroids = corpus.filter(F.col(id_col) % centroid_mod == 0)
    if corpus_cells is None:
        # the expensive corpus-wide pass — callers sharing one
        # assignment across queries pass it precomputed
        # (plans/shared_frames.ivf_corpus_cells)
        corpus_cells = ivf_assignments(corpus, centroids, nprobe=1, id_col=id_col).select(
            F.col(id_col).alias("match_id"), "centroid_id"
        )
    query_cells = ivf_assignments(queries, centroids, nprobe=nprobe, id_col=id_col).select(
        F.col(id_col).alias("query_id"), "centroid_id"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("match_id"), as_double(F.col("embedding")).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    cand = (
        query_cells.join(corpus_cells, "centroid_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .distinct()
    )
    scored = cand.join(q, "query_id").join(c, "match_id").select(
        "query_id",
        "match_id",
        det_round(
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), SIM_DIGITS
        ).alias("cosine_sim"),
    )
    return _topk(scored, k)


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means as DataFrame ops → (centroid_id, embedding).

    Deterministic seeding (first k vectors by id); each iteration is
    (1) nearest-centroid assignment via a broadcast cross join and
    (2) element-wise mean by posexplode → groupBy(centroid, dim) →
    re-assemble with an order-pinned sort. The driver loop only
    schedules jobs — data never leaves the cluster, and each
    iteration's shuffle is |corpus|·dim rows of (long, long, double).
    Cache the corpus projection before calling when iterating more
    than once or twice.

    Trained centroids drop into :func:`ivf_topk` in place of the
    modulo-seeded ones (same (id, embedding) shape); they are NOT
    used by the oracle-checked query because float means depend on
    partition order — training quality is pinned by the inertia test
    in tests/test_ext.py instead."""
    v = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    w_seed = Window.orderBy(F.col(id_col))
    cent = (
        v.withColumn("_rn", F.row_number().over(w_seed))
        .filter(F.col("_rn") <= k)
        .select((F.col("_rn") - 1).alias("centroid_id"), F.col("v").alias("cv"))
    )
    for _ in range(iters):
        scored = v.crossJoin(F.broadcast(cent)).select(
            id_col,
            "centroid_id",
            cosine(F.col("v"), F.col("cv")).alias("sim"),
        )
        wa = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("centroid_id"))
        assign = (
            scored.withColumn("_r", F.row_number().over(wa))
            .filter(F.col("_r") == 1)
            .select(id_col, "centroid_id")
        )
        dims = (
            v.join(assign, id_col)
            .select("centroid_id", F.posexplode("v").alias("dim", "x"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg("x").alias("m"))
        )
        cent = (
            dims.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("pairs"))
            .select(
                "centroid_id",
                F.transform(F.col("pairs"), lambda p: p["m"]).alias("cv"),
            )
        )
    return cent.select("centroid_id", F.col("cv").alias(vec_col)).withColumnRenamed(
        "centroid_id", id_col
    )


def kmeans_inertia(corpus: DataFrame, centroids: DataFrame, id_col: str = "vec_id") -> float:
    """Mean (1 − cosine-to-nearest-centroid) over the corpus — the
    quantity k-means iterations must not increase."""
    v = corpus.select(F.col(id_col).alias("_vid"), as_double(F.col("embedding")).alias("v"))
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), as_double(F.col("embedding")).alias("cv")
    )
    best = (
        v.crossJoin(F.broadcast(c))
        .select("_vid", cosine(F.col("v"), F.col("cv")).alias("sim"))
        .groupBy("_vid")
        .agg(F.max("sim").alias("best"))
    )
    return float(best.agg(F.avg(F.lit(1.0) - F.col("best"))).collect()[0][0])


def _planes_matrix(n_tables: int = N_TABLES) -> np.ndarray:
    """All L·r hyperplanes as a (dim, L·r) float64 matrix, column
    order = (table-major, plane-minor): table t's columns are
    :func:`hyperplanes` (t), the planes the oracle's bucket SQL reads."""
    return np.array(
        [
            [_plane_value(t, p, d) for d in range(EMBED_DIM)]
            for t in range(n_tables)
            for p in range(PLANES_PER_TABLE)
        ]
    ).T


def lsh_index_pandas(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = N_TABLES,
) -> DataFrame:
    """(id, bucket, vn): every LSH bucket id (L rows per vector) plus
    the vector norm, in one Arrow-batched NumPy pass. A table's bucket
    id is its r sign bits offset into the table's own id space
    (table * 2^r + bits), so bucket ids never collide across tables.

    Accumulation is per-dimension (``acc += v[:, d] * P[d]``), i.e. the
    SAME sequential IEEE addition order as the JVM fold in
    :func:`dot` / :func:`norm` and the oracle's list_dot_product —
    every double, and therefore every sign decision at a bucket
    boundary, is the oracle's (pinned by the Python replay in
    tests/test_property_laws7.py). An interpreted fold costs L·r
    lambda evaluations per vector; here the whole batch is dim fused
    multiply-adds."""
    P = _planes_matrix(n_tables)
    n_planes = PLANES_PER_TABLE
    schema = f"{id_col} long, bucket long, vn double"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc = np.zeros((len(pdf), P.shape[1]))
            nrm = np.zeros(len(pdf))
            for d in range(V.shape[1]):
                acc += V[:, d : d + 1] * P[d]
                nrm += V[:, d] * V[:, d]
            nrm = np.sqrt(nrm)
            bits = acc > 0
            buckets = np.empty((len(pdf), n_tables), dtype=np.int64)
            for t in range(n_tables):
                b = np.full(len(pdf), t * (1 << n_planes), dtype=np.int64)
                for p in range(n_planes):
                    b += bits[:, t * n_planes + p] << p
                buckets[:, t] = b
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "bucket": buckets.reshape(-1),
                    "vn": np.repeat(nrm, n_tables),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def seq_dot_pandas_udf():
    """Arrow dot product with per-dimension sequential accumulation —
    bit-identical to the JVM fold :func:`dot` (unlike a NumPy
    ``(a*b).sum(axis=1)``, whose pairwise summation can differ in the
    last ulp and flip rounded values at ties)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        num = np.zeros(len(A))
        for d in range(A.shape[1]):
            num += A[:, d] * B[:, d]
        return pd.Series(num)

    return _dot


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = N_TABLES,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to LSH
    candidates — rows sharing a bucket with the query in ANY of the L
    tables. The bucket explode (L rows per vector) + equi-join
    replaces the cross join; candidate ids dedup (a narrow 2-long
    shuffle) before vectors are re-attached for scoring, so each pair
    is scored once. At 100 TB the corpus side is written
    bucket-partitioned, so a query touches only its L buckets'
    partitions.

    The bucket index (:func:`lsh_index_pandas`) and the pair dots
    (:func:`seq_dot_pandas_udf`) run in NumPy over Arrow batches: on
    q_ann_topk they took 1.47 s against 6.14 s for the same index and
    dots as interpreted JVM folds (sf0.1, 6 interleaved pairs, Arrow
    faster in all 6), with equal outputs."""
    q_idx = lsh_index_pandas(queries, id_col, vec_col, n_tables).select(
        F.col(id_col).alias("query_id"), "bucket", F.col("vn").alias("qn")
    )
    c_idx = lsh_index_pandas(corpus, id_col, vec_col, n_tables).select(
        F.col(id_col).alias("match_id"), "bucket", F.col("vn").alias("cn")
    )
    cand = (
        q_idx.join(c_idx, "bucket")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "qn", "match_id", "cn")
        .dropDuplicates(["query_id", "match_id"])
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("match_id"), as_double(F.col(vec_col)).alias("cv")
    )
    seq_dot = seq_dot_pandas_udf()
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "match_id")
        .select(
            "query_id",
            "match_id",
            det_round(
                seq_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                SIM_DIGITS,
            ).alias("cosine_sim"),
        )
    )
    return _topk(scored, k)
