"""Round-5 corpus/embedding depth — sub-document dedup and the PQ
storage tier (ROADMAP round-5 candidates 5-6).

q_paragraph_dedup moves deduplication BELOW document granularity:
MinHash/SimHash (catalog_ext) catch whole near-duplicate documents,
but boilerplate paragraphs shared across otherwise-distinct pages are
the dominant duplication mode in web corpora — caught here by hashing
fixed-width token blocks and counting cross-document occurrences
(the exact-substring analog of the suffix-array dedup in the
deduplicating-trainING-data literature, block-granular so it stays one
hash shuffle at 100 TB).

q_embed_pq is the storage tier below int8 (q_embed_quantize):
product quantization — split each vector into M subvectors, encode
each as the id of its nearest codeword, 64 floats → 4 codes. The
codebook here is seed-vector-derived (vec_id < K as codewords) so
assignment is a pure function of the data and the DuckDB oracle can
replay it exactly; swapping in k-means-trained codebooks
(ext/similarity.kmeans_centroids) changes only the codebook DataFrame,
not the plan. Distances use the |a|²+|b|²-2a·b identity so both
engines run the identical list_dot_product / sequential-fold
arithmetic (the bit-exactness trick the ANN tier already proves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import similarity as S
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import text as X
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.dedup import LSH_CANDIDATES_SQL
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.similarity import DBL_SQL, ivf_cand_sql
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import NORM, SHINGLES, TOKS
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import H60_SQL, R4_SQL, R6_SQL, det_round
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import (
    doc_lsh_candidates,
    doc_minhash_sig,
    doc_prefix_pairs,
    doc_shingle_sets,
    ivf_corpus_cells,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- sub-document (paragraph-block) dedup ----------------------------------

#: Tokens per block. Non-overlapping fixed-width blocks: a shared
#: boilerplate paragraph ≥2·BLOCK tokens long is guaranteed to
#: contribute at least one identical block to every document that
#: contains it (alignment can split the first/last fragment only).
BLOCK = 16


@query(
    "q_paragraph_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKS.format(c='text')} AS t FROM documents
    ),
    blocks AS (
      SELECT doc_id,
             md5(array_to_string(t[(b*{BLOCK}+1):(b*{BLOCK}+{BLOCK})], ' ')) AS bh
      FROM toks, UNNEST(range(len(t) // {BLOCK})) AS u(b)
    ),
    docs_per AS (
      SELECT bh, count(DISTINCT doc_id) AS nd FROM blocks GROUP BY 1
    )
    SELECT b.doc_id,
           count(*) AS n_blocks,
           CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_blocks,
           {R4_SQL.format(c="sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)")} AS shared_ratio
    FROM blocks b JOIN docs_per d USING (bh)
    GROUP BY 1
    """,
    tags=("ext", "dedup", "text"),
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: hash non-overlapping 16-token blocks,
    count how many DISTINCT documents each block appears in, report
    per-document the fraction of its blocks shared with any other
    document — the boilerplate/template signal document-level MinHash
    can't see (two distinct pages sharing one nav paragraph). Plan:
    explode to blocks (row-local), one shuffle on the block hash for
    the distinct-doc count, join back on the same key (AQE reuses the
    exchange), one shuffle on doc_id for the rollup. Block hashes are
    16 bytes regardless of block text, so the shuffle payload is flat
    — at 100 TB this is the exact shape of the MinHash signature
    pipeline, with ids-only traffic. Docs shorter than one block drop
    out on both engines (no blocks → no row)."""
    d = read_table(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    nb = F.floor(F.size(t) / F.lit(BLOCK)).cast("int")
    idx = F.when(nb > 0, F.sequence(F.lit(0), nb - 1)).otherwise(
        F.array().cast("array<int>")
    )
    blocks = d.select(
        "doc_id",
        F.explode(idx).alias("b"),
        t.alias("t"),
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("t"), F.col("b") * BLOCK + 1, BLOCK))
        ).alias("bh"),
    )
    docs_per = blocks.groupBy("bh").agg(F.countDistinct("doc_id").alias("nd"))
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        blocks.join(docs_per, "bh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            shared.cast("long").alias("n_shared_blocks"),
            det_round(shared.cast("double") / F.count(F.lit(1)), 4).alias("shared_ratio"),
        )
    )


# --- product quantization (PQ) encode --------------------------------------

PQ_M = 4          # subspaces
PQ_K = 16         # codewords per subspace (seed vectors vec_id < PQ_K)
PQ_SUB = 16       # dims per subspace (EMBED_DIM / PQ_M)

# L2² via the dot-product identity — both engines evaluate three
# list_dot_product/sequential-fold terms in identical order, so the
# doubles agree bit-for-bit (same trick as the cosine tier).
_SQ = (
    "(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
    " - 2 * list_dot_product({a}, {b}))"
)


@query(
    "q_embed_pq",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {DBL_SQL.format(v='embedding')} AS v FROM embeddings
    ),
    sub AS (
      SELECT vec_id, s AS sub_id,
             v[(s*{PQ_SUB}+1):(s*{PQ_SUB}+{PQ_SUB})] AS sv
      FROM e, UNNEST(range({PQ_M})) AS u(s)
    ),
    cb AS (
      SELECT sub_id, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {PQ_K}
    ),
    scored AS (
      SELECT p.vec_id, p.sub_id, c.code,
             {R6_SQL.format(c=_SQ.format(a='p.sv', b='c.cv'))} AS d
      FROM sub p JOIN cb c USING (sub_id)
    )
    SELECT vec_id, sub_id,
           (min({{'d': d, 'c': code}})).c AS code,
           (min({{'d': d, 'c': code}})).d AS dist
    FROM scored GROUP BY 1, 2
    """,
    tags=("ext", "similarity", "quantize"),
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: each 64-dim vector splits into
    4×16-dim subvectors; each subvector is assigned its nearest of 16
    codewords (argmin L2², distance rounded to 6 digits BEFORE the
    argmin so ties are engine-portable, broken toward the smaller
    code). 64 floats → 4 small codes = 64× compression; at 100 TB
    the codebook (M·K subvectors) broadcasts and encoding is one
    scan — the same broadcast-argmin shape as the IVF assignment
    (ext/similarity.ivf_assignments), which is exactly what an IVF-PQ
    index composes. The argmin is a map-side-combinable min(struct)
    aggregate, not a window sort."""
    e = read_table(spark, sf_dir, "embeddings")
    sub = _subvectors(e)
    cb = _codebook(sub)
    sub = sub.withColumn("_saa", S.dot(F.col("sv"), F.col("sv")))
    scored = sub.join(F.broadcast(cb), "sub_id").select(
        "vec_id", "sub_id", "code", det_round(_sqdist_pre(), 6).alias("d")
    )
    best = F.min(F.struct(F.col("d"), F.col("code")))
    return (
        scored.groupBy("vec_id", "sub_id")
        .agg(best.alias("_b"))
        .select(
            "vec_id",
            "sub_id",
            F.col("_b").getField("code").alias("code"),
            F.col("_b").getField("d").alias("dist"),
        )
    )


def _subvectors(e: DataFrame, unit: bool = False) -> DataFrame:
    """(vec_id, sub_id, sv): each embedding split into PQ_M
    double-precision subvectors (row-local explode, no shuffle).
    ``unit=True`` L2-normalizes the whole vector first
    (ext/similarity.unit_vectors — staged, norm computed once per
    row) — then subspace L2² distances sum to 2-2·cosine, aligning
    ADC ranking with the cosine metric the ANN tiers use."""
    if unit:
        e = S.unit_vectors(e)
    return (
        e.select("vec_id", S.as_double(F.col("embedding")).alias("v"))
        .select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub_id"),
            F.col("v"),
        )
        .select(
            "vec_id",
            "sub_id",
            F.slice(F.col("v"), F.col("sub_id") * PQ_SUB + 1, PQ_SUB).alias("sv"),
        )
    )


def _codebook(sub: DataFrame) -> DataFrame:
    """(sub_id, code, cv): seed-vector codebook — PQ_K codewords per
    subspace, always broadcast-sized (PQ_M · PQ_K rows)."""
    return sub.filter(F.col("vec_id") < PQ_K).select(
        "sub_id",
        F.col("vec_id").alias("code"),
        F.col("sv").alias("cv"),
        S.dot(F.col("sv"), F.col("sv")).alias("_sbb"),
    )


def _sqdist_pre() -> F.Column:
    """L2² between the ``sv`` and ``cv`` subvector columns via the dot
    identity (see _SQ — the bit-portable form both engines evaluate
    identically), with both self-dots projected ONCE per side below
    the pair join (``_saa`` on the streamed side, ``_sbb`` on the
    codebook): (aa + bb) - 2·ab over the same doubles as the oracle,
    at one fold per pair."""
    return F.col("_saa") + F.col("_sbb") - F.lit(2) * S.dot(F.col("sv"), F.col("cv"))


# --- IVF-PQ: cell-pruned candidates, ADC-scored ----------------------------

IVFPQ_NPROBE = 2
IVFPQ_K = 5
IVFPQ_NQUERIES = 20  # queries = vec_id < 20 (matches the IVF tier)


@query(
    "q_ivfpq_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, {DBL_SQL.format(v='embedding')} AS v FROM embeddings),
    {ivf_cand_sql(IVFPQ_NPROBE, IVFPQ_NQUERIES)},
    eu AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      FROM e
    ),
    sub AS (
      SELECT vec_id, s AS sub_id,
             nv[(s*{PQ_SUB}+1):(s*{PQ_SUB}+{PQ_SUB})] AS sv
      FROM eu, UNNEST(range({PQ_M})) AS u(s)
    ),
    cb AS (SELECT sub_id, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {PQ_K}),
    codes AS (
      SELECT p.vec_id AS match_id, p.sub_id,
             (min({{'d': {R6_SQL.format(c=_SQ.format(a='p.sv', b='c.cv'))}, 'c': c.code}})).c AS code
      FROM sub p JOIN cb c USING (sub_id)
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT c.query_id, c.match_id,
             cast(sum(cast({R6_SQL.format(c=_SQ.format(a='qs.sv', b='w.cv'))} as decimal(18,6))) as double)
               AS approx_dist
      FROM cand c
      JOIN codes k ON k.match_id = c.match_id
      JOIN cb w ON w.sub_id = k.sub_id AND w.code = k.code
      JOIN sub qs ON qs.vec_id = c.query_id AND qs.sub_id = k.sub_id
      GROUP BY 1, 2
    )
    SELECT query_id, match_id, approx_dist, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY approx_dist, match_id
      ) AS rank FROM adc
    ) WHERE rank <= {IVFPQ_K}
    """,
    tags=("ext", "similarity", "quantize"),
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-5 — the full production ANN composition
    (ROADMAP round-5 item 5): IVF cells prune candidates to
    nprobe/|C| of the corpus, then candidates are scored WITHOUT
    touching their raw vectors — only their 4 PQ codes, looked up
    against the query's subvectors (asymmetric distance computation).
    Per-subspace distances round to 6 digits and sum through
    decimal(18,6), so the ADC score is layout-independent and
    oracle-hashable. At 100 TB: the corpus stores (centroid_id,
    4 codes) = ~10 bytes/vector instead of 256; the codebook and the
    per-query subvector LUT broadcast; the scoring join never reads
    the embedding column — this plan IS the memory story that makes
    billion-vector search fit a cluster."""
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < IVFPQ_NQUERIES)
    cents = e.filter(F.col("vec_id") % S.CENTROID_MOD == 0)
    corpus_cells = ivf_corpus_cells(spark, sf_dir)
    query_cells = S.ivf_assignments(queries, cents, nprobe=IVFPQ_NPROBE).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    cand = (
        query_cells.join(corpus_cells, "centroid_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .distinct()
    )
    # unit-normalized subvectors: ADC L2² then sums to 2-2·cosine,
    # so the quantized ranking approximates the cosine ranking the
    # exact tiers use (recall-tested in tests/test_round5_queries).
    sub = _subvectors(e, unit=True)
    cb = _codebook(sub)
    sub = sub.withColumn("_saa", S.dot(F.col("sv"), F.col("sv")))
    codes = (
        sub.join(F.broadcast(cb), "sub_id")
        .select(
            F.col("vec_id").alias("match_id"),
            "sub_id",
            F.struct(
                det_round(_sqdist_pre(), 6).alias("d"), F.col("code")
            ).alias("_s"),
        )
        .groupBy("match_id", "sub_id")
        .agg(F.min("_s").getField("code").alias("code"))
    )
    qsub = sub.join(
        queries.select("vec_id"), "vec_id"
    ).select(F.col("vec_id").alias("query_id"), "sub_id", "sv", "_saa")
    adc = (
        cand.join(codes, "match_id")
        .join(F.broadcast(cb), ["sub_id", "code"])
        .join(F.broadcast(qsub), ["query_id", "sub_id"])
        .groupBy("query_id", "match_id")
        .agg(
            F.sum(det_round(_sqdist_pre(), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("approx_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("match_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVFPQ_K)
        .select("query_id", "match_id", "approx_dist", "rank")
    )


# --- lossless prefix-filtered set-similarity join (PPJoin family) ----------

#: Jaccard threshold. 1/2 keeps the survive predicate INTEGER
#: (2·|A∩B| ≥ |A∪B|) — no float boundary in either engine.
PPJ_THETA_NUM, PPJ_THETA_DEN = 1, 2


@query(
    "q_prefix_jaccard_join",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, list_distinct(list_transform({SHINGLES.format(t='toks')}, s -> {H60_SQL.format(x='s')})) AS t FROM tk
    ),
    ex AS (SELECT doc_id, len(t) AS sz, u.sh FROM s, unnest(t) AS u(sh)),
    -- exact: a pair below misses ONLY when the intersection is empty,
    -- and empty-intersection pairs can never reach Jaccard >= theta.
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter,
             any_value(a.sz) + any_value(b.sz) - count(*) AS uni
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS n_common,
           CAST(uni AS BIGINT) AS n_union,
           {R6_SQL.format(c="cast(inter as double) / cast(uni as double)")} AS jaccard
    FROM pairs
    WHERE {PPJ_THETA_DEN} * inter >= {PPJ_THETA_NUM} * uni
    """,
    tags=("ext", "dedup", "similarity-join"),
)
def q_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (3-shingle-set Jaccard ≥ 1/2,
    the same normalized-token shingles the MinHash tier hashes) via
    LOSSLESS prefix filtering (SSJoin/PPJoin): order each document's
    distinct shingles rarest-first under one global order (document
    frequency, then shingle), keep only the first |T| - ⌈θ·|T|⌉ + 1 as
    the prefix, and join on prefix tokens. The prefix-filter lemma
    (any pair with |A∩B| ≥ ⌈θ·max(|A|,|B|)⌉ shares its globally
    rarest common token inside BOTH prefixes) makes the blocking
    exact — unlike MinHash-LSH (q_lsh_pairs) there is no recall loss,
    which is why the O(n²) oracle must match row-for-row. Rare-first
    ordering is also the skew guard: join buckets are keyed by LOW
    document-frequency shingles, so boilerplate buckets never form (cap
    any residual hot token by df-thresholding the prefix join at
    ingest if a corpus demands it). Verification re-joins the two
    token arrays and keeps 2·|A∩B| ≥ |A∪B| — an integer predicate,
    deterministic in any engine. Scale: vocabulary ≪ corpus so the
    df table broadcasts; candidates ≪ n² by the filter; the only
    O(corpus) shuffles are the explode-groupBy and the per-doc
    row_number window.

    Execution notes (measured at sf0.1, 38 s → 3 s): the shingle
    array is consumed by THREE operators (explode, and both verify
    joins), and CollapseProject would re-inline the whole
    tokenize→shingle chain into each — so the shingle table
    materializes ONCE behind a localCheckpoint, repartitioned first
    because the corpus is byte-tiny but compute-heavy (the
    AQE/single-file trap SCALE.md documents: one input partition
    serializes interpreted higher-order shingle evaluation). |T|
    comes from count() OVER the same doc partition the ranking
    window already shuffles — not from a second size(t) reference.
    A second prune (the PPJoin length filter num·max(|A|,|B|) ≤
    den·min) drops length-incompatible candidates before the
    distinct, and the array-intersect verify pins its parallelism
    (the q_fuzzy_match lesson). Operator: ext/dedup.py
    prefix_jaccard_pairs."""
    # θ=1/2 == (PPJ_THETA_NUM, PPJ_THETA_DEN): the shared frame is
    # this query's own result, doubling as q_lsh_quality's truth tier
    assert (PPJ_THETA_NUM, PPJ_THETA_DEN) == (1, 2)
    out = doc_prefix_pairs(spark, sf_dir)
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "n_common",
        "n_union",
        "jaccard",
    )


# --- per-dimension quantile normalization ----------------------------------


@query(
    "q_quantile_norm",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {DBL_SQL.format(v='embedding')} AS emb FROM embeddings
    ),
    ex AS (
      SELECT vec_id, u.i AS dim, emb[u.i + 1] AS val
      FROM e, UNNEST(range(len(emb))) AS u(i)
    ),
    ranked AS (
      SELECT vec_id, CAST(dim AS BIGINT) AS dim,
             {R6_SQL.format(c=(
                 "cast(row_number() OVER (PARTITION BY dim ORDER BY val, vec_id) - 1 as double)"
                 " / (count(*) OVER (PARTITION BY dim) - 1)"
             ))} AS qv
      FROM ex
    )
    SELECT vec_id, dim, qv FROM ranked WHERE vec_id % 8 = 0
    """,
    tags=("ext", "similarity", "feature-prep"),
)
def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile (rank) normalization of the embedding
    matrix — the distribution-free feature transform: each dimension's
    values map to their empirical quantile (rank-1)/(N-1) in [0,1],
    making every dimension uniformly distributed regardless of the
    original scale/outliers (the ML-prep sibling of q_robust_scale,
    here columnwise over a vector column). Ties break by vec_id so
    the rank — and therefore the output — is total and deterministic.
    Plan: posexplode (row-local) → one dim-keyed Exchange+Sort for
    the ranking window (64 independent dim partitions — embarrassing
    parallelism at any row count); reassembling ordered arrays back
    per vec_id is one further collect_list shuffle when a pipeline
    wants vectors (the declared output stays long-form — flat rows
    hash-gate engine-portably; every-8th vector bounds the declared
    output without biasing any dimension's rank, which is computed
    over the FULL matrix before the filter). Int ratio
    (rank-1)/(N-1) is one exact IEEE division — bit-identical in any
    engine."""
    e = read_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        F.posexplode(S.as_double(F.col("embedding"))).alias("dim", "val"),
    )
    wr = Window.partitionBy("dim").orderBy(F.asc("val"), F.asc("vec_id"))
    wc = Window.partitionBy("dim")
    ranked = ex.select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        det_round(
            (F.row_number().over(wr) - 1).cast("double")
            / (F.count(F.lit(1)).over(wc) - 1),
            6,
        ).alias("qv"),
    )
    return ranked.filter(F.col("vec_id") % 8 == 0)


# --- LSH blocker quality vs the exact tier ---------------------------------

@query(
    "q_lsh_quality",
    oracle=f"""
    WITH {LSH_CANDIDATES_SQL},
    s AS (SELECT doc_id, list_distinct(list_transform(sh, s -> {H60_SQL.format(x='s')})) AS st FROM sh),
    exx AS (SELECT doc_id, len(st) AS sz, u.x AS shingle FROM s, unnest(st) AS u(x)),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM exx a JOIN exx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING 2 * count(*) >= any_value(a.sz) + any_value(b.sz) - count(*)
    ),
    hit AS (SELECT count(*) AS n_hit FROM cand JOIN truth USING (id_a, id_b)),
    nc AS (SELECT count(*) AS n_cand FROM cand),
    nt AS (SELECT count(*) AS n_truth FROM truth)
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_hit AS BIGINT) AS n_hit,
           {R6_SQL.format(c="cast(n_hit as double) / greatest(n_cand, 1)")} AS lsh_precision,
           {R6_SQL.format(c="cast(n_hit as double) / greatest(n_truth, 1)")} AS lsh_recall
    FROM hit, nc, nt
    """,
    tags=("ext", "dedup", "evaluation"),
)
def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH BLOCKER measured against
    the engine's own exact tier — the evaluation harness a dedup
    pipeline needs before trusting an approximate index: candidates =
    raw band-join pairs (lsh_candidates, unverified, max_bucket=None
    so the engine and the SQL replay are construction-identical);
    truth = lossless prefix-filtered shingle-Jaccard-≥ 1/2 pairs
    (prefix_jaccard_pairs — zero recall loss by the prefix lemma, so
    it IS ground truth, not another approximation). Both tiers are
    deterministic, which is what makes an *evaluation of an
    approximation* hash-gateable. The three counts reduce to 1-row
    aggregates and cross-join broadcast; precision/recall are exact
    int÷int divisions."""
    cand = doc_lsh_candidates(spark, sf_dir)
    truth = doc_prefix_pairs(spark, sf_dir).select("id_a", "id_b")
    hit = cand.join(truth, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        hit.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.col("n_hit").cast("long").alias("n_hit"),
            det_round(
                F.col("n_hit").cast("double") / F.greatest(F.col("n_cand"), F.lit(1)), 6
            ).alias("lsh_precision"),
            det_round(
                F.col("n_hit").cast("double") / F.greatest(F.col("n_truth"), F.lit(1)), 6
            ).alias("lsh_recall"),
        )
    )


# --- MinHash estimator accuracy vs exact Jaccard ---------------------------

_MH_EQ = " + ".join(
    f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(X.MINHASH_K)
)


@query(
    "q_minhash_accuracy",
    oracle=f"""
    WITH {LSH_CANDIDATES_SQL},
    s AS (SELECT doc_id, list_distinct(list_transform(sh, s -> {H60_SQL.format(x='s')})) AS st FROM sh),
    est AS (
      SELECT c.id_a, c.id_b,
             ({_MH_EQ}) / {float(X.MINHASH_K)!r} AS est
      FROM cand c
      JOIN sig a ON a.doc_id = c.id_a
      JOIN sig b ON b.doc_id = c.id_b
    ),
    ex AS (
      SELECT e.id_a, e.id_b,
             {R6_SQL.format(c='e.est')} AS est_jaccard,
             {R6_SQL.format(c=(
                 "cast(len(list_intersect(sa.st, sb.st)) as double)"
                 " / (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st)))"
             ))} AS exact_jaccard
      FROM est e
      JOIN s sa ON sa.doc_id = e.id_a
      JOIN s sb ON sb.doc_id = e.id_b
    )
    SELECT id_a, id_b, est_jaccard, exact_jaccard,
           abs(est_jaccard - exact_jaccard) AS abs_err
    FROM ex
    """,
    tags=("ext", "dedup", "evaluation"),
)
def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair MinHash ACCURACY audit — the second half of the
    sketch-evaluation harness (q_lsh_quality grades the blocker;
    this grades the estimator): for every band-join candidate pair,
    the k=8 signature-agreement Jaccard estimate next to the exact
    distinct-shingle Jaccard and the absolute error. matches/k is an
    exact int÷int division; the exact tier re-joins the once-
    materialized shingle sets; both sides round before the
    subtraction so abs_err is arithmetic on identical doubles. The
    signature join is |cand|-sized (ids + 8 longs) — at corpus scale
    this audit costs one broadcast of the signature table over the
    candidate list, which is exactly how a production pipeline spot-
    checks its sketch parameters before committing to a dedup run."""
    sig = doc_minhash_sig(spark, sf_dir)
    cand = doc_lsh_candidates(spark, sf_dir)
    k = X.MINHASH_K
    sa = sig.select(
        F.col("doc_id").alias("id_a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(k)]
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(k)]
    )
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(k)
    )
    est = (
        cand.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select("id_a", "id_b", (matches / F.lit(float(k))).alias("est"))
    )
    sets = doc_shingle_sets(spark, sf_dir).select("doc_id", F.col("t").alias("st"))
    ver = est.join(
        sets.select(F.col("doc_id").alias("id_a"), F.col("st").alias("ta")), "id_a"
    ).join(sets.select(F.col("doc_id").alias("id_b"), F.col("st").alias("tb")), "id_b")
    inter = F.size(F.array_intersect("ta", "tb"))
    exact = inter.cast("double") / (F.size("ta") + F.size("tb") - inter)
    est_r = det_round(F.col("est"), 6)
    exact_r = det_round(exact, 6)
    return ver.select(
        "id_a",
        "id_b",
        est_r.alias("est_jaccard"),
        exact_r.alias("exact_jaccard"),
        F.abs(est_r - exact_r).alias("abs_err"),
    )


# --- dedup threshold tuning curve (round 12) ---------------------------------

from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry as _registry  # noqa: E402

DEDUP_THETAS = tuple(k / 10 for k in range(5, 10))  # 0.5 … 0.9, repr-stable


def _dedup_curve_oracle() -> str:
    base = _registry._REGISTRY["q_prefix_jaccard_join"].oracle
    taus = ", ".join(f"({t!r})" for t in DEDUP_THETAS)
    return f"""WITH base AS ({base}),
    sw AS (
      SELECT t.theta, doc_a, doc_b
      FROM base CROSS JOIN (VALUES {taus}) t(theta)
      WHERE jaccard >= t.theta
    ),
    st AS (
      SELECT theta, doc_a AS doc FROM sw
      UNION ALL
      SELECT theta, doc_b FROM sw
    )
    SELECT theta,
           CAST(count(*) // 2 AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
    FROM st GROUP BY 1"""


@query(
    "q_dedup_threshold_curve",
    oracle=_dedup_curve_oracle(),
    tags=("ext", "dedup", "evaluation", "curve"),
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup TUNING curve: near-dup pair volume and affected-document
    count at Jaccard thresholds 0.5…0.9, off ONE exact PPJoin pair
    table (the q_ivf_nprobe_curve / q_logreg_roc eval-cost
    discipline: the expensive stage runs once, the sweep is an
    in-row threshold explode + one agg). This is the artifact that
    decides a corpus's dedup threshold — how many documents each θ
    would implicate — graded against the LOSSLESS pair tier, so the
    curve is exact, not LSH-approximate. Thresholds are k/10
    literals (repr-stable); jaccard is already det-rounded by the
    base query, so the >= comparisons agree across engines."""
    pairs = _registry._REGISTRY["q_prefix_jaccard_join"].fn(spark, sf_dir)
    sw = pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.explode(F.array(*[F.lit(t) for t in DEDUP_THETAS])).alias("theta"),
    ).filter(F.col("jaccard") >= F.col("theta"))
    st = sw.select("theta", F.explode(F.array("doc_a", "doc_b")).alias("doc"))
    return st.groupBy("theta").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.countDistinct("doc").alias("n_docs"),
    )
