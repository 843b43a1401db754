"""Round-3 LLM-corpus depth queries (SURVEY §2.14 extensions).

Fills the remaining gaps a training-data pipeline hits after round
2's dedup/similarity/quality surface: lexical retrieval scoring
(BM25), intra-document repetition (the Gopher-class signal the
duplicate-line filters approximate), the END-TO-END dedup pipeline
(clusters → keep canonical → surviving corpus), embedding-norm
health stats, corpus length histograms, and k-NN label voting over
the ANN-ready vector table. Same oracle discipline as catalog_ext:
every SQL twin is generated from the same constants the Spark
operators use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import dedup as D
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import similarity as S
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import text as X
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.dedup import DUP_LABELS_SQL
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.similarity import DBL_SQL
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import NORM, SHINGLES, TOKS
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    H60_SQL,
    R4_SQL,
    R6_SQL,
    R8_SQL,
    det_round,
    det_round_sql,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import (
    doc_minhash_sig,
    doc_token_sets,
    doc_tokens,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


# --- BM25 lexical retrieval ------------------------------------------------

#: Fixed query-term set (mid/high-frequency corpus tokens — the point
#: is the scoring math, not the retrieval quality on synthetic text).
BM25_TERMS = ("hash", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75


@query(
    "q_bm25",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             cast(sum(len(toks)) as double) / count(*) AS avgdl
      FROM t
    ),
    tf AS (
      SELECT doc_id, len(toks) AS dl,
             {', '.join(f"len(list_filter(toks, x -> x = '{term}')) AS tf_{term}" for term in BM25_TERMS)}
      FROM t
    ),
    df AS (
      SELECT {', '.join(f'count(CASE WHEN tf_{term} > 0 THEN 1 END) AS df_{term}' for term in BM25_TERMS)}
      FROM tf
    )
    SELECT doc_id,
      {R4_SQL.format(c=' + '.join(
          f"ln(1 + (n_docs - df_{term} + 0.5) / (df_{term} + 0.5))"
          f" * (tf_{term} * ({BM25_K1} + 1))"
          f" / (tf_{term} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
          for term in BM25_TERMS))} AS bm25
    FROM tf, stats, df
    WHERE {' + '.join(f'tf_{term}' for term in BM25_TERMS)} > 0
    """,
    tags=("ext", "text", "retrieval"),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scoring for a fixed query-term set: per-term tf from one
    tokenize pass, document frequencies + avgdl from two 1-row
    aggregates that broadcast back onto the corpus — no shuffle of
    the document table itself. The Okapi formula (k1=1.2, b=0.75)
    runs as plain codegen arithmetic; at 100 TB the df/avgdl stats
    come from the corpus profile table instead of a rescan."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    tf = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[
            # one-arg lambda per term (a default-arg lambda would have
            # arity 2 and be read as the (element, index) variant)
            F.size(F.filter("toks", (lambda t: lambda x: x == t)(term))).alias(f"tf_{term}")
            for term in BM25_TERMS
        ],
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size("toks")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.agg(
        *[
            F.count(F.when(F.col(f"tf_{term}") > 0, True)).alias(f"df_{term}")
            for term in BM25_TERMS
        ]
    )
    score = None
    for term in BM25_TERMS:
        tf_c = F.col(f"tf_{term}")
        df_c = F.col(f"df_{term}")
        idf = F.log(
            F.lit(1)
            + (F.col("n_docs") - df_c + F.lit(0.5)) / (df_c + F.lit(0.5))
        )
        part = idf * (tf_c * F.lit(BM25_K1 + 1)) / (
            tf_c
            + F.lit(BM25_K1)
            * (F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    any_tf = None
    for term in BM25_TERMS:
        c = F.col(f"tf_{term}")
        any_tf = c if any_tf is None else any_tf + c
    return (
        tf.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfreq))
        .filter(any_tf > 0)
        .select("doc_id", det_round(score, 4).alias("bm25"))
    )


# --- intra-document repetition (Gopher-class signal) -----------------------

@query(
    "q_dup_ngram_ratio",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    sh AS (SELECT doc_id, {SHINGLES.format(t='toks')} AS sh FROM t)
    SELECT doc_id,
           len(sh) AS n_shingles,
           len(list_distinct(sh)) AS n_distinct,
           {R4_SQL.format(c='1.0 - len(list_distinct(sh)) / greatest(len(sh), 1)')} AS rep_ratio,
           CAST(CASE WHEN 1.0 - len(list_distinct(sh)) / greatest(len(sh), 1) > 0.2
                THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
    FROM sh
    """,
    tags=("ext", "text", "quality"),
)
def q_dup_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-3-gram fraction per document — the intra-doc
    repetition signal (duplicated lines/paragraphs collapse into
    repeated shingles) that Gopher-style quality filtering cuts on.

    Shape: staged tokens → explode shingles → count/countDistinct
    per doc — the same generator-then-aggregate form as
    ext/text.with_minhash, for the same reason: array HOFs run
    interpreted and CollapseProject re-inlines a nested shingle
    expression into every consumer (an array_distinct-on-expression
    form measured ~9× slower at sf0.1). The shingle generator
    evaluates once per row; the min-agg combines map-side."""
    staged = doc_tokens(spark, sf_dir).select("doc_id", F.col("toks").alias("_toks"))
    sh_rows = staged.select(
        "doc_id", F.explode(X.shingles_of(F.col("_toks"))).alias("_s")
    )
    counts = sh_rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("_s").alias("n_distinct"),
    )
    ratio = F.lit(1.0) - F.col("n_distinct") / F.greatest(F.col("n_shingles"), F.lit(1))
    return counts.select(
        "doc_id",
        "n_shingles",
        "n_distinct",
        det_round(ratio, 4).alias("rep_ratio"),
        F.when(ratio > 0.2, 1).otherwise(0).cast("long").alias("is_repetitive"),
    )


# --- end-to-end dedup pipeline ---------------------------------------------

@query(
    "q_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE
    {DUP_LABELS_SQL},
    dropped AS (SELECT node FROM labels WHERE node <> cluster_id)
    SELECT d.doc_id, d.source, d.n_chars,
           CAST(CASE WHEN l.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_cluster_rep
    FROM documents d
    LEFT JOIN dropped x ON d.doc_id = x.node
    LEFT JOIN labels l ON d.doc_id = l.node AND l.node = l.cluster_id
    WHERE x.node IS NULL
    """,
    tags=("ext", "dedup", "pipeline"),
)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dup removal: MinHash-LSH pairs → connected
    components → keep the min-id representative per cluster, drop the
    rest → the surviving corpus (with a flag marking docs that
    represent a dup cluster). This is the actionable form every
    training-data pipeline ships: the cluster table is tiny (pair-
    connected docs only), so the final step is one broadcast anti-join
    against the full corpus — the 100 TB scan happens exactly once."""
    d = read_table(spark, sf_dir, "documents")
    clusters = D.dup_clusters(
        d,
        "doc_id",
        "text",
        threshold=0.5,
        sig=doc_minhash_sig(spark, sf_dir),
        toks=doc_token_sets(spark, sf_dir),
    )
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    reps = (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
        .withColumn("_rep", F.lit(1))
    )
    return (
        d.join(F.broadcast(dropped), "doc_id", "left_anti")
        .join(F.broadcast(reps), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce("_rep", F.lit(0)).cast("long").alias("is_cluster_rep"),
        )
    )


# --- embedding norm health stats -------------------------------------------

@query(
    "q_vector_norms",
    oracle=f"""
    WITH n AS (
      SELECT label,
             {R6_SQL.format(c=f"sqrt(list_dot_product({DBL_SQL.format(v='embedding')}, {DBL_SQL.format(v='embedding')}))")} AS nrm
      FROM embeddings
    )
    SELECT label,
           count(*) AS n_vecs,
           min(nrm) AS min_norm,
           max(nrm) AS max_norm,
           {R4_SQL.format(c='cast(sum(cast(nrm as decimal(18,6))) as double) / count(*)')} AS avg_norm
    FROM n GROUP BY 1
    """,
    tags=("ext", "similarity", "stats"),
)
def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm distribution per label — the vector-table
    health check run before any ANN build (zero/exploding norms break
    cosine). Norms are rounded to 6 digits row-side, then aggregated
    through decimal so min/max/avg are reproducible on any partition
    order."""
    e = read_table(spark, sf_dir, "embeddings")
    nrm = det_round(S.norm(S.as_double(F.col("embedding"))), 6)
    n = e.select("label", nrm.alias("nrm"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        det_round(
            F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_norm"),
    )


# --- corpus length histogram -----------------------------------------------

@query(
    "q_length_histogram",
    oracle="""
    SELECT source,
           cast(floor(n_chars / 200) * 200 as bigint) AS len_bucket,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("ext", "text", "profile"),
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document-length histogram per source (200-char
    bins) — the corpus profile that sizes chunking and flags
    truncated scrapes. Pure map-side-combinable aggregate on derived
    keys; the bin expression folds into the scan."""
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy(
        "source",
        (F.floor(F.col("n_chars") / 200) * 200).cast("long").alias("len_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# --- k-NN label vote -------------------------------------------------------

@query(
    "q_knn_label_vote",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, {DBL_SQL.format(v='embedding')} AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 50),
    scored AS (
      SELECT query_id, c.vec_id AS match_id, c.label,
             {R6_SQL.format(c='list_dot_product(qv, c.v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))')} AS sim
      FROM q JOIN e c ON c.vec_id <> query_id
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, match_id
        ) AS rn FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, label, count(*) AS n_votes
      FROM topk GROUP BY 1, 2
    )
    SELECT query_id, label AS voted_label, n_votes FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY n_votes DESC, label
      ) AS rv FROM votes
    ) WHERE rv = 1
    """,
    tags=("ext", "similarity", "classify"),
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification by majority vote: exact cosine top-5 per
    query vector, then the modal neighbor label (ties → more votes
    first, then smaller label — fully deterministic). The brute-force
    scorer is the exactness tier; at scale the candidate set comes
    from the ANN index and the vote is unchanged."""
    e = read_table(spark, sf_dir, "embeddings")
    topk = S.brute_force_topk(e, e.filter(F.col("vec_id") < 50), k=5)
    labels = e.select(F.col("vec_id").alias("match_id"), "label")
    votes = (
        topk.join(F.broadcast(labels), "match_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("_rv", F.row_number().over(w))
        .filter(F.col("_rv") == 1)
        .select("query_id", F.col("label").alias("voted_label"), "n_votes")
    )


# --- Count-Min-Sketch heavy hitters ----------------------------------------

CMS_W = 1024
CMS_D = 4
CMS_TOPK = 15


@query(
    "q_cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKS.format(c=NORM.format(c='text'))}) AS tok FROM documents
    ),
    buckets AS (
      SELECT j, {H60_SQL.format(x="'cms' || j || ':' || tok")} % {CMS_W} AS bucket
      FROM tok CROSS JOIN (SELECT unnest(range({CMS_D})) AS j)
    ),
    counters AS (
      SELECT j, bucket, count(*) AS cnt FROM buckets GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, count(*) AS exact_count FROM tok GROUP BY 1
      ORDER BY exact_count DESC, tok LIMIT {CMS_TOPK}
    ),
    probes AS (
      SELECT e.tok, e.exact_count, j.j,
             {H60_SQL.format(x="'cms' || j.j || ':' || e.tok")} % {CMS_W} AS bucket
      FROM exact e CROSS JOIN (SELECT unnest(range({CMS_D})) AS j) j
    )
    SELECT p.tok AS token, p.exact_count,
           min(c.cnt) AS cms_estimate,
           min(c.cnt) - p.exact_count AS overestimate
    FROM probes p JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY 1, 2
    """,
    tags=("ext", "sketch", "text"),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters, fully deterministic: d=4
    md5-salted rows × w=1024 buckets over the token stream, probed
    for the exact top-15 tokens. Unlike a randomized CMS, the
    md5-seeded hashes make the estimate an exact function of the
    data — so the one-sided error invariant (estimate ≥ exact) is
    hash-gated, not just property-tested. The counter table is
    (d·w)=4096 rows built in ONE shuffle from a posexplode of the 4
    bucket ids per token; probes broadcast against it. The mergeable-
    sketch shape: at 100 TB each partition's counters sum element-wise."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
    bucket_arr = F.array(
        *[
            F.pmod(
                X.hash60(F.concat(F.lit(f"cms{j}:"), F.col("tok"))), F.lit(CMS_W)
            )
            for j in range(CMS_D)
        ]
    )
    counters = (
        tok.select(F.posexplode(bucket_arr).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("tok"))
        .limit(CMS_TOPK)
    )
    probes = exact.select(
        "tok", "exact_count", F.posexplode(bucket_arr).alias("j", "bucket")
    )
    return (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy(F.col("tok").alias("token"), "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .withColumn("overestimate", F.col("cms_estimate") - F.col("exact_count"))
    )


# --- Misra-Gries heavy hitters (mergeable deterministic summaries) ----------

MG_K = 12  # counters kept per summary (error ≤ N/(k+1))
MG_SHARDS = 8  # deterministic data-derived shards (doc_id % MG_SHARDS)

#: one MG compression step in SQL: rank counts (desc, token asc),
#: subtract the (k+1)-th largest count value, keep strictly-positive
#: remainders. With ≤ k distinct entries the threshold is 0. Entries
#: ranked past k+1 have c ≤ threshold, so ≤ k survive by construction
#: — no explicit top-k cut (and thus no tie-break sensitivity).


@query(
    "q_misra_gries",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id % {MG_SHARDS} AS shard,
             unnest({TOKS.format(c=NORM.format(c='text'))}) AS tok
      FROM documents
    ),
    sc AS (SELECT shard, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    ranked AS (
      SELECT shard, tok, c,
             row_number() OVER (PARTITION BY shard ORDER BY c DESC, tok) AS rn
      FROM sc
    ),
    thr AS (
      SELECT shard,
             coalesce(max(CASE WHEN rn = {MG_K + 1} THEN c END), 0) AS t
      FROM ranked GROUP BY 1
    ),
    comp AS (
      SELECT r.shard, r.tok, r.c - t.t AS c
      FROM ranked r JOIN thr t USING (shard)
      WHERE r.c - t.t > 0
    ),
    merged AS (SELECT tok, sum(c) AS c FROM comp GROUP BY 1),
    mr AS (
      SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rn
      FROM merged
    ),
    mthr AS (SELECT coalesce(max(CASE WHEN rn = {MG_K + 1} THEN c END), 0) AS t FROM mr),
    summ AS (
      SELECT tok, c - t AS mg FROM mr, mthr WHERE c - t > 0
    ),
    exact AS (SELECT tok, count(*) AS exact_count FROM tok GROUP BY 1)
    SELECT s.tok AS token,
           CAST(s.mg AS BIGINT) AS mg_estimate,
           CAST(e.exact_count AS BIGINT) AS exact_count,
           CAST(e.exact_count - s.mg AS BIGINT) AS underestimate
    FROM summ s JOIN exact e ON s.tok = e.tok
    """,
    tags=("ext", "sketch", "text", "mergeable"),
)
def q_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters as a MERGEABLE bounded-memory
    summary (Agarwal et al., "Mergeable Summaries", PODS'12): each
    deterministic shard (doc_id % {MG_SHARDS}) compresses its exact
    token counts to ≤ k={MG_K} counters by subtracting the (k+1)-th
    largest count (the batch equivalent of the MG decrement), shard
    summaries merge by summed-count + one more compression, and the
    result under-estimates every frequency by at most N/(k+1) — the
    one-sided mirror of q_cms_heavy_hitters' over-estimate, with
    O(k) memory per shard instead of O(d·w) counters. Like the CMS
    query, the estimate is probed against the exact counts so the
    error invariant is oracle-HASHED, not just property-tested
    (tests/test_property_laws9.py pins estimate ≤ exact ≤ estimate +
    N/(k+1) independently). Execution: one (shard, token) shuffle,
    per-shard window for the threshold, then the merge runs on ≤
    shards·k rows — at 100 TB the shards are partitions and the
    merge input stays KB-sized regardless of corpus size, which is
    the entire point of a mergeable summary (reference analog: the
    gold-tier category breakdowns in `spark_jobs/gold/fraud_summary.py:50-58`
    are exact full groupBys with no bounded-memory path)."""
    t = doc_tokens(spark, sf_dir)
    tok = t.select(
        F.pmod(F.col("doc_id"), F.lit(MG_SHARDS)).alias("shard"),
        F.explode("toks").alias("tok"),
    )
    counts = tok.groupBy("shard", "tok").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("shard").orderBy(F.desc("c"), F.asc("tok"))
    ranked = counts.withColumn("rn", F.row_number().over(wr))
    thr = F.coalesce(
        F.max(F.when(F.col("rn") == MG_K + 1, F.col("c"))).over(
            Window.partitionBy("shard")
        ),
        F.lit(0),
    )
    comp = (
        ranked.withColumn("c", F.col("c") - thr)
        .filter(F.col("c") > 0)
        .select("shard", "tok", "c")
    )
    merged = comp.groupBy("tok").agg(F.sum("c").alias("c"))
    # global re-compression: input is ≤ MG_SHARDS·MG_K rows by
    # construction, so the unpartitioned windows are a deliberate
    # single-task pass over a KB-sized frame, not a scale hazard.
    mr = merged.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok")))
    )
    gthr = F.coalesce(
        F.max(F.when(F.col("rn") == MG_K + 1, F.col("c"))).over(Window.partitionBy()),
        F.lit(0),
    )
    summ = (
        mr.withColumn("mg", F.col("c") - gthr)
        .filter(F.col("mg") > 0)
        .select("tok", "mg")
    )
    exact = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    return summ.join(exact, "tok").select(
        F.col("tok").alias("token"),
        F.col("mg").cast("long").alias("mg_estimate"),
        F.col("exact_count").cast("long").alias("exact_count"),
        (F.col("exact_count") - F.col("mg")).cast("long").alias("underestimate"),
    )


# --- mergeable quantile sketch (decimal log-histogram) ----------------------

QS_PROBES = (0.5, 0.9, 0.99)


@query(
    "q_quantile_sketch",
    oracle=f"""
    WITH c AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM lineitem
    ),
    b AS (
      SELECT length(CAST(cents AS VARCHAR)) AS d,
             CAST(substr(CAST(cents AS VARCHAR), 1, 2) AS BIGINT) AS lead2,
             count(*) AS n
      FROM c WHERE cents >= 10
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT d, lead2, n,
             lead2 * CAST(power(10, d - 2) AS BIGINT) AS lo_cents,
             sum(n) OVER (ORDER BY d, lead2) AS cum_n
      FROM b
    ),
    tot AS (SELECT count(*) AS nt FROM c WHERE cents >= 10),
    probes AS (SELECT unnest(ARRAY[{", ".join(str(p) for p in QS_PROBES)}]) AS p),
    est AS (
      SELECT p.p, min(cum.lo_cents) AS est_cents
      FROM probes p CROSS JOIN tot
      JOIN cum ON cum.cum_n >= CAST(ceil(p.p * tot.nt) AS BIGINT)
      GROUP BY 1
    ),
    ranked AS (
      SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c WHERE cents >= 10
    ),
    exact AS (
      SELECT p.p, min(r.cents) AS exact_cents
      FROM probes p CROSS JOIN tot
      JOIN ranked r ON r.rn = CAST(ceil(p.p * tot.nt) AS BIGINT)
      GROUP BY 1
    )
    SELECT e.p AS probe,
           CAST(e.est_cents AS DOUBLE) / 100 AS est_value,
           CAST(x.exact_cents AS DOUBLE) / 100 AS exact_value,
           (floor((CAST(x.exact_cents - e.est_cents AS DOUBLE) / x.exact_cents)
                  * 1000000.0 + 0.5) / 1000000.0) AS rel_error
    FROM est e JOIN exact x ON e.p = x.p
    """,
    tags=("sketch", "mergeable", "relational"),
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch as a DECIMAL LOG-HISTOGRAM: prices
    quantize to exact integer cents, bucket by (digit count, first
    two digits) — ≤ 90 buckets per decade, pure integer/string ops so
    both engines bucket identically (no float log whose last ulp
    could flip a boundary). Quantile estimate = lower bound of the
    first bucket whose cumulative count reaches ceil(p·N); since a
    bucket spans [lead2, lead2+1)·10^(d-2), the estimate
    under-reports by a RELATIVE error < 1/(lead2+1) ≤ 1/11 ≈ 9% —
    probed against the exact rank statistics so the bound is
    oracle-HASHED (test_round10 pins it independently). Counts merge
    by addition: this is the quantile member of the mergeable-summary
    family (CMS counts, MG heavy hitters, KMV/HLL distincts) — at
    100 TB each partition emits its ≤ few-hundred-row histogram and
    the merge is a KB-sized agg, vs an exact quantile's full sort.
    The exact tier is itself histogram-PRUNED: the target bucket's
    cumulative offset turns the global k-th-smallest into a
    rank-(k−prev_cum) lookup INSIDE one bucket, so the only sort runs
    over ~N/buckets rows per probe instead of a single-partition
    global sort (measured 2.5 s → sub-second at sf0.1) — the same
    prune a cluster would do with bucket-partitioned storage. The
    DuckDB oracle keeps the naive global-sort formulation: same
    values, independently derived."""
    li = read_table(spark, sf_dir, "lineitem")
    c = li.select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    ).filter(F.col("cents") >= 10)
    s = F.col("cents").cast("string")
    b = (
        c.select(
            F.length(s).alias("d"),
            F.substring(s, 1, 2).cast("long").alias("lead2"),
        )
        .groupBy("d", "lead2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pow10 = F.pow(F.lit(10), F.col("d") - 2).cast("long")
    cum = b.select(
        "d",
        "lead2",
        "n",
        (F.col("lead2") * pow10).alias("lo_cents"),
        ((F.col("lead2") + 1) * pow10).alias("hi_cents"),
        F.sum("n")
        .over(Window.orderBy("d", "lead2").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_n"),
    )
    # N from the histogram itself — the sketch answers its own
    # cardinality question; no second corpus scan. Probes attach as a
    # literal-array explode — plan constants, no join.
    nt = b.agg(F.sum("n").alias("nt"))
    # per probe: target rank k and the FIRST bucket whose cumulative
    # count reaches it (min over lo_cents ≡ min over (d, lead2) —
    # bucket lower bounds are strictly increasing in bucket order)
    target = (
        nt.select(
            "nt", F.explode(F.array(*[F.lit(p) for p in QS_PROBES])).alias("p")
        )
        .withColumn("k", F.ceil(F.col("p") * F.col("nt")).cast("long"))
        .join(cum, F.col("cum_n") >= F.col("k"))
        .groupBy("p", "k")
        .agg(
            F.min(
                F.struct("lo_cents", "hi_cents", (F.col("cum_n") - F.col("n")).alias("prev_cum"))
            ).alias("b")
        )
        .select("p", "k", "b.lo_cents", "b.hi_cents", "b.prev_cum")
    )
    # exact rank statistic, histogram-pruned: only the target bucket's
    # rows sort, at offset k - prev_cum within the bucket. The
    # estimate (the bucket's lower bound) rides the SAME rows, so the
    # whole query is one branch — Spark doesn't dedupe common
    # subplans, and a separate est-vs-exact join re-scanned lineitem
    # once per branch (suite-context 4.0 s → isolated 1.6 s at sf0.1).
    in_bucket = c.join(
        F.broadcast(target),
        (F.col("cents") >= F.col("lo_cents")) & (F.col("cents") < F.col("hi_cents")),
    )
    wb = Window.partitionBy("p").orderBy("cents")
    return (
        in_bucket.withColumn("rnb", F.row_number().over(wb))
        .filter(F.col("rnb") == F.col("k") - F.col("prev_cum"))
        .select(
            F.col("p").alias("probe"),
            (F.col("lo_cents").cast("double") / 100).alias("est_value"),
            (F.col("cents").cast("double") / 100).alias("exact_value"),
            det_round(
                (F.col("cents") - F.col("lo_cents")).cast("double") / F.col("cents"),
                6,
            ).alias("rel_error"),
        )
    )


# --- per-key quantiles from per-key bounded histograms ----------------------

QK_PROBES = (0.5, 0.9)


@query(
    "q_quantile_by_key",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars >= 10
    ),
    b AS (
      SELECT source,
             length(CAST(v AS VARCHAR)) AS d,
             CAST(substr(CAST(v AS VARCHAR), 1, 2) AS BIGINT) AS lead2,
             count(*) AS n
      FROM c GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT source, d, lead2, n,
             lead2 * CAST(power(10, d - 2) AS BIGINT) AS lo_cents,
             (lead2 + 1) * CAST(power(10, d - 2) AS BIGINT) AS hi_cents,
             sum(n) OVER (PARTITION BY source ORDER BY d, lead2) AS cum_n
      FROM b
    ),
    nt AS (SELECT source, sum(n) AS nt FROM b GROUP BY 1),
    probes AS (SELECT unnest(ARRAY[{", ".join(str(p) for p in QK_PROBES)}]) AS p),
    target AS (
      -- lo/hi/prev_cum are all monotone in bucket order, so the
      -- per-column mins over qualifying buckets equal the FIRST
      -- qualifying bucket's values
      SELECT nt.source, p.p, CAST(ceil(p.p * nt.nt) AS BIGINT) AS k,
             min(cum.lo_cents) AS lo_cents,
             min(cum.hi_cents) AS hi_cents,
             min(cum.cum_n - cum.n) AS prev_cum
      FROM probes p
      CROSS JOIN nt
      JOIN cum ON cum.source = nt.source
              AND cum.cum_n >= CAST(ceil(p.p * nt.nt) AS BIGINT)
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT t.source, t.p, t.k, t.lo_cents, c.v,
             row_number() OVER (PARTITION BY t.source, t.p ORDER BY c.v) AS rnb,
             t.k - t.prev_cum AS want
      FROM target t
      JOIN c ON c.source = t.source AND c.v >= t.lo_cents AND c.v < t.hi_cents
    )
    SELECT source, p AS probe,
           CAST(lo_cents AS BIGINT) AS est_len,
           CAST(v AS BIGINT) AS exact_len,
           {R6_SQL.format(c="CAST(v - lo_cents AS DOUBLE) / v")}
             AS rel_error
    FROM ranked WHERE rnb = want
    """,
    tags=("sketch", "mergeable", "text"),
)
def q_quantile_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-KEY quantiles (p50/p90 document length per source) from
    per-key decimal log-histograms — the grouped form of
    q_quantile_sketch, and the shape that matters at 100 TB: exact
    per-key percentiles need a sort per key (q_percentiles' window
    path), while the histogram gives every key FIXED-size state
    (≤ 90 buckets/decade) that merges by addition — per-source length
    profiles over a trillion documents reduce to |sources|×buckets
    rows. Same integer-only bucketing (no float-log boundaries), same
    one-sided < 1/11 relative-error guarantee, and the exact probe is
    histogram-pruned per (source, probe) so only the target bucket's
    rows ever sort. The n_chars ≥ 10 guard pins the two-digit-lead
    domain (vacuously true on this corpus: min length 44)."""
    d0 = read_table(spark, sf_dir, "documents")
    c = d0.select("source", F.col("n_chars").cast("long").alias("v")).filter(
        F.col("v") >= 10
    )
    s = F.col("v").cast("string")
    b = (
        c.select(
            "source",
            F.length(s).alias("d"),
            F.substring(s, 1, 2).cast("long").alias("lead2"),
        )
        .groupBy("source", "d", "lead2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pow10 = F.pow(F.lit(10), F.col("d") - 2).cast("long")
    wc = (
        Window.partitionBy("source")
        .orderBy("d", "lead2")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = b.select(
        "source",
        "d",
        "lead2",
        "n",
        (F.col("lead2") * pow10).alias("lo_cents"),
        ((F.col("lead2") + 1) * pow10).alias("hi_cents"),
        F.sum("n").over(wc).alias("cum_n"),
    )
    nt = b.groupBy("source").agg(F.sum("n").alias("nt"))
    # probes attach as a literal-array explode — plan constants, no join
    target = (
        nt.select(
            "source",
            "nt",
            F.explode(F.array(*[F.lit(p) for p in QK_PROBES])).alias("p"),
        )
        .withColumn("k", F.ceil(F.col("p") * F.col("nt")).cast("long"))
        .join(cum, ["source"])
        .filter(F.col("cum_n") >= F.col("k"))
        .groupBy("source", "p", "k")
        .agg(
            F.min(
                F.struct(
                    "lo_cents", "hi_cents", (F.col("cum_n") - F.col("n")).alias("prev_cum")
                )
            ).alias("b")
        )
        .select("source", "p", "k", "b.lo_cents", "b.hi_cents", "b.prev_cum")
    )
    in_bucket = c.join(F.broadcast(target), ["source"]).filter(
        (F.col("v") >= F.col("lo_cents")) & (F.col("v") < F.col("hi_cents"))
    )
    wb = Window.partitionBy("source", "p").orderBy("v")
    return (
        in_bucket.withColumn("rnb", F.row_number().over(wb))
        .filter(F.col("rnb") == F.col("k") - F.col("prev_cum"))
        .select(
            "source",
            F.col("p").alias("probe"),
            F.col("lo_cents").cast("long").alias("est_len"),
            F.col("v").cast("long").alias("exact_len"),
            det_round(
                (F.col("v") - F.col("lo_cents")).cast("double") / F.col("v"), 6
            ).alias("rel_error"),
        )
    )


# --- audio-style byte frame windows ----------------------------------------

FRAME_LEN = 256
FRAME_HOP = 128


@query(
    "q_audio_frames",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, upper(hex(encode(text))) AS hx,
             cast(octet_length(encode(text)) as bigint) AS byte_len
      FROM documents
    ),
    framed AS (
      SELECT doc_id, byte_len,
             cast(unnest(range(1 + greatest(byte_len - 1, 0) // {FRAME_HOP})) as int) AS frame_idx
      FROM b
    )
    SELECT f.doc_id, f.byte_len, f.frame_idx,
           cast(f.frame_idx * {FRAME_HOP} as bigint) AS start_off,
           cast(least({FRAME_LEN}, f.byte_len - f.frame_idx * {FRAME_HOP}) as bigint) AS frame_bytes,
           md5(substring(b.hx, f.frame_idx * {FRAME_HOP} * 2 + 1, {FRAME_LEN} * 2)) AS frame_md5
    FROM framed f JOIN b ON f.doc_id = b.doc_id
    """,
    tags=("ext", "multimodal", "audio"),
)
def q_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style frame windowing over binary payloads (256-byte
    frames, 128-byte hop): one generator row per frame, in-row byte
    slicing, md5 frame checksums — the windowing half of an audio
    pipeline with the codec left to the decode seam
    (ext/multimodal.decode_features). The oracle replays the same
    slicing over DuckDB blobs; frame checksums pin byte-exactness of
    every slice, not just counts."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.multimodal import attach_binary, frame_windows

    d = attach_binary(read_table(spark, sf_dir, "documents"))
    return frame_windows(d, frame_len=FRAME_LEN, hop=FRAME_HOP)


# --- EXIF-style structured-binary metadata extraction ----------------------

#: DuckDB twin of ext/text.hash60 applied to the raw text column
#: (attach_exif_payload derives the planted dimensions from it).
H60_EXPR = H60_SQL.format(x="text")


@query(
    "q_exif_meta",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             'EXIF'
               || lpad(to_hex({H60_EXPR} % 1920), 4, '0')
               || lpad(to_hex(({H60_EXPR} // 1920) % 1080), 4, '0')
               || CASE WHEN doc_id % 2 = 0 THEN 'I' ELSE 'A' END
               || text AS s
      FROM documents
    )
    SELECT doc_id,
           ('0x' || substring(s, 5, 4))::BIGINT AS exif_width,
           ('0x' || substring(s, 9, 4))::BIGINT AS exif_height,
           substring(s, 13, 1) AS mime_code,
           cast(octet_length(encode(s)) - 13 as bigint) AS body_bytes,
           CAST(CASE WHEN substring(s, 1, 4) = 'EXIF' THEN 1 ELSE 0 END AS BIGINT) AS valid_header
    FROM planted
    """,
    tags=("ext", "multimodal", "binary"),
)
def q_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-binary metadata extraction: payloads carry a planted
    EXIF-style fixed-width header (magic + hex dims + mime code) and
    the engine parses it back out of the opaque BinaryType column with
    Catalyst byte slicing + hex conversion — no Python, no codec. The
    oracle replants and reparses the same header; real tag-walking
    (variable-length IFDs) belongs to the mapInPandas decode seam,
    fixed-offset field extraction belongs here in the engine."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.multimodal import attach_exif_payload, parse_exif

    d = attach_exif_payload(read_table(spark, sf_dir, "documents"))
    return parse_exif(d)


# --- unigram language-model scoring ----------------------------------------


@query(
    "q_unigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c='text')} AS toks FROM documents
    ),
    ex AS (
      SELECT doc_id, len(toks) AS dl, u.tok
      FROM t, unnest(toks) AS u(tok)
    ),
    vocab AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY 1),
    stats AS (SELECT sum(cnt) AS n_tokens, count(*) AS v_size FROM vocab)
    SELECT ex.doc_id,
           CAST(ex.dl AS BIGINT) AS dl,
           {R6_SQL.format(c=(
               "cast(sum(cast(" + R8_SQL.format(
                   c="ln(cast(cnt + 1 as double) / cast(n_tokens + v_size as double))"
               ) + " as decimal(28,8))) as double) / ex.dl"
           ))} AS avg_logprob
    FROM ex JOIN vocab USING (tok), stats
    WHERE ex.dl > 0
    GROUP BY ex.doc_id, ex.dl
    """,
    tags=("ext", "text", "quality"),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model document scoring with add-one smoothing
    — the cheap perplexity-style quality signal (a KenLM stand-in)
    training pipelines use to rank crawl text: per-token
    log p(tok) = ln((count+1)/(N+V)) averaged over the document.
    Plan: one explode+groupBy builds the vocabulary (map-side
    combined), the token-count table broadcasts back onto the
    exploded corpus (a vocabulary is ≪ corpus at any scale), and the
    per-doc mean aggregates through quantized decimals so the sum is
    partition-order-free. Only 2 shuffles total: vocab build and the
    per-doc rollup."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    ex = toks.select(
        "doc_id", F.size("toks").cast("long").alias("dl"), F.explode("toks").alias("tok")
    ).filter(F.col("dl") > 0).localCheckpoint()
    # ^ r16 (guide §2.4/§5): the token stream feeds the vocab build
    # AND the scoring join (whose stats subtree derives from vocab
    # again) — un-checkpointed, tokenize + explode ran 3x per action.
    vocab = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    stats = vocab.agg(
        F.sum("cnt").alias("n_tokens"), F.count(F.lit(1)).alias("v_size")
    )
    lp = det_round(
        F.log(
            (F.col("cnt") + 1).cast("double")
            / (F.col("n_tokens") + F.col("v_size")).cast("double")
        ),
        8,
    )
    scored = (
        ex.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", lp.cast("decimal(28,8)").alias("lp"))
    )
    return scored.groupBy("doc_id", "dl").agg(
        det_round(F.sum("lp").cast("double") / F.col("dl"), 6).alias("avg_logprob")
    )


# --- SymSpell-style fuzzy match (edit distance ≤ 1) ------------------------

@query(
    "q_fuzzy_match",
    oracle="""
    SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a
    JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    tags=("ext", "dedup", "fuzzy"),
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All name pairs within edit distance 1, via SymSpell-style
    single-DELETION blocking: two strings are within one edit iff
    they are equal, one is a single-deletion of the other, or they
    share a common single-deletion variant — so exploding each name
    into itself plus its |s| deletion variants and equi-joining on
    the variant finds every candidate WITHOUT a quadratic block scan
    (the oracle IS the O(n²) definition, proving the blocking loses
    nothing). The join key is the xxhash64 of the variant (cheaper to
    shuffle than the string; a collision can only ADD candidates,
    which the exact verify then judges on its own terms). The cheap
    codegen levenshtein verify runs BEFORE the pair dedup, so the
    distinct shuffles only surviving ids. Scale: explode factor is
    |s|+1 (~19 here); variant buckets are bounded by alphabet size,
    so the self-join stays near-linear where a naive length-block
    join is quadratic."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # variant i=0 → the name itself; i>=1 → name with char i deleted
    idx = F.sequence(F.lit(0), F.length("c_name"))
    variant = lambda i: F.when(i == 0, F.col("c_name")).otherwise(
        F.concat(
            F.col("c_name").substr(F.lit(1), i - 1),
            F.col("c_name").substr(i + 1, F.length("c_name")),
        )
    )
    vs = c.select(
        "c_custkey",
        "c_name",
        F.explode(F.transform(idx, variant)).alias("_v"),
    ).select("c_custkey", "c_name", F.xxhash64("_v").alias("v"))
    # r16 (guide §1.2): both join sides derive from vs, so the variant
    # explode + substring building + xxhash64 ran twice; materialize
    # the ~|names|·(len+1) variant table once.
    vs = vs.localCheckpoint()
    # EXPLICIT repartition on the join key: the variant shuffle is
    # bytes-tiny but compute-heavy downstream (millions of levenshtein
    # evals hang off the join output); left to AQE, the ~10 MB sides
    # coalesce to one partition and the verify runs serially. An
    # explicit partition count pins the parallelism to the cluster,
    # exactly as you would size a compute-bound stage at 100 TB.
    n_parts = spark.sparkContext.defaultParallelism
    a = vs.select(
        F.col("c_custkey").alias("a_key"), F.col("c_name").alias("a_name"), "v"
    ).repartition(n_parts, "v")
    b = vs.select(
        F.col("c_custkey").alias("b_key"), F.col("c_name").alias("b_name"), "v"
    ).repartition(n_parts, "v")
    return (
        a.join(b, "v")
        # (Catalyst pushes the dist predicate back into the join with
        # the levenshtein inlined — verified in the optimized plan —
        # so the verify still runs inside the join filter; the split
        # form here just documents the intent. The only rows that pay
        # a second levenshtein are the ≤ edit-1 survivors, ~0.1% of
        # join output.)
        .filter(F.col("a_key") < F.col("b_key"))
        .select(
            "a_key",
            "b_key",
            F.levenshtein("a_name", "b_name").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
        .distinct()
    )


# --- int8 embedding quantization -------------------------------------------

@query(
    "q_embed_quantize",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, {DBL_SQL.format(v='embedding')} AS emb,
             greatest({R8_SQL.format(c=f"list_max(list_transform({DBL_SQL.format(v='embedding')}, x -> abs(x))) / 127.0")}, 1e-9) AS scale
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, scale,
             abs(u.x - greatest(least(floor(u.x / scale + 0.5), 127), -127) * scale) AS err
      FROM s, unnest(emb) AS u(x)
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           scale,
           {R8_SQL.format(c='max(err)')} AS max_abs_err,
           {R8_SQL.format(c=(
               "cast(sum(cast(" + det_round_sql("err", 10)
               + " as decimal(28,10))) as double) / count(*)"
           ))} AS avg_err
    FROM ex
    GROUP BY vec_id, scale
    """,
    tags=("ext", "similarity", "quantize"),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding table —
    the storage/serving compression step before ANN indexing: per
    vector, scale = max|x|/127, q_i = clamp(round(x_i/scale)), and the
    reconstruction-error profile (max and mean |x - q·scale|) that
    decides whether int8 is safe for the corpus. Entirely row-local
    Catalyst array expressions (transform/aggregate folds in array
    order) — ZERO shuffles at any scale; the oracle replays it via
    unnest+groupBy. The portable floor(x+0.5) round keeps Spark and
    the oracle bit-identical on half-way points."""
    e = read_table(spark, sf_dir, "embeddings")
    emb = S.as_double(F.col("embedding"))
    maxabs = F.array_max(F.transform(emb, lambda x: F.abs(x)))
    # guard OUTSIDE the rounding: det_round at 8 digits flattens a
    # near-zero scale to exactly 0, which would divide-by-zero on an
    # all-zero vector; greatest() after the round keeps it positive
    scale = F.greatest(det_round(maxabs / F.lit(127.0), 8), F.lit(1e-9))
    with_scale = e.select("vec_id", emb.alias("emb"), scale.alias("scale"))
    qdq = lambda x: (
        F.greatest(
            F.least(F.floor(x / F.col("scale") + F.lit(0.5)), F.lit(127)),
            F.lit(-127),
        )
        * F.col("scale")
    )
    errs = F.transform(F.col("emb"), lambda x: F.abs(x - qdq(x)))
    dec_sum = F.aggregate(
        errs,
        F.lit(0).cast("decimal(28,10)"),
        # re-cast: decimal + decimal widens to (29,10), which would
        # mismatch the accumulator type on the next fold step
        lambda acc, err: (acc + det_round(err, 10).cast("decimal(28,10)")).cast(
            "decimal(28,10)"
        ),
    )
    return with_scale.select(
        "vec_id",
        F.size("emb").cast("long").alias("n_dims"),
        "scale",
        det_round(F.array_max(errs), 8).alias("max_abs_err"),
        det_round(dec_sum.cast("double") / F.size("emb"), 8).alias("avg_err"),
    )


# --- feature hashing (the hashing trick) -----------------------------------

FEAT_DIM = 1024


@query(
    "q_feature_hash",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, u.tok
      FROM (SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS t
            FROM documents WHERE doc_id % 10 = 0), unnest(t) AS u(tok)
    ),
    f AS (
      SELECT doc_id,
             {H60_SQL.format(x='tok')} % {FEAT_DIM} AS f_idx,
             CASE WHEN ({H60_SQL.format(x='tok')} >> 11) & 1 = 1 THEN 1 ELSE -1 END AS s
      FROM ex
    )
    SELECT doc_id, CAST(f_idx AS BIGINT) AS f_idx, CAST(sum(s) AS BIGINT) AS w
    FROM f GROUP BY 1, 2
    HAVING sum(s) != 0
    """,
    tags=("ext", "text", "feature-prep"),
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the Weinberger hashing trick): token →
    dimension h(tok) mod 1024 with a ±1 sign from an independent hash
    bit, summed per (doc, dimension) — the unbounded-vocabulary
    featurizer (no dictionary to build, broadcast, or version) whose
    signed sums keep collision noise zero-mean. Entirely row-local
    until ONE map-side-combined groupBy; the 60-bit md5 hash is the
    same portable convention as the MinHash/KMV tiers, so any engine
    reproduces the exact same sparse matrix. Zero-weight cells
    (collision cancellations) drop on both sides. Output long-form
    (doc, f_idx, w) — every 10th doc bounds the declared result."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60

    d = doc_tokens(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    ex = d.select(
        "doc_id", F.explode("toks").alias("tok")
    ).withColumn("hv", hash60(F.col("tok")))
    s = F.when(
        F.shiftright(F.col("hv"), 11).bitwiseAND(F.lit(1)) == 1, 1
    ).otherwise(-1)
    return (
        ex.select("doc_id", F.pmod(F.col("hv"), F.lit(FEAT_DIM)).alias("f_idx"), s.alias("s"))
        .groupBy("doc_id", "f_idx")
        .agg(F.sum("s").cast("long").alias("w"))
        .filter(F.col("w") != 0)
    )


# --- bigram language-model scoring -----------------------------------------


@query(
    "q_bigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c='text')} AS toks FROM documents
    ),
    bt AS (
      SELECT doc_id, len(toks) - 1 AS nb,
             list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2]) AS bgs
      FROM t WHERE len(toks) >= 2
    ),
    ex AS (SELECT doc_id, nb, u.bg FROM bt, unnest(bgs) AS u(bg)),
    bc AS (SELECT bg, count(*) AS cbg FROM ex GROUP BY 1),
    cc AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS cw FROM ex GROUP BY 1),
    stats AS (SELECT count(DISTINCT split_part(bg, ' ', 1)) AS v FROM ex)
    SELECT ex.doc_id, CAST(ex.nb AS BIGINT) AS nb,
           {{r6}} AS avg_logprob
    FROM ex
    JOIN bc USING (bg)
    JOIN cc ON cc.w1 = split_part(ex.bg, ' ', 1), stats
    GROUP BY ex.doc_id, ex.nb
    """.format(r6="{r6}").format(
        r6=(
            R6_SQL.format(c="cast(sum(cast(" + R8_SQL.format(
                c="ln(cast(cbg + 1 as double) / cast(cw + v as double))"
            ) + " as decimal(28,8))) as double) / ex.nb")
        )
    ),
    tags=("ext", "text", "quality"),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model document scoring with add-one smoothing
    — one Markov order above q_unigram_logprob: per-bigram
    log P(w₂|w₁) = ln((c(w₁w₂)+1)/(c(w₁·)+V)) averaged over each
    document's bigrams, the fluency/quality signal that separates
    shuffled-token word salad from text with local structure (a
    unigram model scores both identically). Same scale shape as the
    unigram tier: bigram extraction is row-local, the bigram and
    context-count tables are vocabulary-sized (≪ corpus) and
    broadcast back, and per-doc means fold det-rounded decimals so
    the sum is layout-free."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", X.tokens(F.col("text")).alias("tk"))
    ex = (
        toks.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            (F.size("tk") - 1).alias("nb"),
            F.explode(X.shingles_of(F.col("tk"), 2)).alias("bg"),
        )
        # r16 (guide §2.4/§5): the bigram-instance stream feeds THREE
        # subtrees (bigram counts, context counts, the scoring join);
        # un-checkpointed, the tokenize + shingle + explode pass ran
        # once per subtree. Materialized once, the three branches read
        # the ~token-stream-sized intermediate instead.
        .localCheckpoint()
    )
    bc = ex.groupBy("bg").agg(F.count(F.lit(1)).alias("cbg"))
    w1 = F.substring_index(F.col("bg"), " ", 1)
    cc = ex.select(w1.alias("w1")).groupBy("w1").agg(F.count(F.lit(1)).alias("cw"))
    stats = cc.agg(F.count(F.lit(1)).alias("v"))
    lp = det_round(
        F.log(
            (F.col("cbg") + 1).cast("double") / (F.col("cw") + F.col("v")).cast("double")
        ),
        8,
    )
    scored = (
        ex.join(F.broadcast(bc), "bg")
        .withColumn("w1", w1)
        .join(F.broadcast(cc), "w1")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "nb", lp.cast("decimal(28,8)").alias("lp"))
    )
    return scored.groupBy("doc_id", "nb").agg(
        det_round(F.sum("lp").cast("double") / F.col("nb"), 6).alias("avg_logprob")
    )


# --- deterministic augmentation (dropout + span masking) -------------------

DROP_MOD = 10   # drop ~10% of tokens
MASK_SPAN = 5   # span-corruption granularity (tokens per span)
MASK_MOD = 7    # mask ~1/7 of spans
MASK_TOKEN = "<mask>"


@query(
    "q_augment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c='text')} AS toks FROM documents
    ),
    ex AS (
      SELECT doc_id, u.i AS pos, toks[u.i + 1] AS tok
      FROM t, UNNEST(range(len(toks))) AS u(i)
    ),
    dec AS (
      SELECT doc_id, pos, tok,
             {H60_SQL.format(x="doc_id || ':' || pos || ':' || tok")} % {DROP_MOD} != 0 AS keep,
             {H60_SQL.format(x=f"doc_id || '#' || (pos // {MASK_SPAN})")} % {MASK_MOD} = 0 AS masked
      FROM ex
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           md5(array_to_string(array_agg(tok ORDER BY pos) FILTER (WHERE keep), ' ')) AS drop_fp,
           md5(array_to_string(
               array_agg(CASE WHEN masked THEN '{MASK_TOKEN}' ELSE tok END ORDER BY pos), ' ')) AS mask_fp
    FROM dec GROUP BY doc_id
    """,
    tags=("ext", "text", "augmentation"),
)
def q_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text augmentation — the two corruption modes a
    training pipeline applies at scale, with NO RNG: (1) token
    dropout keeps a token iff h(doc:pos:token) mod 10 ≠ 0, so the
    corruption is reproducible per document across reruns, appends,
    and engines (the epoch seed folds into the hash in production);
    (2) T5-style span masking replaces every token of ~1/7 of the
    5-token spans with a sentinel. Positional explode → row-local
    hash decisions → ordered reassembly per doc (null-skipping
    collect_list drops the dropout losses; array_sort on (pos, tok)
    structs restores order) — one doc-keyed shuffle total, and the
    output fingerprints make the augmented text itself hash-gateable
    without shipping it."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    ex = toks.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60

    keep = (
        F.pmod(
            hash60(F.concat_ws(":", F.col("doc_id"), F.col("pos"), F.col("tok"))),
            F.lit(DROP_MOD),
        )
        != 0
    )
    masked = (
        F.pmod(
            hash60(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("#"),
                    F.floor(F.col("pos") / MASK_SPAN).cast("string"),
                )
            ),
            F.lit(MASK_MOD),
        )
        == 0
    )
    dec = ex.select(
        "doc_id",
        "pos",
        "tok",
        keep.alias("keep"),
        masked.alias("masked"),
    )
    kept_struct = F.when(F.col("keep"), F.struct("pos", "tok"))
    mask_struct = F.struct(
        "pos",
        F.when(F.col("masked"), F.lit(MASK_TOKEN)).otherwise(F.col("tok")).alias("tok"),
    )
    join_toks = lambda c: F.md5(
        F.concat_ws(" ", F.transform(F.array_sort(c), lambda s: s.getField("tok")))
    )
    return dec.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0)).cast("long").alias("n_masked"),
        join_toks(F.collect_list(kept_struct)).alias("drop_fp"),
        join_toks(F.collect_list(mask_struct)).alias("mask_fp"),
    )
