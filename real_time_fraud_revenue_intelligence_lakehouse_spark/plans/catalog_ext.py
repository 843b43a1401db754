"""M6 — LLM-pipeline extension queries (SURVEY §7 M6, BASELINE.json).

Text analysis, dedup (exact / MinHash-LSH / SimHash / Jaccard), and
embedding similarity (brute-force + hyperplane-LSH ANN) over the
`documents` and `embeddings` tables. Every oracle below is *generated
from the same constants* the Spark operators use (stopword lists,
MinHash salts, LSH planes), so the DuckDB SQL reproduces the exact
bit patterns — including the 60-bit md5 hashes and the pseudo-random
hyperplanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import dedup as D
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import similarity as S
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import text as X
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import (
    doc_minhash_sig,
    doc_token_sets,
    doc_tokens,
    ivf_corpus_cells,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

# ---- SQL fragment builders (DuckDB twins of ext/text.py) -----------------

NORM = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"
TOKS = "regexp_split_to_array(trim({c}), '\\s+')"
H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
R = "(floor(({c}) * {s} + 0.5) / {s})"  # det_round twin


def _r(expr: str, digits: int = 4) -> str:
    return R.format(c=expr, s=float(10**digits))


UNIQ_RATIO = (
    f"len(list_distinct({TOKS.format(c='{c}')})) / greatest(len({TOKS.format(c='{c}')}), 1)"
)
PUNCT_RATIO = "len(regexp_extract_all({c}, '[^\\w\\s]')) / greatest(length({c}), 1)"

# Shingle array (3-gram over normalized tokens), with the <3-token
# single-shingle fallback ext/text.shingles uses.
SHINGLES = (
    "CASE WHEN len({t}) >= 3 THEN "
    "list_transform(range(len({t}) - 2), i -> array_to_string(({t})[i+1:i+3], ' ')) "
    "ELSE [array_to_string({t}, ' ')] END"
)


def _mh_sql(j: int, sh: str = "sh") -> str:
    """MinHash permutation j: min over XOR-permuted shingle hashes
    (one md5 per shingle, mask per permutation — ext/text.with_minhash)."""
    h = H60.format(x="s")
    return f"list_min(list_transform({sh}, s -> xor({h}, {X.perm_mask(j)})))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len({TOKS.format(c='text')}) AS n_tokens,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tokens_bpe,
           {_r(UNIQ_RATIO.format(c='text'))} AS unique_ratio,
           {_r(PUNCT_RATIO.format(c='text'))} AS punct_ratio
    FROM documents
    """,
    tags=("ext", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (whitespace + BPE-ish regex) and the
    uniqueness/punctuation ratios quality scoring builds on. Pure
    row-local projection — one scan, no shuffle, codegen-friendly."""
    d = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        X.token_count_ws(t).alias("n_tokens"),
        X.token_count_bpe(t).alias("n_tokens_bpe"),
        det_round(X.unique_token_ratio(t), 4).alias("unique_ratio"),
        det_round(X.punct_ratio(t), 4).alias("punct_ratio"),
    )


def _lang_hits_sql(words: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    toks = TOKS.format(c=NORM.format(c="text"))
    return f"len(list_intersect(list_distinct({toks}), {arr}))"


_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN h_{lang} = best AND best > 0 THEN '{lang}'"
        for lang in X.LANG_STOPWORDS
    )
    + " ELSE 'und' END"
)


@query(
    "q_lang_id",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang,
             {', '.join(f'{_lang_hits_sql(ws)} AS h_{lang}' for lang, ws in X.LANG_STOPWORDS.items())}
      FROM documents
    ),
    best AS (
      SELECT *, greatest({', '.join(f'h_{lang}' for lang in X.LANG_STOPWORDS)}) AS best
      FROM hits
    )
    SELECT doc_id, lang, {_LANG_CASE} AS lang_pred FROM best
    """,
    tags=("ext", "text"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID next to the table's ground-truth
    `lang` column. Deterministic argmax with first-language-wins tie
    break; 'und' when no stopword list matches. Row-local."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", X.lang_id(F.col("text")).alias("lang_pred"))


@query(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           {_r(
               f"0.4 * least(len({TOKS.format(c='text')}) / 64.0, 1.0)"
               f" + 0.3 * (1.0 - least(4.0 * ({PUNCT_RATIO.format(c='text')}), 1.0))"
               f" + 0.3 * ({UNIQ_RATIO.format(c='text')})"
           )} AS quality
    FROM documents
    """,
    tags=("ext", "text"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite length/punctuation/uniqueness quality score in [0,1]
    (ext/text.quality_score) — the filter stage of a training-data
    pipeline ranks or thresholds on this."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", det_round(X.quality_score(F.col("text")), 4).alias("quality")
    )


@query(
    "q_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents)
    SELECT doc_id,
           md5({NORM.format(c='text')}) AS fp,
           CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 1 END AS n_shingles
    FROM documents JOIN t USING (doc_id)
    """,
    tags=("ext", "text"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization fingerprint (md5 of lowercased collapsed text)
    plus shingle cardinality — the exact-dedup key and the MinHash
    input size. Cardinality is arithmetic (size−n+1), not a
    materialized shingle array."""
    d = read_table(spark, sf_dir, "documents")
    n_toks = F.size(X.tokens(X.norm_text(F.col("text"))))
    return d.select(
        "doc_id",
        X.fingerprint(F.col("text")).alias("fp"),
        F.when(n_toks >= 3, n_toks - 2).otherwise(F.lit(1)).alias("n_shingles"),
    )


_ROLL_TOKS = f"list_transform({TOKS.format(c=NORM.format(c='text'))}, t -> {H60.format(x='t')} % 2147483647)"


@query(
    "q_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           list_reduce({_ROLL_TOKS}, (acc, t) -> (acc * 31 + t) % 2147483647)
             AS roll_hash
    FROM documents
    """,
    tags=("ext", "text"),
)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document
    (ext/text.rolling_hash) — same polynomial fold in both engines
    (DuckDB list_reduce seeds with the first element; Spark aggregate
    seeds with 0 — identical because 0·B + t₁ = t₁)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", X.rolling_hash(F.col("text")).alias("roll_hash"))


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle=f"""
    WITH fp AS (SELECT doc_id, md5({NORM.format(c='text')}) AS fp FROM documents)
    SELECT doc_id, fp,
           min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
           count(*) OVER (PARTITION BY fp) AS group_size,
           doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
    FROM fp
    """,
    tags=("ext", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: every doc mapped to its canonical minimum-id
    representative by fingerprint. One hash shuffle on the 128-bit
    key; the drop set is `is_dup`. (`dropDuplicates` gives the same
    keep-set but nondeterministically — canonical-min is the
    reproducible form.)"""
    return D.exact_dedup_groups(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               {TOKS.format(c=NORM.format(c='text'))}, t -> {H60.format(x='t')}
             )) AS toks
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.toks, b.toks))
             / greatest(len(a.toks) + len(b.toks)
                        - len(list_intersect(a.toks, b.toks)), 1) AS jaccard
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))
             / greatest(len(a.toks) + len(b.toks)
                        - len(list_intersect(a.toks, b.toks)), 1) >= 0.4
    """,
    tags=("ext", "dedup"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ 0.4 on a deterministic 10%
    sample — the ground truth the MinHash tier approximates. O(n²)
    on the sample by design; token sets hashed to 60-bit longs on
    both engines (ext/dedup.jaccard_pairs docstring)."""
    return D.jaccard_pairs(
        read_table(spark, sf_dir, "documents"), "doc_id", "text",
        threshold=0.4, sample_mod=10,
    )


_SIG_COLS = ", ".join(f"{_mh_sql(j)} AS mh{j}" for j in range(X.MINHASH_K))


@query(
    "q_minhash_signature",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents),
    sh AS (SELECT doc_id, {SHINGLES.format(t='toks')} AS sh FROM t)
    SELECT doc_id, {_SIG_COLS} FROM sh
    """,
    tags=("ext", "dedup"),
)
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 MinHash signature per document, one column per
    permutation. Bit-identical across engines (portable salted-md5
    60-bit hashing — ext/text.py module docstring). Explode →
    min-agg form: each shingle hashed exactly k times, map-side
    combine, k longs per doc on the shuffle."""
    return doc_minhash_sig(spark, sf_dir)


def _bands_sql() -> str:
    r = X.MINHASH_K // X.LSH_BANDS
    parts = []
    for b in range(X.LSH_BANDS):
        key = " || ',' || ".join(f"mh{b * r + i}::VARCHAR" for i in range(r))
        parts.append(
            f"SELECT doc_id, toks, {b} AS band_idx, {key} AS band_key FROM sig"
        )
    return " UNION ALL ".join(parts)


@query(
    "q_lsh_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct(toks) AS toks, {SHINGLES.format(t='toks')} AS sh FROM t),
    sig AS (SELECT doc_id, toks, {_SIG_COLS} FROM sh),
    bands AS ({_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           len(list_intersect(ta.toks, tb.toks))
             / greatest(len(list_distinct(ta.toks || tb.toks)), 1) AS jaccard
    FROM cand
    JOIN sh ta ON ta.doc_id = id_a
    JOIN sh tb ON tb.doc_id = id_b
    WHERE len(list_intersect(ta.toks, tb.toks))
             / greatest(len(list_distinct(ta.toks || tb.toks)), 1) >= 0.5
    """,
    tags=("ext", "dedup"),
)
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, banded 4×2, verified with exact
    Jaccard ≥ 0.5. The full scale path: signatures row-local, bucket
    self-join only within band collisions (ext/dedup.minhash_lsh_pairs).
    The oracle reproduces the whole construction in SQL."""
    return D.minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.5,
        sig=doc_minhash_sig(spark, sf_dir),
        toks=doc_token_sets(spark, sf_dir),
    )


_DUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct(toks) AS toks, {SHINGLES.format(t='toks')} AS sh FROM t),
    sig AS (SELECT doc_id, toks, {_SIG_COLS} FROM sh),
    bands AS ({_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT id_a, id_b FROM cand
      JOIN sh ta ON ta.doc_id = id_a
      JOIN sh tb ON tb.doc_id = id_b
      WHERE len(list_intersect(ta.toks, tb.toks))
              / greatest(len(list_distinct(ta.toks || tb.toks)), 1) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    comp(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.node
    ),
    labels AS (SELECT node, min(lbl) AS cluster_id FROM comp GROUP BY node)
    SELECT l.node AS doc_id, l.cluster_id, s.cluster_size
    FROM labels l
    JOIN (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1) s
      USING (cluster_id)
    """


@query(
    "q_dup_clusters",
    oracle=_DUP_CLUSTERS_ORACLE,
    tags=("ext", "dedup", "iterative"),
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the verified
    MinHash-LSH pair graph — min-label propagation to fixpoint
    (ext/dedup.dup_clusters). The actionable form of dedup: keep the
    min-id representative per component, drop the rest. The oracle
    computes the same transitive closure with a recursive CTE —
    label propagation and recursive reachability agree exactly."""
    return D.dup_clusters(
        read_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.5,
        sig=doc_minhash_sig(spark, sf_dir),
        toks=doc_token_sets(spark, sf_dir),
    )


# NOTE: the large-star/small-star variant (ext/dedup.dup_clusters_star)
# deliberately has NO separate registered query: it must produce
# byte-identical output to q_dup_clusters (equivalence asserted in
# tests/test_ext.py::test_star_cc_equals_label_propagation against the
# same corpus, plus a deep-chain test), so registering it would only
# re-run the same oracle while its extra O(log d) rounds pay off on
# graph depths the test corpus cannot produce.


_V_COLS = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(X.SIMHASH_BITS)
)
_BIT_SUM = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(X.SIMHASH_BITS)
)


@query(
    "q_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKS.format(c=NORM.format(c='text'))}) AS tok FROM documents
    ),
    h AS (SELECT doc_id, {H60.format(x='tok')} AS h FROM tok),
    votes AS (SELECT doc_id, {_V_COLS} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({_BIT_SUM} AS BIGINT) AS simhash FROM votes
    """,
    tags=("ext", "dedup"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit frequency-weighted SimHash per document (explode →
    per-bit ±1 vote sums → bit assembly). One groupBy shuffle on
    doc_id; at scale fuse with other per-doc aggregations."""
    return D.simhash(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "q_simhash_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKS.format(c=NORM.format(c='text'))}) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, {H60.format(x='tok')} AS h FROM tok),
    votes AS (SELECT doc_id, {_V_COLS} FROM h GROUP BY doc_id),
    s AS (
      SELECT doc_id, CAST({_BIT_SUM} AS BIGINT) AS simhash FROM votes
      WHERE doc_id % 5 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("ext", "dedup"),
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ 3 on a 20% sample —
    BLOCKED scale form (signatures split into max_hamming+1 bit-blocks;
    pigeonhole guarantees every ≤3-bit pair shares an exact block, so
    the block equi-join + exact Hamming filter returns exactly the
    brute-force pair set; equality asserted in tests/test_ext.py).
    The oracle stays the all-pairs SQL because the results are
    provably identical."""
    return D.simhash_pairs(
        read_table(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=3, sample_mod=5,
    )


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)
_DBL = "list_transform({v}, x -> x::DOUBLE)"


@query(
    "q_embed_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DBL.format(v='embedding')} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, c.vec_id AS match_id,
             {_r(_COS.format(a='qv', b='c.v'), 6)} AS cosine_sim
      FROM q, e c WHERE c.vec_id <> query_id
    )
    SELECT query_id, match_id, cosine_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, match_id
      ) AS rank FROM scored
    ) WHERE rank <= 10
    """,
    tags=("ext", "similarity"),
)
def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 5 —
    JVM-native dot products (zip_with + sequential fold), similarity
    rounded before ranking so ordering is deterministic, ties broken
    by match id. The exactness baseline for the ANN tier."""
    e = read_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=10)


_UNIT = (
    "list_transform({v}, x -> x / sqrt(list_dot_product({v}, {v})))"
)


@query(
    "q_embed_top1",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {_UNIT.format(v=_DBL.format(v='embedding'))} AS u
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, u AS qu FROM e WHERE vec_id < 50),
    scored AS (
      SELECT query_id, c.vec_id AS match_id,
             {_r('list_dot_product(qu, c.u)', 6)} AS cosine_sim
      FROM q, e c WHERE c.vec_id <> query_id
    )
    SELECT query_id, match_id, cosine_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, match_id
      ) AS rn FROM scored
    ) WHERE rn = 1
    """,
    tags=("ext", "similarity"),
)
def q_embed_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest neighbor over PRE-NORMALIZED embeddings: unit
    vectors projected once (cosine ⇒ plain dot — the normalize-at-
    write-time pattern), top-1 via a map-side-combinable
    max(struct(sim, -id)) aggregate instead of a window sort. The
    oracle replays the same normalize→dot→rank pipeline; Spark's plan
    has no Window/Sort node (tests/test_plans.py)."""
    e = read_table(spark, sf_dir, "embeddings")
    return S.brute_force_top1(e, e.filter(F.col("vec_id") < 50))


@query(
    "q_embed_neardup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {_DBL.format(v='embedding')} AS v FROM embeddings
      WHERE vec_id % 5 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_r(_COS.format(a='a.v', b='b.v'), 6)} AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_r(_COS.format(a='a.v', b='b.v'), 6)} >= 0.35
    """,
    tags=("ext", "dedup", "similarity"),
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the 5th dedup tier):
    pairs above a cosine threshold on a deterministic 1/5 sample —
    brute-force form; the scale path reuses the ANN index (candidates
    from shared LSH buckets / IVF cells, then this exact filter).
    Threshold 0.35 sits just under this corpus's max pairwise
    similarity (~0.46) so the check returns real rows. Fully
    distributed: executor-side pair join + Arrow sequential-
    accumulation dots, bit-identical to the JVM fold the oracle's
    list_dot_product mirrors — no driver materialization anywhere in
    the plan (pinned by test_neardup_default_plan_has_no_driver_collect)."""
    e = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return S.neardup_pairs(e, threshold=0.35)


def _table_bucket_sql(table: int) -> str:
    """One LSH table's bucket id as SQL (mirror of lsh_table_bucket)."""
    planes = S.hyperplanes(table)
    terms = [str(table * (1 << len(planes)))]
    for p, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def _buckets_sql() -> str:
    return "[" + ", ".join(_table_bucket_sql(t) for t in range(S.N_TABLES)) + "]"


@query(
    "q_ann_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DBL.format(v='embedding')} AS v FROM embeddings),
    bucketed AS (
      SELECT vec_id, v, CAST(unnest({_buckets_sql()}) AS BIGINT) AS bucket FROM e
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS match_id
      FROM bucketed q JOIN bucketed c USING (bucket)
      WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT query_id, match_id,
             {_r(_COS.format(a='eq.v', b='ec.v'), 6)} AS cosine_sim
      FROM cand
      JOIN e eq ON eq.vec_id = query_id
      JOIN e ec ON ec.vec_id = match_id
    )
    SELECT query_id, match_id, cosine_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, match_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    tags=("ext", "similarity"),
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-table hyperplane LSH (8 md5-seeded
    tables × 4 planes): exact ranking over candidates that share ANY
    table bucket with the query — OR-amplified recall, AND-sharpened
    buckets. The bucket equi-join replaces the cross join — the
    100 TB path. Recall vs the brute-force tier is asserted in
    tests/test_ext.py."""
    e = read_table(spark, sf_dir, "embeddings")
    return S.ann_topk(e, e.filter(F.col("vec_id") < 20), k=5)


@query(
    "q_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DBL.format(v='embedding')} AS v FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % {S.CENTROID_MOD} = 0),
    assign AS (
      SELECT vec_id, centroid_id, crank FROM (
        SELECT e.vec_id, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_r(_COS.format(a='e.v', b='cent.cv'), 6)} DESC, cent.centroid_id
               ) AS crank
        FROM e, cent
      )
    ),
    corpus_cells AS (SELECT vec_id AS match_id, centroid_id FROM assign WHERE crank = 1),
    query_cells AS (SELECT vec_id AS query_id, centroid_id FROM assign
                    WHERE crank <= 2 AND vec_id < 20),
    cand AS (
      SELECT DISTINCT query_id, match_id
      FROM query_cells JOIN corpus_cells USING (centroid_id)
      WHERE query_id <> match_id
    ),
    scored AS (
      SELECT query_id, match_id,
             {_r(_COS.format(a='eq.v', b='ec.v'), 6)} AS cosine_sim
      FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = match_id
    )
    SELECT query_id, match_id, cosine_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, match_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    tags=("ext", "similarity"),
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: deterministic data-derived centroids
    (every 37th vector), corpus partitioned into nearest-centroid
    cells, queries probe their 2 nearest cells and rank exactly
    within them. The cell join replaces the cross join; at scale the
    corpus is stored partitioned by centroid so a query reads
    nprobe/|C| of the data (ext/similarity.ivf_topk)."""
    e = read_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        e,
        e.filter(F.col("vec_id") < 20),
        k=5,
        nprobe=2,
        corpus_cells=ivf_corpus_cells(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_meta",
    oracle=f"""
    WITH h AS (SELECT doc_id, text, {H60.format(x='text')} AS h FROM documents)
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
           CAST(h % 1920 AS INT) AS width,
           CAST((h // 1920) % 1080 AS INT) AS height
    FROM h
    """,
    tags=("ext", "multimodal"),
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata for opaque binary media columns
    (ext/multimodal.attach_binary): byte length + content-hash-derived
    dimensions. The struct is flattened here so the oracle can check
    each field; production keeps it nested for schema hygiene."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.multimodal import attach_binary

    d = attach_binary(read_table(spark, sf_dir, "documents"))
    return d.select("doc_id", "media_meta.*")


@query(
    "q_multimodal_decode",
    oracle="""
    WITH t AS (SELECT doc_id, text FROM documents)
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      CASE WHEN length(text) = 0 THEN -1
           ELSE unicode(text[1:1]) END AS first_byte,
      CASE WHEN length(text) = 0 THEN -1
           ELSE unicode(text[length(text):length(text)]) END AS last_byte,
      CAST(list_aggregate(
             list_transform(range(length(text)), i -> unicode(text[i+1:i+1])),
             'sum') % 997 AS BIGINT) AS byte_sum_mod,
      CAST(length(text) % 10 + 1 AS INT) AS n_frames
    FROM t
    """,
    tags=("ext", "multimodal"),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed decode/feature-extract over binary payloads via
    Arrow-batched mapInPandas (ext/multimodal.decode_features):
    deterministic byte features (length, boundary bytes, byte-sum
    residue, fake frame count) standing in for codec output. The
    corpus is pure ASCII, so the oracle replays the UTF-8 byte math
    with per-character codepoints — upgrading this from a rows-only
    check to a full value hash; the real-codec seam stays an honest
    NotImplementedError (tests/test_ext.py)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.multimodal import (
        attach_binary,
        decode_features,
    )

    return decode_features(attach_binary(read_table(spark, sf_dir, "documents")))


@query(
    "q_top_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKS.format(c=NORM.format(c='text'))}) AS token FROM documents
    )
    SELECT token, count(*) AS freq FROM tok
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 20
    """,
    tags=("ext", "text"),
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency top-20 (vocabulary profiling —
    the first look at any new training corpus). Explode → count →
    deterministic top-k (freq DESC, token). Map-side combine keeps
    the shuffle at |vocab|, not |tokens|; at 100 TB add a frequency
    floor (HAVING count > N) before the global top-k."""
    tok = doc_tokens(spark, sf_dir).select(F.explode("toks").alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


@query(
    "q_tfidf_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKS.format(c=NORM.format(c='text'))}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
        {_r('tf.tf * ln((nd.n_docs + 1.0) / (dfreq.df + 1.0))', 6)} AS tfidf
      FROM tf CROSS JOIN nd JOIN dfreq USING (term)
    )
    SELECT doc_id, term, tf, tfidf, term_rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
      ) AS term_rank FROM scored
    ) WHERE term_rank <= 3
    """,
    tags=("ext", "text"),
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (keyword extraction over a
    training corpus). tf = in-doc count, idf = ln((N+1)/(df+1)) with
    add-one smoothing, scores det_round-ed BEFORE ranking, term-string
    tie-break. Plan: one (doc, term) count shuffle; the document-
    frequency table and the 1-row N aggregate are broadcast back —
    no eager driver action anywhere (ext/text.tfidf_top_terms)."""
    d = read_table(spark, sf_dir, "documents")
    return X.tfidf_top_terms(d, "doc_id", "text", top_n=3)


@query(
    "q_source_profile",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           {_r(f"avg(cast(length(text) as double))")} AS avg_chars,
           {_r(
               f"avg(0.4 * least(len({TOKS.format(c='text')}) / 64.0, 1.0)"
               f" + 0.3 * (1.0 - least(4.0 * ({PUNCT_RATIO.format(c='text')}), 1.0))"
               f" + 0.3 * ({UNIQ_RATIO.format(c='text')}))"
           )} AS avg_quality
    FROM documents
    GROUP BY source
    """,
    tags=("ext", "text"),
)
def q_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: volume, language diversity, size,
    and mean quality score — the triage table for deciding which
    sources feed a training mix. One scan + one small-keyed shuffle;
    the quality expression fuses into the same pass."""
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        det_round(F.avg(F.length("text").cast("double")), 4).alias("avg_chars"),
        det_round(F.avg(X.quality_score(F.col("text"))), 4).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# Corpus-prep passes: chunking, PII, contamination
# ---------------------------------------------------------------------------

_STRIDE = X.CHUNK_SIZE - X.CHUNK_OVERLAP


@query(
    "q_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    c AS (
      SELECT doc_id, toks,
             unnest(range(greatest(1,
               CAST(ceil((n - {X.CHUNK_OVERLAP}) / {float(_STRIDE)}) AS INT)))) AS ci
      FROM s
    )
    SELECT doc_id,
      CAST(ci AS BIGINT) AS chunk_idx,
      CAST(len(toks[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {X.CHUNK_SIZE}]) AS BIGINT)
        AS n_tokens,
      array_to_string(toks[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {X.CHUNK_SIZE}], ' ')
        AS chunk_text
    FROM c
    """,
    tags=("ext", "text"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token windows with 8-token overlap
    per document (closed-form chunk count, partial final window, docs
    shorter than one window keep their single chunk). Row-local
    sequence→explode→slice — no shuffle; at 100 TB this fuses into
    the ingest scan (ext/text.chunk_documents)."""
    d = read_table(spark, sf_dir, "documents")
    return X.chunk_documents(d, "doc_id", "text")


#: Deterministic PII decoration: the synthetic corpus is PII-free, so
#: the query PLANTS synthetic identifiers derived from doc_id before
#: detecting them — the oracle then genuinely exercises regex parity
#: (a no-match corpus would vacuously pass).
_PII_DECOR_SQL = (
    "text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' id 987-65-4321' ELSE '' END"
)


@query(
    "q_pii_scan",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_PII_DECOR_SQL} AS t FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '{X.PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(t, '{X.PII_PHONE_RE}')) AS BIGINT) AS n_phones,
      CAST(len(regexp_extract_all(t, '{X.PII_SSN_RE}')) AS BIGINT) AS n_ssns,
      CAST(len(regexp_extract_all(t, '{X.PII_EMAIL_RE}'))
         + len(regexp_extract_all(t, '{X.PII_PHONE_RE}'))
         + len(regexp_extract_all(t, '{X.PII_SSN_RE}')) AS BIGINT) AS n_pii,
      regexp_replace(
        regexp_replace(
          regexp_replace(t, '{X.PII_EMAIL_RE}', '<EMAIL>', 'g'),
          '{X.PII_SSN_RE}', '<SSN>', 'g'),
        '{X.PII_PHONE_RE}', '<PHONE>', 'g') AS redacted_text
    FROM d
    """,
    tags=("ext", "text"),
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus: per-doc counts of
    email / phone / SSN-shaped identifiers and the redacted text.
    Synthetic PII is planted deterministically from doc_id (the test
    corpus contains none) so detection and redaction are actually
    exercised. Row-local regexes — zero shuffles
    (ext/text.pii_stats)."""
    d = read_table(spark, sf_dir, "documents")
    decorated = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" id 987-65-4321")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return X.pii_stats(decorated, "doc_id", "text")


_BENCH_MOD = 97  # pseudo eval-set: every 97th doc


@query(
    "q_contamination",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, {H60.format(x='s')} AS sh FROM (
        SELECT doc_id, unnest({SHINGLES.format(t='toks')}) AS s FROM t
      )
    ),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
    per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
    cont AS (
      SELECT doc_id, count(*) AS n_contaminated FROM sh
      WHERE sh IN (SELECT sh FROM bench) GROUP BY 1
    )
    SELECT p.doc_id, p.n_shingles,
      CAST(coalesce(c.n_contaminated, 0) AS BIGINT) AS n_contaminated,
      {_r('coalesce(c.n_contaminated, 0) / greatest(p.n_shingles, 1)', 6)}
        AS contamination_rate,
      {_r('coalesce(c.n_contaminated, 0) / greatest(p.n_shingles, 1)', 6)} >= 0.5
        AS is_contaminated
    FROM per_doc p LEFT JOIN cont c ON p.doc_id = c.doc_id
    """,
    tags=("ext", "dedup", "text"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination gate: per-doc fraction of distinct
    3-gram shingles that appear anywhere in the pseudo eval set
    (every 97th doc) — eval-leakage scanning before training. Both
    sides reduce to 60-bit shingle hashes; a left-semi join marks
    contaminated shingles (one shuffle, text never re-attached); the
    planted eval docs themselves score rate = 1.0, so the gate
    provably fires (ext/text.contamination_check)."""
    d = read_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % _BENCH_MOD == 0)
    return X.contamination_check(d, bench, "doc_id", "text")


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH d AS (SELECT doc_id, md5({NORM.format(c='text')}) AS fp FROM documents),
    hist AS (SELECT DISTINCT fp FROM d WHERE doc_id % 10 <> 7),
    batch AS (SELECT doc_id, fp FROM d WHERE doc_id % 10 = 7),
    marked AS (
      SELECT b.doc_id, b.fp,
             b.fp IN (SELECT fp FROM hist) AS in_hist,
             min(b.doc_id) OVER (PARTITION BY b.fp) AS first_in_batch
      FROM batch b
    )
    SELECT doc_id, fp,
           CASE WHEN in_hist THEN 'dup_of_history'
                WHEN doc_id <> first_in_batch THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM marked
    """,
    tags=("ext", "dedup", "incremental"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup — the shape every daily
    crawl append runs: an incoming batch (doc_id % 10 = 7) is
    classified against the historical corpus as dup_of_history
    (fingerprint already ingested), dup_in_batch (first occurrence
    wins within the batch), or new. History collapses to a distinct
    fingerprint set joined as a broadcast null-marker; within-batch
    dedup is one window over the batch's fingerprints. At 100 TB the
    history side is a bloom-filter or bucketed fingerprint table —
    same plan shape, the scan never touches historical text."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", X.fingerprint(F.col("text")).alias("fp")
    )
    hist = (
        d.filter(F.col("doc_id") % 10 != 7)
        .select("fp")
        .distinct()
        .withColumn("_hist", F.lit(1))
    )
    batch = d.filter(F.col("doc_id") % 10 == 7)
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return (
        batch.join(F.broadcast(hist), "fp", "left")
        .withColumn("_first", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "fp",
            F.when(F.col("_hist").isNotNull(), "dup_of_history")
            .when(F.col("doc_id") != F.col("_first"), "dup_in_batch")
            .otherwise("new")
            .alias("status"),
        )
    )


_MEAN_TOK_LEN = (
    f"list_aggregate(list_transform({TOKS.format(c='text')}, t -> length(t)), 'sum')"
    f" / greatest(len({TOKS.format(c='text')}), 1)"
)


@query(
    "q_gopher_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        {_r(_MEAN_TOK_LEN, 4)} AS mean_tok_len,
        {_r("1.0 - len(list_distinct(" + SHINGLES.format(t='toks') + ")) / greatest(len(" + SHINGLES.format(t='toks') + "), 1)", 4)}
          AS dup_3gram_frac
      FROM documents JOIN t USING (doc_id)
    )
    SELECT doc_id, n_tokens, mean_tok_len, dup_3gram_frac,
      n_tokens >= 16 AND n_tokens <= 100000 AS len_ok,
      mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 AS tok_len_ok,
      dup_3gram_frac <= 0.6 AS repetition_ok,
      (n_tokens >= 16 AND n_tokens <= 100000)
        AND (mean_tok_len >= 2.0 AND mean_tok_len <= 12.0)
        AND dup_3gram_frac <= 0.6 AS keep
    FROM m
    """,
    tags=("ext", "text", "quality"),
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style corpus filter rules (the published heuristics a
    pretraining pipeline applies before anything model-based): token
    count bounds, mean token length bounds, and within-document
    3-gram repetition fraction — each surfaced as a flag plus the
    final keep decision. All row-local Catalyst expressions over ONE
    staged token projection (tokens and shingles computed once);
    zero shuffles, fuses into the corpus scan."""
    staged = doc_tokens(spark, sf_dir).select(
        "doc_id", F.col("toks").alias("_toks")
    ).withColumn("_sh", X.shingles_of(F.col("_toks"), 3))
    n_tokens = F.size("_toks")
    mean_tok_len = det_round(
        F.aggregate(
            F.transform(F.col("_toks"), lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.greatest(n_tokens, F.lit(1)),
        4,
    )
    dup_frac = det_round(
        F.lit(1.0)
        - F.size(F.array_distinct(F.col("_sh"))) / F.greatest(F.size("_sh"), F.lit(1)),
        4,
    )
    m = staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_tok_len.alias("mean_tok_len"),
        dup_frac.alias("dup_3gram_frac"),
    )
    len_ok = (F.col("n_tokens") >= 16) & (F.col("n_tokens") <= 100_000)
    tl_ok = (F.col("mean_tok_len") >= 2.0) & (F.col("mean_tok_len") <= 12.0)
    rep_ok = F.col("dup_3gram_frac") <= 0.6
    return m.select(
        "doc_id",
        "n_tokens",
        "mean_tok_len",
        "dup_3gram_frac",
        len_ok.alias("len_ok"),
        tl_ok.alias("tok_len_ok"),
        rep_ok.alias("repetition_ok"),
        (len_ok & tl_ok & rep_ok).alias("keep"),
    )


#: Source-mixing temperature: weights ∝ share^ALPHA, renormalized —
#: the standard multilingual/multi-source rebalancing rule.
MIX_ALPHA = 0.5
MIX_TARGET_FRAC = 0.5  # keep ~half the corpus overall


@query(
    "q_source_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n_docs) AS n_total FROM counts),
    w AS (
      SELECT source, n_docs,
             pow(n_docs / n_total, {MIX_ALPHA}) AS raw_w
      FROM counts CROSS JOIN tot
    ),
    norm AS (
      SELECT source, n_docs,
             {_r(f"least(raw_w / (SELECT sum(raw_w) FROM w) * (SELECT n_total FROM tot) * {MIX_TARGET_FRAC} / n_docs, 1.0)", 6)}
               AS keep_prob
      FROM w
    )
    SELECT d.doc_id, d.source, n.keep_prob,
           ({H60.format(x="'mix:' || CAST(d.doc_id AS VARCHAR)")} % 1000000) / 1000000.0
             < n.keep_prob AS selected
    FROM documents d JOIN norm n USING (source)
    """,
    tags=("ext", "sampling"),
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (share^α rebalancing — the
    standard recipe for de-skewing a training mix): per-source keep
    probabilities renormalized to a corpus-level target fraction and
    capped at 1, then applied as a DETERMINISTIC per-document
    content-hash threshold — append-stable and rerun-stable like the
    engine's train/test split (no RNG anywhere). Source stats are a
    tiny aggregate broadcast back onto the scan."""
    d = read_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("n_total"),
    )
    w = counts.crossJoin(F.broadcast(tot)).withColumn(
        "raw_w", F.pow(F.col("n_docs") / F.col("n_total"), F.lit(MIX_ALPHA))
    )
    wsum = w.agg(F.sum("raw_w").alias("w_sum"))
    norm = (
        w.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            det_round(
                F.least(
                    F.col("raw_w")
                    / F.col("w_sum")
                    * F.col("n_total")
                    * MIX_TARGET_FRAC
                    / F.col("n_docs"),
                    F.lit(1.0),
                ),
                6,
            ).alias("keep_prob"),
        )
    )
    h = X.hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    return (
        d.join(F.broadcast(norm), "source")
        .select(
            "doc_id",
            "source",
            "keep_prob",
            ((h % 1_000_000) / 1_000_000.0 < F.col("keep_prob")).alias("selected"),
        )
    )


@query(
    "q_multimodal_resize",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS orig_len FROM documents
    ),
    s AS (
      SELECT doc_id, orig_len,
             greatest(orig_len // 1024, 1) AS step
      FROM b
    )
    SELECT doc_id,
           CAST((orig_len + step - 1) // step AS BIGINT) AS byte_len,
           CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
           256 AS width, 256 AS height
    FROM s
    """,
    tags=("ext", "multimodal"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage over binary media: payload streamed through
    Arrow-batched mapInPandas (deterministic byte-subsample standing
    in for the codec resample — the honest stub), metadata struct
    updated and byte_len recomputed JVM-side. The oracle replays the
    stride arithmetic on the original byte lengths, verifying the
    batch plumbing end-to-end without a codec."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.multimodal import (
        attach_binary,
        resize_media,
    )

    d = resize_media(attach_binary(read_table(spark, sf_dir, "documents")))
    return d.select("doc_id", "media_meta.*")


@query(
    "q_multimodal_framesample",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, upper(hex(encode(text))) AS hx,
             CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime
      FROM documents
    )
    SELECT doc_id, mime FROM b
    WHERE {H60.format(x='hx')} % 4 = 0
    """,
    tags=("ext", "multimodal"),
)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: keep every 4th payload by content hash —
    filter BEFORE decode, so skipped frames never reach the codec
    (the cheap stage goes first; at 100 TB of video that ordering is
    the whole budget). Pure Catalyst filter on the binary column; the
    oracle replays the hash over hex payloads (base64 is not portable
    between engines — Spark MIME-chunks it)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.multimodal import (
        attach_binary,
        frame_sample,
    )

    d = frame_sample(attach_binary(read_table(spark, sf_dir, "documents")), every_n=4)
    return d.select("doc_id", F.col("media_meta.mime").alias("mime"))


#: Deterministic noise decoration for the cleanup query — the
#: synthetic corpus is clean, so markup is planted from doc_id (the
#: same planted-input pattern as q_pii_scan: a no-op corpus would
#: vacuously pass the oracle).
_NOISE_SQL = (
    "text || CASE WHEN doc_id % 2 = 0 THEN ' see https://ex' || CAST(doc_id AS VARCHAR)"
    " || '.example.com/a?b=1 and https://t.example.org/x' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN chr(8203) || ' tail' ELSE '' END"
)


@query(
    "q_text_cleanup",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_NOISE_SQL} AS t FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
      trim(regexp_replace(regexp_replace(regexp_replace(
        t, 'https?://[^\\s]+', ' ', 'g'), '[​‌‍﻿]', '', 'g'),
        '\\s+', ' ', 'g')) AS clean_text,
      trim(regexp_replace(regexp_replace(regexp_replace(
        t, 'https?://[^\\s]+', ' ', 'g'), '[​‌‍﻿]', '', 'g'),
        '\\s+', ' ', 'g')) <> t AS changed
    FROM d
    """,
    tags=("ext", "text"),
)
def q_text_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup cleanup before tokenization: URL stripping, zero-width
    character removal, whitespace re-collapse — with URL/ZWSP noise
    planted deterministically from doc_id so the regexes are actually
    exercised (same pattern as q_pii_scan). Row-local; fuses into the
    corpus scan (ext/text.cleanup_text)."""
    d = read_table(spark, sf_dir, "documents")
    noisy = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" see https://ex"),
                    F.col("doc_id").cast("string"),
                    F.lit(".example.com/a?b=1 and https://t.example.org/x"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit("​ tail")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return X.cleanup_text(noisy, "doc_id", "text")


@query(
    "q_langid_confusion",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang,
             {', '.join(f'{_lang_hits_sql(ws)} AS h_{lang}' for lang, ws in X.LANG_STOPWORDS.items())}
      FROM documents
    ),
    best AS (
      SELECT *, greatest({', '.join(f'h_{lang}' for lang in X.LANG_STOPWORDS)}) AS best
      FROM hits
    ),
    pred AS (
      SELECT lang AS lang_true, {_LANG_CASE} AS lang_pred FROM best
    ),
    m AS (
      SELECT lang_true, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2
    )
    SELECT lang_true, lang_pred, CAST(n AS BIGINT) AS n,
           {{r6}} AS recall_share
    FROM m
    """.format(
        r6="(floor((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang_true)) * 1000000.0 + 0.5) / 1000000.0)"
    ),
    tags=("ext", "text", "evaluation"),
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the stopword-vote language identifier
    against the table's labeled `lang` — the evaluation surface the
    classifier needs before it gates a corpus (per-true-language
    recall shares expose which languages leak into 'und' or each
    other; on the synthetic corpus the interesting signal is the
    shared-vocabulary confusion structure itself). Prediction is the
    same row-local expression as q_lang_id; the matrix is one count
    aggregation over ≤ |langs|² cells, and the recall normalization
    is a window over that tiny frame. Ratios divide exact integers."""
    d = read_table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("lang_true"), X.lang_id(F.col("text")).alias("lang_pred")
    )
    m = pred.groupBy("lang_true", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as _W

    wt = _W.partitionBy("lang_true")
    return m.select(
        "lang_true",
        "lang_pred",
        F.col("n").cast("long").alias("n"),
        det_round(F.col("n").cast("double") / F.sum("n").over(wt), 6).alias("recall_share"),
    )


# --- ANN retrieval-quality evaluation (recall@10 / nDCG@10) ----------------

#: 1/log2(rank+1) for ranks 1..10 and their sum (the ideal DCG),
#: precomputed in Python and injected as LITERALS into both engines —
#: no trust in either engine's log2 ulp behavior.
_DCG_W = [
    "1.0", "0.6309297535714575", "0.5", "0.43067655807339306",
    "0.38685280723454163", "0.3562071871080222", "0.3333333333333333",
    "0.31546487678572877", "0.3010299956639812", "0.2890648263178879",
]
_IDCG_10 = "4.543559338088346"
_DCG_CASE = "CASE rank " + " ".join(
    f"WHEN {r} THEN {w}" for r, w in enumerate(_DCG_W, start=1)
) + " ELSE 0.0 END"


@query(
    "q_ann_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DBL.format(v='embedding')} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
    truth AS (
      SELECT query_id, match_id, rank FROM (
        SELECT query_id, c.vec_id AS match_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY {_r(_COS.format(a='qv', b='c.v'), 6)} DESC, c.vec_id
               ) AS rank
        FROM q, e c WHERE c.vec_id <> query_id
      ) WHERE rank <= 10
    ),
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % {S.CENTROID_MOD} = 0),
    assign AS (
      SELECT vec_id, centroid_id, crank FROM (
        SELECT e.vec_id, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_r(_COS.format(a='e.v', b='cent.cv'), 6)} DESC, cent.centroid_id
               ) AS crank
        FROM e, cent
      )
    ),
    corpus_cells AS (SELECT vec_id AS match_id, centroid_id FROM assign WHERE crank = 1),
    query_cells AS (SELECT vec_id AS query_id, centroid_id FROM assign
                    WHERE crank <= 2 AND vec_id < 20),
    cand AS (
      SELECT DISTINCT query_id, match_id
      FROM query_cells JOIN corpus_cells USING (centroid_id)
      WHERE query_id <> match_id
    ),
    approx AS (
      SELECT query_id, match_id, rank FROM (
        SELECT cand.query_id, cand.match_id,
               row_number() OVER (
                 PARTITION BY cand.query_id
                 ORDER BY {_r(_COS.format(a='eq.v', b='ec.v'), 6)} DESC, cand.match_id
               ) AS rank
        FROM cand
        JOIN e eq ON eq.vec_id = cand.query_id
        JOIN e ec ON ec.vec_id = cand.match_id
      ) WHERE rank <= 10
    ),
    hits AS (
      SELECT a.query_id, a.rank,
             CASE WHEN t.match_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM approx a
      LEFT JOIN truth t ON t.query_id = a.query_id AND t.match_id = a.match_id
    )
    SELECT query_id,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           {_r('sum(hit) / 10.0', 4)} AS recall_10,
           {_r(f'sum(hit * ({_DCG_CASE})) / {_IDCG_10}', 4)} AS ndcg_10
    FROM hits GROUP BY 1
    """,
    tags=("ext", "similarity", "evaluation"),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the IVF index against the
    exact tier — recall@10 and nDCG@10 per query, the numbers a
    training-data pipeline checks BEFORE trusting an approximate
    index for corpus-wide retrieval (the q_lsh_quality convention,
    applied to vector search): truth = brute-force cosine top-10,
    approx = the engine's own ivf_topk (nprobe=2), hit = approx
    result present in truth, nDCG discounts by literal 1/log2(r+1)
    weights precomputed in Python and shared verbatim with the
    oracle (neither engine's log2 is trusted). Both tiers are
    deterministic, so the evaluation itself hash-gates. At scale the
    truth tier runs on a query SAMPLE (this 20-query panel) while
    the index serves the corpus — evaluation cost is |sample|·n, not
    n²."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    truth = S.brute_force_topk(e, q, k=10).select(
        "query_id", F.col("match_id").alias("t_match")
    )
    approx = S.ivf_topk(
        e, q, k=10, nprobe=2, corpus_cells=ivf_corpus_cells(spark, sf_dir)
    )
    hits = approx.join(
        truth,
        (approx.query_id == truth.query_id) & (approx.match_id == truth.t_match),
        "left",
    ).select(
        approx.query_id.alias("qid"),
        approx.rank.alias("rank"),
        F.when(F.col("t_match").isNull(), 0).otherwise(1).alias("hit"),
    )
    dcg_w = F.expr(_DCG_CASE)
    return hits.groupBy(F.col("qid").alias("query_id")).agg(
        F.sum("hit").cast("long").alias("n_hits"),
        det_round(F.sum("hit") / F.lit(10.0), 4).alias("recall_10"),
        det_round(F.sum(F.col("hit") * dcg_w) / F.lit(float(_IDCG_10)), 4).alias("ndcg_10"),
    )


# --- cluster-quality evaluation (silhouette) --------------------------------

_SIL_PANEL = 60  # evaluation panel size


@query(
    "q_silhouette",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DBL.format(v='embedding')} AS v FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % {S.CENTROID_MOD} = 0),
    panel AS (SELECT vec_id, v FROM e WHERE vec_id < {_SIL_PANEL}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT p.vec_id, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY {_r(_COS.format(a='p.v', b='cent.cv'), 6)} DESC, cent.centroid_id
               ) AS crank
        FROM panel p, cent
      ) WHERE crank = 1
    ),
    pairs AS (
      SELECT a.vec_id AS i, ca.centroid_id AS ci, cb.centroid_id AS cj,
             CAST(1.0 - {_r(_COS.format(a='a.v', b='b.v'), 6)} AS DECIMAL(28,8)) AS d
      FROM panel a JOIN assign ca ON ca.vec_id = a.vec_id,
           panel b JOIN assign cb ON cb.vec_id = b.vec_id
      WHERE a.vec_id <> b.vec_id
    ),
    md AS (
      SELECT i, ci, cj, cast(sum(d) as double) / count(*) AS mean_d
      FROM pairs GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT i, ci,
             max(CASE WHEN cj = ci THEN mean_d END) AS a,
             min(CASE WHEN cj <> ci THEN mean_d END) AS b
      FROM md GROUP BY 1, 2
    ),
    s AS (
      SELECT i, ci,
             CASE WHEN a IS NULL THEN 0.0
                  ELSE {_r('(b - a) / greatest(a, b)', 6)} END AS sil
      FROM ab
    )
    SELECT ci AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_points,
           {_r('cast(sum(CAST(sil AS DECIMAL(28,8))) as double) / count(*)', 4)} AS mean_silhouette
    FROM s GROUP BY 1
    """,
    tags=("ext", "similarity", "evaluation"),
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette score of the IVF centroid assignment on a
    {_SIL_PANEL}-vector panel — the cluster-quality companion to
    q_ann_recall's retrieval quality (together they audit BOTH halves
    of the index: do cells hold similar vectors, and do probes find
    the right ones): a(i) = mean cosine distance to i's own cell,
    b(i) = min mean distance to any other cell, s = (b-a)/max(a,b),
    0 for singleton cells by the standard convention. Distances
    derive from the same det-rounded cosines the index ranks by, and
    every mean folds det-rounded terms through DECIMAL(28,8)
    accumulators (the unigram-LM convention), so the panel statistic
    is partition-layout-free and hash-gates. At scale: the panel is a
    deterministic sample (evaluation cost |panel|², never corpus²)
    while the assignment audit rides the index's own one-pass
    broadcast scoring."""
    e = read_table(spark, sf_dir, "embeddings")
    panel = e.filter(F.col("vec_id") < _SIL_PANEL)
    centroids = e.filter(F.col("vec_id") % S.CENTROID_MOD == 0)
    assign = S.ivf_assignments(panel, centroids, nprobe=1).select(
        "vec_id", "centroid_id"
    )
    pv = panel.select("vec_id", S.as_double(F.col("embedding")).alias("v")).withColumn(
        "n", S.norm(F.col("v"))
    )
    a_side = pv.join(assign, "vec_id").select(
        F.col("vec_id").alias("i"), F.col("v").alias("va"),
        F.col("n").alias("na"), F.col("centroid_id").alias("ci"),
    )
    b_side = pv.join(assign, "vec_id").select(
        F.col("vec_id").alias("j"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), F.col("centroid_id").alias("cj"),
    )
    cos = S.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a_side.crossJoin(b_side)
        .filter(F.col("i") != F.col("j"))
        .select(
            "i", "ci", "cj",
            (F.lit(1.0) - det_round(cos, 6)).cast("decimal(28,8)").alias("d"),
        )
    )
    md = pairs.groupBy("i", "ci", "cj").agg(
        (F.sum("d").cast("double") / F.count(F.lit(1))).alias("mean_d")
    )
    ab = md.groupBy("i", "ci").agg(
        F.max(F.when(F.col("cj") == F.col("ci"), F.col("mean_d"))).alias("a"),
        F.min(F.when(F.col("cj") != F.col("ci"), F.col("mean_d"))).alias("b"),
    )
    sil = ab.select(
        "i", "ci",
        F.when(F.col("a").isNull(), F.lit(0.0)).otherwise(
            det_round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 6)
        ).alias("sil"),
    )
    return sil.groupBy(F.col("ci").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        det_round(
            F.sum(F.col("sil").cast("decimal(28,8)")).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("mean_silhouette"),
    )


# --- perceptual-hash (dHash) near-duplicate media ---------------------------

#: 61 sampled byte positions → 60 adjacent-difference bits (BIGINT-safe,
#: the engine's 60-bit convention); 4 × 15-bit pigeonhole bands are
#: lossless for Hamming distance ≤ 3.
_PH_BITS, _PH_BANDS, _PH_MAXD = 60, 4, 3


@query(
    "q_phash_neardup",
    oracle=f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
    s AS (
      SELECT doc_id,
             list_transform(range({_PH_BITS + 1}),
               j -> ascii(substr(text, CAST((j * (length(text) - 1)) // {_PH_BITS + 1} AS INT) + 1, 1))
             ) AS smp
      FROM d
    ),
    h AS (
      SELECT doc_id,
             list_sum(list_transform(range({_PH_BITS}),
               j -> CASE WHEN smp[j + 1] > smp[j + 2]
                         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END))::BIGINT AS ph
      FROM s
    ),
    bands AS (
      SELECT doc_id, ph, b, (ph >> (15 * b)) & 32767 AS bkey
      FROM h, (SELECT unnest(range({_PH_BANDS})) AS b) u
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.ph AS pa, b.ph AS pb
      FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(pa, pb)) <= {_PH_MAXD}
    """,
    tags=("ext", "multimodal", "dedup"),
)
def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the multimodal
    payload — difference hash (dHash), the published perceptual-hash
    family member that needs NO global statistics: sample
    {_PH_BITS + 1} evenly-spaced payload bytes, emit one bit per
    adjacent pair (s_j > s_j+1), pack into a 60-bit BIGINT. Two
    payloads whose content drifts slightly (re-encode, crop, append)
    keep most difference bits, so near-dups are Hamming-close hashes
    — found by the SAME pigeonhole blocking the SimHash text tier
    uses ({_PH_BANDS} x 15-bit bands; provably lossless for distance
    ≤ {_PH_MAXD}), then verified with bit_count(xor). The corpus is
    pure ASCII, so the oracle replays the byte sampling with
    per-character codepoints (the q_multimodal_decode convention) —
    a real codec would swap in decoded pixel rows at the same seam.
    Everything is row-local integer arithmetic + one band equi-join:
    no UDF, no all-pairs stage, ids-only shuffle traffic."""
    d = read_table(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    nplus = _PH_BITS + 1
    # Sample from the BINARY payload, not the string: substring on a
    # string is O(position) (UTF-8 boundary scan per probe — 120
    # probes x ~3 KB measured 6+ s at sf0.1), on binary it is an O(1)
    # slice. The payload materializes behind a localCheckpoint (the
    # prefix_jaccard_pairs convention) so CollapseProject cannot
    # re-inline the O(n) encode() into every fold step. Single-byte
    # binary comparison is unsigned — identical to codepoint order on
    # the pure-ASCII corpus the oracle replays.
    par = spark.sparkContext.defaultParallelism
    b = (
        d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("bin"))
        .repartition(par)
        .localCheckpoint()
    )
    h = b.select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(0, {_PH_BITS - 1}), cast(0 as bigint), "
            f"(acc, j) -> acc + CASE WHEN substring(bin, cast((j * (length(bin) - 1)) div {nplus} as int) + 1, 1) "
            f"> substring(bin, cast(((j + 1) * (length(bin) - 1)) div {nplus} as int) + 1, 1) "
            f"THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)"
        ).alias("ph"),
    )
    bands_df = spark.range(_PH_BANDS).select(F.col("id").cast("int").alias("b"))
    bands = h.crossJoin(F.broadcast(bands_df)).select(
        "doc_id",
        "ph",
        "b",
        F.expr("shiftright(ph, 15 * b) & 32767").alias("bkey"),
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("ph").alias("pa"), "b", "bkey"
    )
    bb = bands.select(
        F.col("doc_id").alias("id_b"), F.col("ph").alias("pb"), "b", "bkey"
    )
    cand = (
        a.join(bb, ["b", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb")
        .distinct()
    )
    ham = F.expr("bit_count(pa ^ pb)")
    return cand.filter(ham <= _PH_MAXD).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


# --- Matryoshka truncation evaluation ----------------------------------------

TRUNC_DIMS = (8, 16, 32)
TRUNC_Q = 20
TRUNC_K = 10


def _trunc_oracle() -> str:
    udim = (
        "list_transform(list_slice(list_transform(embedding, x -> x::DOUBLE), 1, {d}),"
        " x -> x / sqrt(list_dot_product("
        "list_slice(list_transform(embedding, x -> x::DOUBLE), 1, {d}),"
        " list_slice(list_transform(embedding, x -> x::DOUBLE), 1, {d}))))"
    )
    branches = []
    for d in (*TRUNC_DIMS, 64):
        branches.append(f"""
    e{d} AS (
      SELECT vec_id, {udim.format(d=d)} AS u FROM embeddings
    ),
    top{d} AS (
      SELECT query_id, match_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY (floor(list_dot_product(q.u, c.u) * 1000000.0 + 0.5) / 1000000.0) DESC,
                          c.vec_id
               ) AS rn
        FROM e{d} q, e{d} c
        WHERE q.vec_id < {TRUNC_Q} AND c.vec_id <> q.vec_id
      ) WHERE rn <= {TRUNC_K}
    )""")
    hits = " UNION ALL ".join(
        f"SELECT {d} AS d, count(*) AS hits FROM top{d} t JOIN top64 f"
        f" ON t.query_id = f.query_id AND t.match_id = f.match_id"
        for d in TRUNC_DIMS
    )
    return f"""
    WITH {','.join(branches)},
    h AS ({hits})
    SELECT d, CAST(hits AS BIGINT) AS n_hits,
           (floor((CAST(hits AS DOUBLE) / {TRUNC_Q * TRUNC_K}) * 10000.0 + 0.5) / 10000.0)
             AS recall_at_{TRUNC_K}
    FROM h
    """


@query(
    "q_embed_dim_truncation",
    oracle=_trunc_oracle(),
    tags=("ext", "similarity", "evaluation"),
)
def q_embed_dim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: recall@10 of
    brute-force retrieval using only the FIRST d ∈ {8, 16, 32} of 64
    embedding dims against the full-dimension truth — the question a
    storage-constrained deployment asks before truncating its vector
    index ('half the dims keeps X% of neighbors; the index halves').
    Each tier re-normalizes over its truncated slice (truncation
    changes vector length — an un-renormalized dot ranks wrong), sims
    det-round to 6 digits BEFORE the per-query ranking so both engines
    break ties identically, and the pair stage is the sanctioned
    brute-evaluation tier (|Q|=20 panel × corpus — the
    q_ann_recall class; the production path would run each tier
    through the IVF index instead). One pair join serves all four
    tiers: the truncated slices project from the same row."""
    e = read_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", S.as_double(F.col("embedding")).alias("v"))

    def unit_slice(col, d):
        sl = F.slice(col, 1, d)
        n = F.sqrt(F.aggregate(sl, F.lit(0.0), lambda a, x: a + x * x))
        return F.transform(sl, lambda x: x / n)

    # r16: no checkpoint — with the single fused ranking pass below the
    # projection has one streamed consumer plus the broadcast panel, and
    # recomputing the 20-row panel slice is cheaper than an eager job.
    dims = (*TRUNC_DIMS, 64)
    proj = v.select(
        "vec_id", *[unit_slice(F.col("v"), d).alias(f"u{d}") for d in dims]
    )
    q = proj.filter(F.col("vec_id") < TRUNC_Q).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"u{d}").alias(f"q{d}") for d in dims],
    )
    # r16 (guide §3.1): stream the CORPUS side re-spread to the core
    # count and broadcast the 20-row query panel — the checkpointed
    # proj frame is one partition (one-split scan), so the old
    # q.crossJoin(proj) ran all |Q|·n dot folds in a single task.
    # Pair values are row-local and det-rounded before ranking:
    # layout-free, bit-identical.
    par = spark.sparkContext.defaultParallelism
    pairs = (
        proj.withColumnRenamed("vec_id", "match_id")
        .repartition(par)
        .crossJoin(F.broadcast(q))
        .filter(F.col("match_id") != F.col("query_id"))
    )
    sims = pairs.select(
        "query_id",
        "match_id",
        *[
            det_round(S.dot(F.col(f"q{d}"), F.col(f"u{d}")), 6).alias(f"s{d}")
            for d in dims
        ],
    )

    # r16 (guide §1.2/§2.3): the truth topk was re-derived per tier and
    # each tier ran its own window + join + aggregate (3 joins, 4 window
    # jobs over a checkpointed sims). All four per-query rankings share
    # the partitioning key, so ONE pass computes every tier's rank and
    # the truth rank side by side — a hit is simply rn_d ≤ k AND
    # rn_64 ≤ k on the same row (set membership in both topk sets, the
    # exact predicate the old join expressed). One exchange + one
    # aggregate replace the checkpoint, the truth frame, and the three
    # hit joins; per-tier hit counts and recalls are value-identical.
    from pyspark.sql import Window

    def rn(col):
        w = Window.partitionBy("query_id").orderBy(F.desc(col), F.asc("match_id"))
        return F.row_number().over(w)

    ranked = sims.select(
        *[rn(f"s{d}").alias(f"rn{d}") for d in dims],
    )
    hits = ranked.agg(
        *[
            F.sum(
                F.when(
                    (F.col(f"rn{d}") <= TRUNC_K) & (F.col("rn64") <= TRUNC_K), 1
                ).otherwise(0)
            ).alias(f"h{d}")
            for d in TRUNC_DIMS
        ]
    )
    stack = ", ".join(f"CAST({d} AS BIGINT), h{d}" for d in TRUNC_DIMS)
    return hits.select(
        F.expr(f"stack({len(TRUNC_DIMS)}, {stack}) AS (d, n_hits)")
    ).select(
        "d",
        F.col("n_hits").cast("long").alias("n_hits"),
        det_round(F.col("n_hits").cast("double") / (TRUNC_Q * TRUNC_K), 4).alias(
            f"recall_at_{TRUNC_K}"
        ),
    )


# --- IVF nprobe tuning curve ---------------------------------------------------

NPROBE_TIERS = (1, 2, 4)
NPROBE_Q = 20
NPROBE_K = 10


def _nprobe_oracle() -> str:
    branches = []
    for np_ in NPROBE_TIERS:
        branches.append(f"""
    cand{np_} AS (
      SELECT DISTINCT q.query_id, c.match_id
      FROM (SELECT vec_id AS query_id, centroid_id FROM assign
            WHERE crank <= {np_} AND vec_id < {NPROBE_Q}) q
      JOIN corpus_cells c USING (centroid_id)
      WHERE q.query_id <> c.match_id
    ),
    top{np_} AS (
      SELECT query_id, match_id FROM (
        SELECT s.query_id, s.match_id,
               row_number() OVER (
                 PARTITION BY s.query_id ORDER BY s.cosine_sim DESC, s.match_id
               ) AS rn
        FROM (
          SELECT query_id, match_id,
                 {_r(_COS.format(a='eq.v', b='ec.v'), 6)} AS cosine_sim
          FROM cand{np_} JOIN e eq ON eq.vec_id = query_id
                        JOIN e ec ON ec.vec_id = match_id
        ) s
      ) WHERE rn <= {NPROBE_K}
    )""")
    hits = " UNION ALL ".join(
        f"SELECT {np_} AS nprobe,"
        f" (SELECT count(*) FROM cand{np_}) AS n_candidates,"
        f" (SELECT count(*) FROM top{np_} t JOIN truth f"
        f"   ON t.query_id = f.query_id AND t.match_id = f.match_id) AS n_hits"
        for np_ in NPROBE_TIERS
    )
    return f"""
    WITH e AS (SELECT vec_id, {_DBL.format(v='embedding')} AS v FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % {S.CENTROID_MOD} = 0),
    assign AS (
      SELECT vec_id, centroid_id, crank FROM (
        SELECT e.vec_id, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_r(_COS.format(a='e.v', b='cent.cv'), 6)} DESC, cent.centroid_id
               ) AS crank
        FROM e, cent
      )
    ),
    corpus_cells AS (SELECT vec_id AS match_id, centroid_id FROM assign WHERE crank = 1),
    truth AS (
      SELECT query_id, match_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_r(_COS.format(a='q.v', b='c.v'), 6)} DESC, c.vec_id
               ) AS rn
        FROM e q, e c
        WHERE q.vec_id < {NPROBE_Q} AND c.vec_id <> q.vec_id
      ) WHERE rn <= {NPROBE_K}
    ),
    {','.join(branches)},
    h AS ({hits})
    SELECT nprobe, CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           (floor((CAST(n_hits AS DOUBLE) / {NPROBE_Q * NPROBE_K}) * 10000.0 + 0.5) / 10000.0)
             AS recall_at_{NPROBE_K}
    FROM h
    """


@query(
    "q_ivf_nprobe_curve",
    oracle=_nprobe_oracle(),
    tags=("ext", "similarity", "evaluation"),
)
def q_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@10 AND candidate volume as nprobe
    sweeps 1 → 2 → 4 — the cost/quality trade an operator reads
    before fixing the index's probe count ('nprobe 2 scans ~2/|C| of
    the corpus for X% recall; doubling probes buys Y points'). Truth
    is the brute panel (|Q|=20, the q_ann_recall evaluation class);
    every tier reuses the SAME cell assignment (one centroid-scoring
    pass — crank ≤ nprobe is a filter, not a recompute) and the same
    shared corpus-cells frame the production queries probe.

    r16 optimization (guide §1.2 step 1, §2.3/§2.4): ONE query→centroid
    ranking at the widest tier feeds ONE scored candidate-pair table
    carrying ``mcrank = min(crank over shared cells)``; tier ``nprobe``
    is then the FILTER ``mcrank <= nprobe`` — identical candidate sets
    by construction, because ivf_assignments ranks every centroid under
    the same (sim DESC, centroid_id) order whatever nprobe is, so the
    tier-np assignment IS the crank≤np slice of the widest one. Each
    pair's cosine is computed ONCE (previously 3×), and each tier
    re-ranks the tiny checkpointed pair table. Before: each tier
    re-assigned the panel TWICE (an Arrow mapInPandas pass inside
    ivf_topk plus a JVM window pass for the candidate count) and
    eagerly checkpointed its top-k — 25 build + 22 exec jobs, 4.3 s;
    after: 2 build jobs + a lazy 3-row union. Tier-filter ≡
    per-tier-assignment equality is pinned by
    tests/test_ext.py::test_nprobe_filter_equals_per_tier_assignment."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import ivf_corpus_cells
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < NPROBE_Q)
    truth = S.brute_force_topk(e, queries_df, k=NPROBE_K).select(
        "query_id", "match_id"
    ).localCheckpoint()
    cells = ivf_corpus_cells(spark, sf_dir)
    centroids = e.filter(F.col("vec_id") % S.CENTROID_MOD == 0)
    q = queries_df.select(
        F.col("vec_id").alias("query_id"), S.as_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", S.norm(F.col("qv")))
    c = e.select(
        F.col("vec_id").alias("match_id"), S.as_double(F.col("embedding")).alias("cv")
    ).withColumn("cn", S.norm(F.col("cv")))
    pairs = (
        S.ivf_assignments(queries_df, centroids, nprobe=max(NPROBE_TIERS))
        .select(F.col("vec_id").alias("query_id"), "centroid_id", "crank")
        .join(cells.select("match_id", "centroid_id"), "centroid_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .groupBy("query_id", "match_id")
        .agg(F.min("crank").alias("mcrank"))
        .join(q, "query_id")
        .join(c, "match_id")
        .select(
            "query_id",
            "match_id",
            "mcrank",
            det_round(
                S.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine_sim"),
        )
        .localCheckpoint()
    )
    # r16 second fusion (guide §2.3, the q_embed_dim_truncation shape):
    # the remaining per-tier branches (3 filters × window + count +
    # truth join + broadcast crossJoin over the checkpointed pairs)
    # collapse into ONE pass. A tier's row_number over its mcrank ≤ np
    # slice equals the conditional running count of in-tier rows under
    # the SHARED (sim DESC, match_id) order, so one window computes
    # every tier's rank; truth membership becomes a left-join flag; and
    # one aggregate emits each tier's candidate count and hit count —
    # value-identical, 3 branch subtrees → 1 window + 1 agg.
    marked = pairs.join(
        F.broadcast(truth.withColumn("_t", F.lit(1))),
        ["query_id", "match_id"],
        "left",
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("cosine_sim"), F.asc("match_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_tier = {
        np_: F.when(F.col("mcrank") <= np_, 1).otherwise(0) for np_ in NPROBE_TIERS
    }
    ranked = marked.select(
        "mcrank",
        "_t",
        *[F.sum(in_tier[np_]).over(w).alias(f"rk{np_}") for np_ in NPROBE_TIERS],
    )
    agg = ranked.agg(
        *[
            F.coalesce(F.sum(in_tier[np_]), F.lit(0)).alias(f"nc{np_}")
            for np_ in NPROBE_TIERS
        ],
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("mcrank") <= np_)
                        & (F.col(f"rk{np_}") <= NPROBE_K)
                        & F.col("_t").isNotNull(),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias(f"nh{np_}")
            for np_ in NPROBE_TIERS
        ],
    )
    stack = ", ".join(
        f"CAST({np_} AS BIGINT), nc{np_}, nh{np_}" for np_ in NPROBE_TIERS
    )
    return agg.select(
        F.expr(
            f"stack({len(NPROBE_TIERS)}, {stack}) AS (nprobe, n_candidates, n_hits)"
        )
    ).select(
        "nprobe",
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_hits").cast("long").alias("n_hits"),
        det_round(F.col("n_hits").cast("double") / (NPROBE_Q * NPROBE_K), 4).alias(
            f"recall_at_{NPROBE_K}"
        ),
    )


# --- intra-document repetition (Gopher-style filter, round 12) ---------------

_R6X = "(floor(({c}) * 1000000.0 + 0.5) / 1000000.0)"
REP_FLAG = 0.2


@query(
    "q_repetition_ratio",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    tri AS (
      SELECT doc_id, {SHINGLES.format(t='toks')} AS tri FROM tk
    )
    SELECT doc_id,
           CAST(len(tri) AS BIGINT) AS n_trigrams,
           CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct,
           {_R6X.format(c="1.0 - cast(len(list_distinct(tri)) as double) / len(tri)")} AS rep_ratio,
           CAST({_R6X.format(c="1.0 - cast(len(list_distinct(tri)) as double) / len(tri)")} > {REP_FLAG!r} AS INT) AS flagged
    FROM tri
    """,
    tags=("ext", "text", "quality", "filter"),
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition — the Gopher-class repetition filter
    (Rae et al. 2021 §A1.1, "fraction of duplicate n-grams") the
    cross-document dedup tier deliberately doesn't cover: per doc,
    the fraction of 3-gram occurrences that are repeats of an earlier
    3-gram in the SAME doc, flagged above {REP_FLAG}. Boilerplate,
    keyboard-mash, and template spam score high while clean prose
    sits near 0 — a pretraining-quality gate orthogonal to
    q_quality_score's surface stats and q_gopher_quality's
    length/stopword rules. Entirely row-local (tokens staged once so
    the interpreted higher-order shingle transform isn't re-evaluated
    per reference — the ext/text.shingles_of discipline), zero
    shuffles; ratio is an exact-integer division det-rounded."""
    docs = read_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", X.tokens(X.norm_text(F.col("text"))).alias("toks"))
    tri = tk.select("doc_id", X.shingles_of(F.col("toks"), 3).alias("tri"))
    ratio = det_round(
        F.lit(1.0) - F.size(F.array_distinct("tri")).cast("double") / F.size("tri"), 6
    )
    return tri.select(
        "doc_id",
        F.size("tri").cast("long").alias("n_trigrams"),
        F.size(F.array_distinct("tri")).cast("long").alias("n_distinct"),
        ratio.alias("rep_ratio"),
        (ratio > F.lit(REP_FLAG)).cast("int").alias("flagged"),
    )
