"""Corpus infrastructure round 3 — the two text-pipeline builders the
earlier corpus catalogs still lacked:

- q_inverted_index: term → capped posting list (doc:tf entries) with
  document frequency and collection frequency — the retrieval-index
  build step behind BM25 (q_bm25 consumes these statistics; this
  query materializes the index itself).
- q_bpe_merges: a REAL byte-pair-encoding trainer — {BPE_ROUNDS}
  greedy merge rounds over the word-type frequency table, each round
  counting adjacent symbol pairs, picking the most frequent
  (lexicographic tie-break), and applying the merge left-to-right
  exactly like the canonical Sennrich BPE loop. The corpus is scanned
  ONCE (word-type counts); every merge round then runs on the
  {BPE_VOCAB}-row word-type table — the same trick production BPE
  trainers use (operate on the type dictionary, not the token
  stream), which is what makes iterative vocabulary learning viable
  at 100 TB. The merge application is a left-fold over the symbol
  array (merge-with-previous iff it equals the chosen pair and was
  not itself just merged — provably identical to the index-skipping
  scan because a merged symbol is strictly longer than its left
  part); the DuckDB oracle applies the same merge via the run-parity
  formulation (within each run of consecutive matching positions,
  odd offsets merge), unrolled {BPE_ROUNDS} rounds deep.

Both are pure DataFrame plans — the BPE fold is a Catalyst
`aggregate` lambda, not a UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import NORM, TOKS, hash60
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import H60_SQL, R4_SQL, R6_SQL, R8_SQL, det_round
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import (
    doc_tokens,
    memo,
    note_dropped_checkpoints,
)

# --- inverted index ---------------------------------------------------------

IDX_MIN_DF = 5  # drop hapax/rare terms from the materialized index
IDX_POST_CAP = 10  # posting-list entries materialized per term


@query(
    "q_inverted_index",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({TOKS.format(c=NORM.format(c='text'))}) AS term
      FROM documents
    ),
    tf AS (
      SELECT term, doc_id, count(*) AS tf FROM t GROUP BY 1, 2
    ),
    r AS (
      SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY term) AS df,
             sum(tf) OVER (PARTITION BY term) AS cf
      FROM tf
    )
    SELECT term, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
    FROM r
    WHERE df >= {IDX_MIN_DF} AND rn <= {IDX_POST_CAP}
    GROUP BY 1, 2, 3
    """,
    tags=("ext", "text", "index"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index: per term, document frequency,
    collection frequency, and the first {IDX_POST_CAP} postings as
    deterministic "doc:tf" entries ordered by doc id. One tokenize +
    explode pass, one (term, doc) shuffle for tf, then term-partition
    windows for df/cf/rank — the textbook index build. The posting
    cap bounds the materialized row count per term; at 100 TB the
    stop-term windows are the skew risk and would take the salted
    two-stage top-k (q_topk_per_group's plan) — here the df floor
    already drops the hapax tail before the final aggregation."""
    t = doc_tokens(spark, sf_dir).select("doc_id", F.explode("toks").alias("term"))
    tf = t.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    wt = Window.partitionBy("term")
    r = tf.select(
        "term",
        "doc_id",
        "tf",
        F.row_number().over(wt.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("df"),
        F.sum("tf").over(wt).alias("cf"),
    ).filter((F.col("df") >= IDX_MIN_DF) & (F.col("rn") <= IDX_POST_CAP))
    entry = F.concat_ws(":", F.col("doc_id"), F.col("tf"))
    return (
        r.groupBy("term", "df", "cf")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", entry.alias("e")))),
                    lambda x: x["e"],
                ),
                ",",
            ).alias("postings")
        )
        .select("term", F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf"), "postings")
    )


# --- BPE merge trainer ------------------------------------------------------

BPE_VOCAB = 60  # word types kept (by corpus frequency, tie → lexicographic)
BPE_ROUNDS = 4  # greedy merges learned


def _bpe_round_cte(r: int, train: bool) -> str:
    """One run-parity merge round of the pair in p{r}: x{r} flags
    matches, y{r} numbers their runs, z{r} keeps odd offsets per run,
    w{r} re-joins the symbols. A training round (over w{r-1}) carries
    each word's freq for the next pair count; an apply round (over
    aw{r-1}, CTEs prefixed ``a``) does not. The learned-merges oracle
    takes p{r} from the training CTEs, the external-merges oracle from
    a constant row of the shipped list."""
    a, cols, group = ("", "word, freq", "1, 2") if train else ("a", "word", "1")
    return f"""
    {a}x{r} AS (
      SELECT {cols}, i, toks[i] AS tok,
             CASE WHEN i < len(toks) AND toks[i] = p.bl AND toks[i + 1] = p.br
                  THEN 1 ELSE 0 END AS m
      FROM {a}w{r - 1}, p{r} p, unnest(range(1, len(toks) + 1)) AS u(i)
    ),
    {a}y{r} AS (
      SELECT {cols}, i, tok, m,
             i - row_number() OVER (PARTITION BY word, m ORDER BY i) AS grp
      FROM {a}x{r}
    ),
    {a}z{r} AS (
      SELECT {cols}, i, tok,
             CASE WHEN m = 1 AND (row_number() OVER (
                    PARTITION BY word, m, grp ORDER BY i)) % 2 = 1
                  THEN 1 ELSE 0 END AS ms
      FROM {a}y{r}
    ),
    {a}w{r} AS (
      SELECT {cols},
             string_split(string_agg(
               CASE WHEN ms = 1 THEN tok || nxt ELSE tok END, ' ' ORDER BY i), ' ')
               AS toks
      FROM (
        SELECT {cols}, i, tok, ms,
               lead(tok) OVER (PARTITION BY word ORDER BY i) AS nxt,
               lag(ms, 1, 0) OVER (PARTITION BY word ORDER BY i) AS prev_ms
        FROM {a}z{r}
      )
      WHERE prev_ms = 0
      GROUP BY {group}
    )"""


def _bpe_train_ctes() -> list:
    """Unrolled {BPE_ROUNDS}-round BPE training CTEs. Each round:
    count adjacent symbol pairs weighted by word frequency, pick
    argmax (count desc, pair asc), then apply the merge via
    run-parity (odd offsets within each run of consecutive matches
    merge — the SQL-expressible equivalent of the canonical
    left-to-right scan)."""
    parts = [
        f"""
    words AS (
      SELECT w AS word, count(*) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents)
      GROUP BY 1
    ),
    w0 AS (
      SELECT word, freq,
             string_split(regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>', ' ') AS toks
      FROM (SELECT word, freq,
                   row_number() OVER (ORDER BY freq DESC, word ASC) AS rk
            FROM words)
      WHERE rk <= {BPE_VOCAB}
    )"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""
    p{r} AS (
      SELECT bl, br, cnt FROM (
        SELECT toks[i] AS bl, toks[i + 1] AS br, sum(freq) AS cnt
        FROM w{r - 1}, unnest(range(1, len(toks))) AS u(i)
        GROUP BY 1, 2
      ) ORDER BY cnt DESC, bl ASC, br ASC LIMIT 1
    )"""
        )
        parts.append(_bpe_round_cte(r, train=True))
    return parts


def _bpe_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, bl AS left_sym, br AS right_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM p{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return "WITH " + ",".join(_bpe_train_ctes()) + "\n    " + selects


#: Canonical left-to-right BPE merge as a Catalyst fold: append each
#: symbol, but if the accumulator's last element equals the pair's
#: left half and the incoming symbol its right half, replace the last
#: element with the merged symbol. Equivalent to the index-skipping
#: scan because a merged symbol (strictly longer) can never equal the
#: pair's left half again in the same round.
_BPE_FOLD = """
aggregate(
  toks,
  cast(array() as array<string>),
  (acc, x) -> if(size(acc) = 0,
                 array(x),
                 if(element_at(acc, size(acc)) = bl AND x = br,
                    concat(slice(acc, 1, size(acc) - 1), array(concat(bl, br))),
                    concat(acc, array(x))))
)
"""

_BPE_PAIRS = """
if(size(toks) < 2,
   cast(array() as array<struct<bl: string, br: string>>),
   transform(sequence(1, size(toks) - 1),
             i -> struct(toks[i - 1] as bl, toks[i] as br)))
"""


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-type frequency table — the ONE full scan BPE needs."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_toks(word: F.Column) -> F.Column:
    """word → symbol array: chars followed by the </w> end marker."""
    return F.split(
        F.concat(F.regexp_replace(word, "(.)", "$1 "), F.lit("</w>")), " "
    )


def _bpe_apply(frame: DataFrame, best: DataFrame, keep: list) -> DataFrame:
    """Apply one learned merge to a toks-bearing frame (fold; see
    _BPE_FOLD). ``keep`` lists the passthrough columns."""
    return (
        frame.crossJoin(F.broadcast(best.select("bl", "br")))
        .select(*keep, F.expr(_BPE_FOLD).alias("toks"))
        .localCheckpoint()
    )


def _bpe_train_shared(spark: SparkSession, sf_dir: str) -> list:
    """Memoized :func:`_bpe_train` — trainer (q_bpe_merges) and
    encoder (q_bpe_encode) share one learned merge list per process
    (a list of 1-row frames, each already localCheckpointed by the
    trainer). Keying, dead-session eviction, locking, and clear_cache
    block-freeing all come from shared_frames.memo."""
    return memo(spark, sf_dir, "bpe_merges", lambda: _bpe_train(spark, sf_dir))


def _bpe_train(spark: SparkSession, sf_dir: str) -> list:
    """Learn BPE_ROUNDS merges; returns the 1-row best-pair frames
    (bl, br, cnt), each localCheckpointed."""
    words = _bpe_words(spark, sf_dir)
    rk = F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("word")))
    seqs = (
        words.withColumn("rk", rk)
        .filter(F.col("rk") <= BPE_VOCAB)
        .select("word", "freq", _bpe_toks(F.col("word")).alias("toks"))
        .localCheckpoint()
    )
    bests = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = (
            seqs.select("freq", F.explode(F.expr(_BPE_PAIRS)).alias("p"))
            .select("freq", F.col("p.bl").alias("bl"), F.col("p.br").alias("br"))
            .groupBy("bl", "br")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("bl"), F.asc("br"))
            .limit(1)
            .localCheckpoint()
        )
        bests.append(best)
        if r < BPE_ROUNDS:
            seqs = _bpe_apply(seqs, best, ["word", "freq"])
    note_dropped_checkpoints(spark)  # per-round seqs checkpoints dropped above
    return bests


@query("q_bpe_merges", oracle=_bpe_oracle(), tags=("ext", "text", "bpe", "iterative"))
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary trainer: learn the first {BPE_ROUNDS} merges
    over the corpus (see module docstring). Execution shape: ONE
    corpus scan builds the word-type frequency table; the top
    {BPE_VOCAB} types (weighted by corpus frequency) are pinned with
    localCheckpoint, and each merge round is pair-explode → weighted
    count → argmax (a 1-row TakeOrdered) → broadcast the winning pair
    back over the type table and fold-merge its symbol arrays. Every
    per-round input is O(vocab · word_len) — independent of corpus
    size, the property that makes dictionary-based BPE training scale
    (the reference's LLM-pipeline role for this engine is exactly
    such corpus prep). localCheckpoint per round bounds the lineage
    like the PageRank loop; no Python touches row data."""
    bests = [
        b.withColumn("merge_rank", F.lit(r).cast("long"))
        for r, b in enumerate(_bpe_train_shared(spark, sf_dir), start=1)
    ]
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.select(
        "merge_rank",
        F.col("bl").alias("left_sym"),
        F.col("br").alias("right_sym"),
        F.col("cnt").cast("long").alias("pair_count"),
    )


# --- readability scoring ----------------------------------------------------


# Heuristic counts (identical RE2-compatible regexes on both engines):
# sentences = punctuation runs [.!?]+ (min 1), words = whitespace
# tokens, syllables = vowel groups [aeiouy]+ in the lowercased text.
_SENT_RE = "[.!?]+"
_SYL_RE = "[aeiouy]+"


@query(
    "q_readability",
    oracle=f"""
    WITH d AS (
      SELECT source,
             greatest(len(regexp_extract_all(text, '{_SENT_RE}')), 1) AS sentences,
             len(regexp_extract_all(trim(text), '\\S+')) AS words,
             greatest(len(regexp_extract_all(lower(text), '{_SYL_RE}')), 1) AS syllables
      FROM documents
      WHERE trim(text) <> ''
    ),
    f AS (
      SELECT source, sentences, words, syllables,
             CAST({R4_SQL.format(c=(
                 "206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)"
                 " - 84.6 * (CAST(syllables AS DOUBLE) / words)"
             ))} AS DECIMAL(38,4)) AS flesch
      FROM d WHERE words > 0
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS total_words,
           {R6_SQL.format(c="CAST(sum(flesch) AS DOUBLE) / count(*)")} AS avg_flesch
    FROM f GROUP BY 1
    """,
    tags=("ext", "text", "quality"),
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source: 206.835 − 1.015·(words/
    sentence) − 84.6·(syllables/word), with regex-heuristic sentence/
    syllable counts (punctuation runs; vowel groups) — the fluency
    gate corpus pipelines run next to stopword/length quality scores
    (quality_score, gopher_quality), and a per-SOURCE aggregate so
    template-heavy feeds stand out. Counting is three regexp_count
    passes fused into one scan (row-local, codegen); per-doc scores
    det-round into decimal(38,4) before the source-level mean, so the
    aggregate is layout-free. All ratios divide exact integers."""
    d = read_table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    counted = d.select(
        "source",
        F.greatest(F.regexp_count(F.col("text"), F.lit(_SENT_RE)), F.lit(1)).alias("sentences"),
        F.regexp_count(F.trim(F.col("text")), F.lit(r"\S+")).alias("words"),
        F.greatest(
            F.regexp_count(F.lower(F.col("text")), F.lit(_SYL_RE)), F.lit(1)
        ).alias("syllables"),
    ).filter(F.col("words") > 0)
    flesch = det_round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words").cast("double") / F.col("sentences"))
        - F.lit(84.6) * (F.col("syllables").cast("double") / F.col("words")),
        4,
    ).cast("decimal(38,4)")
    return (
        counted.withColumn("flesch", flesch)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").cast("long").alias("total_words"),
            det_round(F.sum("flesch").cast("double") / F.count(F.lit(1)), 6).alias("avg_flesch"),
        )
    )


# --- BPE encoding (apply learned merges) ------------------------------------


#: word-type table + initial symbol arrays shared by both encode
#: oracles (learned and external merges).
_SW_AW0_CTES = r"""
    sw AS (
      SELECT source, w AS word, count(*) AS cnt
      FROM (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents)
      GROUP BY 1, 2
    ),
    aw0 AS (
      SELECT word,
             string_split(regexp_replace(word, '(.)', '\1 ', 'g') || '</w>', ' ') AS toks
      FROM (SELECT DISTINCT word FROM sw)
    )"""


def _bpe_encode_final(last: str) -> str:
    return f"""
    SELECT sw.source,
           CAST(sum(sw.cnt) AS BIGINT) AS n_words,
           CAST(sum(sw.cnt * len(a.toks)) AS BIGINT) AS n_tokens,
           {R6_SQL.format(c="CAST(sum(sw.cnt * len(a.toks)) AS DOUBLE) / sum(sw.cnt)")} AS fertility,
           {R6_SQL.format(c="CAST(sum(sw.cnt * (length(sw.word) + 1)) AS DOUBLE) / sum(sw.cnt * len(a.toks))")} AS compression
    FROM sw JOIN {last} a ON sw.word = a.word
    GROUP BY 1"""


def _bpe_encode_oracle() -> str:
    """Training CTEs (for p1..p{BPE_ROUNDS}) + apply rounds over the
    FULL vocabulary (same run-parity machinery, no frequency), then
    per-source fertility/compression from the word-type join."""
    parts = list(_bpe_train_ctes())
    parts.append(_SW_AW0_CTES)
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(_bpe_round_cte(r, train=False))
    return "WITH " + ",".join(parts) + "\n    " + _bpe_encode_final(f"aw{BPE_ROUNDS}")


def _source_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, word, cnt): per-source word counts — the ``sw`` CTE
    both encode oracles share."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _encode_stats(sw: DataFrame, aw: DataFrame) -> DataFrame:
    """Per-source n_words, n_tokens, fertility and compression of the
    encoded word types ``aw`` (word, toks) — :func:`_bpe_encode_final`'s
    twin."""
    enc = sw.join(aw, "word")
    n_tokens = F.sum(F.col("cnt") * F.size("toks"))
    return enc.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        n_tokens.cast("long").alias("n_tokens"),
        det_round(n_tokens.cast("double") / F.sum("cnt"), 6).alias("fertility"),
        det_round(
            F.sum(F.col("cnt") * (F.length("word") + 1)).cast("double") / n_tokens, 6
        ).alias("compression"),
    )


@query("q_bpe_encode", oracle=_bpe_encode_oracle(), tags=("ext", "text", "bpe", "iterative"))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application — the other half of the BPE loop: apply
    the {BPE_ROUNDS} learned merges to the FULL word-type vocabulary
    and report per-source fertility (tokens per word) and compression
    (symbols before/after) — the metrics that tell you whether a
    vocabulary fits a corpus (fertility spikes on out-of-domain
    sources). Same dictionary trick as training: merges fold over the
    word-TYPE table (≪ token stream), and the token stream only ever
    joins word→token_count — so encoding cost is one (source, word)
    aggregation plus a types-sized join, at any corpus scale. The
    oracle unrolls the same apply rounds with run-parity merges over
    the whole vocabulary."""
    bests = _bpe_train_shared(spark, sf_dir)
    sw = _source_words(spark, sf_dir)
    aw = (
        sw.select("word")
        .distinct()
        .select("word", _bpe_toks(F.col("word")).alias("toks"))
        .localCheckpoint()
    )
    for best in bests:
        aw = _bpe_apply(aw, best, ["word"])
    note_dropped_checkpoints(spark)  # per-round aw checkpoints dropped above
    return _encode_stats(sw, aw)


# --- BPE encoding with a SHIPPED merge list ----------------------------------

#: the external vocabulary: a fixed, ordered merge list as a tokenizer
#: artifact would ship it (e.g. a merges.txt) — applied verbatim, no
#: training pass. Chosen to fire across the synthetic corpus' word
#: shapes (er/er</w> suffixes, ta/st clusters).
BPE_EXT_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "r"),
    ("er", "</w>"),
    ("t", "a"),
    ("s", "t"),
)


def bpe_apply_external(
    frame: DataFrame, merges: tuple[tuple[str, str], ...], keep: list
) -> DataFrame:
    """Apply an EXTERNAL (shipped) merge list to a toks-bearing
    frame, in list order — the public seam q_bpe_merges' trainer
    output or any merges.txt plugs into. Each merge folds as plan
    LITERALS (same Catalyst `aggregate` lambda as `_bpe_apply`, see
    _BPE_FOLD) — no join, no broadcast, no action: a shipped
    vocabulary is a constant of the plan, so applying V merges is one
    row-local pass over the word-type table regardless of corpus
    size. (Training-time `_bpe_apply` differs only in sourcing the
    pair from the per-round argmax frame.)"""
    for bl, br in merges:
        frame = frame.select(
            *keep,
            F.col("toks"),
            F.lit(bl).alias("bl"),
            F.lit(br).alias("br"),
        ).select(*keep, F.expr(_BPE_FOLD).alias("toks"))
    return frame


def _bpe_encode_external_oracle() -> str:
    parts = [_SW_AW0_CTES.lstrip("\n")]
    for r, (bl, br) in enumerate(BPE_EXT_MERGES, start=1):
        parts.append(
            f"""
    p{r} AS (SELECT '{bl}' AS bl, '{br}' AS br)"""
        )
        parts.append(_bpe_round_cte(r, train=False))
    return (
        "WITH " + ",".join(parts) + "\n    "
        + _bpe_encode_final(f"aw{len(BPE_EXT_MERGES)}")
    )


@query(
    "q_bpe_encode_external",
    oracle=_bpe_encode_external_oracle(),
    tags=("ext", "text", "bpe"),
)
def q_bpe_encode_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application against a SHIPPED vocabulary: apply the
    fixed {len(BPE_EXT_MERGES)}-merge list BPE_EXT_MERGES (the
    merges.txt case — encode with a vocabulary trained elsewhere,
    exactly how production corpora are tokenized against a frozen
    tokenizer) and report the same per-source fertility/compression
    as q_bpe_encode. Because the merges are plan literals, the whole
    encode is ONE (source, word) aggregation + a row-local fold over
    the word-TYPE table + a types-sized join — no training scan, no
    per-round action, nothing iterative: the cheapest possible shape
    for the most common BPE operation. Oracle unrolls the same four
    merges as constant rows through the shared run-parity rounds."""
    sw = _source_words(spark, sf_dir)
    aw = (
        sw.select("word")
        .distinct()
        .select("word", _bpe_toks(F.col("word")).alias("toks"))
    )
    aw = bpe_apply_external(aw, BPE_EXT_MERGES, ["word"])
    return _encode_stats(sw, aw)


# --- PMI collocations -------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP = 20


@query(
    "q_pmi_collocations",
    oracle=f"""
    WITH t AS (
      SELECT {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    uni AS (
      SELECT u AS tok, count(*) AS n FROM (SELECT unnest(toks) AS u FROM t)
      GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS nt FROM uni),
    bi AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS n_bi
      FROM t, unnest(range(1, len(toks))) AS u(i)
      GROUP BY 1, 2
      HAVING count(*) >= {PMI_MIN_COUNT}
    ),
    scored AS (
      SELECT b.w1, b.w2, b.n_bi,
             ln(CAST(b.n_bi AS DOUBLE) * tot.nt / (u1.n * CAST(u2.n AS DOUBLE)))
               AS pmi
      FROM bi b
      JOIN uni u1 ON b.w1 = u1.tok
      JOIN uni u2 ON b.w2 = u2.tok
      CROSS JOIN tot
    )
    SELECT w1, w2, CAST(n_bi AS BIGINT) AS n_bi,
           {{r6}} AS pmi, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT w1, w2, n_bi, pmi,
             row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rk
      FROM scored
    )
    WHERE rk <= {PMI_TOP}
    """.format(r6=R6_SQL.format(c="pmi")),
    tags=("ext", "text", "collocation"),
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: adjacent-token pairs ranked by
    pointwise mutual information, PMI = ln(P(w1,w2)/(P(w1)·P(w2))) —
    the measure that separates genuinely-bound phrases from pairs of
    merely-frequent words (which is exactly what raw bigram counts,
    q_bigram_logprob's input, cannot do). One tokenize pass feeds
    both the unigram table and the adjacent-pair explode; the
    min-count floor prunes the noisy tail BEFORE the unigram joins
    (PMI of rare pairs is pathologically inflated — the floor is
    statistical hygiene, not just cost control). Top-{PMI_TOP} is a
    TakeOrdered over the scored pair table; ties break
    lexicographically. The approximate bigram probability uses the
    unigram total as denominator on both engines, so the ratio
    divides exact integers."""
    t = doc_tokens(spark, sf_dir).select("toks")
    uni = t.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = uni.agg(F.sum("n").alias("nt"))
    pair_expr = (
        "if(size(toks) < 2, cast(array() as array<struct<w1: string, w2: string>>), "
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i - 1] as w1, toks[i] as w2)))"
    )
    bi = (
        t.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_bi"))
        .filter(F.col("n_bi") >= PMI_MIN_COUNT)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("n").alias("n2"))
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "pmi",
            F.log(
                F.col("n_bi").cast("double") * F.col("nt") / (F.col("n1") * F.col("n2").cast("double"))
            ),
        )
    )
    return (
        scored.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))),
        )
        .filter(F.col("rk") <= PMI_TOP)
        .select(
            "w1",
            "w2",
            F.col("n_bi").cast("long").alias("n_bi"),
            det_round(F.col("pmi"), 6).alias("pmi"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# --- embedding centroid drift -----------------------------------------------


@query(
    "q_embed_drift",
    oracle=f"""
    WITH x AS (
      SELECT vec_id % 2 AS period, i - 1 AS dim, embedding[i] AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    c AS (
      SELECT period, dim,
             CAST(sum(CAST({R8_SQL.format(c="val")} AS DECIMAL(38,8))) AS DOUBLE)
               / count(*) AS m
      FROM x GROUP BY 1, 2
    ),
    j AS (
      SELECT a.dim, a.m AS ma, b.m AS mb
      FROM c a JOIN c b ON a.dim = b.dim AND a.period = 0 AND b.period = 1
    ),
    s AS (
      SELECT count(*) AS n_dims,
             CAST(sum(CAST({R8_SQL.format(c="ma * mb")} AS DECIMAL(38,8))) AS DOUBLE) AS dot,
             CAST(sum(CAST({R8_SQL.format(c="ma * ma")} AS DECIMAL(38,8))) AS DOUBLE) AS na2,
             CAST(sum(CAST({R8_SQL.format(c="mb * mb")} AS DECIMAL(38,8))) AS DOUBLE) AS nb2,
             CAST(sum(CAST({R8_SQL.format(c="(ma - mb) * (ma - mb)")} AS DECIMAL(38,8))) AS DOUBLE) AS d2
      FROM j
    ),
    counts AS (
      SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM embeddings
    )
    SELECT counts.n_a, counts.n_b, CAST(s.n_dims AS BIGINT) AS n_dims,
           {{r6cos}} AS cos_sim,
           {{r6l2}} AS l2_shift
    FROM s, counts
    """.format(
        r6cos=R6_SQL.format(c="dot / sqrt(na2 * nb2)"),
        r6l2=R6_SQL.format(c="sqrt(d2)"),
    ),
    tags=("ext", "embedding", "monitoring"),
)
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: centroid of each pseudo-period
    (vec_id parity — deterministic stand-in for a time split), then
    the cosine between the two centroids and the L2 shift — the
    embedding-pipeline health check (an encoder change or input-mix
    shift moves the centroid long before downstream metrics notice;
    cosine < ~0.99 on stable traffic is a re-index alarm). One
    posexplode pass + a (period, dim) aggregation; everything after
    runs on 2×|dims| rows. Per-dim means and the cosine/L2 terms
    det-round into decimal(38,8) before summation — layout-free, and
    float→double promotion is exact on both engines."""
    emb = read_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.pmod(F.col("vec_id"), F.lit(2)).alias("period"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    c = x.groupBy("period", "dim").agg(
        (
            F.sum(det_round(F.col("val").cast("double"), 8).cast("decimal(38,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    a = c.filter(F.col("period") == 0).select("dim", F.col("m").alias("ma"))
    b = c.filter(F.col("period") == 1).select("dim", F.col("m").alias("mb"))
    j = a.join(b, "dim")
    dec8 = lambda col: F.sum(det_round(col, 8).cast("decimal(38,8)")).cast("double")
    s = j.agg(
        F.count(F.lit(1)).alias("n_dims"),
        dec8(F.col("ma") * F.col("mb")).alias("dot"),
        dec8(F.col("ma") * F.col("ma")).alias("na2"),
        dec8(F.col("mb") * F.col("mb")).alias("nb2"),
        dec8((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))).alias("d2"),
    )
    counts = emb.agg(
        F.sum(F.when(F.pmod("vec_id", F.lit(2)) == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.pmod("vec_id", F.lit(2)) == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    return s.crossJoin(F.broadcast(counts)).select(
        "n_a",
        "n_b",
        F.col("n_dims").cast("long").alias("n_dims"),
        det_round(F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")), 6).alias("cos_sim"),
        det_round(F.sqrt(F.col("d2")), 6).alias("l2_shift"),
    )


# --- exact-substring duplicate spans ----------------------------------------

SPAN_K = 8  # tokens per rolling shingle = minimum reported span length


@query(
    "q_dup_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, len(toks) AS n_toks, i,
             {H60_SQL.format(x=f"array_to_string(list_slice(toks, i, i + {SPAN_K} - 1), ' ')")} AS h
      FROM t, unnest(range(1, len(toks) - {SPAN_K} + 2)) AS u(i)
    ),
    dup AS (
      SELECT h FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
    ),
    pos AS (
      SELECT s.doc_id, s.n_toks, s.i AS istart, s.i + {SPAN_K} - 1 AS iend
      FROM sh s JOIN dup d ON s.h = d.h
    ),
    marked AS (
      SELECT doc_id, n_toks, istart, iend,
             CASE WHEN istart > coalesce(max(iend) OVER (
                    PARTITION BY doc_id ORDER BY istart
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS new_island
      FROM pos
    ),
    islands AS (
      SELECT doc_id, n_toks, istart, iend,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY istart
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM marked
    ),
    spans AS (
      SELECT doc_id, n_toks, island_id,
             max(iend) - min(istart) + 1 AS span_tokens
      FROM islands GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span_tokens) AS BIGINT) AS longest_span,
           (floor((CAST(sum(span_tokens) AS DOUBLE) / n_toks) * 1000000.0 + 0.5)
             / 1000000.0) AS dup_token_share
    FROM spans GROUP BY doc_id, n_toks
    """,
    tags=("ext", "dedup", "spans"),
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate SPANS — the token-span dedup tier of
    Lee et al.'s "Deduplicating Training Data" family that the
    doc/paragraph/shingle tiers don't give you: maximal runs of
    ≥{SPAN_K} consecutive tokens that appear verbatim in ANOTHER
    document. Pipeline: rolling {SPAN_K}-token shingle hashes (60-bit
    md5 longs, the jaccard_pairs convention), cross-doc duplicated
    hashes via one count-distinct-docs agg, then each doc's
    duplicated positions merge into maximal spans by the canonical
    gaps-and-islands interval union (running-max-end window → island
    ids → per-island extents — overlapping shingle windows must NOT
    double-count coverage, which naive run-grouping gets wrong).
    Output per affected doc: span count, longest span, duplicated-
    token share (the per-doc removal signal). Cost: one shingle
    explode (≈ tokens/doc positions), one hash agg, one doc-keyed
    window — linear in corpus size, no pairing stage at all (unlike
    MinHash-LSH, the span tier never enumerates doc PAIRS)."""
    t = doc_tokens(spark, sf_dir).select("doc_id", "toks")
    # Guard short docs explicitly: sequence(1, 0) in Spark is the
    # DESCENDING [1, 0] (not empty), so without the if() a doc with
    # < SPAN_K tokens emits i=0 and slice(toks, 0, ...) throws
    # INVALID_PARAMETER_VALUE.START — while the DuckDB oracle's
    # range(1, n) is empty and returns normally.
    toks = F.col("toks")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - SPAN_K + 1),
        lambda i: F.struct(
            i.alias("istart"),
            hash60(F.array_join(F.slice(toks, i, SPAN_K), " ")).alias("h"),
        ),
    )
    none = F.array().cast("array<struct<istart:int,h:bigint>>")
    sh = t.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.explode(F.when(F.size(toks) < SPAN_K, none).otherwise(shingles)).alias("s"),
    ).select("doc_id", "n_toks", "s.istart", "s.h")
    # r16 (guide §1.2): sh feeds BOTH the dup-hash aggregate and the
    # position join, and the md5-per-position shingle hashing is the
    # query's dominant CPU — materialize it once instead of hashing
    # every position twice (2.21 s → 1.73 s at sf0.1; at 100 TB the
    # same two-consumer subtree persists disk-backed or recomputes,
    # and hashing once still wins).
    sh = sh.localCheckpoint()
    dup = sh.groupBy("h").agg(F.countDistinct("doc_id").alias("nd")).filter(
        F.col("nd") > 1
    )
    pos = sh.join(dup.select("h"), "h").select(
        "doc_id", "n_toks", "istart", (F.col("istart") + SPAN_K - 1).alias("iend")
    )
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.intervals import union_intervals

    spans = union_intervals(pos, ["doc_id", "n_toks"], "istart", "iend").withColumn(
        "span_tokens", F.col("end") - F.col("start") + 1
    )
    return spans.groupBy("doc_id", "n_toks").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("span_tokens").cast("long").alias("longest_span"),
        det_round(F.sum("span_tokens").cast("double") / F.col("n_toks"), 6).alias("dup_token_share"),
    ).select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        "longest_span",
        "dup_token_share",
    )


# --- vocabulary coverage / OOV rate -----------------------------------------

VOCAB_TOP = 500


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH t AS (
      SELECT source, unnest({TOKS.format(c=NORM.format(c='text'))}) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, count(*) AS n FROM t GROUP BY 1),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk FROM counts
      ) WHERE rk <= {VOCAB_TOP}
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           (floor((CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*)) * 1000000.0 + 0.5) / 1000000.0) AS oov_rate
    FROM t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY 1
    """,
    tags=("ext", "text", "vocabulary"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-{VOCAB_TOP}
    vocabulary — the coverage check run before freezing a tokenizer or
    embedding table (a source whose OOV rate spikes needs vocab
    growth or gets down-weighted; fertility's cousin at the word
    level). One tokenize pass feeds both the global counts (→ ranked
    vocab, broadcast back) and the per-source scan; the OOV test is a
    broadcast LEFT join against the {VOCAB_TOP}-row vocab. Rates
    divide exact integers."""
    t = doc_tokens(spark, sf_dir).select("source", F.explode("toks").alias("tok"))
    counts = t.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok")))
        )
        .filter(F.col("rk") <= VOCAB_TOP)
        .select("tok")
        .withColumn("_v", F.lit(1))
    )
    return (
        t.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            det_round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )
