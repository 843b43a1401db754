"""Text-analysis operators for LLM training-data pipelines.

Engine extensions beyond the reference (BASELINE.json): language-ID
(stopword n-gram heuristic), quality scoring (length / punctuation /
stopword / uniqueness ratios), token counting (whitespace and a
BPE-ish regex), and document fingerprinting (normalization hash,
MinHash signatures, SimHash).

All relational-core operators are JVM-native Catalyst expressions —
zero Python UDFs — so they stay inside whole-stage codegen and scale
to 100 TB document corpora: every function here is row-local (narrow,
no shuffle) except SimHash's optional explode path.

Hashing convention: portable 60-bit integers via
``conv(substr(md5(x), 1, 15), 16, 10)`` — bit-identical in DuckDB
(``('0x' || substr(md5(x),1,15))::BIGINT``), which is what makes the
MinHash/SimHash oracles exact. md5 is the *portable* choice for the
oracle gate; at production scale swap ``HASH64 = xxhash64`` (one
line) for ~5× cheaper hashing with identical plan shapes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import H60_SQL, det_round

# --------------------------------------------------------------------------
# Shared constants (catalog_ext embeds the same values in oracle SQL).
# --------------------------------------------------------------------------

#: Tiny per-language stopword lists for the n-gram lang-ID heuristic.
#: Order = deterministic tie-break priority (first wins).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "en"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1"),
}

#: MinHash defaults: k salted-hash permutations, banded for LSH.
MINHASH_K = 8
LSH_BANDS = 4  # rows per band = MINHASH_K // LSH_BANDS = 2

SIMHASH_BITS = 16

TOKEN_SPLIT = r"\s+"
BPE_TOKEN_RE = r"\w+|[^\w\s]"
PUNCT_RE = r"[^\w\s]"


def norm_text(c: Column) -> Column:
    """Normalization for fingerprinting: lowercase, trim, collapse
    whitespace — dedup should not distinguish formatting variants."""
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def tokens(c: Column) -> Column:
    """Whitespace tokens of the trimmed text."""
    return F.split(F.trim(c), TOKEN_SPLIT)


def hash60(c: Column) -> Column:
    """Portable 60-bit hash (see module docstring)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hll_register(h: Column) -> tuple[Column, Column]:
    """HyperLogLog register of a :func:`hash60` column: ``(idx, r)`` =
    its top 8 bits and the leading-zero rank of its 52-bit tail (53
    for a zero tail), found by string search over the zero-padded
    binary — no float log2, so every engine agrees bit for bit.
    ``functions/scalars.HLL_REGISTER_SQL`` is the SQL twin."""
    tail = h.bitwiseAND(F.lit(4503599627370495))
    rank = F.locate("1", F.lpad(F.bin(tail), 52, "0"))
    return F.shiftright(h, 52), F.when(tail == 0, 53).otherwise(rank)


def token_count_ws(c: Column) -> Column:
    return F.size(tokens(c))


def token_count_bpe(c: Column) -> Column:
    """BPE-ish token count: word runs + individual punctuation marks
    (the pre-tokenizer split GPT-style BPE vocabularies assume)."""
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def punct_ratio(c: Column) -> Column:
    return F.regexp_count(c, F.lit(PUNCT_RE)) / F.greatest(F.length(c), F.lit(1))


def unique_token_ratio(c: Column) -> Column:
    t = tokens(c)
    return F.size(F.array_distinct(t)) / F.greatest(F.size(t), F.lit(1))


def stopword_hits(c: Column, words: tuple[str, ...]) -> Column:
    """How many distinct stopwords from ``words`` appear in the text
    (set semantics — matches DuckDB list_intersect(list_distinct…))."""
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens(norm_text(c))),
            F.array(*[F.lit(w) for w in words]),
        )
    )


def lang_id(c: Column) -> Column:
    """Stopword-vote language ID: argmax of per-language distinct-
    stopword hits, 'und' (undetermined) when no list scores > 0.
    Ties break by LANG_STOPWORDS insertion order (deterministic)."""
    scores = [(lang, stopword_hits(c, ws)) for lang, ws in LANG_STOPWORDS.items()]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # Build the WHEN ladder in reverse so earlier languages win ties.
    for lang, s in reversed(scores):
        out = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def quality_score(c: Column) -> Column:
    """Composite document-quality score in [0, 1]:

        0.4·min(n_tokens/64, 1)     length credit
      + 0.3·(1 − min(4·punct_ratio, 1))  punctuation penalty
      + 0.3·unique_token_ratio      repetition penalty

    The weights are engine policy (the reference has no text layer);
    what matters is determinism and SQL-expressibility.
    """
    length_credit = F.least(token_count_ws(c) / F.lit(64.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(F.lit(4.0) * punct_ratio(c), F.lit(1.0))
    return (
        F.lit(0.4) * length_credit
        + F.lit(0.3) * punct_pen
        + F.lit(0.3) * unique_token_ratio(c)
    )


def fingerprint(c: Column) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text."""
    return F.md5(norm_text(c))


#: Rolling-hash parameters (Rabin–Karp polynomial over tokens).
ROLL_BASE = 31
ROLL_MOD = (1 << 31) - 1  # Mersenne prime; base·mod stays < 2^63


def rolling_hash(c: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over normalized tokens, h = fold(h·B + hash(tok) mod P).

    Distinguishes permutations the set/minhash fingerprints collapse
    (same tokens, different order ⇒ different hash). Sequential fold
    ⇒ deterministic; DuckDB's `list_reduce` (which seeds with the
    first element) matches Spark's `aggregate` with zero init because
    0·B + t₁ = t₁. Row-local, no shuffle.
    """
    hashed = F.transform(tokens(norm_text(c)), lambda t: hash60(t) % ROLL_MOD)
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_BASE + t) % ROLL_MOD,
    )


def shingles_of(t: Column, n: int = 3) -> Column:
    """Token n-gram shingles from an (ideally already-projected)
    token-array column; single whole-text shingle when the text has
    fewer than ``n`` tokens.

    Uses O(1) ``element_at`` lookups instead of ``slice`` — and the
    caller should pass a *materialized column reference*, not a
    nested expression: higher-order functions run interpreted (no
    whole-stage codegen), so a nested `split(...)` here would be
    re-evaluated once per shingle (measured 10× wall-clock at sf0.1).
    """
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", t)))


def shingles(c: Column, n: int = 3) -> Column:
    """Shingles straight from a text column — convenience form for
    one-shot uses; hot paths should stage tokens first (with_minhash)."""
    return shingles_of(tokens(norm_text(c)), n)


def perm_mask(j: int) -> int:
    """Deterministic 60-bit XOR mask for MinHash permutation j
    (md5-seeded, so oracle SQL reproduces it exactly)."""
    import hashlib

    return int(hashlib.md5(f"perm:{j}".encode()).hexdigest()[:15], 16)


def salted(j: int):
    """Permutation-j shingle hasher via salted md5 — k independent
    hashes, the textbook construction. Kept as the reference form;
    the hot path (with_minhash) uses ONE md5 + XOR permutations
    instead: 8× fewer digests for equivalent LSH behavior (XOR with
    a constant is a bijection of the key space). NB: the lambda must
    stay single-arg — PySpark passes the element *index* as a second
    argument to two-arg lambdas."""
    prefix = f"{j}:"
    return lambda s: hash60(F.concat(F.lit(prefix), s))


def with_minhash(df, id_col: str, text_col: str, k: int = MINHASH_K, n: int = 3):
    """MinHash signature table ``(id_col, mh0..mh{k-1})`` via
    explode → one hash → k XOR permutations → min-aggregate.

    Two deliberate shapes for scale:

    - `explode` + map-side-combined min-agg, NOT nested array
      expressions: Catalyst's CollapseProject re-inlines projected
      expressions into every consumer, so a signature referenced by
      8 band keys would recompute the whole shingle pipeline 8×
      (measured 10× wall-clock at sf0.1). The generator evaluates
      once per row and the shuffle carries k longs per doc.
    - ONE md5 per shingle, permuted by XOR with k md5-seeded 60-bit
      masks (`perm_mask`), instead of k salted digests: XOR with a
      constant is a bijection of the key space, so each mask induces
      a valid min-wise permutation, at 1/k the digest cost. DuckDB's
      `xor()` reproduces it exactly for the oracle.
    """
    staged = df.select(F.col(id_col), tokens(norm_text(F.col(text_col))).alias("_toks"))
    return minhash_of_tokens(staged, id_col, "_toks", k=k, n=n)


def minhash_of_tokens(staged, id_col: str, toks_col: str, k: int = MINHASH_K, n: int = 3):
    """`with_minhash` from an already-tokenized frame — the entry
    point for callers that share one materialized token projection
    across queries (plans/shared_frames.doc_tokens). Same bits: the
    signature is a pure function of the token arrays."""
    sh_rows = staged.select(
        F.col(id_col), F.explode(shingles_of(F.col(toks_col), n)).alias("_s")
    )
    hashed = sh_rows.select(id_col, hash60(F.col("_s")).alias("_h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(F.col("_h").bitwiseXOR(F.lit(perm_mask(j)))).alias(f"mh{j}")
            for j in range(k)
        ]
    )


# --------------------------------------------------------------------------
# DuckDB twins of the tokenizer and MinHash above (oracle SQL text).
# --------------------------------------------------------------------------

#: :func:`norm_text` of the VARCHAR ``c``.
NORM = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"
#: :func:`tokens` of the VARCHAR ``c``.
TOKS = "regexp_split_to_array(trim({c}), '\\s+')"
#: :func:`shingles_of` the token list ``t`` (3-grams, or the one
#: whole-text shingle under 3 tokens).
SHINGLES = (
    "CASE WHEN len({t}) >= 3 THEN "
    "list_transform(range(len({t}) - 2), i -> array_to_string(({t})[i+1:i+3], ' ')) "
    "ELSE [array_to_string({t}, ' ')] END"
)
#: :func:`minhash_of_tokens`' columns mh0..mh{k-1} over a shingle-list
#: column ``sh``: per permutation, the min of the XOR-masked shingle hashes.
SIG_COLS = ", ".join(
    f"list_min(list_transform(sh, s -> xor({H60_SQL.format(x='s')}, {perm_mask(j)}))) AS mh{j}"
    for j in range(MINHASH_K)
)


def tfidf_top_terms(
    df, id_col: str, text_col: str, top_n: int = 3, round_digits: int = 6
):
    """Per-document top-``top_n`` TF-IDF terms → (id, term, tf,
    tfidf, term_rank) — the standard keyword-extraction pass over a
    training corpus (what "what is this document about" reduces to
    without a model).

    tf = in-doc term count; idf = ln((N+1)/(df+1)) with add-one
    smoothing (N = corpus size, df = docs containing the term).
    Scores are det_round-ed BEFORE ranking so both engines rank the
    same numbers; ties break on the term string.

    Plan shape: one explode → (doc, term) counts (map-side combined),
    document frequencies as a second agg over the same counts (df ≤
    |vocab| rows — tiny), broadcast the df table back, rank with one
    window over the doc id. At 100 TB the only large shuffle is the
    (doc, term) count; vocab-sized sides stay broadcast."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.explode(tokens(norm_text(F.col(text_col)))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # N as a 1-row broadcast aggregate INSIDE the plan — no eager
    # driver-side count() job per call; the scalar rides the same DAG.
    nd = df.select(F.countDistinct(id_col).cast("double").alias("_n_docs"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col(id_col),
            "term",
            "tf",
            det_round(
                F.col("tf")
                * F.log((F.col("_n_docs") + 1.0) / (F.col("df").cast("double") + 1.0)),
                round_digits,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top_n)
        .select(id_col, "term", "tf", "tfidf", "term_rank")
    )


# --------------------------------------------------------------------------
# Chunking, PII, contamination — the remaining corpus-prep passes
# --------------------------------------------------------------------------

#: Default chunking geometry: 32-token windows, 8-token overlap.
CHUNK_SIZE = 32
CHUNK_OVERLAP = 8

#: PII patterns (detection + redaction share them). Deliberately the
#: common core — emails, North-American phone shapes, SSN-shaped ids;
#: extend per corpus.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    chunk_size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
):
    """Split each document into fixed-size token windows with overlap
    → (id, chunk_idx, n_tokens, chunk_text) — the context-window prep
    every LLM training pipeline runs before tokenization.

    stride = chunk_size − overlap; chunk i covers tokens
    [i·stride, i·stride + chunk_size). Chunk count is the closed form
    ``max(1, ceil((n_tokens − overlap) / stride))`` so a doc shorter
    than one window still yields its single partial chunk.

    Fully row-local: sequence → explode → slice — no shuffle at all;
    at 100 TB chunking fuses into the ingest scan. The same closed
    form runs in the DuckDB oracle."""
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    toks = tokens(norm_text(F.col(text_col)))
    staged = df.select(F.col(id_col), toks.alias("_toks")).withColumn(
        "_n", F.size("_toks")
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("_n") - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    chunked = staged.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_size)
    return chunked.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pii_stats(df, id_col: str, text_col: str):
    """Per-document PII profile: match counts per category, a total,
    and the redacted text (matches replaced by typed placeholders).
    Row-local regexes — scales with the scan; zero shuffles."""
    t = F.col(text_col)
    emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
    phones = F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0)))
    ssns = F.size(F.regexp_extract_all(t, F.lit(PII_SSN_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_SSN_RE, "<SSN>"
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col),
        emails.cast("long").alias("n_emails"),
        phones.cast("long").alias("n_phones"),
        ssns.cast("long").alias("n_ssns"),
        (emails + phones + ssns).cast("long").alias("n_pii"),
        redacted.alias("redacted_text"),
    )


def contamination_check(
    corpus,
    benchmark,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
):
    """Benchmark-contamination scan: fraction of each corpus doc's
    distinct n-gram shingles that appear ANYWHERE in the benchmark
    set → (id, n_shingles, n_contaminated, contamination_rate,
    is_contaminated). The standard eval-leakage gate run before
    training on a scraped corpus.

    Plan: both sides reduce to distinct 60-bit shingle hashes; the
    benchmark side collapses to a distinct-hash set (it is eval-sized,
    broadcast with a hit marker); ONE groupBy over the marked corpus
    shingles computes total and contaminated counts together — the
    corpus shingle set is scanned once, not once per count plus a
    rejoin, and corpus text is never re-attached."""
    def sh(d):
        # Stage tokens BEFORE shingling: higher-order functions run
        # interpreted, so shingles over a nested split(...) would
        # re-tokenize once per shingle (the measured-10× pitfall the
        # shingles_of docstring warns about).
        staged = d.select(
            F.col(id_col), tokens(norm_text(F.col(text_col))).alias("_toks")
        )
        return (
            staged.select(id_col, F.explode(shingles_of(F.col("_toks"), n)).alias("_s"))
            .select(id_col, hash60(F.col("_s")).alias("sh"))
            .distinct()
        )

    corpus_sh = sh(corpus)
    bench_sh = sh(benchmark).select("sh").distinct().withColumn("_hit", F.lit(1))
    counts = (
        corpus_sh.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    rate = det_round(
        F.col("n_contaminated") / F.greatest(F.col("n_shingles"), F.lit(1)), 6
    )
    return (
        counts.select(
            F.col(id_col),
            "n_shingles",
            "n_contaminated",
            rate.alias("contamination_rate"),
            (rate >= threshold).alias("is_contaminated"),
        )
    )


#: Cleanup regexes (cleanup_text + q_text_cleanup oracle share them).
URL_RE = r"https?://[^\s]+"
ZWSP_RE = "[​‌‍﻿]"


def cleanup_text(df, id_col: str, text_col: str):
    """Corpus text cleanup: strip URLs, zero-width characters, and
    collapse the whitespace damage they leave → (id, n_urls,
    clean_text, changed). Row-local regex pipeline — fuses into the
    scan like the other text passes; run BEFORE tokenize/shingle so
    downstream stats see content, not markup."""
    t = F.col(text_col)
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_RE), F.lit(0))).cast("long")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(t, URL_RE, " "), ZWSP_RE, ""),
            r"\s+",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        n_urls.alias("n_urls"),
        cleaned.alias("clean_text"),
        (cleaned != t).alias("changed"),
    )
