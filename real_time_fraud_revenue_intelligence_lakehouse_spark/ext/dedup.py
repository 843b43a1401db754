"""Deduplication operators for LLM training-data pipelines.

Four tiers, cheapest first — the standard corpus-dedup funnel:

1. **Exact** — hash-groupBy on the normalized-text fingerprint; one
   shuffle on a 128-bit key, no comparisons.
2. **MinHash + LSH** — shingle → k-permutation MinHash → banded
   bucket-join; candidate pairs verified with exact Jaccard. The only
   pairwise work happens inside LSH buckets, so cost scales with
   collision volume, not n².
3. **SimHash** — 16-bit frequency-weighted bit votes; near-dups are
   Hamming-close signatures (bit_count(xor) ≤ d), joinable by
   signature halves.
4. **n-gram Jaccard** — exact token-set similarity; the ground truth
   the approximate tiers are measured against (sampled — O(n²)).

All signatures are row-local Catalyst expressions (ext/text.py); the
joins are the only shuffles. At 100 TB: fingerprint dedup is one
shuffle; LSH explodes each doc into `bands` rows (4×) and shuffles
those — still linear in corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import (
    LSH_BANDS,
    MINHASH_K,
    NORM,
    SHINGLES,
    SIG_COLS,
    SIMHASH_BITS,
    TOKS,
    fingerprint,
    hash60,
    norm_text,
    tokens,
    with_minhash,
)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Map every doc to its canonical (minimum-id) representative by
    normalized-text fingerprint. `is_dup` marks rows a dedup pass
    would drop. Window over the fingerprint = one hash shuffle."""
    w = Window.partitionBy("fp")
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
        .select(id_col, "fp", "canonical_id", "group_size", "is_dup")
    )


def jaccard(tokens_a, tokens_b):
    """Exact token-set Jaccard of two (already-distinct) arrays."""
    inter = F.size(F.array_intersect(tokens_a, tokens_b))
    union = F.size(F.array_union(tokens_a, tokens_b))
    return inter / F.greatest(union, F.lit(1))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    sample_mod: int | None = None,
) -> DataFrame:
    """Brute-force pairwise token-set Jaccard ≥ threshold.

    O(n²) by construction — the exactness baseline for the LSH tier,
    run on a deterministic `id % sample_mod == 0` sample. Never run
    unsampled at scale; that's what LSH is for.

    Token sets are hashed to 60-bit longs (portable hash60, same
    convention as the MinHash tier) before comparing: long-array
    intersects beat string-array intersects severalfold, and the set
    sizes are identical absent a 60-bit collision. Set sizes are
    computed once per doc; per-pair work is a single array_intersect
    — |A∪B| = |A|+|B|−|I| exactly (sets), so the division sees the
    same integers as an explicit union pass. The monotonically-
    increasing-id column is a pushdown barrier: without it Catalyst
    folds the threshold into the nested-loop join condition, where
    the intersect would be re-evaluated per occurrence instead of
    once via the projection's subexpression elimination."""
    t = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(tokens(norm_text(F.col(text_col))), hash60)
        ).alias("toks"),
    )
    if sample_mod is not None:
        t = t.filter(F.col(id_col) % sample_mod == 0)
    a = t.select(
        F.col(id_col).alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.size("toks").alias("n_a"),
    )
    b = t.select(
        F.col(id_col).alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.size("toks").alias("n_b"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    return (
        pairs.select(
            "id_a",
            "id_b",
            (inter / F.greatest(F.col("n_a") + F.col("n_b") - inter, F.lit(1))).alias(
                "jaccard"
            ),
            F.monotonically_increasing_id().alias("_mid"),
        )
        .filter(F.col("jaccard") >= threshold)
        .drop("_mid")
    )


#: Default LSH bucket cap: buckets larger than this are dropped before
#: the band self-join. A bucket this size contributes cap² candidate
#: pairs from ONE key — at that point the key carries no discriminative
#: signal (stop shingles, boilerplate) and the members are better
#: handled by the exact-fingerprint tier. Far above any bucket the
#: test corpora produce, so oracle results are unaffected there.
LSH_MAX_BUCKET = 1000


def lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = LSH_MAX_BUCKET,
    sig: DataFrame | None = None,
) -> DataFrame:
    """UNVERIFIED banded-LSH candidate pairs ``(id_a, id_b)`` — the
    blocking tier of :func:`minhash_lsh_pairs`, exposed separately so
    callers can verify with their own similarity (or measure the
    blocker's precision/recall against an exact tier, q_lsh_quality).
    Ids-only traffic through the bucket self-join; optional
    ``max_bucket`` drops pathological buckets via a window count over
    the SAME (band_idx, band_key) the join shuffles on."""
    r = k // bands
    if sig is None:
        sig = with_minhash(df.select(F.col(id_col), F.col(text_col)), id_col, text_col, k=k)
    base = sig.select(
        F.col(id_col),
        F.array(
            *[
                F.concat_ws(
                    ",", *[F.col(f"mh{b * r + i}").cast("string") for i in range(r)]
                )
                for b in range(bands)
            ]
        ).alias("bands"),
    )
    exploded = base.select(id_col, F.posexplode("bands").alias("band_idx", "band_key"))
    if max_bucket is not None:
        wb = Window.partitionBy("band_idx", "band_key")
        exploded = (
            exploded.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    a = exploded.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = exploded.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _bands_sql() -> str:
    r = MINHASH_K // LSH_BANDS
    parts = []
    for b in range(LSH_BANDS):
        key = " || ',' || ".join(f"mh{b * r + i}::VARCHAR" for i in range(r))
        parts.append(
            f"SELECT doc_id, toks, {b} AS band_idx, {key} AS band_key FROM sig"
        )
    return " UNION ALL ".join(parts)


#: DuckDB twin of :func:`lsh_candidates` (uncapped) over ``documents``:
#: CTEs t (tokens), sh (distinct tokens + shingles), sig (MinHash),
#: bands, and cand (id_a < id_b).
LSH_CANDIDATES_SQL = f"""t AS (SELECT doc_id, {TOKS.format(c=NORM.format(c='text'))} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct(toks) AS toks, {SHINGLES.format(t='toks')} AS sh FROM t),
    sig AS (SELECT doc_id, toks, {SIG_COLS} FROM sh),
    bands AS ({_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )"""


#: The near-duplicate cut: verified pairs have token-set Jaccard ≥
#: this (the reference-corpus convention every dedup query shares).
DUP_JACCARD = 0.5


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket: int | None = LSH_MAX_BUCKET,
    sig: DataFrame | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, verified with
    exact Jaccard ≥ :data:`DUP_JACCARD`.

    Plan: one scan computes (signature, band keys, distinct tokens)
    via staged projections (ext/text.with_minhash — each stage
    evaluated once per row); posexplode to (doc, band_idx, key);
    self-join on the band bucket over *ids only* (candidate volume is
    the quadratic part — keep those rows narrow); dedup pairs; THEN
    attach token arrays once per unique pair for the Jaccard verify.

    At 100 TB the bucket join dominates, and pathological buckets
    (stop shingles, shared boilerplate) make it quadratic: one
    million-doc bucket is 10¹² candidates. ``max_bucket`` drops such
    buckets before the self-join — a window count over the SAME
    (band_idx, band_key) the join shuffles on, so the cap adds no
    extra shuffle. Pairs in normal buckets are unchanged (asserted by
    tests/test_ext.py::test_lsh_bucket_cap); docs only reachable
    through a dropped bucket fall back to the exact-fingerprint tier,
    which already catches identical-boilerplate groups."""
    cand = lsh_candidates(df, id_col, text_col, max_bucket=max_bucket, sig=sig)
    if toks is None:
        toks = df.select(
            F.col(id_col),
            F.array_distinct(tokens(norm_text(F.col(text_col)))).alias("toks"),
        )
    pairs = cand.join(
        toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a")), "id_a"
    ).join(
        toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b")), "id_b"
    )
    return pairs.select(
        "id_a", "id_b", jaccard(F.col("toks_a"), F.col("toks_b")).alias("jaccard")
    ).filter(F.col("jaccard") >= DUP_JACCARD)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Frequency-weighted SimHash: every token occurrence votes ±1 per
    bit according to its 60-bit hash; bit = 1 where the vote sum is
    positive. Explode + one groupBy shuffle on the doc id — at scale
    prefer running it fused with other per-doc aggregations."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(norm_text(F.col(text_col)))).alias("tok")
    ).withColumn("h", hash60(F.col("tok")))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select(F.col(id_col), sim.cast("long").alias("simhash"))


#: SimHash near-dup radius: pairs within this many differing bits.
SIMHASH_MAX_HAMMING = 3


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, sample_mod: int | None = None,
    blocked: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ :data:`SIMHASH_MAX_HAMMING`
    (``max_hamming`` below).

    Default (``blocked=True``) is the scale path: split each
    signature into ``max_hamming + 1`` bit-blocks; by pigeonhole, two
    signatures within ``max_hamming`` bits agree EXACTLY on at least
    one block, so candidates come from an equi-join on
    (block_idx, block_value) — linear in corpus size times block
    collisions, never all-pairs — and the exact Hamming filter then
    makes the result IDENTICAL to brute force (recall 1 by
    construction, asserted in tests/test_ext.py). ``blocked=False``
    keeps the all-pairs join as the tiny-corpus cross-check.

    At 100 TB: the block join shuffles (id, block) rows — fixed 4×
    the corpus row count — and hot blocks (e.g. the all-zeros
    signature of near-empty docs) can be capped exactly like LSH
    buckets; reuse the same window-count guard if a corpus shows
    skew here."""
    max_hamming, bits = SIMHASH_MAX_HAMMING, SIMHASH_BITS
    s = simhash(df, id_col, text_col)
    if sample_mod is not None:
        s = s.filter(F.col(id_col) % sample_mod == 0)
    if not blocked:
        a = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"))
        b = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    n_blocks = max_hamming + 1
    base = bits // n_blocks
    extra = bits % n_blocks  # first `extra` blocks get one more bit
    offs = []
    off = 0
    for j in range(n_blocks):
        width = base + (1 if j < extra else 0)
        offs.append((j, off, width))
        off += width
    blocks = F.array(
        *[
            F.struct(
                F.lit(j).alias("bidx"),
                F.shiftright(F.col("simhash"), o)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("bval"),
            )
            for j, o, w in offs
        ]
    )
    e = s.select(F.col(id_col), F.col("simhash"), F.explode(blocks).alias("b")).select(
        id_col, "simhash", F.col("b.bidx").alias("bidx"), F.col("b.bval").alias("bval")
    )
    a = e.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "bidx", "bval"
    )
    b = e.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "bidx", "bval"
    )
    return (
        a.join(b, ["bidx", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.col("sim_a"), F.col("sim_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _canon_edges(pairs: DataFrame) -> DataFrame:
    """Undirected edge set, canonicalized to (a < b), no self-loops."""
    a, b = F.col("id_a"), F.col("id_b")
    return (
        pairs.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


#: Round caps of the two connected-components loops: the star
#: algorithm's round pairs and dup_clusters' label propagation.
CC_MAX_ITERS = 25
DUP_MAX_ITERS = 20


def connected_components_star(
    edges: DataFrame, assume_canonical: bool = False
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") →
    (node, cluster_id = component-min).

    Each round is two groupBy-join passes over the CURRENT edge set;
    components collapse toward stars centered at their minimum node in
    O(log d) rounds — vs O(d) for plain min-label propagation — which
    is what survives graphs with deep chains at 100 TB. Used as the
    deep-graph alternative to the propagation loop in
    :func:`dup_clusters`; both produce identical labels
    (tests/test_ext.py equivalence on a deep chain).

    ``edges``: undirected pairs in columns (id_a, id_b).
    ``assume_canonical``: skip the canonicalize+dedup+materialize
    prologue when the caller's edge frame is ALREADY (a < b),
    self-loop-free, deduped, and materialized (e.g. the checkpointed
    kNN builders) — saves one distinct shuffle and one redundant
    checkpoint job."""
    if assume_canonical:
        E = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    else:
        E = _canon_edges(edges).localCheckpoint()

    def sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def star(e: DataFrame, large: bool, dedup: bool) -> DataFrame:
        # Duplicate edges never change a min-over-neighborhood, so the
        # set-dedup is an OPTIMIZATION, applied only at the end of a
        # fused round pair (`dedup=True`).
        # min-over-neighborhood as ONE window pass over the u
        # partition instead of groupBy(u).min + join back: the join
        # form shuffles the symmetric edge list twice per star (agg,
        # then sort-merge re-join on u); the window computes m on the
        # already-u-partitioned rows — half the shuffles, measured 2x
        # on the kNN community graph with identical labels. Same
        # shuffle volume and the same hub-node skew profile as the
        # groupBy form at any scale (a hot u key is hot either way).
        s = sym(e)
        s2 = s.withColumn(
            "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
        )
        if large:
            linked = s2.filter(F.col("v") > F.col("u")).select("v", "m")
        else:
            # the per-u (u → m) row replaces the old m-table union;
            # neighbor-count duplicates are harmless — the round-end
            # distinct (dedup=True) collapses them.
            linked = (
                s2.filter(F.col("v") <= F.col("u"))
                .select("v", "m")
                .unionByName(s2.select(F.col("u").alias("v"), "m"))
            )
        out = linked.select(
            F.least(F.col("v"), F.col("m")).alias("a"),
            F.greatest(F.col("v"), F.col("m")).alias("b"),
        ).filter(F.col("a") != F.col("b"))
        return out.distinct() if dedup else out

    def round_pair(e: DataFrame) -> DataFrame:
        """One large-star + one small-star, deduped once at the end."""
        return star(star(e, large=True, dedup=False), large=False, dedup=True)

    def fingerprint_of(e: DataFrame) -> tuple:
        # One-job set fingerprint: (row count, order-independent XOR
        # of edge hashes — overflow-free under ANSI mode, unlike a
        # sum). Comparing fingerprints replaces an exceptAll shuffle
        # per round; a collision would only delay convergence
        # detection by a round (CC_MAX_ITERS still caps), never corrupt
        # the result.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # localCheckpoint per fused round: cuts the LOGICAL lineage (a
    # cache would not — plan analysis re-grows every round and deep
    # chains overflow), at the cost of one materialization job; the
    # XOR fingerprint then reads the checkpointed data, so each round
    # is exactly two jobs. (Amortizing the fingerprint to every 2nd
    # round was measured SLOWER here: convergence is detected 1-2
    # round-pairs late, and a round-pair costs far more than the
    # 1-row fingerprint job it saves.)
    fp = fingerprint_of(E)
    for _ in range(CC_MAX_ITERS):
        E2 = round_pair(E).localCheckpoint()
        fp2 = fingerprint_of(E2)
        E = E2
        if fp2 == fp:
            break
        fp = fp2
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import note_dropped_checkpoints

    note_dropped_checkpoints(E.sparkSession)  # per-round checkpoints dropped above
    # At the fixpoint every component is a star rooted at its min.
    members = E.select(F.col("b").alias("node"), F.col("a").alias("cluster_id"))
    roots = E.select(F.col("a").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    return members.unionByName(roots).distinct()


#: DuckDB twin of :func:`dup_clusters`' labels (needs WITH RECURSIVE):
#: :data:`LSH_CANDIDATES_SQL`, Jaccard ≥ 0.5 verification, and a
#: recursive reachability closure; ``labels (node, cluster_id)``.
DUP_LABELS_SQL = f"""{LSH_CANDIDATES_SQL},
    verified AS (
      SELECT id_a, id_b FROM cand
      JOIN sh ta ON ta.doc_id = id_a
      JOIN sh tb ON tb.doc_id = id_b
      WHERE len(list_intersect(ta.toks, tb.toks))
              / greatest(len(list_distinct(ta.toks || tb.toks)), 1) >= {DUP_JACCARD}
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
    labels AS (SELECT node, min(lbl) AS cluster_id FROM comp GROUP BY node)"""


def dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sig: DataFrame | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the
    verified MinHash-LSH pair graph → (doc_id, cluster_id,
    cluster_size), cluster_id = min doc id in the component.

    Pairwise dedup output is not actionable until transitive groups
    are formed (keep one representative per component, drop the
    rest). Min-label propagation to fixpoint: each iteration joins
    labels to edges, takes the per-node min of neighbor labels, and
    stops when no label changes. Iterations = component diameter —
    near-dup clusters are shallow (dup chains, not paths), so this
    converges in 2-4 rounds in practice; :data:`DUP_MAX_ITERS` only guards
    against pathological chains.

    Scale notes: the loop runs ONLY over pair-connected docs — a tiny
    subgraph of the corpus (the quadratic dedup volume, not the 100 TB
    scan). Each iteration is one equi-join + one groupBy shuffle on
    that subgraph; localCheckpoint cuts the lineage so plans stay
    flat. For graphs with deep components swap the loop for the
    alternating large-star/small-star algorithm (same join shapes,
    O(log d) rounds)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, sig=sig, toks=toks).select(
        "id_a", "id_b"
    )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()  # pair generation is the expensive part — run it once
    )
    # Seed labels with min(node, direct-neighbor min) — identical to
    # identity-init followed by one propagation round, but computed in
    # the same aggregation that enumerates the nodes. For the dominant
    # component shapes (2-cliques and stars around the min id) this
    # converges on the FIRST convergence check, saving a full
    # join+checkpoint+action round.
    labels = (
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("_nbr_min"))
        .select("node", F.least(F.col("node"), F.col("_nbr_min")).alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(DUP_MAX_ITERS):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # Convergence flag computed IN the update projection — the
        # count below reads the just-checkpointed result, so each round
        # costs one join + one groupBy, not two joins + two actions.
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"),
                (F.coalesce("nbr_lbl", F.col("lbl")) < F.col("lbl")).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import note_dropped_checkpoints

    note_dropped_checkpoints(labels.sparkSession)  # per-round checkpoints dropped above
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join (distinct shingle-set Jaccard
    ≥ theta_num/theta_den = 1/2, :data:`DUP_JACCARD` as an integer
    ratio) via lossless prefix filtering
    (SSJoin/PPJoin) — the zero-recall-loss alternative to
    :func:`minhash_lsh_pairs`. See q_prefix_jaccard_join for the
    lemma and the measured execution notes; the threshold test is the
    integer predicate den·|A∩B| ≥ num·|A∪B|, so no float boundary
    exists in any engine.

    Returns (id_a, id_b, n_common, n_union, jaccard).
    """
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import shingles_of
    from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round

    theta_num, theta_den = 1, 2
    par = df.sparkSession.sparkContext.defaultParallelism
    if sets is None:
        toks = df.select(
            F.col(id_col), tokens(norm_text(F.col(text_col))).alias("_toks")
        )
        # Shingles hash to 60-bit longs BEFORE any set op (the
        # jaccard_pairs convention): long-array intersects beat string
        # arrays severalfold and the shuffles carry 8-byte keys. The
        # oracle hashes with the same md5-60 fragment, so counts stay
        # bit-identical; a 60-bit collision could only merge two shingles
        # on BOTH sides at once (P ~ |vocab|^2 / 2^61).
        sets = (
            toks.select(
                F.col(id_col),
                F.array_distinct(
                    F.transform(shingles_of(F.col("_toks"), shingle_n), hash60)
                ).alias("t"),
            )
            .repartition(par)
            .localCheckpoint()
        )
    # |T| rides the explode (t is already distinct, so size(t) ==
    # count over the doc partition) — one window frame instead of two.
    ex = sets.select(
        F.col(id_col), F.size("t").alias("sz"), F.explode("t").alias("tok")
    )
    vocab = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    wp = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("tok"))
    theta = float(theta_num) / theta_den
    pref = (
        ex.join(F.broadcast(vocab), "tok")
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(theta) * F.col("sz")) + 1)
        .select("tok", id_col, "sz", "rn")
    )
    compatible = F.lit(theta_num) * F.greatest(
        F.col("a.sz"), F.col("b.sz")
    ) <= F.lit(theta_den) * F.least(F.col("a.sz"), F.col("b.sz"))
    # PPJoin positional filter: both prefix arrays follow ONE global
    # (df, tok) order, so a pair's globally-rarest common token at
    # positions (rn_a, rn_b) bounds the overlap by
    # 1 + min(|A|-rn_a, |B|-rn_b); jaccard >= num/den needs
    # inter >= num·(|A|+|B|)/(num+den). Lossless: every true pair's
    # FIRST common prefix token satisfies the bound, and survival
    # needs only one matched row.
    ub = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    positional = (
        F.lit(theta_num + theta_den) * ub
        >= F.lit(theta_num) * (F.col("a.sz") + F.col("b.sz"))
    )
    # repartition BEFORE dropDuplicates: the explicit hash exchange
    # both pins verify-join parallelism against AQE's tiny-suite
    # coalescing (the q_fuzzy_match lesson) and satisfies the
    # dedup aggregate's distribution — one shuffle, not two.
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "tok")
        .filter((F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & compatible & positional)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .repartition(par, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ver = cand.join(
        sets.select(F.col(id_col).alias("id_a"), F.col("t").alias("ta")), "id_a"
    ).join(sets.select(F.col(id_col).alias("id_b"), F.col("t").alias("tb")), "id_b")
    inter = F.size(F.array_intersect("ta", "tb"))
    uni = F.size("ta") + F.size("tb") - inter
    return (
        ver.filter(F.lit(theta_den) * inter >= F.lit(theta_num) * uni)
        .select(
            "id_a",
            "id_b",
            inter.cast("long").alias("n_common"),
            uni.cast("long").alias("n_union"),
            det_round(inter.cast("double") / uni.cast("double"), 6).alias("jaccard"),
        )
    )
