"""Contract tests for plans/shared_frames — the process-level
materialization memo under the graph/corpus/IVF/basket tiers.

The load-bearing properties:
- memoization: same (session, sf_dir, key) → the SAME DataFrame object
  (no rebuild), different sf_dir → a different frame;
- value transparency: a cache-served consumer computes bit-identical
  results to a fresh build (the whole soundness argument — gated
  globally by selfcheck, pinned locally here on one representative);
- clear_cache: drops the memo, frees the checkpoint blocks, and the
  next request rebuilds and re-serves correctly (the scale-probe
  harness depends on all three).
"""

from __future__ import annotations

from tests.conftest import SF_CHECK, SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_memoizes_per_sf_dir(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import shared_frames as S

    a = S.cust_supp(spark, SF_SMOKE)
    b = S.cust_supp(spark, SF_SMOKE)
    assert a is b, "same key must return the cached frame, not a rebuild"
    other = S.cust_supp(spark, SF_CHECK)
    assert other is not a, "a different sf_dir must not share the cache entry"


def test_cache_served_values_match_fresh_build(spark):
    from pyspark.sql import functions as F

    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import shared_frames as S
    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

    cached = _rows(S.cust_supp(spark, SF_SMOKE))
    li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    fresh = _rows(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    assert cached == fresh


def test_clear_cache_frees_blocks_and_rebuilds(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import shared_frames as S

    sc = spark.sparkContext
    # Relative accounting: other tests in this session may hold their
    # own localCheckpoint blocks (the round-11 query-level checkpoints
    # live outside shared_frames), and Spark's ContextCleaner reaps
    # them on ITS schedule — asserting a global zero raced it. Assert
    # instead that clear_cache removes what shared_frames itself
    # added.
    S.clear_cache()  # start from an empty memo
    base = sc._jsc.getPersistentRDDs().size()
    before = _rows(S.doc_tokens(spark, SF_SMOKE).select("doc_id"))
    assert sc._jsc.getPersistentRDDs().size() > base, "memoized frame must persist blocks"
    S.clear_cache()
    assert not S._CACHE, "clear_cache must empty the memo"
    assert sc._jsc.getPersistentRDDs().size() <= base, (
        "clear_cache must unpersist the checkpoint blocks it owns"
    )
    rebuilt = S.doc_tokens(spark, SF_SMOKE)
    assert _rows(rebuilt.select("doc_id")) == before


def test_bpe_memo_registered_with_clear_cache(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import catalog_corpus3 as C
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import shared_frames as S

    bests = C._bpe_train_shared(spark, SF_SMOKE)
    assert C._bpe_train_shared(spark, SF_SMOKE) is bests, "merge list must memoize"
    S.clear_cache()
    assert not S._CACHE, "clear_cache must drop the memoized merge list"
    assert C._bpe_train_shared(spark, SF_SMOKE) is not bests, "a cleared memo must rebuild"


def test_model_memo_reuses_clears_and_evicts_dead_sessions(spark):
    """A non-frame memo value (the fitted scaler's stats dict) keeps
    shared_frame's lifecycle: a hit returns the same object,
    clear_cache drops it, and an entry left by another Spark
    application is evicted on the next miss."""
    import os

    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import catalog_scoring3 as C3
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import shared_frames as S
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_scoring import _logreg_fv

    S.clear_cache()
    _logreg_fv(spark, SF_SMOKE)  # memoize the input frame: the next miss is the scaler's own
    dead = ("app-of-a-stopped-session", os.path.realpath(SF_SMOKE), "scaler")
    S._CACHE[dead] = {"stale": True}
    stats = C3._fitted_scaler(spark, SF_SMOKE)
    assert dead not in S._CACHE, "a miss must evict entries of other applications"
    live = (spark.sparkContext.applicationId, os.path.realpath(SF_SMOKE), "scaler")
    assert S._CACHE[live] is stats, "the fitted stats must live in the one memo"
    assert C3._fitted_scaler(spark, SF_SMOKE) is stats, "a hit must return the memoized object"
    S.clear_cache()
    assert not S._CACHE, "clear_cache must drop model memo entries"
    assert C3._fitted_scaler(spark, SF_SMOKE) is not stats, "a cleared memo must refit"
