"""Round-10 additions: Misra-Gries heavy hitters (mergeable summary)
and BPE encoding against a shipped merge list. Value correctness for
both lives in tools/selfcheck.py (DuckDB oracle hash); these pin the
invariants a hash compare can't see — the MG error bound against the
exact counts, the summary size cap, and the external-merge fold's
exact per-word behavior (the merges must actually FIRE, or the query
degenerates to character tokenization and still hashes clean)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _q(name):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry

    return registry.all_queries()[name]


# --- Misra-Gries ------------------------------------------------------------


def test_misra_gries_bound_vs_exact(spark):
    """Every surviving counter under-estimates by at most N/(k+1),
    never over-estimates, and ≤ k counters survive — checked against
    the corpus-wide exact token counts the query itself emits."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_corpus import MG_K

    rows = _q("q_misra_gries")(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= MG_K
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import doc_tokens

    n_total = (
        doc_tokens(spark, SF_SMOKE)
        .select(F.explode("toks"))
        .count()
    )
    bound = n_total / (MG_K + 1)
    for r in rows:
        assert 0 < r["mg_estimate"] <= r["exact_count"]
        assert r["underestimate"] == r["exact_count"] - r["mg_estimate"]
        assert r["underestimate"] <= bound, (r, bound)


# --- external-merge BPE encode ----------------------------------------------


def test_bpe_apply_external_fold_exact(spark):
    """The literal-merge fold applies the shipped list in order with
    canonical left-to-right semantics — pinned on hand-traced words
    ('customer' keeps er</w> then st; 'data' merges ta; 'a' is the
    degenerate 2-symbol word)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_corpus3 import (
        BPE_EXT_MERGES,
        _bpe_toks,
        bpe_apply_external,
    )

    df = spark.createDataFrame(
        [("customer",), ("data",), ("a",), ("stream",)], "word string"
    ).select("word", _bpe_toks(F.col("word")).alias("toks"))
    got = {
        r["word"]: r["toks"]
        for r in bpe_apply_external(df, BPE_EXT_MERGES, ["word"]).collect()
    }
    assert got["customer"] == ["c", "u", "st", "o", "m", "er</w>"]
    assert got["data"] == ["d", "a", "ta", "</w>"]
    assert got["a"] == ["a", "</w>"]
    assert got["stream"] == ["st", "r", "e", "a", "m", "</w>"]


def test_bpe_encode_external_merges_fire(spark):
    """On the corpus, fertility must sit strictly BELOW the no-merge
    baseline (chars+1 per word == compression 1.0 bound): proof the
    shipped merges actually apply rather than vacuously hashing."""
    rows = _q("q_bpe_encode_external")(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # n_tokens < sum(cnt * (len(word)+1)) <=> compression > 1
        assert r["compression"] > 1.0, r
        assert 0 < r["fertility"] < 8


# --- mergeable quantile sketch ------------------------------------------------


def test_quantile_sketch_error_bound(spark):
    """The decimal log-histogram's estimate is a LOWER bound on the
    exact rank statistic with relative error < 1/11 (two leading
    digits → bucket spans [lead2, lead2+1)·10^(d-2)), at every
    probe."""
    rows = _q("q_quantile_sketch")(spark, SF_SMOKE).collect()
    assert {r["probe"] for r in rows} == {0.5, 0.9, 0.99}
    for r in rows:
        assert 0 < r["est_value"] <= r["exact_value"], r
        assert 0 <= r["rel_error"] < 1 / 11, r


def test_quantile_by_key_error_bound(spark):
    """Per-source histogram quantiles: every (source, probe) row is a
    lower bound on that source's exact rank statistic with relative
    error < 1/11, and every source appears at both probes."""
    rows = _q("q_quantile_by_key")(spark, SF_SMOKE).collect()
    assert rows
    by_src = {}
    for r in rows:
        assert 0 < r["est_len"] <= r["exact_len"], r
        assert 0 <= r["rel_error"] < 1 / 11, r
        by_src.setdefault(r["source"], set()).add(r["probe"])
    assert all(ps == {0.5, 0.9} for ps in by_src.values())


# --- route reconstruction -----------------------------------------------------


def test_route_reconstruct_paths_are_valid_walks(spark):
    """Every complete route string starts at the source, ends at its
    node, steps only along existing co-service edges, and its hop
    count matches the path; dist agrees with q_cheapest_route."""
    rows = _q("q_route_reconstruct")(spark, SF_SMOKE).collect()
    assert rows
    dists = {r["node"]: r["dist"] for r in _q("q_cheapest_route")(spark, SF_SMOKE).collect()}
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import co_service_sim

    sim = co_service_sim(spark, SF_SMOKE).collect()
    edges = {(r["s1"], r["s2"]) for r in sim} | {(r["s2"], r["s1"]) for r in sim}
    src = min(n for n, d in ((r["node"], r["dist"]) for r in rows) if d == 0.0)
    n_complete = 0
    for r in rows:
        assert r["dist"] == dists[r["node"]], r["node"]
        path = [int(x) for x in r["path"].split("->")]
        assert path[-1] == r["node"]
        assert r["n_hops"] == len(path) - 1
        if r["complete"]:
            n_complete += 1
            assert path[0] == src, r
            for a, b in zip(path, path[1:]):
                assert (a, b) in edges, (r["node"], a, b)
    # the unroll horizon must cover essentially the whole frontier
    assert n_complete >= 0.95 * len(rows)


def test_cheapest_route_and_route_reconstruct_agree_on_every_dist(spark):
    """Both queries read one Bellman-Ford relaxation: the two reach
    the same node set, and every node's dist is the same double."""
    cheap = {r["node"]: r["dist"] for r in _q("q_cheapest_route")(spark, SF_SMOKE).collect()}
    route = {r["node"]: r["dist"] for r in _q("q_route_reconstruct")(spark, SF_SMOKE).collect()}
    assert cheap
    assert cheap == route
