"""Round-5 additions: paragraph-block dedup invariants, PQ encoding
properties, and the convergence-PageRank fixpoint (oracle-less by
design — its trip count is data-driven). Value correctness for the
oracle-backed queries lives in tools/selfcheck.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _q(name):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry

    return registry.all_queries()[name]


# --- paragraph-block dedup -------------------------------------------------

def test_paragraph_dedup_ratio_bounds(spark):
    out = _q("q_paragraph_dedup")(spark, SF_SMOKE)
    rows = out.collect()
    assert rows
    for r in rows:
        assert 0 < r["n_blocks"]
        assert 0 <= r["n_shared_blocks"] <= r["n_blocks"]
        assert 0.0 <= r["shared_ratio"] <= 1.0


def test_paragraph_dedup_detects_planted_boilerplate(spark):
    """Two documents sharing an aligned 2-block boilerplate plus
    distinct tails must both report ≥2 shared blocks; a third,
    fully-distinct doc must report zero."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_corpus2 import BLOCK

    boiler = " ".join(f"b{i}" for i in range(2 * BLOCK))
    docs = [
        (1, boiler + " " + " ".join(f"x{i}" for i in range(BLOCK))),
        (2, boiler + " " + " ".join(f"y{i}" for i in range(BLOCK))),
        (3, " ".join(f"z{i}" for i in range(3 * BLOCK))),
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            f"{d}/documents.parquet"
        )
        rows = {r["doc_id"]: r for r in _q("q_paragraph_dedup")(spark, d).collect()}
    assert rows[1]["n_shared_blocks"] >= 2
    assert rows[2]["n_shared_blocks"] >= 2
    assert rows[3]["n_shared_blocks"] == 0


# --- product quantization --------------------------------------------------

def test_pq_codes_complete_and_in_range(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_corpus2 import PQ_K, PQ_M
    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table

    out = _q("q_embed_pq")(spark, SF_SMOKE)
    n_vecs = read_table(spark, SF_SMOKE, "embeddings").count()
    assert out.count() == n_vecs * PQ_M  # every (vector, subspace) encoded
    assert out.filter((F.col("code") < 0) | (F.col("code") >= PQ_K)).count() == 0
    assert out.filter(F.col("dist") < 0).count() == 0


def test_pq_seed_vectors_encode_to_themselves(spark):
    """A codeword's own subvector is at distance 0 from itself, so
    every seed vector must encode to its own id with dist 0."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_corpus2 import PQ_K

    seeds = _q("q_embed_pq")(spark, SF_SMOKE).filter(F.col("vec_id") < PQ_K)
    bad = seeds.filter(
        (F.col("code") != F.col("vec_id")) | (F.col("dist") != 0.0)
    ).count()
    assert bad == 0


# --- IVF-PQ ----------------------------------------------------------------

def test_ivfpq_shape_and_ranks(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_corpus2 import IVFPQ_K

    out = _q("q_ivfpq_topk")(spark, SF_SMOKE)
    rows = out.collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["approx_dist"] >= 0
        assert 1 <= r["rank"] <= IVFPQ_K
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))  # dense, no gaps
        ordered = sorted(rs, key=lambda r: r["rank"])
        dists = [r["approx_dist"] for r in ordered]
        assert dists == sorted(dists)  # rank follows ADC distance


def test_ivfpq_recall_vs_exact(spark):
    """The cell-pruned + quantized top-5 must genuinely overlap the
    exact cosine top-5. On this synthetic corpus the ceiling is low —
    plain IVF (exact scoring in cells) gets recall 0.36, and the
    16-seed-codeword ADC lands ~0.11 (full-corpus ADC alone: 0.23;
    measured offline, pearson(ADC, 2-2cos) ≈ 0.57) — but chance is
    ~0.02, so ≥ 0.08 separates a working code/LUT join from a broken
    one. Trained k-means codebooks would raise this; the seed
    codebook is the price of a DuckDB-replayable oracle."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import similarity as S
    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table
    from pyspark.sql import functions as FF

    e = read_table(spark, SF_SMOKE, "embeddings")
    approx = _q("q_ivfpq_topk")(spark, SF_SMOKE).collect()
    exact = S.brute_force_topk(
        e, e.filter(FF.col("vec_id") < 20), k=5
    ).collect()
    a, x = {}, {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["match_id"])
    for r in exact:
        x.setdefault(r["query_id"], set()).add(r["match_id"])
    hits = sum(len(a.get(q, set()) & top) for q, top in x.items())
    total = sum(len(top) for top in x.values())
    assert hits / total >= 0.08


# --- convergence PageRank --------------------------------------------------

def test_pagerank_converge_is_a_fixpoint(spark):
    """One extra power-iteration round (same damping) over the
    converged ranks must move no node by more than PR_EPS (plus the
    1e-8 output-rounding noise) — the defining property of
    convergence. Also: ranks sum to ~1 (probability distribution)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_heavy import (
        PR_CONV_DAMP,
        PR_CONV_YEAR,
        PR_EPS,
        _pr_round,
        _pr_start,
        _trade_graph,
        _with_outdeg,
    )

    out = _q("q_pagerank_converge")(spark, SF_SMOKE)
    edges = _trade_graph(spark, SF_SMOKE, year=PR_CONV_YEAR)
    n, _ = _pr_start(edges)
    ranks = out.select("node", F.col("pagerank").alias("rank"))
    nxt = _pr_round(_with_outdeg(edges), n, ranks, PR_CONV_DAMP, teleport=0.5)
    moved = (
        nxt.join(ranks.withColumnRenamed("rank", "_old"), "node")
        .agg(F.max(F.abs(F.col("rank") - F.col("_old"))).alias("d"))
        .collect()[0]["d"]
    )
    assert moved < PR_EPS + 2e-8
    total = out.agg(F.sum("pagerank").alias("s")).collect()[0]["s"]
    assert abs(total - 1.0) < 1e-3
    head = out.select("rounds_run", "converged").first()
    assert head["converged"] is True
    assert head["rounds_run"] > 0 and head["rounds_run"] % 3 == 0


def test_pagerank_converge_matches_long_unrolled_run(spark):
    """The convergence loop must land on the same fixpoint as a plain
    25-round unrolled power iteration at the same damping — proving
    the early-exit logic stops at the answer, not near it."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_heavy import (
        PR_CONV_DAMP,
        PR_CONV_YEAR,
        _pr_round,
        _pr_start,
        _trade_graph,
        _with_outdeg,
    )

    b = {
        r["node"]: r["pagerank"]
        for r in _q("q_pagerank_converge")(spark, SF_SMOKE).collect()
    }
    edges = _trade_graph(spark, SF_SMOKE, year=PR_CONV_YEAR)
    n, ranks = _pr_start(edges)
    e2 = _with_outdeg(edges)
    for i in range(25):
        ranks = _pr_round(e2, n, ranks, PR_CONV_DAMP, teleport=0.5)
        if i % 5 == 4:
            ranks = ranks.localCheckpoint()
    a = {r["node"]: r["rank"] for r in ranks.collect()}
    assert set(a) == set(b)
    worst = max(abs(a[k] - b[k]) for k in a)
    assert worst < 1e-5
