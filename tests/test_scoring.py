"""Batch scoring: the Catalyst scorers against plain-Python replays, and banding."""

from __future__ import annotations

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import (
    SCORE_FEATURES,
    score_batch,
    sigmoid_py,
    weight,
)


def _features_df(spark):
    rows = [
        # (amount_log, tier, acctbal_neg, segment, dow, month, weekend, urgent)
        (1, 4.5, 2.0, 0.0, 1.0, 3.0, 6.0, 0.0, 1.0),
        (2, 9.1, 4.0, 1.0, 4.0, 6.0, 12.0, 1.0, 1.0),
        (3, 0.0, 0.0, 0.0, -1.0, 0.0, 1.0, 0.0, 0.0),
    ]
    cols = "k INT, " + ", ".join(f"{f} DOUBLE" for f in SCORE_FEATURES)
    return spark.createDataFrame(rows, cols)


def test_expression_matches_python_model(spark):
    df = _features_df(spark)
    got = {r["k"]: r["fraud_score"] for r in score_batch(df).collect()}
    for row in df.collect():
        z = -1.5 + sum(weight(f) * row[f] for f in SCORE_FEATURES)
        import math

        want = math.floor(sigmoid_py(z) * 1e6 + 0.5) / 1e6
        assert got[row["k"]] == want


def test_risk_bands(spark):
    rows = score_batch(_features_df(spark)).collect()
    for r in rows:
        want = "high" if r["fraud_score"] >= 0.7 else "medium" if r["fraud_score"] >= 0.4 else "low"
        assert r["risk_label"] == want


def test_gbt_expression_matches_python_model(spark):
    """The CASE-ensemble expression must reproduce the tree specs
    evaluated in plain Python: same splits, same leaf sums, same
    sigmoid, det_round applied."""
    import math

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import (
        GBT_BIAS,
        N_TREES,
        gbt_score_batch,
        tree_spec,
    )

    df = _features_df(spark)
    got = {r["k"]: r["fraud_score"] for r in gbt_score_batch(df).collect()}
    for row in df.collect():
        z = float(GBT_BIAS)
        for t in range(N_TREES):
            s = tree_spec(t)
            fr, tr = s["root"]
            if row[fr] < tr:
                fl, tl = s["left"]
                z += s["leaves"][0] if row[fl] < tl else s["leaves"][1]
            else:
                frr, trr = s["right"]
                z += s["leaves"][2] if row[frr] < trr else s["leaves"][3]
        want = math.floor(sigmoid_py(z) * 1e6 + 0.5) / 1e6
        assert got[row["k"]] == want


def test_gbt_trees_actually_split(spark):
    """Degenerate-model guard: across the feature rows the ensemble
    must produce more than one distinct score (every tree collapsing
    to one leaf would be a spec bug)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import gbt_score_batch

    scores = {r["fraud_score"] for r in gbt_score_batch(_features_df(spark)).collect()}
    assert len(scores) > 1
