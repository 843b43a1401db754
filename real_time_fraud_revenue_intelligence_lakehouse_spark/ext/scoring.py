"""Batch fraud scoring — the engine-side analog of the reference's
ML serving surface (`ml/serving/api.py:198-258`, SURVEY §3.4).

The reference computes a 26-feature vector in Spark, then scores with
XGBoost behind FastAPI (trained artifacts are out of scope for a
query engine). The engine keeps the part that IS a query-engine
concern: deterministic batch scoring over the feature table, with
each model compiled to one Catalyst expression:

- :func:`score_expr` — a logistic model with md5-seeded weights;
- :func:`gbt_score_expr` — a depth-2 tree ensemble as nested CASE
  expressions summed through a sigmoid.

Both are fully SQL-expressible, so the DuckDB oracle checks them
end-to-end, and both stay in whole-stage codegen. A trained artifact
takes the same route: `ext/model_registry.gbt_from_doc` reads a
registry document and `streaming/scoring.compile_registry_model`
compiles it to expressions, so no Python worker sits in the scoring
path.

At 100 TB: scoring is row-local (narrow, no shuffle) and rides the
scan, so inference throughput is scan throughput.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Features consumed from the q_feature_vector projection (bounded
#: magnitudes — the raw money columns enter via amount_log so the
#: logistic stays out of saturation).
SCORE_FEATURES = (
    "amount_log",
    "tier_encoded",
    "acctbal_neg",
    "segment_encoded",
    "order_dow",
    "order_month",
    "is_weekend",
    "is_urgent",
)
BIAS = -1.5


def weight(feature: str) -> float:
    """Deterministic md5-seeded weight in [-0.5, 0.5) — same value in
    Python, Spark literals, and generated oracle SQL."""
    h = hashlib.md5(f"weight:{feature}".encode()).hexdigest()
    return (int(h[:15], 16) % 1000) / 1000.0 - 0.5


def logit_expr(features: tuple[str, ...] = SCORE_FEATURES) -> Column:
    z: Column = F.lit(float(BIAS))
    for f in features:
        z = z + F.lit(weight(f)) * F.col(f).cast("double")
    return z


def score_expr(features: tuple[str, ...] = SCORE_FEATURES) -> Column:
    """P(fraud) = sigmoid(w·x + b) as a pure Catalyst expression."""
    z = logit_expr(features)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def risk_label(score: Column) -> Column:
    """3-way banding, mirroring `fraud_summary.py:117-133`."""
    return (
        F.when(score >= 0.7, "high").when(score >= 0.4, "medium").otherwise("low")
    )


def score_batch(features_df: DataFrame) -> DataFrame:
    """Score a feature table → (keys passthrough, fraud_score,
    risk_label), rounded with the engine's portable formula."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round

    scored = features_df.withColumn("fraud_score", det_round(score_expr(), 6))
    return scored.withColumn("risk_label", risk_label(F.col("fraud_score")))


#: ---- Gradient-boosted-tree-style ensemble ---------------------------------
#:
#: The reference serves XGBoost (`ml/serving/api.py`, `ml/models/
#: fraud_detector.py`). A trained artifact can't be oracle-checked, so
#: the engine ships the same *execution shape* with a deterministic
#: model: N_TREES depth-2 regression trees whose structure (split
#: features, thresholds, leaf values) is md5-derived — reproducible in
#: Python, Catalyst literals, and generated SQL. Swapping in a real
#: booster = replacing the spec source, not the plan: each tree is a
#: nested CASE expression, the ensemble is their sum through a
#: sigmoid, and everything stays inside whole-stage codegen exactly
#: like real GBT scoring compiled to SQL (the standard trick for
#: in-warehouse inference).

N_TREES = 8

#: Plausible value ranges per feature — thresholds are seeded
#: fractions of these, so every split actually partitions data.
FEATURE_RANGES = {
    "amount_log": (0.0, 13.0),
    "tier_encoded": (0.0, 4.0),
    "acctbal_neg": (0.0, 1.0),
    "segment_encoded": (0.0, 5.0),
    "order_dow": (1.0, 8.0),
    "order_month": (1.0, 13.0),
    "is_weekend": (0.0, 1.0),
    "is_urgent": (0.0, 1.0),
}
GBT_BIAS = -0.8


def _seeded(tag: str, lo: float, hi: float) -> float:
    """Deterministic value in [lo, hi) from an md5 tag."""
    h = hashlib.md5(tag.encode()).hexdigest()
    return lo + (int(h[:15], 16) % 10_000) / 10_000.0 * (hi - lo)


def tree_spec(t: int, features: tuple[str, ...] = SCORE_FEATURES) -> dict:
    """Depth-2 tree t: root split + two child splits + 4 leaf values.
    Pure function of (t, features) — the single source of truth for
    the Spark expression and the SQL oracle."""
    n = len(features)
    f_root = features[int(hashlib.md5(f"t{t}:root".encode()).hexdigest()[:8], 16) % n]
    f_l = features[int(hashlib.md5(f"t{t}:l".encode()).hexdigest()[:8], 16) % n]
    f_r = features[int(hashlib.md5(f"t{t}:r".encode()).hexdigest()[:8], 16) % n]

    def thr(f, tag):
        lo, hi = FEATURE_RANGES[f]
        return round(_seeded(f"t{t}:{tag}:thr", lo, hi), 4)

    return {
        "root": (f_root, thr(f_root, "root")),
        "left": (f_l, thr(f_l, "l")),
        "right": (f_r, thr(f_r, "r")),
        "leaves": [round(_seeded(f"t{t}:leaf{i}", -0.3, 0.3), 4) for i in range(4)],
    }


def _tree_expr(spec: dict) -> Column:
    fr, tr = spec["root"]
    fl, tl = spec["left"]
    frr, trr = spec["right"]
    v = spec["leaves"]
    left = F.when(F.col(fl).cast("double") < tl, F.lit(v[0])).otherwise(F.lit(v[1]))
    right = F.when(F.col(frr).cast("double") < trr, F.lit(v[2])).otherwise(F.lit(v[3]))
    return F.when(F.col(fr).cast("double") < tr, left).otherwise(right)


def gbt_logit_expr(
    n_trees: int = N_TREES, features: tuple[str, ...] = SCORE_FEATURES
) -> Column:
    z: Column = F.lit(float(GBT_BIAS))
    for t in range(n_trees):
        z = z + _tree_expr(tree_spec(t, features))
    return z


def gbt_score_expr(
    n_trees: int = N_TREES, features: tuple[str, ...] = SCORE_FEATURES
) -> Column:
    """P(fraud) from the tree ensemble — sigmoid(bias + Σ tree_t(x))."""
    z = gbt_logit_expr(n_trees, features)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def gbt_sql(n_trees: int = N_TREES, features: tuple[str, ...] = SCORE_FEATURES) -> str:
    """The ensemble logit as ANSI SQL (DuckDB oracle twin), generated
    from the same tree specs — term order matches gbt_logit_expr so
    double accumulation is bit-identical."""
    terms = [repr(float(GBT_BIAS))]
    for t in range(n_trees):
        s = tree_spec(t, features)
        fr, tr = s["root"]
        fl, tl = s["left"]
        frr, trr = s["right"]
        v = s["leaves"]
        left = f"CASE WHEN CAST({fl} AS DOUBLE) < {tl!r} THEN {v[0]!r} ELSE {v[1]!r} END"
        right = f"CASE WHEN CAST({frr} AS DOUBLE) < {trr!r} THEN {v[2]!r} ELSE {v[3]!r} END"
        terms.append(f"(CASE WHEN CAST({fr} AS DOUBLE) < {tr!r} THEN ({left}) ELSE ({right}) END)")
    return " + ".join(terms)


def gbt_score_batch(features_df: DataFrame) -> DataFrame:
    """Tree-ensemble batch scoring → (passthrough, fraud_score,
    risk_label); same lifecycle as :func:`score_batch`."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round

    scored = features_df.withColumn("fraud_score", det_round(gbt_score_expr(), 6))
    return scored.withColumn("risk_label", risk_label(F.col("fraud_score")))


def weights_sql() -> str:
    """Oracle twin of :func:`score_expr` (z term), for catalog use."""
    terms = [repr(float(BIAS))] + [
        f"({weight(f)!r} * CAST({f} AS DOUBLE))" for f in SCORE_FEATURES
    ]
    return " + ".join(terms)


def sigmoid_py(z: float) -> float:
    return 1.0 / (1.0 + math.exp(-z))
