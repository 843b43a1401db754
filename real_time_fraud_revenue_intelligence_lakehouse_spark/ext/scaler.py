"""StandardScaler — fit → persist → apply, as distributed queries.

The ONE `FraudDetector` pipeline stage the engine had no counterpart
for (VERDICT r15 "What's missing" #1): the reference standardizes
features before XGBoost and persists the fitted scaler as a registry
artifact that serving re-applies (`ml/models/fraud_detector.py:
144-145` fit_transform, `:177,188` transform at predict/explain,
`:199,219` scaler.joblib save/load). Trees are split-invariant under
monotone transforms, so the engine's GBT path bins raw features by
design — but the LOGISTIC trainer's convergence genuinely depends on
conditioning, which is exactly where sklearn's StandardScaler earns
its place. This module re-expresses that stage Spark-first:

- **fit** = ONE distributed aggregate over the feature frame
  (per feature two exact integer-micro decimal sums — Σ⌊x·1e6+0.5⌋
  and Σ⌊x²·1e6+0.5⌋ — plus one count; associative, layout-independent,
  map-side combined: the shuffle payload is 2d+1 decimals per
  partition, bytes not rows);
- **persist** = the (mean, std) pairs ride in the model-registry JSON
  document next to the weights (ext/model_registry — the engine's
  scaler.joblib), so save → load → score round-trips;
- **apply** = `(x − mean)/std` as row-local Catalyst literals inside
  the scoring expression — zero extra scan, zero shuffle, fused into
  whole-stage codegen (ext/training's `scales` accepts the fitted
  (mean, std) pair wherever it accepted a divisor).

Determinism contract (the train_logreg convention): moments are
exact decimal sums; mean/E[x²] round6 after the same `/1e6/n`
operation order in Python, Spark, generated SQL, and NumPy;
var = round6(E[x²] − mean²) on the ROUNDED inputs; std =
round6(sqrt(var)) — IEEE sqrt is correctly rounded, so the round6 is
belt-and-braces — with var ≤ 0 (a constant feature) mapping to
std = 1.0 on both sides (sklearn's `scale_ = 1.0` convention for
zero-variance columns).

At 100 TB: the fit is one scan with a 2d+1-cell reduce; the apply is
free (literals in codegen). Nothing is driver-bound except the d
(mean, std) scalar pairs — the sanctioned model-broadcast class.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import MICRO, R6_SQL, r6


def fit_standard_scaler(
    fv: DataFrame,
    features: tuple[str, ...] = SCORE_FEATURES,
) -> dict[str, tuple[float, float]]:
    """Fit (mean, std) per feature from ONE exact decimal-moment
    aggregate — the distributed twin of sklearn's
    `StandardScaler.fit` (`fraud_detector.py:144`). Returns
    ``{feature: (mean, std)}`` ready to pass as ext/training
    ``scales`` (affine form) or to persist via
    :func:`scaler_params`."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for f in features:
        x = F.col(f).cast("double")
        aggs.append(
            F.sum(
                F.floor(x * F.lit(MICRO) + F.lit(0.5)).cast("decimal(38,0)")
            ).alias(f"s_{f}")
        )
        aggs.append(
            F.sum(
                F.floor(x * x * F.lit(MICRO) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).alias(f"q_{f}")
        )
    row = fv.agg(*aggs).first()
    n = int(row["n"])
    if n == 0:
        raise ValueError("cannot fit a scaler on an empty feature frame")
    out: dict[str, tuple[float, float]] = {}
    for f in features:
        mean = r6(float(row[f"s_{f}"]) / MICRO / n)
        ex2 = r6(float(row[f"q_{f}"]) / MICRO / n)
        var = r6(ex2 - mean * mean)
        sd = r6(math.sqrt(var)) if var > 0.0 else 1.0
        out[f] = (mean, sd)
    return out


def scaler_params(stats: dict[str, tuple[float, float]]) -> dict:
    """Fitted stats → the JSON shape persisted in the model-registry
    document (`params["scaler"]` — the engine's scaler.joblib,
    `fraud_detector.py:199,219`)."""
    return {f: {"mean": m, "std": s} for f, (m, s) in stats.items()}


def scaler_from_params(params: dict) -> dict[str, tuple[float, float]]:
    """Inverse of :func:`scaler_params` (registry load path)."""
    return {f: (float(d["mean"]), float(d["std"])) for f, d in params.items()}


# --- generated DuckDB oracle -------------------------------------------------


def scaler_ctes(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    prefix: str = "",
) -> tuple[str, str]:
    """(cte_block, stats_cte_name): the fit as SQL — one moments
    aggregate, then mean/E[x²], then std, each rounding step in the
    exact operation order :func:`fit_standard_scaler` uses. The final
    CTE has ONE row with ``mu_<f>`` / ``sd_<f>`` columns, ready to
    cross-join into a training chain (logreg_train_ctes'
    standardized mode)."""
    p_ = prefix
    moments = ["count(*) AS n"]
    for f in features:
        x = f"CAST({f} AS DOUBLE)"
        moments.append(
            f"sum(CAST(floor({x} * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS s_{f}"
        )
        moments.append(
            f"sum(CAST(floor({x} * {x} * 1000000.0 + 0.5) AS DECIMAL(38,0)))"
            f" AS q_{f}"
        )
    means = []
    for f in features:
        means.append(
            f"{R6_SQL.format(c=f'CAST(s_{f} AS DOUBLE) / 1000000.0 / n')} AS mu_{f}"
        )
        means.append(
            f"{R6_SQL.format(c=f'CAST(q_{f} AS DOUBLE) / 1000000.0 / n')} AS e2_{f}"
        )
    vars_ = [f"mu_{f}" for f in features] + [
        f"{R6_SQL.format(c=f'e2_{f} - mu_{f} * mu_{f}')} AS v_{f}" for f in features
    ]
    stats = [f"mu_{f}" for f in features] + [
        f"CASE WHEN v_{f} > 0.0 THEN {R6_SQL.format(c=f'sqrt(v_{f})')} "
        f"ELSE 1.0 END AS sd_{f}"
        for f in features
    ]
    parts = [
        f"{p_}scfv AS ({fv_sql})",
        f"{p_}scmom AS (SELECT {', '.join(moments)} FROM {p_}scfv)",
        f"{p_}scmean AS (SELECT {', '.join(means)} FROM {p_}scmom)",
        f"{p_}scvar AS (SELECT {', '.join(vars_)} FROM {p_}scmean)",
        f"{p_}scstats AS (SELECT {', '.join(stats)} FROM {p_}scvar)",
    ]
    return ",\n    ".join(parts), f"{p_}scstats"


def scaler_stats_sql(fv_sql: str) -> str:
    """Complete oracle for q_standard_scale_train: one
    (feature, mu, sd) row per feature (the unpivot reads the 1-row
    stats CTE once — the logreg_weights_sql VALUES-cross-join
    discipline)."""
    features = SCORE_FEATURES
    ctes, sk = scaler_ctes(fv_sql, features)
    values = ", ".join(f"('{f}')" for f in features)
    mu_case = " ".join(f"WHEN '{f}' THEN mu_{f}" for f in features)
    sd_case = " ".join(f"WHEN '{f}' THEN sd_{f}" for f in features)
    return (
        f"WITH {ctes}\n    "
        f"SELECT u.feature, CASE u.feature {mu_case} END AS mu, "
        f"CASE u.feature {sd_case} END AS sd\n    "
        f"FROM {sk} CROSS JOIN (VALUES {values}) u(feature)"
    )
