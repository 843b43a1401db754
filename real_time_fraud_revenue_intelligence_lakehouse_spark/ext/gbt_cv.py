"""3-fold cross-validated model selection — the reference's ACTUAL
Optuna objective.

The reference ranks hyperparameter configs by 3-fold cross-validated
ROC AUC (`ml/models/fraud_detector.py:268-271`:
``cross_val_score(model, X, y, cv=3, scoring="roc_auc").mean()``);
q_gbt_model_selection ranks by single-holdout log-loss. This module
closes that gap on ext/gbt.py's one boosting engine:

- **Folds**: ``hash60(o_orderkey) % 3`` — q_kfold's deterministic
  assignment (disjoint + exhaustive by construction, RNG-free,
  append-stable).
- **Training**: every (fold, config) pair is one engine model over
  ONE compressed (label, fold, bins) frame; per (round, level) one
  stacked aggregate carries them all and a post-stack
  ``fold != __fold`` filter keeps each model's complement rows, so
  the trees are bit-identical to training each fold separately
  (law-pinned in tests/test_gbt_deep.py).
- **Scoring** (:func:`_cv_fold_aucs`): the same frame, persisted,
  feeds the holdout scorer — per fold every config's sigmoid is a
  staged column stacked long, and one (fold, cfg, s) score-group
  aggregate counts Σ __cnt / Σ __cnt·label over the distinct vectors.
- **AUC**: exact Mann-Whitney rank-sum with average-rank ties —
  q_model_card's reduction, windowed per (fold, cfg) over the
  distinct-score table.
- **Objective**: per config, the round6 mean of its 3 round6 fold
  AUCs (left-associated — the determinism contract the oracle's
  scalar-subquery sum mirrors token for token); winner = max mean
  AUC, config-id tie-break.

The SQL oracle unrolls all 3 folds × |configs| boosting chains
(namespaced c{fold}{cfg}_), replays each on its held-out fold, and
computes the identical rank-sum AUCs — CROSS-VALIDATION ITSELF
hash-gates.

Scale: the scan count is the single-fold grid's; stacked rows grow
×(folds−1) and every byte stays in the same map-side combine — the
histograms remain ≤ folds·k·2^L·d·B integer cells; nothing
all-pairs, nothing driver-side beyond folds·|configs| AUC scalars.

Cites: reference `ml/models/fraud_detector.py:268-271` (cv=3
roc_auc objective), `train.py:201` (study driver) — semantics
reproduced, execution re-architected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    GBT_BINS,
    GBT_MS_CONFIGS,
    _binned_frame,
    _cfg,
    _descend,
    _fit,
    _gbt_ctes,
    _gbt_holdout_ctes,
    _models,
    _rank_sum_aucs,
    _stack_scores,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import (
    _gbt_deep_ctes,
    _gbt_deep_holdout_ctes,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R6_SQL, r6

CV_FOLDS = 3

_H60_FOLD = "('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 3"


def train_gbt_grid_cv(
    fv: DataFrame,
    fold_col: Column,
    configs: tuple[tuple[str, int, float, float], ...] = GBT_MS_CONFIGS,
    folds: int = CV_FOLDS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    label: str = "label",
    scales: dict[str, float] | None = None,
) -> list[list[list[dict]]]:
    """Fit EVERY (fold, config) depth-2 model in max(rounds)·2 shared
    scans: model (f, c) sums the identical integer micros over the
    identical rows as ``train_gbt_grid(fv.filter(fold_col != f))``, so
    the trees are bit-identical to the per-fold loop (law-pinned).
    Returns ``trees[fold][cfg]``."""
    k = len(configs)
    trees = _fit(fv, [_cfg(*c) for c in configs], features, bins, label,
                 scales, fold_col, folds)
    return [trees[f * k:(f + 1) * k] for f in range(folds)]


def _cv_fold_aucs(
    fv: DataFrame,
    configs,
    folds: int,
    features: tuple[str, ...],
    scales: dict[str, float] | None,
) -> list[list[float]]:
    """The one holdout scorer: ``out[cfg][fold]`` round6 AUCs of every
    nine-axis config under ``folds``-fold CV. ONE compressed frame,
    built here from the same configs, feeds both the engine and the
    per-fold holdout scoring (the held-out rows are exactly the
    frame's ``__fold == f`` vectors, weighted by __cnt); it is
    released when the call ends, also on failure."""
    fold_col = F.pmod(hash60(F.col("o_orderkey").cast("string")), F.lit(folds))
    binned = _binned_frame(
        fv, configs, features, GBT_BINS, "label", scales, fold_col
    ).persist()
    k = len(configs)
    etas = [c[2] for c in configs]
    try:
        trees = _descend(binned, _models(configs, folds), features)
        scored = None
        for f in range(folds):
            part = _stack_scores(
                binned.filter(F.col("__fold") == f),
                trees[f * k:(f + 1) * k], etas, features,
            ).withColumn("fold", F.lit(f))
            scored = part if scored is None else scored.unionAll(part)
        auc = _rank_sum_aucs(scored, ("fold", "cfg"))
    finally:
        binned.unpersist()
    return [[auc[(f, i)] for f in range(folds)] for i in range(k)]


def gbt_cv_fold_aucs(
    fv: DataFrame,
    configs: tuple[tuple[str, int, float, float], ...] = GBT_MS_CONFIGS,
    folds: int = CV_FOLDS,
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
) -> list[list[float]]:
    """Per-config per-fold round6 holdout AUCs: ``out[cfg][fold]`` for
    the depth-2 grid (see :func:`_cv_fold_aucs`)."""
    return _cv_fold_aucs(fv, [_cfg(*c) for c in configs], folds, features, scales)


def cv_mean(aucs: list[float]) -> float:
    """round6 of the left-associated float mean — the exact text the
    oracle's scalar-subquery chain computes."""
    s = 0.0
    for a in aucs:
        s = s + a
    return r6(s / float(len(aucs)))


def gbt_cv_selection_sql(
    fv_sql: str,
    configs: tuple[tuple[str, int, float, float], ...] = GBT_MS_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    folds: int = CV_FOLDS,
) -> str:
    """Oracle for q_model_selection_cv: per (fold, config) an
    unrolled boosting chain on the fold complement + a split-replay
    on the held-out fold + a rank-sum AUC; per config the round6
    left-associated mean of its fold AUCs; is_best ranks by
    (cv_auc DESC, config)."""
    parts = [f"base AS ({fv_sql})"]
    for f in range(folds):
        parts.append(
            f"tr{f} AS MATERIALIZED (SELECT * FROM base WHERE {_H60_FOLD} <> {f})"
        )
        parts.append(
            f"va{f} AS MATERIALIZED (SELECT * FROM base WHERE {_H60_FOLD} = {f})"
        )
    auc_names: dict[tuple[int, int], str] = {}
    for f in range(folds):
        for i, (_name, rounds, eta, lam) in enumerate(configs):
            p_ = f"c{f}{i}_"
            ctes, _rk = _gbt_ctes(
                f"SELECT * FROM tr{f}", features, rounds, bins, lam, eta,
                prefix=p_,
            )
            parts.append(ctes)
            hctes, hk = _gbt_holdout_ctes(
                p_, f"va{f}", features, rounds, bins, eta
            )
            parts.append(hctes)
            s6 = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")
            parts.append(
                f"{p_}scored AS (SELECT label, {s6} AS s FROM {hk})"
            )
            parts.append(
                f"{p_}grp AS (SELECT s, count(*) AS n, sum(label) AS np "
                f"FROM {p_}scored GROUP BY 1)"
            )
            parts.append(
                f"{p_}cum AS (SELECT s, n, np, "
                f"coalesce(sum(n) OVER w, 0) AS cum_n FROM {p_}grp "
                f"WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING "
                f"AND 1 PRECEDING))"
            )
            parts.append(
                f"{p_}t AS (SELECT sum(np) AS n_pos, "
                f"sum(n) - sum(np) AS n_neg FROM {p_}grp)"
            )
            parts.append(
                f"{p_}agg AS (SELECT n_pos, n_neg, "
                f"sum(CAST(np AS DECIMAL(28,1)) "
                f"* CAST(cum_n + (n + 1) / 2.0 AS DECIMAL(28,1))) AS rank_sum "
                f"FROM {p_}cum CROSS JOIN {p_}t GROUP BY 1, 2)"
            )
            auc_raw = (
                "(CAST(rank_sum AS DOUBLE) "
                "- CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)"
                " / (CAST(n_pos AS DOUBLE) * n_neg)"
            )
            auc6 = R6_SQL.format(
                c=f"CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0 ELSE {auc_raw} END"
            )
            parts.append(
                f"{p_}auc AS (SELECT {auc6} AS auc FROM {p_}agg)"
            )
            auc_names[(f, i)] = f"{p_}auc"
    mean_cols = []
    for i in range(len(configs)):
        terms = " + ".join(
            f"(SELECT auc FROM {auc_names[(f, i)]})" for f in range(folds)
        )
        mean_cols.append(
            f"{R6_SQL.format(c=f'({terms}) / {float(folds)!r}')} AS cv_{i}"
        )
    parts.append("m AS (SELECT " + ", ".join(mean_cols) + ")")
    vals = ", ".join(
        f"('{name}', {rounds}, {eta!r}, {lam!r})"
        for name, rounds, eta, lam in configs
    )
    auc_case = " ".join(
        f"WHEN '{name}' THEN cv_{i}"
        for i, (name, _r, _e, _l) in enumerate(configs)
    )
    fold_cols = ", ".join(
        f"CASE c.config {' '.join(f'''WHEN '{name}' THEN (SELECT auc FROM {auc_names[(f, i)]})''' for i, (name, _r, _e, _l) in enumerate(configs))} END AS auc_fold{f}"
        for f in range(folds)
    )
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block},
    longf AS (
      SELECT c.config, c.rounds, c.eta, c.lam,
             {fold_cols},
             CASE c.config {auc_case} END AS cv_auc
      FROM (VALUES {vals}) c(config, rounds, eta, lam) CROSS JOIN m
    )
    SELECT config, CAST(rounds AS INTEGER) AS rounds, eta, lam,
           {", ".join(f"auc_fold{f}" for f in range(folds))}, cv_auc,
           CAST(CASE WHEN row_number() OVER (ORDER BY cv_auc DESC, config) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM longf"""


# --- CV over the FULL sampled space (trial x fold, every dimension) ---------------

#: Trials for the full-space CV — the study's exact objective shape
#: (every trial CV-scored over every fold). 4 trials x 3 folds keeps
#: the oracle at the 12-chain magnitude q_model_selection_cv already
#: proved tractable, while every one of the nine dimensions still
#: varies across the four trials.
CV_FULL_TRIALS = 4


def train_gbt_grid_full_cv(
    fv: DataFrame,
    fold_col: Column,
    configs,
    folds: int = CV_FOLDS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    label: str = "label",
    scales: dict[str, float] | None = None,
) -> list[list[list[dict]]]:
    """:func:`train_gbt_grid_cv` over FULL nine-axis trials: every
    axis rides exactly as in ext/gbt_deep.train_gbt_grid_full, and the
    fold filter restricts model (f, c) to its complement rows — trees
    bit-identical to the per-fold loop. Returns ``trees[fold][cfg]``."""
    k = len(configs)
    trees = _fit(fv, list(configs), features, bins, label, scales, fold_col, folds)
    return [trees[f * k:(f + 1) * k] for f in range(folds)]


def gbt_cv_fold_aucs_full(
    fv: DataFrame,
    configs,
    folds: int = CV_FOLDS,
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
) -> list[list[float]]:
    """:func:`gbt_cv_fold_aucs` over FULL nine-axis trials."""
    return _cv_fold_aucs(fv, list(configs), folds, features, scales)


def gbt_cv_selection_full_sql(
    fv_sql: str,
    configs,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    folds: int = CV_FOLDS,
) -> str:
    """Oracle for q_model_selection_cv_full: per (fold, trial) an
    unrolled DEEP chain carrying ALL of the trial's axes (subsample
    predicate, colsample schedule, mcw admissibility, ThresholdL1,
    scale_pos_weight) + a held-out-fold replay + a rank-sum AUC;
    per trial the round6 left-associated fold mean; is_best ranks by
    (cv_auc DESC, config)."""
    parts = [f"base AS ({fv_sql})"]
    for f in range(folds):
        parts.append(
            f"tr{f} AS MATERIALIZED (SELECT * FROM base WHERE {_H60_FOLD} <> {f})"
        )
        parts.append(
            f"va{f} AS MATERIALIZED (SELECT * FROM base WHERE {_H60_FOLD} = {f})"
        )
    auc_names: dict[tuple[int, int], str] = {}
    for f in range(folds):
        for i, (_nm, rounds, eta, lam, depth, sub, csam, mcw, alpha, spw) in enumerate(
            configs
        ):
            p_ = f"v{f}{i}_"
            ctes, _rk = _gbt_deep_ctes(
                f"SELECT * FROM tr{f}", features, rounds, bins, lam, eta,
                depth,
                subsample=(None if sub is None or sub >= 1.0 else sub),
                colsample=(None if csam is None or csam >= 1.0 else csam),
                prefix=p_, min_child_weight=mcw, reg_alpha=alpha,
                pos_weight=(None if spw is None or float(spw) == 1.0 else spw),
            )
            parts.append(ctes)
            hctes, hk = _gbt_deep_holdout_ctes(
                p_, f"va{f}", features, rounds, bins, eta, depth
            )
            parts.append(hctes)
            s6 = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")
            parts.append(
                f"{p_}scored AS (SELECT label, {s6} AS s FROM {hk})"
            )
            parts.append(
                f"{p_}grp AS (SELECT s, count(*) AS n, sum(label) AS np "
                f"FROM {p_}scored GROUP BY 1)"
            )
            parts.append(
                f"{p_}cum AS (SELECT s, n, np, "
                f"coalesce(sum(n) OVER w, 0) AS cum_n FROM {p_}grp "
                f"WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING "
                f"AND 1 PRECEDING))"
            )
            parts.append(
                f"{p_}t AS (SELECT sum(np) AS n_pos, "
                f"sum(n) - sum(np) AS n_neg FROM {p_}grp)"
            )
            parts.append(
                f"{p_}agg AS (SELECT n_pos, n_neg, "
                f"sum(CAST(np AS DECIMAL(28,1)) "
                f"* CAST(cum_n + (n + 1) / 2.0 AS DECIMAL(28,1))) AS rank_sum "
                f"FROM {p_}cum CROSS JOIN {p_}t GROUP BY 1, 2)"
            )
            auc_raw = (
                "(CAST(rank_sum AS DOUBLE) "
                "- CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)"
                " / (CAST(n_pos AS DOUBLE) * n_neg)"
            )
            auc6 = R6_SQL.format(
                c=f"CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0 ELSE {auc_raw} END"
            )
            parts.append(
                f"{p_}auc AS (SELECT {auc6} AS auc FROM {p_}agg)"
            )
            auc_names[(f, i)] = f"{p_}auc"
    mean_cols = []
    for i in range(len(configs)):
        terms = " + ".join(
            f"(SELECT auc FROM {auc_names[(f, i)]})" for f in range(folds)
        )
        mean_cols.append(
            f"{R6_SQL.format(c=f'({terms}) / {float(folds)!r}')} AS cv_{i}"
        )
    parts.append("m AS (SELECT " + ", ".join(mean_cols) + ")")
    vals = ", ".join(
        f"('{nm}', {rounds}, {eta!r}, {lam!r}, {depth}, {sub!r}, {csam!r}, "
        f"{mcw!r}, {alpha!r}, {spw!r})"
        for nm, rounds, eta, lam, depth, sub, csam, mcw, alpha, spw in configs
    )
    auc_case = " ".join(
        f"WHEN '{c[0]}' THEN cv_{i}" for i, c in enumerate(configs)
    )
    fold_cols = ", ".join(
        f"CASE c.config {' '.join(f'''WHEN '{c[0]}' THEN (SELECT auc FROM {auc_names[(f, i)]})''' for i, c in enumerate(configs))} END AS auc_fold{f}"
        for f in range(folds)
    )
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block},
    longf AS (
      SELECT c.config, c.rounds, c.eta, c.lam, c.depth, c.subsample,
             c.colsample, c.min_child_weight, c.reg_alpha, c.pos_weight,
             {fold_cols},
             CASE c.config {auc_case} END AS cv_auc
      FROM (VALUES {vals}) c(config, rounds, eta, lam, depth, subsample,
                             colsample, min_child_weight, reg_alpha,
                             pos_weight) CROSS JOIN m
    )
    SELECT config, CAST(rounds AS INTEGER) AS rounds, eta, lam,
           CAST(depth AS INTEGER) AS depth,
           CAST(subsample AS DOUBLE) AS subsample,
           CAST(colsample AS DOUBLE) AS colsample,
           CAST(min_child_weight AS DOUBLE) AS min_child_weight,
           CAST(reg_alpha AS DOUBLE) AS reg_alpha,
           CAST(pos_weight AS DOUBLE) AS pos_weight,
           {", ".join(f"auc_fold{f}" for f in range(folds))}, cv_auc,
           CAST(CASE WHEN row_number() OVER (ORDER BY cv_auc DESC, config) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM longf"""
