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
- **Training** (:func:`gbt_cv_fold_aucs`): every (fold, config) pair
  is one engine model over ONE compressed (label, fold, bins) frame;
  per (round, level) one stacked aggregate carries them all and a
  post-stack ``fold != __fold`` filter keeps each model's complement
  rows, so the trees are bit-identical to training each fold
  separately (ext/gbt._fit with a fold column, law-pinned in
  tests/test_gbt_deep.py).
- **Scoring**: the same frame, persisted,
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

The SQL oracle (:func:`gbt_cv_selection_sql`, ext/gbt's selection
scaffold over the k-fold split) unrolls all 3 folds × |configs|
boosting chains (namespaced k{fold}c{cfg}_), replays each on its
held-out fold, and computes the identical rank-sum AUCs —
CROSS-VALIDATION ITSELF hash-gates. Depth-2 grid configs and
nine-axis trials share it; only the output's config columns differ.

Scale: the scan count is the single-fold grid's; stacked rows grow
×(folds−1) and every byte stays in the same map-side combine — the
histograms remain ≤ folds·k·2^L·d·B integer cells; nothing
all-pairs, nothing driver-side beyond folds·|configs| AUC scalars.

Cites: reference `ml/models/fraud_detector.py:268-271` (cv=3
roc_auc objective), `train.py:201` (study driver) — semantics
reproduced, execution re-architected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    GBT_BINS,
    GBT_MS_CONFIGS,
    _auc_score,
    _binned_frame,
    _cfg,
    _descend,
    _models,
    _rank_sum_aucs,
    _selection_sql,
    _stack_scores,
    _trial_parts,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import H60_SQL, R6_SQL, r6

CV_FOLDS = 3

#: An order's fold, DuckDB side: hash60(o_orderkey) mod ``folds``, the
#: engine's ``pmod(hash60(o_orderkey), folds)``.
_H60_FOLD = H60_SQL.format(x="o_orderkey::VARCHAR") + " % {folds}"


def gbt_cv_fold_aucs(
    fv: DataFrame,
    configs=GBT_MS_CONFIGS,
    folds: int = CV_FOLDS,
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
) -> list[list[float]]:
    """The one holdout scorer: ``out[cfg][fold]`` round6 AUCs of every
    config (a 4-, 5- or nine-axis tuple, widened by :func:`_cfg`)
    under ``folds``-fold CV. ONE compressed frame, built here from the
    same configs, feeds both the engine and the per-fold holdout
    scoring (the held-out rows are exactly the frame's ``__fold == f``
    vectors, weighted by __cnt); it is released when the call ends,
    also on failure."""
    configs = [_cfg(*c) for c in configs]
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


def cv_mean(aucs: list[float]) -> float:
    """round6 of the left-associated float mean — the exact text the
    oracle's scalar-subquery chain computes."""
    s = 0.0
    for a in aucs:
        s = s + a
    return r6(s / float(len(aucs)))


def cv_scores(aucs: list[list[float]]) -> list[tuple[str, list[float]]]:
    """A CV selection's score columns from ``aucs[cfg][fold]``: each
    fold's AUCs, then the :func:`cv_mean` the selection ranks by — the
    columns :func:`gbt_cv_selection_sql` writes."""
    folds = len(aucs[0])
    return [
        *((f"auc_fold{f}", [a[f] for a in aucs]) for f in range(folds)),
        ("cv_auc", [cv_mean(a) for a in aucs]),
    ]


def gbt_cv_selection_sql(
    fv_sql: str,
    configs=GBT_MS_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    folds: int = CV_FOLDS,
) -> str:
    """Oracle for q_model_selection_cv and, over nine-axis trials,
    q_model_selection_cv_full: per (fold, config) an unrolled boosting
    chain carrying all of the config's axes on the fold complement, a
    split-replay on the held-out fold and a rank-sum AUC; per config
    the round6 left-associated mean of its fold AUCs; is_best ranks by
    (cv_auc DESC, config)."""
    fold = _H60_FOLD.format(folds=folds)
    splits = tuple((f"{fold} <> {f}", f"{fold} = {f}") for f in range(folds))
    parts, auc = _trial_parts(fv_sql, configs, features, bins, _auc_score, splits)
    cfgs = range(len(configs))
    scores = [(f"auc_fold{f}", [auc[f, i] for i in cfgs]) for f in range(folds)]
    scores.append((
        "cv_auc",
        [
            R6_SQL.format(
                c=f"({' + '.join(auc[f, i] for f in range(folds))}) / {float(folds)!r}"
            )
            for i in cfgs
        ],
    ))
    return _selection_sql(parts, configs, scores, "cv_auc DESC")


# --- CV over the FULL sampled space (trial x fold, every dimension) ---------------

#: Trials for the full-space CV — the study's exact objective shape
#: (every trial CV-scored over every fold). 4 trials x 3 folds keeps
#: the oracle at the 12-chain magnitude q_model_selection_cv already
#: proved tractable, while every one of the nine dimensions still
#: varies across the four trials.
CV_FULL_TRIALS = 4
