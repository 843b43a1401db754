"""Depth-d histogram gradient boosting + deterministic row/column
subsampling — the rest of the XGBoost space the reference tunes.

ext/gbt.py fixes the production tree at depth 2; the reference's
Optuna study sweeps ``max_depth`` 3-9 and the stochastic dimensions
``subsample`` / ``colsample_bytree`` 0.6-1.0
(`ml/models/fraud_detector.py:258-266`, called from `train.py:201`).
Every trainer here is a thin wrapper over ext/gbt.py's one boosting
engine (``_descend``: one stacked aggregate per (round, level) over
(fold, nine-axis config) models), and every oracle here is built
from ext/gbt.py's one generated boosting chain (``_gbt_chain_ctes``,
at the model's depth and axes) and its selection scaffold. This
module owns the axes' semantics, the deep oracle entry points, and
the sampled studies:

- **Depth**: a complete binary tree with heap-indexed nodes (root=1,
  children of n are 2n/2n+1; internal nodes 1..2^d-1, leaves
  2^d..2^(d+1)-1). Per boosting round the engine runs ``d``
  distributed aggregates — level L's histogram groups
  (node, feature, bin) with ≤ 2^L·d·B integer cells. At depth=2 the
  trees are :func:`ext.gbt.train_gbt`'s EXACTLY (law-pinned in
  tests/test_gbt_deep.py).
- **Row subsample** (XGBoost ``subsample``): per-round row selection
  by content hash — ``hash60(o_orderkey || '#r<t>') % 100 <
  round(100·subsample)`` (the q_train_test_split discipline with a
  round salt, so each round sees a different-but-deterministic
  subset). Histograms and leaf values are computed over the selected
  rows ONLY; the ensemble update applies to every row (XGBoost's
  semantics). RNG-free: append-stable, layout-independent, and the
  SQL oracle applies the IDENTICAL predicate.
- **Column subsample** (XGBoost ``colsample_bytree``): per round,
  features rank by ``md5(feature || '#r<t>')`` and the first
  ``max(1, floor(colsample·d))`` are eligible for splits
  (:func:`ext.gbt.col_subset`, a pure function of (feature names,
  round) that engine and oracle share).
- **min_child_weight / reg_alpha / scale_pos_weight**: XGBoost's
  candidate validity rule, ThresholdL1 shrinkage and positive-class
  weight, all in exact integer micros.

Degenerate-frame contract (ext/gbt.py's): if any node at any level
receives ZERO (selected) rows or has no admissible split, the
trainer raises ValueError and the generated oracle calls DuckDB
``error()`` — both engines refuse to fabricate structure for inputs
outside the gated domain, rather than silently disagreeing.

Cites: reference `ml/models/fraud_detector.py:249-276` (the Optuna
space: max_depth, subsample, colsample_bytree), `:36,154`
(XGBClassifier(tree_method=hist)), `ml/models/train.py:201` (fit) —
semantics reproduced, execution re-architected as Spark aggregates.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    GBT_ETA,
    GBT_LAMBDA,
    GBT_ROUNDS,
    FullConfig,
    _auc_score,
    _bin_expr,
    _cfg,
    _fit,
    _gbt_chain_ctes,
    _rank_sum_aucs,
    _selection_sql,
    _stack_scores,
    _trial_parts,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R6_SQL

#: The deep default: one level past ext/gbt.py, the floor of the
#: reference's max_depth range (3-9). Deeper is the same machinery
#: with more (bounded) histogram cells per level.
GBT_DEPTH = 3


# --- the trainer ---------------------------------------------------------------


def train_gbt_deep(
    fv: DataFrame,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    depth: int = GBT_DEPTH,
    scales: dict[str, float] | None = None,
    subsample: float | None = None,
    colsample: float | None = None,
    min_child_weight: float = 0.0,
    reg_alpha: float = 0.0,
    pos_weight: float | None = None,
) -> list[dict]:
    """Fit ``rounds`` depth-``depth`` trees by histogram gradient
    boosting — one engine model carrying every axis.

    ``min_child_weight`` (fraud_detector.py:265, swept 1-10): a split
    candidate is admissible only if BOTH children carry at least this
    much total hessian. ``reg_alpha`` (fraud_detector.py:266, swept
    0-1): every gradient sum passes ThresholdL1 before entering gains
    and leaf values (α=0 is bit-identical to the unregularized fit).
    ``pos_weight`` (XGBoost's scale_pos_weight): positive rows'
    gradient AND hessian contributions multiply by it before the
    micro-floor. ``subsample`` selects each round's histogram rows by
    content hash (the id column ``o_orderkey`` is then required).
    Tree dicts are heap-indexed::

        {"depth": d, "splits": {node: (fidx, bin)},
         "gains": {node: gain}, "leaves": {leaf: w}}

    At depth=2 the trees are :func:`ext.gbt.train_gbt`'s exactly."""
    cfg = _cfg("", rounds, eta, lam, depth, subsample, colsample,
               min_child_weight, reg_alpha, pos_weight)
    return _fit(fv, [cfg], features, scales)[0]


# --- generated DuckDB oracle -----------------------------------------------------


def gbt_train_deep_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    depth: int = GBT_DEPTH,
    subsample: float | None = None,
    colsample: float | None = None,
    min_child_weight: float = 0.0,
    reg_alpha: float = 0.0,
) -> str:
    """Complete oracle for q_gbt_train_deep / q_gbt_train_subsample /
    q_gbt_train_mcw / q_gbt_train_l1: one row per (tree, internal
    node) — heap node id, split feature by NAME, split bin, round6
    gain, and (for the last internal level, whose children are
    leaves) the two round6 leaf values. NULL-free by construction:
    non-terminal split rows carry w_left = w_right = 0.0 and
    is_leaf_parent = 0."""
    ctes, _ = _gbt_chain_ctes(
        fv_sql, features, rounds, depth=depth, subsample=subsample,
        colsample=colsample, min_child_weight=min_child_weight, reg_alpha=reg_alpha,
    )
    fname_case = " ".join(
        f"WHEN {i} THEN '{f}'" for i, f in enumerate(features)
    )
    g6 = R6_SQL.format(c="b.gain")
    w6 = R6_SQL.format(c="w")
    arms = []
    for t in range(1, rounds + 1):
        for lvl in range(depth - 1):
            arms.append(
                f"SELECT CAST({t - 1} AS INTEGER) AS tree, "
                f"CAST(b.node AS BIGINT) AS node, "
                f"CASE b.fidx {fname_case} END AS feature, "
                f"CAST(b.bin AS BIGINT) AS split_bin, {g6} AS gain, "
                f"CAST(0.0 AS DOUBLE) AS w_left, CAST(0.0 AS DOUBLE) AS w_right, "
                f"CAST(0 AS INTEGER) AS is_leaf_parent FROM b{t}_{lvl} b"
            )
        last = depth - 1
        arms.append(
            f"SELECT CAST({t - 1} AS INTEGER) AS tree, "
            f"CAST(b.node AS BIGINT) AS node, "
            f"CASE b.fidx {fname_case} END AS feature, "
            f"CAST(b.bin AS BIGINT) AS split_bin, {g6} AS gain, "
            f"(SELECT {w6} FROM lw{t} l WHERE l.node = b.node AND l.side = 0) AS w_left, "
            f"(SELECT {w6} FROM lw{t} l WHERE l.node = b.node AND l.side = 1) AS w_right, "
            f"CAST(1 AS INTEGER) AS is_leaf_parent FROM b{t}_{last} b"
        )
    return f"WITH {ctes}\n    " + "\n    UNION ALL ".join(arms)


# --- depth-axis grid (fused) ------------------------------------------------------

#: The depth grid: (config id, rounds, eta, lam, depth) — max_depth
#: added as a swept axis next to the dimensions GBT_MS_CONFIGS
#: already covers, per the reference's Optuna space
#: (`fraud_detector.py:258`: max_depth 3-9; depth 2 is the engine's
#: production default, so the sweep brackets it).
GBT_DEPTH_CONFIGS: tuple[tuple[str, int, float, float, int], ...] = (
    ("d2_r3_e0.3", GBT_ROUNDS, GBT_ETA, GBT_LAMBDA, 2),
    ("d3_r3_e0.3", GBT_ROUNDS, GBT_ETA, GBT_LAMBDA, 3),
    ("d3_r2_e0.3", 2, GBT_ETA, GBT_LAMBDA, 3),
    ("d3_r3_e0.1", GBT_ROUNDS, 0.1, GBT_LAMBDA, 3),
)


# --- hash-sampled random search (the reference's 30-trial study) ---------------

#: Trial count for the sampled study over rounds/eta/λ/depth. Part of
#: the query identity: the oracle is generated from the identical
#: draws.
RS_TRIALS = 8

#: The study's nine dimensions in config order: each one's md5 draw
#: key and its bucket values — test-scale projections of the swept
#: ranges (`fraud_detector.py:249-267`): n_estimators 100-500 →
#: rounds 2-3; learning_rate 0.01-0.3 → eta 0.1-0.5; reg_lambda 0-5 →
#: {0.5, 1, 2}; max_depth 3-9 → depth 2-3; subsample 0.6-1.0 →
#: {0.7, 0.85, 1.0}; colsample_bytree 0.6-1.0 → {0.75, 1.0};
#: min_child_weight 1-10 → {0, 0.5, 1}; reg_alpha 0-1 → {0, 0.25,
#: 0.5}; scale_pos_weight ~n0/n1 → {1, 2, 5}.
_STUDY_SPACE = (
    ("n_estimators", (2, 3)),
    ("learning_rate", (0.1, 0.2, 0.3, 0.4, 0.5)),
    ("reg_lambda", (0.5, 1.0, 2.0)),
    ("max_depth", (2, 3)),
    ("subsample", (0.7, 0.85, 1.0)),
    ("colsample_bytree", (0.75, 1.0)),
    ("min_child_weight", (0.0, 0.5, 1.0)),
    ("reg_alpha", (0.0, 0.25, 0.5)),
    ("scale_pos_weight", (1.0, 2.0, 5.0)),
)


def _sampled_trials(n: int, prefix: str, space) -> tuple:
    """``n`` trials named ``<prefix>00…``: trial i's value on each
    dimension is bucket ``int(md5("trial-<i>#<param>")[:8], 16) mod
    |values|`` — the one md5 draw both samplers share."""

    def draw(i: int, param: str, values: tuple):
        d = hashlib.md5(f"trial-{i}#{param}".encode()).hexdigest()
        return values[int(d[:8], 16) % len(values)]

    return tuple(
        (f"{prefix}{i:02d}", *(draw(i, p, vals) for p, vals in space))
        for i in range(n)
    )


def sampled_search_configs() -> tuple[tuple[str, int, float, float, int], ...]:
    """:data:`RS_TRIALS` draws of the reference's RANDOM hyperparameter search
    (`fraud_detector.py:274`: study.optimize(n_trials=30)) without an
    RNG: each trial's draw for each dimension is an md5 bucket of
    "trial-<i>#<param>" — bit-stable across processes, machines, and
    reruns (the q_gbt_train_subsample content-hash discipline), so
    the sampled config list is a CONSTANT of the query and the
    DuckDB oracle unrolls exactly the same trials. Trials may
    collide (two draws of the same config) exactly like a real
    random study; ranking tie-breaks on trial id. Sweeps rounds, eta,
    λ and depth (the first four :data:`_STUDY_SPACE` dimensions)."""
    return _sampled_trials(RS_TRIALS, "t", _STUDY_SPACE[:4])


def grid_holdout_aucs(
    va: DataFrame,
    trees_all: list[list[dict]],
    configs: tuple[tuple[str, int, float, float, int], ...],
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
) -> list[float]:
    """Per-config holdout rank-sum AUCs from ONE stacked scan — the
    CV scorer's machinery on a single hash-split fold: every config's
    round6 sigmoid is a staged column, the stack unpivots to
    (cfg, s, label), and one exact Mann-Whitney aggregate yields every
    config's AUC. Driver state: |configs| scalars."""
    # the bin columns are staged once and every config's cascade runs
    # on them (same long bins → same comparisons → bit-identical
    # scores); each raw holdout row counts once
    vab = va.select(
        "label",
        F.lit(1).alias("__cnt"),
        *[_bin_expr(f, scales).alias(f"b_{f}") for f in features],
    )
    etas = [c[2] for c in configs]
    auc = _rank_sum_aucs(_stack_scores(vab, trees_all, etas, features), ("cfg",))
    return [auc[(i,)] for i in range(len(configs))]


def gbt_random_search_sql(fv_sql: str, configs=None) -> str:
    """Oracle for q_gbt_random_search and, over nine-axis trials,
    q_gbt_random_search_full: per sampled trial one unrolled boosting
    chain carrying all of the trial's axes on the hash-split train
    fold, its holdout replay and a rank-sum AUC; is_best ranks by
    (val_auc DESC, config)."""
    configs = sampled_search_configs() if configs is None else configs
    parts, auc = _trial_parts(fv_sql, configs, _auc_score)
    scores = [("val_auc", [auc[0, i] for i in range(len(configs))])]
    return _selection_sql(parts, configs, scores, "val_auc DESC")


# --- FULL-SPACE sampled search (every dimension of the study) ---------------------

#: Trial count for the full-space study — the reference samples 30
#: trials over 9 dimensions (`fraud_detector.py:249-276`); 8 at test
#: scale, all NINE dimensions swept per trial.
RS_FULL_TRIALS = 8


def sampled_search_configs_full() -> tuple[FullConfig, ...]:
    """:func:`sampled_search_configs` (:data:`RS_FULL_TRIALS` draws) extended to the study's FULL
    space — every Optuna dimension of `fraud_detector.py:249-267`
    (:data:`_STUDY_SPACE`) drawn per trial from the same md5 buckets
    (RNG-free, bit-stable; the oracle unrolls the identical draws).
    The stochastic axes draw from the gated domain at the correctness
    scales (sf0.01/sf0.1) — like every GBT id, the toy sf0.001 frame
    is out of domain for depth-3 trials."""
    return _sampled_trials(RS_FULL_TRIALS, "f", _STUDY_SPACE)
