"""Round-15 trainer extensions: depth-3 boosting, deterministic
row/column subsampling, the depth-axis grid, and 3-fold CV selection.

Closes the remaining distance to the hyperparameter space the
reference's Optuna study actually sweeps
(`ml/models/fraud_detector.py:249-276`): ``max_depth`` (swept 3-9;
engine default was fixed at 2), ``subsample`` / ``colsample_bytree``
(0.6-1.0; stochastic in XGBoost, content-hash-deterministic here),
and the cv=3 ``roc_auc`` selection objective (`:268-271`). All five
queries hash-gate against generated DuckDB oracles that unroll the
identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    gbt_model_selection_sql,
    gbt_score_band_sql,
    gbt_trained_score_expr,
    selection_frame,
    train_gbt_grid,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_cv import (
    GBT_MS_CONFIGS,
    cv_scores,
    gbt_cv_fold_aucs,
    gbt_cv_selection_sql,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import (
    GBT_DEPTH,
    GBT_DEPTH_CONFIGS,
    gbt_train_deep_sql,
    train_gbt_deep,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import r6
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_scoring import (
    _FV_SQL,
    _band_summary,
    _fold_splits,
    _holdout_losses,
    _logreg_fv,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import memo

#: Subsampled-booster hyperparameters — the deterministic stand-ins
#: for the reference's stochastic subsample/colsample_bytree draws
#: (fraud_detector.py:262-264, both swept 0.6-1.0; these sit inside
#: that range). Part of the query identity: the oracle applies the
#: identical hash predicate / md5 column schedule.
SUB_ROWS = 0.8
SUB_COLS = 0.75


# Tree lists, CV AUCs and covers below are memoized per process like
# _trained_gbt; bench.py's trainer_cold series reports every member's
# honest cache-cleared cost.
def _trained_deep(spark: SparkSession, sf_dir: str) -> list[dict]:
    return memo(
        spark, sf_dir, "gbt_deep", lambda: train_gbt_deep(_logreg_fv(spark, sf_dir))
    )


def _deep_tree_rows(trees: list[dict]) -> list[tuple]:
    """One NULL-free row per internal node: heap id, split, round6
    gain, and (for last-level internal nodes) the two round6 child
    leaf values — the exact rows gbt_train_deep_sql emits."""
    rows = []
    for t, tr in enumerate(trees):
        first_leaf_parent = 2 ** (tr["depth"] - 1)
        for n, (fidx, b) in sorted(tr["splits"].items()):
            if n >= first_leaf_parent:
                rows.append(
                    (
                        t,
                        n,
                        SCORE_FEATURES[fidx],
                        b,
                        r6(tr["gains"][n]),
                        r6(tr["leaves"][2 * n]),
                        r6(tr["leaves"][2 * n + 1]),
                        1,
                    )
                )
            else:
                rows.append(
                    (t, n, SCORE_FEATURES[fidx], b, r6(tr["gains"][n]), 0.0, 0.0, 0)
                )
    return rows


_DEEP_SCHEMA = (
    "tree int, node long, feature string, split_bin long, gain double, "
    "w_left double, w_right double, is_leaf_parent int"
)


@query(
    "q_gbt_train_deep",
    oracle=gbt_train_deep_sql(_FV_SQL),
    tags=("training", "scoring", "iterative", "trees"),
)
def q_gbt_train_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-3 histogram gradient boosting — one level past
    q_gbt_train, into the max_depth range the reference actually
    tunes (`fraud_detector.py:258`: 3-9). Per round THREE distributed
    aggregates (levels 0/1/2 histograms over heap-indexed nodes —
    the widest is 4·8·16 integer cells, map-side combined, bytes not
    rows); split finding/gains/leaves reuse q_gbt_train's exact
    integer-micro arithmetic, so the 7-split/8-leaf trees are
    bit-identical on any layout (NumPy replay + layout law in
    tests/test_gbt_deep.py). Output: one NULL-free row per internal
    node (heap id, split feature/bin, round6 gain; last-level rows
    carry their two child leaf values). The oracle unrolls the same
    rounds level by level as generated MATERIALIZED CTEs."""
    trees = _trained_deep(spark, sf_dir)
    return spark.createDataFrame(_deep_tree_rows(trees), _DEEP_SCHEMA)


@query(
    "q_gbt_deep_score",
    oracle=gbt_score_band_sql(_FV_SQL, depth=GBT_DEPTH),
    tags=("training", "scoring", "iterative", "trees"),
)
def q_gbt_deep_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→apply closure at depth 3: score every row with the deep
    ensemble q_gbt_train_deep just fitted (8-leaf CASE cascades over
    recomputed bins — row-local in codegen, zero joins), band 3-way,
    report per-band volume / mean probability / realized event rate.
    The oracle re-trains via the unrolled deep rounds and scores the
    final per-row logit — the whole depth-3 boosting loop hash-gates
    end-to-end (q_gbt_train_score's shape, one level deeper)."""
    fv = _logreg_fv(spark, sf_dir)
    trees = _trained_deep(spark, sf_dir)
    return _band_summary(fv.select("label", gbt_trained_score_expr(trees).alias("s")))


@query(
    "q_gbt_train_subsample",
    oracle=gbt_train_deep_sql(
        _FV_SQL, depth=2, subsample=SUB_ROWS, colsample=SUB_COLS
    ),
    tags=("training", "scoring", "iterative", "trees"),
)
def q_gbt_train_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic GBT without RNG — the reference's subsample /
    colsample_bytree dimensions (`fraud_detector.py:262-264`, both
    swept 0.6-1.0 by Optuna) as content-hash schedules: each round's
    histograms see only rows with hash60(o_orderkey || '#r<t>') %
    100 < 80 (the q_train_test_split discipline with a round salt)
    and only the 6-of-8 features ranked first by md5(feature ||
    '#r<t>'); the ensemble update still applies to every row
    (XGBoost's semantics). Deterministic by construction —
    append-stable, layout-independent (law-pinned in
    tests/test_gbt_deep.py: the subsampled booster differs from the
    full fit but is bit-stable across repartitions) — and the oracle
    applies the IDENTICAL predicate and column schedule, so the
    sampled trees hash-gate like the exact ones."""
    trees = memo(
        spark, sf_dir, "gbt_subsample",
        lambda: train_gbt_deep(
            _logreg_fv(spark, sf_dir),
            depth=2,
            subsample=SUB_ROWS,
            colsample=SUB_COLS,
        ),
    )
    return spark.createDataFrame(_deep_tree_rows(trees), _DEEP_SCHEMA)


@query(
    "q_gbt_depth_selection",
    oracle=gbt_model_selection_sql(_FV_SQL, GBT_DEPTH_CONFIGS),
    tags=("training", "evaluation", "selection", "trees"),
)
def q_gbt_depth_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_depth as a swept grid axis — the largest dimension of the
    reference's Optuna space q_gbt_model_selection didn't cover
    (`fraud_detector.py:258`: max_depth 3-9; the engine brackets its
    depth-2 default against depth 3 at two round counts and two
    learning rates). All 4 configs fit on the hash-split train fold
    via the FUSED grid trainer (train_gbt_grid: per round per LEVEL
    one shared stacked aggregate carries every config still active at
    that (round, level) — trees bit-identical to the sequential fold,
    law-pinned); ONE holdout scan sums every
    config's decimal-folded log-loss; is_best ranks by (val_logloss,
    config). The oracle re-trains all four via namespaced unrolled
    deep chains and replays each on the holdout fold.

    Domain note: a depth-3 tree needs every level-2 node to have ≥2
    occupied bins in SOME feature; on the toy sf0.001 frame (~1.2k
    train-fold rows) one node goes single-bin-everywhere and the
    gated-domain ValueError fires (the oracle error()s identically).
    The driver's correctness gate (sf0.01) and bench (sf0.1) are
    in-domain, as is any realistic scale — the depth axis exists FOR
    large data."""
    def build():
        tr, va = _fold_splits(spark, sf_dir)
        trees_all = train_gbt_grid(tr, GBT_DEPTH_CONFIGS)
        return _holdout_losses(va, trees_all, GBT_DEPTH_CONFIGS)

    losses = memo(spark, sf_dir, "gbt_depth_grid", build)
    return selection_frame(spark, GBT_DEPTH_CONFIGS, [("val_logloss", losses)])


@query(
    "q_model_selection_cv",
    oracle=gbt_cv_selection_sql(_FV_SQL),
    tags=("training", "evaluation", "selection", "trees"),
)
def q_model_selection_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL selection objective — 3-fold
    cross-validated ROC AUC (`fraud_detector.py:268-271`:
    cross_val_score(cv=3, scoring='roc_auc').mean()) — next to (not
    replacing) q_gbt_model_selection's holdout log-loss. Folds =
    hash60(o_orderkey) % 3 (q_kfold's deterministic assignment); per
    fold the FUSED depth-2 grid fits all 4 configs on the complement,
    ONE stacked scan scores the held-out fold, and one distributed
    rank-sum aggregate (q_model_card's exact Mann-Whitney machinery,
    windowed per (fold, config) over the bounded distinct-score
    table) yields all 12 fold AUCs; per config the round6
    left-associated mean ranks the grid (max AUC, config tie-break).
    The oracle unrolls all 12 boosting chains + fold replays +
    rank-sum AUCs — CROSS-VALIDATION ITSELF hash-gates."""
    aucs = memo(
        spark, sf_dir, "gbt_cv", lambda: gbt_cv_fold_aucs(_logreg_fv(spark, sf_dir))
    )
    return selection_frame(spark, GBT_MS_CONFIGS, cv_scores(aucs), desc=True)


# --- exact TreeSHAP for the depth-3 booster (ext/shap.py) ---------------------

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.shap import gbt_shap_sql  # noqa: E402
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_scoring import _shap_band_means  # noqa: E402


@query(
    "q_gbt_shap_deep",
    oracle=gbt_shap_sql(_FV_SQL, depth=GBT_DEPTH),
    tags=("training", "evaluation", "explanation", "trees"),
)
def q_gbt_shap_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-prediction attribution for the DEPTH-3 booster —
    VERDICT r14's 'generalize the closed form' option taken: the
    reference's shap.TreeExplainer (`fraud_detector.py:185-191`) over
    the deeper trees its study actually tunes (`:258`). The depth-2
    construction (q_gbt_shap) widens, it does not change: ≤ 2⁷
    subsets of each tree's ≤ 7 unique features, cover-weighted
    conditional expectations from training row counts (ONE
    14-sums-per-tree aggregate), per-(tree, 7-bit branch pattern) φ6
    tables precomputed driver-side, per-row φ as one element_at into
    a 128-literal array indexed by the row's branch pattern —
    row-local, stateless, zero joins: q_gbt_shap's ext/shap engine
    and catalog helper, fed the depth-3 trees. Terms micro-floor
    before summation, so the (risk band, feature) mean-φ/mean-|φ|
    artifact is order-independent and hash-gates; the oracle re-trains the
    deep chain and runs the identical enumeration relationally.
    Additivity Σφ = tree − base pinned exactly in Fractions against
    a brute-force 7-player Shapley replay (tests/test_shap_deep.py)."""
    return _shap_band_means(spark, sf_dir, _trained_deep(spark, sf_dir), "deep_covers")


# --- the last two Optuna dimensions: min_child_weight, reg_alpha --------------

#: Mid-range values from the reference's study space
#: (`fraud_detector.py:265-266`: min_child_weight 1-10, reg_alpha
#: 0-1). Part of the query identity — the oracles apply the exact
#: same integer-micro constraints.
MCW = 5.0
REG_ALPHA = 0.5


@query(
    "q_gbt_train_mcw",
    oracle=gbt_train_deep_sql(_FV_SQL, depth=2, min_child_weight=MCW),
    tags=("training", "scoring", "iterative", "trees"),
)
def q_gbt_train_mcw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_child_weight as XGBoost defines it (`fraud_detector.py:
    265`, swept 1-10): a split candidate is admissible only if BOTH
    children carry ≥ 5.0 total hessian — enforced EXACTLY in integer
    micros on the same cumulative histogram sums the argmax already
    walks (hl_m ≥ 5e6 and h_m − hl_m ≥ 5e6; no extra pass, no new
    shuffle). Early in training h ≈ 0.25/row, so this is ≈ a 20-row
    minimum per child — the overfit guard that matters exactly where
    deep trees fragment. The oracle applies the identical constraint
    in its candidate WHERE (plus the per-node admissibility error()
    twin, since a node can now be non-degenerate yet have no valid
    candidate). Output: the q_gbt_train_deep row shape at depth 2."""
    trees = memo(
        spark, sf_dir, "gbt_mcw",
        lambda: train_gbt_deep(
            _logreg_fv(spark, sf_dir), depth=2, min_child_weight=MCW
        ),
    )
    return spark.createDataFrame(_deep_tree_rows(trees), _DEEP_SCHEMA)


@query(
    "q_gbt_train_l1",
    oracle=gbt_train_deep_sql(_FV_SQL, depth=2, reg_alpha=REG_ALPHA),
    tags=("training", "scoring", "iterative", "trees"),
)
def q_gbt_train_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reg_alpha — XGBoost's L1 leaf regularization
    (`fraud_detector.py:266`, swept 0-1): every gradient sum passes
    ThresholdL1 (g−α if g>α, g+α if g<−α, else 0) before entering
    split gains and leaf values, shrinking leaves toward 0 and
    zeroing weak ones. The threshold runs on INTEGER MICRO sums, so
    it is exact and layout-independent on both engines (α=0 is
    bit-identical to q_gbt_train — law-pinned in
    tests/test_gbt_deep.py); the oracle's gain and leaf expressions
    carry the identical CASE thresholds. With this, every dimension
    of the reference's Optuna space is implemented and hash-gated:
    n_estimators (rounds), learning_rate (eta), max_depth, subsample,
    colsample_bytree, min_child_weight, reg_alpha, reg_lambda, and
    scale_pos_weight."""
    trees = memo(
        spark, sf_dir, "gbt_l1",
        lambda: train_gbt_deep(
            _logreg_fv(spark, sf_dir), depth=2, reg_alpha=REG_ALPHA
        ),
    )
    return spark.createDataFrame(_deep_tree_rows(trees), _DEEP_SCHEMA)
