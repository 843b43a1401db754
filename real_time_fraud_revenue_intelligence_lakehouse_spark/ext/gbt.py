"""Distributed, deterministic gradient-boosted-tree TRAINING — the one
boosting engine every trainer in ext/ runs on.

The reference's actual model family is XGBoost with histogram split
finding (`ml/models/fraud_detector.py:36,154` —
``XGBClassifier(tree_method="hist")``, fitted by `train.py:201` after
pulling the feature table to one machine), tuned by a 3-fold CV
Optuna study. ``tree_method=hist`` is literally an aggregation
pipeline, so this module fits it as Spark aggregates:

- **Binning**: each feature quantizes once into ``GBT_BINS`` fixed
  buckets of its scaled [0,1] range (the FEATURE_SCALES discipline).
  :func:`_binned_frame` then collapses the rows to distinct
  (label, fold, subsample-bucket, bin) vectors with exact ``__cnt``
  multiplicities — histogram boosting's weighted-instance form.
- **Descent** (:func:`_descend`): the input is that one frame plus a
  list of (fold, nine-axis config) models. Per round every model's
  sigmoid and micro-floored gradient/hessian integers are staged once
  and the working frame is persisted; per (round, level) ONE stacked
  ``groupBy(m, node, feature, bin)`` sums every model's integer
  micros side by side (≤ models·2^L·d·B cells — bytes, not rows,
  cross the wire). The greedy argmax of the XGBoost gain
  ``G_L²/(H_L+λ) + G_R²/(H_R+λ) − G²/(H+λ)`` over each node's
  cumulative bins is a deterministic driver fold (gain desc, feature
  index asc, bin asc), and leaf values ``w = −G/(H+λ)`` come from the
  SAME histogram. Trees are heap-indexed (root=1, children of n are
  2n/2n+1).
- **Axes**: depth; row subsample (a per-round content-hash bucket and
  a post-stack filter); column subsample (plan-time stack entries);
  scale_pos_weight (inside the staged gm/hm); min_child_weight and
  reg_alpha (driver-side, in :func:`_argmax_split_sub`); CV folds (a
  post-stack ``fold != __fold`` filter keeps each model's complement).
- **Boosting**: each model's partial ensemble logit rides as a
  persisted ``__f_<m>`` column, so no plan holds more than one tree
  cascade per model.

Every trainer — :func:`train_gbt`, :func:`train_gbt_grid` (any 4-,
5- or nine-axis grid), ext/gbt_deep's ``train_gbt_deep`` and the
k-fold models of ext/gbt_cv's ``gbt_cv_fold_aucs`` (:func:`_fit` with
a fold column: one model per (fold, config)) — is a thin mapping of
its arguments onto engine models, and every one returns the engine's
heap trees as they come. One node recursion reads them:
:func:`tree_logit_raw` (raw feature columns, the serving form),
:func:`partial_logits` / :func:`gbt_trained_logit_expr` (its
ensemble, per round or whole) and :func:`deep_tree_logit_on_bins` (the
engine's own bin columns); ext/shap explains them and
ext/model_registry stores them, at any depth. Every selection query
builds its output with :func:`selection_frame` (the :func:`best_config`
pick, the engine twin of :func:`_selection_sql`).

Determinism contract (the q_logreg_train conventions, extended to
tree structure): probabilities det-round to 6 before the gradient;
gradient/hessian contributions are integer micros summed exactly;
gains are IEEE doubles computed by the identical expression in Spark
(driver Python), generated DuckDB SQL, and the NumPy replays
(tests/test_gbt*.py), so the argmax — and therefore the TREE ITSELF —
is bit-identical across engines, partition layouts, and model
stackings.

The DuckDB oracle is one generator per concern, at any depth, and
every GBT and SHAP oracle is built from them: :func:`_gbt_chain_ctes`
unrolls one model's rounds as MATERIALIZED CTE blocks (per-row
node/side resolution goes through the stacked long form joined to
the per-level best-split tables, the standard trick for "CASE on a
data-dependent column name" in SQL), :func:`_gbt_replay_ctes` replays
a trained chain on a holdout frame, :func:`_auc_ctes` is the rank-sum
AUC, and :func:`_trial_parts` / :func:`_selection_sql` are the
train/holdout or k-fold selection scaffold. The depth-2 oracles call
them with depth 2. The oracle shares only pure helpers with the
engine (bins, gain and leaf formulas, the column schedule); it is
SQL, so it checks the engine rather than re-running it.

Degenerate-frame contract: the engine raises ValueError on an empty
frame ("empty feature frame") and on a node with no admissible split
("unsplittable …"); the oracle calls DuckDB ``error()`` on the same
inputs (the chain's ``nz`` and per-level guards), so both engines
fail loudly instead of the oracle inventing NULL-structured trees.
The toy sf0.001 frame is outside this domain for some depth-3 trials.

Cites: reference `ml/models/fraud_detector.py:36,154` (XGBClassifier,
tree_method=hist), `ml/models/train.py:201` (fit call),
`FINAL_VALIDATION_REPORT.md:349-419` (model card) — semantics
reproduced, execution re-architected.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import RISK_LABEL_SQL, SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import ROC_SWEEP_SQL, _x_expr, _x_sql, model_metrics_ctes
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    H60_OK_SQL,
    MICRO,
    R6_SQL,
    SIGMOID6_F_SQL,
    det_round,
    r6,
)

#: Fixed hyper-parameters — part of the query's identity (the oracle
#: unrolls exactly this many rounds at exactly this shrinkage).
#: 3 depth-2 trees × 16 bins is the smallest REAL boosting run: the
#: round-2/3 trees fit the residuals the earlier trees leave, which a
#: NumPy sweep confirms (log-loss 0.6931 → 0.6372 → 0.6365 → 0.6362
#: on sf0.01; each later tree moves the loss, so the boosting — not
#: just the first tree — is what the hash gates).
GBT_ROUNDS = 3
GBT_BINS = 16
GBT_LAMBDA = 1.0
GBT_ETA = 0.3

def _bin_expr(f: str, scales: dict[str, float] | None) -> Column:
    """least(greatest(floor(x_scaled·B), 0), B−1) with B = GBT_BINS —
    identical text in :func:`_bin_sql`; features are scaled into [0,1]
    so the clamp only catches the exact-1.0 boundary."""
    raw = F.floor(_x_expr(f, scales) * F.lit(float(GBT_BINS)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(GBT_BINS - 1)).cast("long")


def _bin_sql(f: str) -> str:
    return (
        f"CAST(least(greatest(floor(({_x_sql(f)}) * {float(GBT_BINS)!r}), 0), "
        f"{GBT_BINS - 1}) AS BIGINT)"
    )


# --- split finding ------------------------------------------------------------


def _thr(g_micro: int, alpha_micro: int) -> int:
    """XGBoost's ThresholdL1 on an integer micro gradient sum — EXACT
    integer arithmetic, identical on both engines: g−α if g>α, g+α if
    g<−α, else 0. α=0 is the identity (the unregularized path)."""
    if g_micro > alpha_micro:
        return g_micro - alpha_micro
    if g_micro < -alpha_micro:
        return g_micro + alpha_micro
    return 0


def _gain(
    glm: int, hlm: int, gm: int, hm: int, lam: float, alpha_micro: int = 0
) -> float:
    """XGBoost split gain from integer micro-sums, every gradient sum
    L1-thresholded by reg_alpha (`fraud_detector.py:266`; α=0 is the
    identity) — the EXACT expression the SQL oracles write (same
    operation order, so the resulting doubles are bit-identical and
    the argmax transfers)."""
    gl = _thr(glm, alpha_micro) / 1e6
    hl = hlm / 1e6
    gr = _thr(gm - glm, alpha_micro) / 1e6
    hr = (hm - hlm) / 1e6
    g = _thr(gm, alpha_micro) / 1e6
    h = hm / 1e6
    return (gl * gl) / (hl + lam) + (gr * gr) / (hr + lam) - (g * g) / (h + lam)


def _thr_sql(x: str, a: int) -> str:
    """SQL twin of :func:`_thr` — exact integer thresholding; α=0 is
    the identity, as in the engine."""
    if not a:
        return x
    return f"(CASE WHEN {x} > {a} THEN {x} - {a} WHEN {x} < -{a} THEN {x} + {a} ELSE 0 END)"


def _gain_sql(glm: str, hlm: str, gm: str, hm: str, lam: float, a: int = 0) -> str:
    """SQL twin of :func:`_gain` (``a`` = reg_alpha in micros)."""
    gl = f"(CAST({_thr_sql(glm, a)} AS DOUBLE) / 1000000.0)"
    hl = f"(CAST({hlm} AS DOUBLE) / 1000000.0)"
    gr = f"(CAST({_thr_sql(f'({gm} - {glm})', a)} AS DOUBLE) / 1000000.0)"
    hr = f"(CAST({hm} - {hlm} AS DOUBLE) / 1000000.0)"
    g = f"(CAST({_thr_sql(gm, a)} AS DOUBLE) / 1000000.0)"
    h = f"(CAST({hm} AS DOUBLE) / 1000000.0)"
    return (
        f"({gl} * {gl}) / ({hl} + {lam!r}) + ({gr} * {gr}) / ({hr} + {lam!r})"
        f" - ({g} * {g}) / ({h} + {lam!r})"
    )


def _leaf_w(glm: int, hlm: int, lam: float, alpha_micro: int = 0) -> float:
    """w = −ThresholdL1(G)/(H+λ) from integer micro-sums — same text as
    the SQL; α=0 is XGBoost's plain −G/(H+λ)."""
    return -(_thr(glm, alpha_micro) / 1e6) / ((hlm / 1e6) + lam)


def _leaf_sql(gm: str, hm: str, lam: float, a: int = 0) -> str:
    """SQL twin of :func:`_leaf_w`."""
    return (
        f"-(CAST({_thr_sql(gm, a)} AS DOUBLE) / 1000000.0)"
        f" / ((CAST({hm} AS DOUBLE) / 1000000.0) + {lam!r})"
    )


def _argmax_split_sub(
    cells: list[tuple[int, int, int, int]],
    active: tuple[int, ...],
    lam: float,
    mcw_micro: int = 0,
    alpha_micro: int = 0,
) -> tuple[int, int, int, int, int, int, float]:
    """Greedy best split over histogram cells (fidx, bin, gs, hs) of
    the eligible features ``active``: returns (fidx, bin, gl_m, hl_m,
    g_m, h_m, gain). Node totals come from the smallest eligible
    feature's cells (every row carries every feature, so any one
    feature's cells partition the node). Strictly-greater gain wins,
    so ties keep the smallest (fidx, bin) — matching ORDER BY gain
    DESC, fidx, bin LIMIT 1.

    Candidates are INTERIOR only — each feature's last occupied bin
    is excluded (its "split" sends every row left; XGBoost's
    enumeration never proposes a split with an empty child). With
    ``mcw_micro`` (min_child_weight, `fraud_detector.py:265`) both
    children must also carry that much hessian. A node with no
    admissible candidate raises ValueError, and so does an empty
    frame (the gated-domain contract; the SQL oracles' chk CTEs
    error() identically)."""
    if not cells:
        raise ValueError(
            "empty feature frame: GBT training needs at least one row "
            "— outside the gated GBT domain"
        )
    by_f: dict[int, list[tuple[int, int, int]]] = {}
    for fidx, b, gs, hs in cells:
        by_f.setdefault(fidx, []).append((b, gs, hs))
    f0 = min(active)
    g_m = sum(gs for _b, gs, _hs in by_f[f0])
    h_m = sum(hs for _b, _gs, hs in by_f[f0])
    best = None
    for fidx in active:
        glm = 0
        hlm = 0
        for b, gs, hs in sorted(by_f.get(fidx, []))[:-1]:
            glm += gs
            hlm += hs
            if mcw_micro and (hlm < mcw_micro or (h_m - hlm) < mcw_micro):
                continue
            gain = _gain(glm, hlm, g_m, h_m, lam, alpha_micro)
            if best is None or gain > best[0]:
                best = (gain, fidx, b, glm, hlm)
    if best is None:
        raise ValueError(
            "unsplittable node: no admissible split exists (every "
            "eligible feature single-bin, or no candidate satisfies "
            "min_child_weight) — the input is outside the gated GBT domain"
        )
    gain_v, fidx, b, glm, hlm = best
    return fidx, b, glm, hlm, g_m, h_m, gain_v


def _argmax_split(
    cells: list[tuple[int, int, int, int]],
    features: tuple[str, ...],
    lam: float,
) -> tuple[int, int, int, int, int, int, float]:
    """:func:`_argmax_split_sub` over every feature."""
    return _argmax_split_sub(cells, tuple(range(len(features))), lam)


# --- deterministic sampling schedules -----------------------------------------


def col_subset(
    features: tuple[str, ...], t: int, colsample: float | None
) -> tuple[int, ...]:
    """The round-``t`` eligible feature INDICES under
    ``colsample_bytree``: rank by md5(feature || '#r<t>'), keep the
    first max(1, floor(colsample·d)), return in ascending original
    index order (the argmax tie-break iterates original order). Pure
    plan-time function — engine and oracle call the same code."""
    if colsample is None or colsample >= 1.0:
        return tuple(range(len(features)))
    k = max(1, math.floor(colsample * len(features)))
    ranked = sorted(
        range(len(features)),
        key=lambda i: hashlib.md5(
            f"{features[i]}#r{t}".encode()
        ).hexdigest(),
    )
    return tuple(sorted(ranked[:k]))


def _sub_pct(subsample: float) -> int:
    return int(round(subsample * 100))


def _sub_ranks(configs) -> tuple[list[int], list[int]]:
    """(thresholds, ranks) for the row subsample: the configs' distinct
    percentages ascending, and each config's 1-based rank among them
    (len+1 = no sampling). A row's round-t selection hash
    ``h = hash60(o_orderkey ‖ '#r<t>') % 100`` enters the frame only
    as its bucket ``#{thr ≤ h}``, and ``h < pct_c ⟺ bucket < rank_c``
    — the bucket carries every per-(row, config, round) decision bit."""
    pcts = [
        100 if c[5] is None or c[5] >= 1.0 else _sub_pct(c[5]) for c in configs
    ]
    thrs = sorted({p for p in pcts if p < 100})
    ranks = [thrs.index(p) + 1 if p < 100 else len(thrs) + 1 for p in pcts]
    return thrs, ranks


# --- tree expressions over the working frame's bin columns ---------------------


def _tree_logit(tree: dict, bcol) -> Column:
    """Heap tree value: node n sends a row left when ``bcol(fidx)``,
    its bin of the split feature, is ≤ the split bin; leaves are
    literals. The one node recursion every compiler shares."""

    def node_expr(n: int) -> Column:
        if n in tree["leaves"]:
            return F.lit(float(tree["leaves"][n]))
        fidx, b = tree["splits"][n]
        return F.when(bcol(fidx) <= b, node_expr(2 * n)).otherwise(
            node_expr(2 * n + 1)
        )

    return node_expr(1)


def deep_tree_logit_on_bins(tree: dict, features: tuple[str, ...]) -> Column:
    """Heap tree value over the b_<feature> bin columns of a binned
    frame (the engine's inner loop and the holdout scorers)."""
    return _tree_logit(tree, lambda fidx: F.col(f"b_{features[fidx]}"))


def tree_logit_raw(
    tree: dict,
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
) -> Column:
    """Heap tree value over RAW feature columns (bins recomputed
    row-locally) — the serving form, at any depth."""
    return _tree_logit(tree, lambda fidx: _bin_expr(features[fidx], scales))


def _ensemble_on_bins(
    trees: list[dict], eta: float, features: tuple[str, ...]
) -> Column:
    """Left-associated ensemble logit Σ η·tree over the bin columns."""
    z: Column = F.lit(0.0)
    for tr in trees:
        z = z + F.lit(float(eta)) * deep_tree_logit_on_bins(tr, features)
    return z


def _stack_scores(
    frame: DataFrame,
    ensembles: list[list[dict]],
    etas: list[float],
    features: tuple[str, ...],
) -> DataFrame:
    """(label, __cnt, cfg, s): each config's round6 sigmoid staged as a
    column of ``frame`` (label, b_* bins, __cnt), stacked long."""
    staged = frame.select(
        "label",
        "__cnt",
        *[
            det_round(
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-_ensemble_on_bins(trs, eta, features))),
                6,
            ).alias(f"s_{i}")
            for i, (trs, eta) in enumerate(zip(ensembles, etas))
        ],
    )
    pairs = ", ".join(f"{i}, s_{i}" for i in range(len(ensembles)))
    return staged.selectExpr(
        "label", "__cnt", f"stack({len(ensembles)}, {pairs}) AS (cfg, s)"
    )


def _rank_sum_aucs(scored: DataFrame, keys: tuple[str, ...]) -> dict:
    """Round6 exact Mann-Whitney AUC (average-rank ties) per ``keys``
    group of a (keys…, s, label, __cnt) frame — the keyed AUC
    reduction (selection, CV and early-stopping ladders), windowed
    per group over the BOUNDED distinct-score table (a compiled
    ensemble emits few distinct round6 scores) and reduced by ONE
    aggregate (one scalar per group to the driver). A one-class group
    scores 0.0, as the oracles write. Its global twin, for one
    unbounded score table, is ext/training.model_metrics; each group
    here equals model_metrics on that group alone (pinned in
    tests/test_training.py). :func:`_auc_ctes` is the SQL twin."""
    grp = scored.groupBy(*keys, "s").agg(
        F.sum("__cnt").alias("n"),
        F.sum(F.col("label").cast("long") * F.col("__cnt")).alias("np"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grp.withColumn("cum_n", F.coalesce(F.sum("n").over(w), F.lit(0)))
    # model_metrics' avg-rank text
    avg_rank = (F.col("cum_n") + (F.col("n") + 1) / 2.0).cast("decimal(28,1)")
    rs = F.col("np").cast("decimal(28,1)") * avg_rank
    agg = cum.groupBy(*keys).agg(
        F.sum(rs).alias("rank_sum"),
        F.sum("np").alias("n_pos"),
        (F.sum("n") - F.sum("np")).alias("n_neg"),
    )
    out = {}
    for r in agg.collect():
        n_pos, n_neg = int(r["n_pos"]), int(r["n_neg"])
        raw = (
            0.0
            if n_pos == 0 or n_neg == 0
            else (float(r["rank_sum"]) - float(n_pos) * (n_pos + 1) / 2)
            / (float(n_pos) * n_neg)
        )
        out[tuple(r[k] for k in keys)] = r6(raw)
    return out


# --- the engine -----------------------------------------------------------------

#: An engine config: (name, rounds, eta, lam, depth, subsample,
#: colsample, min_child_weight, reg_alpha, pos_weight) — the nine
#: axes of the reference's Optuna space plus a name. subsample /
#: colsample None or ≥1, and pos_weight None or 1, switch the axis off.
FullConfig = tuple[str, int, float, float, int, float, float, float, float, float]


def _cfg(
    name: str,
    rounds: int,
    eta: float,
    lam: float,
    depth: int = 2,
    subsample: float | None = None,
    colsample: float | None = None,
    min_child_weight: float = 0.0,
    reg_alpha: float = 0.0,
    pos_weight: float | None = None,
) -> FullConfig:
    """Widen a trainer's arguments (or a 4-/5-field grid config) to a
    nine-axis engine config."""
    return (name, rounds, eta, lam, depth, subsample, colsample,
            min_child_weight, reg_alpha, pos_weight)


def _binned_frame(
    fv: DataFrame,
    configs,
    features: tuple[str, ...],
    scales: dict[str, float] | None,
    fold_col: Column | None = None,
) -> DataFrame:
    """The engine's one input frame for ``configs``: distinct (label,
    __fold?, __k_<t> subsample buckets, b_* bins) vectors with an exact
    ``__cnt`` multiplicity. Every per-row quantity the descent computes
    is a pure function of these columns, so summing ``__cnt·gm`` over
    the distinct rows is the same integer as summing ``gm`` over the
    raw rows — trees are bit-identical (NumPy-replay- and law-pinned)
    — and at bench scale the rows drop 43× (600k → 14,022). The id
    itself never enters the frame: subsampling reads only the
    per-round bucket (see :func:`_sub_ranks`).

    Single-fold frames coalesce to defaultParallelism/8 partitions:
    after the row cut every (round, level) histogram job is
    task-launch-bound (train_gbt_deep at local[32]: 4.9 s at 32 parts
    → 2.2 s at 4), and the divisor keeps a 1000-core cluster at 125
    tasks. Fold frames (``fold_col`` set) stay at full parallelism:
    their stacks multiply every row by folds × configs × features, a
    compute-bound generate+aggregate (25 s narrow vs 17 s wide on
    q_model_selection_cv_full)."""
    thrs, _ranks = _sub_ranks(configs)
    key_rounds = max(c[1] for c in configs) if thrs else 0

    def bucket(t: int) -> Column:
        key = F.concat(F.col("o_orderkey").cast("string"), F.lit(f"#r{t}"))
        h = hash60(key) % 100
        b: Column = F.lit(0)
        for thr in thrs:
            b = b + (h >= F.lit(thr)).cast("int")
        return b.alias(f"__k_{t}")

    vec = fv.select(
        "label",
        *([] if fold_col is None else [fold_col.cast("int").alias("__fold")]),
        *[bucket(t) for t in range(key_rounds)],
        *[_bin_expr(f, scales).alias(f"b_{f}") for f in features],
    )
    dp = fv.sparkSession.sparkContext.defaultParallelism
    return (
        vec.groupBy(*vec.columns)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .coalesce(dp if fold_col is not None else max(1, dp // 8))
    )


def _models(configs, folds: int | None) -> list[tuple[int | None, FullConfig]]:
    """Engine models: one per config, or every (fold, config) pair
    fold-major when ``folds`` is set."""
    if folds is None:
        return [(None, c) for c in configs]
    return [(f, c) for f in range(folds) for c in configs]


def _descend(
    binned: DataFrame,
    models: list[tuple[int | None, FullConfig]],
    features: tuple[str, ...],
) -> list[list[dict]]:
    """Fit every (fold, config) model over ONE :func:`_binned_frame`
    built from the same configs (with ``__fold`` iff the models carry
    folds). Returns each model's heap-indexed trees::

        {"depth": d, "splits": {node: (fidx, bin)},
         "gains": {node: gain}, "leaves": {leaf: w}}

    Per round: each live model's sigmoid (det-round 6) and micro-
    floored gm/hm (×scale_pos_weight in the g·w·1e6 op order, ×__cnt)
    are staged once into a persisted working frame — the SQL oracle's
    own rows{t} discipline; the persist materializes inside the level-0
    job and the previous round's frame is released once its successor
    exists (and every held frame on any failure). Per (round, level):
    ONE stacked aggregate over every model still descending; model
    m's entries enumerate only its round's eligible features, the
    post-stack filters keep its complement fold and subsampled rows,
    and its node column is its own heap path. Per-model arithmetic is
    independent and identically ordered, so each model's trees are
    bit-identical to fitting it alone (law-pinned), and the job count
    is set by the (rounds, depth) envelope, not the model count."""
    cfgs = [c for _f, c in models]
    folded = models[0][0] is not None
    thrs, ranks = _sub_ranks(cfgs)
    max_rounds = max(c[1] for c in cfgs)
    keep = [
        "label",
        *(["__fold"] if folded else []),
        *[f"b_{f}" for f in features],
        "__cnt",
    ]
    # each stack entry leads with its model id (and fold)
    key = [
        f"{m}, " + ("" if f is None else f"{f}, ")
        for m, (f, _c) in enumerate(models)
    ]
    trees: list[list[dict]] = [[] for _ in models]
    state = binned
    held: list[DataFrame] = []
    try:
        for t in range(max_rounds):
            live = [m for m, c in enumerate(cfgs) if c[1] > t]
            ks = [f"__k_{t_}" for t_ in range(t, max_rounds)] if thrs else []
            staged = state
            for m in live:
                z = F.col(f"__f_{m}") if t else F.lit(0.0)
                staged = staged.withColumn(
                    f"__p_{m}",
                    det_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6),
                )
            cols: list = [*keep, *ks, *([f"__f_{m}" for m in live] if t else [])]
            for m in live:
                p = F.col(f"__p_{m}")
                g = p - F.col("label").cast("double")
                h = p * (F.lit(1.0) - p)
                spw = cfgs[m][9]
                if spw is not None and float(spw) != 1.0:
                    wgt = F.when(
                        F.col("label") == 1, F.lit(float(spw))
                    ).otherwise(F.lit(1.0))
                    g, h = g * wgt, h * wgt
                # ×__cnt: the distinct row stands for cnt identical raw
                # rows (see _binned_frame) — sums stay exact integers
                for name, v in ((f"gm_{m}", g), (f"hm_{m}", h)):
                    cols.append(
                        (F.floor(v * F.lit(MICRO) + F.lit(0.5)).cast("long")
                         * F.col("__cnt")).alias(name)
                    )
            work = staged.select(*cols).persist()
            held.append(work)
            active = {m: col_subset(features, t, cfgs[m][6]) for m in live}
            node: dict[int, Column] = {m: F.lit(1) for m in live}
            new = {
                m: {"depth": cfgs[m][4], "splits": {}, "gains": {}, "leaves": {}}
                for m in live
            }
            for lvl in range(max(cfgs[m][4] for m in live)):
                lv = [m for m in live if cfgs[m][4] > lvl]
                work_l = work
                for m in lv:
                    work_l = work_l.withColumn(f"node_{m}", node[m])
                entries = ", ".join(
                    f"{key[m]}node_{m}, {i}, b_{features[i]}, gm_{m}, hm_{m}"
                    for m in lv
                    for i in active[m]
                )
                stacked = work_l.selectExpr(
                    *(["__fold"] if folded else []),
                    *([f"__k_{t}"] if thrs else []),
                    f"stack({sum(len(active[m]) for m in lv)}, {entries}) AS "
                    f"(m, {'fold, ' if folded else ''}node, fidx, bin, gm, hm)",
                )
                if folded:
                    stacked = stacked.filter("fold != __fold")
                if thrs:
                    rank = F.element_at(
                        F.array(*[F.lit(r) for r in ranks]), F.col("m") + 1
                    )
                    stacked = stacked.filter(F.col(f"__k_{t}") < rank)
                cells: dict[tuple[int, int], list] = {}
                for r in (
                    stacked.groupBy("m", "node", "fidx", "bin")
                    .agg(F.sum("gm").alias("gs"), F.sum("hm").alias("hs"))
                    .collect()
                ):
                    cells.setdefault((r["m"], r["node"]), []).append(
                        (r["fidx"], r["bin"], r["gs"], r["hs"])
                    )
                nodes_at = range(2**lvl, 2 ** (lvl + 1))
                for m in lv:
                    name, _r, _e, lam, depth, _s, _c, mcw, alpha, _w = cfgs[m]
                    lam = float(lam)
                    mcw_m = int(round(float(mcw) * 1e6))
                    alpha_m = int(round(float(alpha) * 1e6))
                    empty = [n for n in nodes_at if (m, n) not in cells]
                    if lvl and empty:  # an empty frame fails in the argmax
                        fold = models[m][0]
                        raise ValueError(
                            f"degenerate split in round {t} level {lvl} of "
                            f"config {name!r}{'' if fold is None else f' fold {fold}'}"
                            f": node(s) {empty} received no rows — outside "
                            f"the gated depth-{depth} GBT domain"
                        )
                    tree = new[m]
                    branch = None
                    for n_id in nodes_at:
                        fidx, b, glm, hlm, g_m, h_m, gain = _argmax_split_sub(
                            cells.get((m, n_id), []), active[m], lam, mcw_m,
                            alpha_m,
                        )
                        tree["splits"][n_id] = (fidx, b)
                        tree["gains"][n_id] = gain
                        if lvl == depth - 1:
                            tree["leaves"][2 * n_id] = _leaf_w(
                                glm, hlm, lam, alpha_m
                            )
                            tree["leaves"][2 * n_id + 1] = _leaf_w(
                                g_m - glm, h_m - hlm, lam, alpha_m
                            )
                        else:
                            side = F.when(
                                F.col(f"b_{features[fidx]}") <= b, 0
                            ).otherwise(1)
                            cond = node[m] == n_id
                            branch = (
                                F.when(cond, side)
                                if branch is None
                                else branch.when(cond, side)
                            )
                    if lvl < depth - 1:
                        node[m] = node[m] * 2 + branch
            # the level-0 job materialized this round's frame, so its
            # lineage parent can go
            while len(held) > 1:
                held.pop(0).unpersist()
            for m in live:
                trees[m].append(new[m])
            if t + 1 < max_rounds:
                state = work.select(
                    *keep,
                    *ks[1:],
                    *[
                        (
                            (F.col(f"__f_{m}") if t else F.lit(0.0))
                            + F.lit(float(cfgs[m][2]))
                            * deep_tree_logit_on_bins(new[m], features)
                        ).alias(f"__f_{m}")
                        for m in live
                        if cfgs[m][1] > t + 1
                    ],
                )
    finally:
        for w in held:
            w.unpersist()
    return trees


def _fit(
    fv: DataFrame,
    configs,
    features: tuple[str, ...],
    scales: dict[str, float] | None,
    fold_col: Column | None = None,
    folds: int | None = None,
) -> list[list[dict]]:
    """Build the engine frame for ``configs`` and descend it: one model
    per config, or per (fold, config) fold-major when ``fold_col``
    assigns ``folds`` folds (each model trains on its complement)."""
    binned = _binned_frame(fv, configs, features, scales, fold_col)
    return _descend(binned, _models(configs, folds), features)


def train_gbt(
    fv: DataFrame,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    scales: dict[str, float] | None = None,
    pos_weight: float | None = None,
) -> list[dict]:
    """Fit ``rounds`` depth-2 heap trees by histogram gradient boosting —
    one engine model, two aggregate jobs per round. Leaf values are
    full-precision doubles (round only at the output boundary).

    ``pos_weight`` is XGBoost's scale_pos_weight, the exact parameter
    the reference sets (`fraud_detector.py:148`): positive rows'
    gradient AND hessian contributions multiply by it before the
    micro-floor, so splits optimize weighted loss and leaves
    −G/(H+λ) are naturally weighted."""
    cfg = _cfg("", rounds, eta, lam, pos_weight=pos_weight)
    return _fit(fv, [cfg], features, scales)[0]


def partial_logits(
    trees: list[dict],
    features: tuple[str, ...] = SCORE_FEATURES,
    eta: float = GBT_ETA,
    scales: dict[str, float] | None = None,
) -> list[Column]:
    """The ensemble's logit after each round over RAW feature columns:
    ``[0, η·t₀, η·t₀ + η·t₁, …]`` (round 0 is the 0-logit constant) —
    the columns a loss or AUC ladder stages side by side.
    Left-associated, term order = tree order (the determinism
    contract shared with the oracles' rows{t} fold)."""
    zs = [F.lit(0.0)]
    for tr in trees:
        zs.append(
            zs[-1] + F.lit(float(eta)) * tree_logit_raw(tr, features, scales)
        )
    return zs


def gbt_trained_logit_expr(
    trees: list[dict],
    features: tuple[str, ...] = SCORE_FEATURES,
    eta: float = GBT_ETA,
    scales: dict[str, float] | None = None,
) -> Column:
    """The trained ensemble's logit over RAW feature columns (bins
    recomputed row-locally) — the train→serve closure for any depth:
    the last of :func:`partial_logits`."""
    return partial_logits(trees, features, eta, scales)[-1]


def gbt_trained_score_expr(trees: list[dict], eta: float = GBT_ETA) -> Column:
    """round6(σ(ensemble logit)) with TRAINED trees — the booster's
    twin of ext/training.trained_score_expr."""
    z = gbt_trained_logit_expr(trees, eta=eta)
    return det_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


# --- generated DuckDB oracle -------------------------------------------------
#
# One generator per concern, at any depth: _gbt_chain_ctes (the
# boosting rounds), _gbt_replay_ctes (a trained chain replayed on a
# holdout frame), _auc_ctes (the rank-sum AUC) and _trial_parts with
# _selection_sql (the train/holdout or k-fold selection scaffold).
# Every GBT and SHAP oracle is built from them; depth-2 ids pass
# depth=2.

#: The round6 mean log-loss of a rows CTE: per-row losses round6 and
#: sum as decimals, so the mean is order-independent.
_MEAN_LOSS_SQL = R6_SQL.format(
    c="CAST(sum(CAST({l6} AS DECIMAL(18,6))) AS DOUBLE) / count(*)".format(
        l6=R6_SQL.format(
            c=f"CASE WHEN label = 1 THEN -ln({SIGMOID6_F_SQL}) ELSE -ln(1.0 - {SIGMOID6_F_SQL}) END"
        )
    )
)
#: A row's side at its node: left iff its bin of the split feature is
#: ≤ the split bin (aliases ``s`` = stacked bins, ``b`` = split).
_SIDE_SQL = "CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END"


def _sub_pred_sql(t: int, subsample: float) -> str:
    """Round-``t`` row-selection predicate, DuckDB side — the engine's
    subsample bucket (:func:`_sub_ranks`) encodes the same test."""
    return (
        f"(('0x' || substr(md5(o_orderkey::VARCHAR || '#r{t}'), 1, 15))::BIGINT"
        f" % 100) < {_sub_pct(subsample)}"
    )


def _route_sql(nd: str, b: str, st: str, lvl: int) -> tuple[str, str]:
    """(node, FROM clause): the rows at level ``lvl`` — every row at
    level 0, else the node table ``{nd}_{lvl}`` — joined to their
    node's split in ``{b}_{lvl}`` and, as ``s.bin``, to their bin of
    its feature in the stacked frame ``st``."""
    if lvl == 0:
        return "1", f"FROM {st} s JOIN {b}_0 b ON s.fidx = b.fidx"
    return "n.node", (
        f"FROM {nd}_{lvl} n JOIN {b}_{lvl} b ON b.node = n.node "
        f"JOIN {st} s ON s.o_orderkey = n.o_orderkey AND s.fidx = b.fidx"
    )


def _gbt_chain_ctes(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    depth: int = 2,
    subsample: float | None = None,
    colsample: float | None = None,
    prefix: str = "",
    min_child_weight: float = 0.0,
    reg_alpha: float = 0.0,
    pos_weight: float | str | None = None,
) -> tuple[str, str]:
    """(cte_block, final_rows_cte): the unrolled boosting rounds of
    one engine model, every arithmetic step token for token the
    engine's. Per round t: gh{t} (round6 sigmoid, integer micro
    gradient/hessian), st{t} (the eligible features stacked long);
    per level L: nd{t}_L (heap node of every row; level 0 is the
    root, so its histogram groups st{t} directly), hh{t}_L
    (histogram over the round's selected rows), bc{t}_L (argmax per
    node with the node totals), b{t}_L (bc{t}_L behind its guard);
    then lw{t} (leaf weights), sd{t} (leaf sides) and rows{t}
    (ensemble update over ALL rows). Hot CTEs are MATERIALIZED
    (DuckDB otherwise re-inlines each reference); b{t}_L is not,
    which at depth 2 costs less than materializing the guarded table
    again. ``prefix`` namespaces every CTE so several chains share
    one statement.

    ``pos_weight`` (scale_pos_weight) multiplies positive rows'
    gradient and hessian before the micro-floor: a float is written as
    a literal, a string is SQL (q_gbt_train_weighted's data-derived
    n0/n1). ``subsample`` adds a per-round ``insub`` flag and filter,
    only when it is below 1.

    Degenerate-frame contract: where the engine raises ValueError —
    an empty frame, or a node with no selected rows or no admissible
    split ("unsplittable root" at level 0) — the oracle calls DuckDB
    ``error()``, so engine and oracle agree on degenerate inputs by
    both failing loudly instead of the oracle inventing NULL-structured
    rows. The ``nz`` guard always has one row: consumers whose final
    arms are unconditional scan it, and the first level guard reads it
    before its own error, so on an empty frame nz's error fires."""
    p_ = prefix
    bin_cols = ", ".join(f"{_bin_sql(f)} AS b_{f}" for f in features)
    stack_case = " ".join(f"WHEN {i} THEN g.b_{f}" for i, f in enumerate(features))
    b_star = ", ".join(f"b_{f}" for f in features)
    sub = subsample is not None and subsample < 1.0
    mcw = int(round(min_child_weight * 1e6))
    a = int(round(reg_alpha * 1e6))
    admissible = "c.bin < c.maxbin" + (
        f" AND c.hl_m >= {mcw} AND (t.h_m - c.hl_m) >= {mcw}" if mcw else ""
    )
    gain = _gain_sql("c.gl_m", "c.hl_m", "t.g_m", "t.h_m", lam, a)
    parts = [
        f"{p_}fv AS ({fv_sql})",
        (
            f"{p_}rows0 AS MATERIALIZED (SELECT o_orderkey, label, "
            f"{bin_cols}, CAST(0.0 AS DOUBLE) AS f FROM {p_}fv)"
        ),
        (
            f"{p_}nz AS MATERIALIZED (SELECT CASE WHEN (SELECT count(*) FROM {p_}rows0) "
            f">= 1 THEN 1 ELSE CAST(error('empty feature frame: GBT "
            f"training needs at least one row - outside the gated GBT "
            f"domain (train_gbt raises ValueError)') AS INTEGER) END AS oknz)"
        ),
    ]
    for t in range(1, rounds + 1):
        r = t - 1  # the engine's round index: schedules and messages
        active = col_subset(features, r, colsample)
        fidx_vals = ", ".join(f"({i})" for i in active)
        gc = f"(({SIGMOID6_F_SQL}) - CAST(label AS DOUBLE))"
        hc = f"(({SIGMOID6_F_SQL}) * (1.0 - ({SIGMOID6_F_SQL})))"
        if pos_weight not in (None, 1.0):
            w = pos_weight if isinstance(pos_weight, str) else repr(float(pos_weight))
            wgt = f"(CASE WHEN label = 1 THEN {w} ELSE 1.0 END)"
            gc, hc = f"{gc} * {wgt}", f"{hc} * {wgt}"
        insub = (
            f"CASE WHEN {_sub_pred_sql(r, subsample)} THEN 1 ELSE 0 END AS insub, "
            if sub
            else ""
        )
        nd, bt, st = f"{p_}nd{t}", f"{p_}b{t}", f"{p_}st{t}"
        parts.append(
            f"{p_}gh{t} AS MATERIALIZED (SELECT o_orderkey, label, {b_star}, f, "
            f"{insub}CAST(floor({gc} * 1000000.0 + 0.5) AS BIGINT) AS gm, "
            f"CAST(floor({hc} * 1000000.0 + 0.5) AS BIGINT) AS hm "
            f"FROM {p_}rows{r})"
        )
        parts.append(
            f"{st} AS MATERIALIZED (SELECT g.o_orderkey, "
            f"{'g.insub, ' if sub else ''}g.gm, g.hm, fe.fidx, "
            f"CASE fe.fidx {stack_case} END AS bin "
            f"FROM {p_}gh{t} g CROSS JOIN (VALUES {fidx_vals}) fe(fidx))"
        )
        for lvl in range(depth):
            hh, bc = f"{p_}hh{t}_{lvl}", f"{p_}bc{t}_{lvl}"
            if lvl:
                node, frm = _route_sql(nd, bt, st, lvl - 1)
                parts.append(
                    f"{nd}_{lvl} AS MATERIALIZED (SELECT s.o_orderkey, "
                    f"{node} * 2 + {_SIDE_SQL} AS node {frm})"
                )
            src = (
                f"{st} s JOIN {nd}_{lvl} n ON n.o_orderkey = s.o_orderkey"
                if lvl
                else f"{st} s"
            )
            parts.append(
                f"{hh} AS MATERIALIZED (SELECT {'n.node' if lvl else '1'} AS node, "
                f"s.fidx, s.bin, sum(s.gm) AS gs, sum(s.hm) AS hs FROM {src}"
                f"{' WHERE s.insub = 1' if sub else ''} GROUP BY 1, 2, 3)"
            )
            # the argmax per node over each feature's cumulative bins
            # (its last occupied bin is not a candidate: interior-only,
            # as in _argmax_split_sub), node totals alongside
            cum = (
                f"SELECT node, fidx, bin, "
                f"sum(gs) OVER (PARTITION BY node, fidx ORDER BY bin) AS gl_m, "
                f"sum(hs) OVER (PARTITION BY node, fidx ORDER BY bin) AS hl_m, "
                f"max(bin) OVER (PARTITION BY node, fidx) AS maxbin FROM {hh}"
            )
            tot = (
                f"SELECT node, sum(gs) AS g_m, sum(hs) AS h_m "
                f"FROM {hh} WHERE fidx = {min(active)} GROUP BY 1"
            )
            parts.append(
                f"{bc} AS MATERIALIZED (SELECT node, fidx, bin, gl_m, hl_m, g_m, h_m, gain "
                f"FROM (SELECT c.node, c.fidx, c.bin, c.gl_m, c.hl_m, t.g_m, t.h_m, "
                f"{gain} AS gain, row_number() OVER (PARTITION BY c.node "
                f"ORDER BY {gain} DESC, c.fidx, c.bin) AS rn "
                f"FROM ({cum}) c JOIN ({tot}) t ON t.node = c.node "
                f"WHERE {admissible}) WHERE rn = 1)"
            )
            # the engine's ValueError twin: every one of the level's 2^L
            # nodes received (selected) rows and has an admissible
            # candidate, else error(). The first guard reads nz before
            # its error, so on an empty frame nz's error fires; every
            # later guard depends on this one's table.
            msg = (
                f"unsplittable {'node' if lvl else 'root'} in round {r} level "
                f"{lvl}: a node has no selected rows or no admissible split "
                f"candidate - outside the gated GBT domain"
            )
            arm = f"WHEN (SELECT oknz FROM {p_}nz) = 1 THEN" if t == 1 and lvl == 0 else "ELSE"
            parts.append(
                f"{bt}_{lvl} AS (SELECT b.* FROM {bc} b CROSS JOIN "
                f"(SELECT CASE WHEN (SELECT count(*) FROM {bc}) = {2 ** lvl} THEN 1 "
                f"{arm} CAST(error('{msg}') AS INTEGER) END AS ok) k WHERE k.ok = 1)"
            )
        last = depth - 1
        wl = _leaf_sql("b.gl_m", "b.hl_m", lam, a)
        wr = _leaf_sql("(b.g_m - b.gl_m)", "(b.h_m - b.hl_m)", lam, a)
        parts.append(
            f"{p_}lw{t} AS MATERIALIZED (SELECT b.node, s.side, "
            f"CASE s.side WHEN 0 THEN {wl} ELSE {wr} END AS w "
            f"FROM {bt}_{last} b CROSS JOIN (VALUES (0), (1)) s(side))"
        )
        node, frm = _route_sql(nd, bt, st, last)
        parts.append(
            f"{p_}sd{t} AS (SELECT s.o_orderkey, {node} AS node, "
            f"{_SIDE_SQL} AS side {frm})"
        )
        parts.append(
            f"{p_}rows{t} AS MATERIALIZED (SELECT r.o_orderkey, r.label, {b_star}, "
            f"r.f + {eta!r} * l.w AS f "
            f"FROM {p_}rows{r} r "
            f"JOIN {p_}sd{t} sd ON sd.o_orderkey = r.o_orderkey "
            f"JOIN {p_}lw{t} l ON l.node = sd.node AND l.side = sd.side)"
        )
    return ",\n    ".join(parts), f"{p_}rows{rounds}"


def _gbt_replay_ctes(
    prefix: str, holdout_from: str, rounds: int, eta: float, depth: int
) -> tuple[str, str]:
    """(cte_block, final_holdout_cte): replay the splits of the chain
    ``prefix`` trained on a holdout frame — per round, walk its
    b{t}_L tables level by level (hnd{t}_L, hsd{t}), then accumulate
    f += eta·w from lw{t} in the exact operation order rows{t} uses,
    so the holdout logit hr{t} is the same left-associated double the
    engine's compiled ensemble computes."""
    p_, features = prefix, SCORE_FEATURES
    bin_cols = ", ".join(f"{_bin_sql(f)} AS b_{f}" for f in features)
    stack_case = " ".join(f"WHEN {i} THEN g.b_{f}" for i, f in enumerate(features))
    all_fidx = ", ".join(f"({i})" for i in range(len(features)))
    st = f"{p_}hst"
    parts = [
        (
            f"{p_}hr0 AS MATERIALIZED (SELECT o_orderkey, label, "
            f"{bin_cols}, CAST(0.0 AS DOUBLE) AS f FROM {holdout_from})"
        ),
        (
            f"{st} AS MATERIALIZED (SELECT g.o_orderkey, fe.fidx, "
            f"CASE fe.fidx {stack_case} END AS bin "
            f"FROM {p_}hr0 g CROSS JOIN (VALUES {all_fidx}) fe(fidx))"
        ),
    ]
    for t in range(1, rounds + 1):
        nd, bt = f"{p_}hnd{t}", f"{p_}b{t}"
        for lvl in range(1, depth):
            node, frm = _route_sql(nd, bt, st, lvl - 1)
            parts.append(
                f"{nd}_{lvl} AS (SELECT s.o_orderkey, "
                f"{node} * 2 + {_SIDE_SQL} AS node {frm})"
            )
        node, frm = _route_sql(nd, bt, st, depth - 1)
        parts.append(
            f"{p_}hsd{t} AS (SELECT s.o_orderkey, {node} AS node, "
            f"{_SIDE_SQL} AS side {frm})"
        )
        parts.append(
            f"{p_}hr{t} AS MATERIALIZED (SELECT r.o_orderkey, r.label, "
            f"r.f + {eta!r} * l.w AS f "
            f"FROM {p_}hr{t - 1} r "
            f"JOIN {p_}hsd{t} sd ON sd.o_orderkey = r.o_orderkey "
            f"JOIN {p_}lw{t} l ON l.node = sd.node AND l.side = sd.side)"
        )
    return ",\n    ".join(parts), f"{p_}hr{rounds}"


def _auc_ctes(p_: str, scored: str, key: str | None = None) -> tuple[str, str]:
    """(cte_block, auc_cte): the round6 exact Mann-Whitney AUC
    (average-rank ties) of a (label, s) CTE — the keyed rank-sum
    over the bounded distinct-score table, one ``auc`` row per ``key``
    value when a key is given, else one row. A one-class group scores
    0.0. The SQL twin of :func:`_rank_sum_aucs`."""
    k = f"{key}, " if key else ""
    auc_raw = (
        "(CAST(rank_sum AS DOUBLE) "
        "- CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)"
        " / (CAST(n_pos AS DOUBLE) * n_neg)"
    )
    auc6 = R6_SQL.format(
        c=f"CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0 ELSE {auc_raw} END"
    )
    parts = [
        (
            f"{p_}grp AS (SELECT {k}s, count(*) AS n, sum(label) AS np "
            f"FROM {scored} GROUP BY {k}s)"
        ),
        (
            f"{p_}cum AS (SELECT {k}s, n, np, "
            f"coalesce(sum(n) OVER w, 0) AS cum_n FROM {p_}grp "
            f"WINDOW w AS ({f'PARTITION BY {key} ' if key else ''}ORDER BY s "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))"
        ),
        (
            f"{p_}agg AS (SELECT {k}sum(np) AS n_pos, sum(n) - sum(np) AS n_neg, "
            f"sum(CAST(np AS DECIMAL(28,1)) "
            f"* CAST(cum_n + (n + 1) / 2.0 AS DECIMAL(28,1))) AS rank_sum "
            f"FROM {p_}cum{f' GROUP BY {key}' if key else ''})"
        ),
        f"{p_}auc AS (SELECT {k}{auc6} AS auc FROM {p_}agg)",
    ]
    return ",\n    ".join(parts), f"{p_}auc"


def gbt_train_sql(
    fv_sql: str, features: tuple[str, ...] = SCORE_FEATURES, weighted: bool = False
) -> str:
    """Complete oracle for q_gbt_train (and its scale_pos_weight
    twin): one row per depth-2 tree — split features by NAME, split
    bins, and the four round6 leaf values. ``weighted=True`` weighs
    positives by n0/n1 computed in SQL from exact label counts (the
    weighted :func:`train_gbt` fold)."""
    cnts = ""
    if weighted:
        cnts = (
            "cnts AS (SELECT CAST(sum(1 - label) AS DOUBLE) AS n0, "
            f"CAST(sum(label) AS DOUBLE) AS n1 FROM ({fv_sql})),\n    "
        )
    ctes, _ = _gbt_chain_ctes(
        fv_sql, features,
        pos_weight="(SELECT n0 / n1 FROM cnts)" if weighted else None,
    )
    fname = "CASE fidx " + " ".join(
        f"WHEN {i} THEN '{f}'" for i, f in enumerate(features)
    ) + " END"
    w6 = R6_SQL.format(c="w")
    tree_sels = []
    for t in range(1, GBT_ROUNDS + 1):
        cols = [f"CAST({t - 1} AS INTEGER) AS tree"]
        for pos, node in (("root", 1), ("l", 2), ("r", 3)):
            src = f"FROM b{t}_{node // 2} WHERE node = {node}"
            cols += [f"(SELECT {fname} {src}) AS {pos}_feature", f"(SELECT bin {src}) AS {pos}_bin"]
        cols += [
            f"(SELECT {w6} FROM lw{t} WHERE node = {n} AND side = {sd}) AS w_{pos}"
            for pos, n, sd in (("ll", 2, 0), ("lr", 2, 1), ("rl", 3, 0), ("rr", 3, 1))
        ]
        tree_sels.append(
            f"SELECT {', '.join(cols)} "
            # the empty-frame guard: nz always has exactly 1 row, so
            # this arm still emits 1 tree row — but the WHERE forces
            # oknz's CASE to evaluate, erroring loudly on empty input
            "FROM nz WHERE oknz = 1"
        )
    return f"WITH {cnts}{ctes}\n    " + "\n    UNION ALL\n    ".join(tree_sels)


def gbt_importance_sql(fv_sql: str) -> str:
    """Oracle for q_gbt_importance: total split gain per feature over
    all rounds×levels (XGBoost's gain-mode feature_importances_).
    Per-split gains round6 to decimals BEFORE summing so the per-
    feature total is order-independent across the UNION arms."""
    ctes, _ = _gbt_chain_ctes(fv_sql)
    splits = " UNION ALL ".join(
        f"SELECT fidx, gain FROM b{t}_{lvl}"
        for t in range(1, GBT_ROUNDS + 1)
        for lvl in range(2)
    )
    fvals = ", ".join(f"({i}, '{f}')" for i, f in enumerate(SCORE_FEATURES))
    g6 = R6_SQL.format(c="s.gain")
    return f"""WITH {ctes},
    splits AS ({splits})
    SELECT fe.fname AS feature,
           CAST(coalesce(sum(CAST({g6} AS DECIMAL(18,6))), 0) AS DOUBLE) AS total_gain,
           CAST(count(s.fidx) AS BIGINT) AS n_splits
    FROM (VALUES {fvals}) fe(fidx, fname)
    LEFT JOIN splits s ON s.fidx = fe.fidx
    GROUP BY 1"""


def gbt_learning_curve_sql(fv_sql: str) -> str:
    """Oracle for q_gbt_learning_curve: in-sample mean log-loss of
    the partial ensemble after each boosting round (round 0 = the
    constant 0-logit model) — the loss ladder that proves each tree
    earns its keep. Every rows{t} CTE already carries the partial
    logit f, so each arm is one aggregate over a MATERIALIZED frame."""
    ctes, _ = _gbt_chain_ctes(fv_sql)
    body = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS INTEGER) AS round, {_MEAN_LOSS_SQL} AS train_logloss "
        f"FROM rows{t}"
        for t in range(GBT_ROUNDS + 1)
    )
    return f"WITH {ctes}\n    {body}"


def gbt_roc_sql(fv_sql: str) -> str:
    """Oracle for q_gbt_roc: re-train via the unrolled rounds, then
    logreg_roc_sql's sweep tail (:data:`ROC_SWEEP_SQL`) — only the
    scored CTE differs."""
    ctes, rows_k = _gbt_chain_ctes(fv_sql)
    return f"""WITH {ctes},
    scored AS (SELECT label, {SIGMOID6_F_SQL} AS s FROM {rows_k}),
    {ROC_SWEEP_SQL}"""


def gbt_score_band_sql(fv_sql: str, depth: int = 2) -> str:
    """Complete oracle for q_gbt_train_score (and, at depth 3,
    q_gbt_deep_score): re-train via the unrolled rounds, score every
    row with the final ensemble logit, band 3-way, aggregate — the
    logreg_score_sql shape for trees."""
    ctes, rows_k = _gbt_chain_ctes(fv_sql, depth=depth)
    mean_s = R6_SQL.format(
        c="CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / count(*)"
    )
    rate = R6_SQL.format(c="CAST(sum(label) AS DOUBLE) / count(*)")
    return f"""WITH {ctes},
    scored AS (SELECT label, {SIGMOID6_F_SQL} AS s FROM {rows_k}),
    banded AS (
      SELECT label, s, {RISK_LABEL_SQL.format(s="s")} AS risk_label FROM scored
    )
    SELECT risk_label, count(*) AS n, {mean_s} AS mean_score,
           {rate} AS event_rate
    FROM banded GROUP BY 1"""


# --- deterministic GBT hyperparameter grid (model selection) ------------------

#: The GBT grid: (config id, rounds, eta, lam) — the deterministic
#: subset of the space the reference's Optuna study actually sweeps
#: (`ml/models/fraud_detector.py:249-276`: n_estimators,
#: learning_rate, min_child_weight/lambda; called from
#: `train.py:201`). Subsampling enters via the content-hash
#: train/holdout split, not RNG. Config 0 is the production default
#: (GBT_ROUNDS/GBT_ETA/GBT_LAMBDA), so its trees double as the
#: early-stopping ladder's booster.
GBT_MS_CONFIGS: tuple[tuple[str, int, float, float], ...] = (
    ("r3_e0.3_l1", GBT_ROUNDS, GBT_ETA, GBT_LAMBDA),
    ("r2_e0.3_l1", 2, GBT_ETA, GBT_LAMBDA),
    ("r3_e0.1_l1", GBT_ROUNDS, 0.1, GBT_LAMBDA),
    ("r3_e0.3_l5", GBT_ROUNDS, GBT_ETA, 5.0),
)


def train_gbt_grid(
    fv: DataFrame,
    configs=GBT_MS_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
) -> list[list[dict]]:
    """Fit EVERY grid config — a 4-, 5- or nine-axis tuple, widened by
    :func:`_cfg` — in max(rounds)·max(depth) shared scans: one engine
    model per config, so the tree lists are bit-identical to calling
    train_gbt / ext/gbt_deep.train_gbt_deep per config (law-pinned in
    tests/test_gbt.py and tests/test_gbt_deep.py) and the unrolled
    per-config SQL oracle still gates them. At 100 TB each extra
    config adds ≤ 2^L·d·B integer cells to level L's map-side combine,
    never a scan (the job-count law in tests/test_gbt_deep.py)."""
    return _fit(fv, [_cfg(*c) for c in configs], features, scales)


#: The q_model_selection 80/20 train/holdout split as one (train,
#: holdout) pair of predicates over ``base``.
_HOLDOUT_80 = ((f"{H60_OK_SQL} < 80", f"{H60_OK_SQL} >= 80"),)


def _split_ctes(fv_sql: str, splits=_HOLDOUT_80) -> list[str]:
    """``base`` and, per split f, its MATERIALIZED tr{f} / va{f}."""
    parts = [f"base AS ({fv_sql})"]
    for f, (train, holdout) in enumerate(splits):
        parts.append(f"tr{f} AS MATERIALIZED (SELECT * FROM base WHERE {train})")
        parts.append(f"va{f} AS MATERIALIZED (SELECT * FROM base WHERE {holdout})")
    return parts


def _trial_ctes(prefix: str, f: int, cfg) -> tuple[str, str]:
    """(cte_block, final_holdout_cte): one grid config (a 4-, 5- or
    nine-axis tuple, widened by :func:`_cfg`) trained on tr{f} and
    replayed on va{f}."""
    _name, rounds, eta, lam, depth, sub, csam, mcw, alpha, spw = _cfg(*cfg)
    ctes, _ = _gbt_chain_ctes(
        f"SELECT * FROM tr{f}", SCORE_FEATURES, rounds, lam, eta, depth,
        sub, csam, prefix, mcw, alpha, spw,
    )
    hctes, hk = _gbt_replay_ctes(prefix, f"va{f}", rounds, eta, depth)
    return f"{ctes},\n    {hctes}", hk


def _loss_score(p_: str, rows: str) -> tuple[str, str]:
    """(cte, scalar SQL): a holdout frame's round6 mean log-loss."""
    return (
        f"{p_}loss AS (SELECT {_MEAN_LOSS_SQL} AS m FROM {rows})",
        f"(SELECT m FROM {p_}loss)",
    )


def _auc_score(p_: str, rows: str) -> tuple[str, str]:
    """(ctes, scalar SQL): a holdout frame's round6 rank-sum AUC."""
    ctes, auc = _auc_ctes(p_, f"{p_}scored")
    return (
        f"{p_}scored AS (SELECT label, {SIGMOID6_F_SQL} AS s FROM {rows}),\n    {ctes}",
        f"(SELECT auc FROM {auc})",
    )


def _trial_parts(
    fv_sql: str, configs, score, splits=_HOLDOUT_80
) -> tuple[list[str], dict[tuple[int, int], str]]:
    """The selection scaffold: (CTE parts, {(split, config): score
    SQL}). Per (split f, config i) one chain on tr{f}, its replay on
    va{f}, and ``score(prefix, holdout_rows)`` → (ctes, scalar)."""
    parts = _split_ctes(fv_sql, splits)
    out = {}
    for f in range(len(splits)):
        for i, cfg in enumerate(configs):
            p_ = f"k{f}c{i}_"
            ctes, hk = _trial_ctes(p_, f, cfg)
            sctes, out[f, i] = score(p_, hk)
            parts += [ctes, sctes]
    return parts, out


#: A grid config's fields, and how a selection oracle outputs each;
#: a 4-, 5- or nine-axis grid outputs its prefix.
_AXES = (
    "config", "rounds", "eta", "lam", "depth", "subsample", "colsample",
    "min_child_weight", "reg_alpha", "pos_weight",
)
_AXIS_OUT = (
    "config", "CAST(rounds AS INTEGER) AS rounds", "eta", "lam",
    "CAST(depth AS INTEGER) AS depth",
    *(f"CAST({a} AS DOUBLE) AS {a}" for a in _AXES[5:]),
)


#: Each axis's Spark type: the engine-side selection frame's columns.
_AXIS_TYPES = ("string", "int", "double", "double", "int", *("double",) * 5)


def best_config(configs, scores: list[float], desc: bool = False) -> int:
    """The winning config's index: the first by (score, config id),
    scores descending when ``desc`` — the engine twin of
    :func:`_selection_sql`'s ``ORDER BY {rank}, config``."""
    return min(
        range(len(configs)),
        key=lambda i: (-scores[i] if desc else scores[i], configs[i][0]),
    )


def selection_frame(
    spark: SparkSession,
    configs,
    scores: list[tuple[str, list[float]]],
    desc: bool = False,
    fields: str | None = None,
) -> DataFrame:
    """A selection query's output: per config its fields, each
    (column, per-config value) score, and is_best — the
    :func:`best_config` pick by the LAST score. ``fields`` is the
    config columns' schema; by default the :data:`_AXES` prefix the
    configs fill, typed by :data:`_AXIS_TYPES`."""
    if fields is None:
        fields = ", ".join(
            f"{a} {t}" for a, t in zip(_AXES[: len(configs[0])], _AXIS_TYPES)
        )
    best = best_config(configs, scores[-1][1], desc)
    rows = [
        (*c, *(vals[i] for _n, vals in scores), 1 if i == best else 0)
        for i, c in enumerate(configs)
    ]
    schema = ", ".join([fields, *(f"{n} double" for n, _v in scores), "is_best int"])
    return spark.createDataFrame(rows, schema)


def _longf_cte(configs, scores: list[tuple[str, list[str]]]) -> str:
    """``longf``: one row per config — its grid fields, then each
    (column, per-config scalar SQL) score."""
    axes = _AXES[: len(configs[0])]
    vals = ", ".join(
        "(" + ", ".join([f"'{c[0]}'", *map(repr, c[1:])]) + ")" for c in configs
    )
    cols = ", ".join(
        "CASE c.config "
        + " ".join(f"WHEN '{c[0]}' THEN {e}" for c, e in zip(configs, exprs))
        + f" END AS {name}"
        for name, exprs in scores
    )
    fields = ", ".join(f"c.{a}" for a in axes)
    return (
        f"longf AS (\n      SELECT {fields},\n             {cols}\n"
        f"      FROM (VALUES {vals}) c({', '.join(axes)})\n    )"
    )


def _selection_sql(
    parts: list[str], configs, scores: list[tuple[str, list[str]]], rank: str
) -> str:
    """A selection oracle's statement: ``parts``, then ``longf`` and
    per config its fields, scores and is_best (the first by ``rank``,
    config-id tie-break)."""
    out = ", ".join([*_AXIS_OUT[: len(configs[0])], *(n for n, _ in scores)])
    cte_block = ",\n    ".join([*parts, _longf_cte(configs, scores)])
    return f"""WITH {cte_block}
    SELECT {out},
           CAST(CASE WHEN row_number() OVER (ORDER BY {rank}, config) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM longf"""


def gbt_model_selection_sql(fv_sql: str, configs=GBT_MS_CONFIGS) -> str:
    """Oracle for q_gbt_model_selection and, over the depth grid,
    q_gbt_depth_selection: hash-split train/holdout (the
    q_model_selection split), one unrolled boosting chain per config,
    a holdout split-replay per config, then per-config decimal-folded
    holdout log-loss and an is_best rank (val_logloss asc, config id
    tie-break)."""
    parts, loss = _trial_parts(fv_sql, configs, _loss_score)
    scores = [("val_logloss", [loss[0, i] for i in range(len(configs))])]
    return _selection_sql(parts, configs, scores, "val_logloss")


def gbt_retrain_best_sql(fv_sql: str) -> str:
    """Oracle for q_retrain_best — the reference `train.py` main flow
    in one statement: the selection chains pick the winner, every
    config ALSO re-trains on the FULL frame with its card computed
    (SQL cannot branch the unrolled training on the data-dependent
    winner — the engine trains only the winner; this all-configs form
    is an oracle artifact), and the winner's card is gated against
    the promotion floors (:data:`ext.model_registry.QUALITY_GATES`)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import QUALITY_GATES

    configs, gates = GBT_MS_CONFIGS, QUALITY_GATES
    parts, loss = _trial_parts(fv_sql, configs, _loss_score)
    card_arms = []
    for i, (name, rounds, eta, lam) in enumerate(configs):
        p_ = f"f{i}_"
        ctes, rk = _gbt_chain_ctes(
            "SELECT * FROM base", rounds=rounds, lam=lam, eta=eta, prefix=p_
        )
        parts.append(ctes)
        parts.append(f"{p_}scored AS (SELECT label, {SIGMOID6_F_SQL} AS s FROM {rk})")
        cctes, card = model_metrics_ctes(prefix=p_, scored_from=f"{p_}scored")
        parts.append(cctes)
        card_arms.append(f"SELECT '{name}' AS config, * FROM {card}")
    parts.append(
        _longf_cte(configs, [("val_logloss", [loss[0, i] for i in range(len(configs))])])
    )
    parts.append(
        "win AS (SELECT config, rounds, eta, lam, val_logloss "
        "FROM longf ORDER BY val_logloss, config LIMIT 1)"
    )
    parts.append("cards AS (" + " UNION ALL ".join(card_arms) + ")")
    parts.append(
        "wcard AS (SELECT c.* FROM cards c JOIN win w ON w.config = c.config)"
    )
    gate_vals = ", ".join(f"('{m}', {v!r})" for m, v in gates.items())
    val_case = " ".join(f"WHEN '{m}' THEN {m}" for m in gates)
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block}
    SELECT w.config, CAST(w.rounds AS INTEGER) AS rounds, w.eta, w.lam,
           w.val_logloss,
           g.metric,
           CASE g.metric {val_case} END AS value,
           g.floor AS min_required,
           CAST(CASE WHEN (CASE g.metric {val_case} END) >= g.floor
                THEN 1 ELSE 0 END AS INTEGER) AS ok,
           CAST(min(CASE WHEN (CASE g.metric {val_case} END) >= g.floor
                THEN 1 ELSE 0 END) OVER () AS INTEGER) AS promoted
    FROM wcard CROSS JOIN win w CROSS JOIN (VALUES {gate_vals}) g(metric, floor)"""


def _ladder_parts(fv_sql: str, prefix: str, cfg, arm) -> list[str]:
    """The early-stopping scaffold: the 80/20 split, one chain on tr0
    and its replay on va0, then ``lad`` — per round t the
    ``arm(t, holdout_rows_t)`` select, UNION ALL."""
    ctes, _hk = _trial_ctes(prefix, 0, cfg)
    arms = "\n      UNION ALL ".join(arm(t, f"{prefix}hr{t}") for t in range(cfg[1] + 1))
    return [*_split_ctes(fv_sql), ctes, f"lad AS ({arms})"]


def gbt_early_stop_sql(fv_sql: str) -> str:
    """Oracle for q_gbt_early_stop: train on the hash-split train
    fold, replay the splits on the holdout fold, emit the per-round
    HOLDOUT log-loss ladder, then apply the patience-1 rule in SQL:
    stop at the first round that fails to improve the running best
    (eval_set + early_stopping_rounds, `fraud_detector.py:157,246`);
    is_best marks the argmin among reached rounds."""
    parts = _ladder_parts(
        fv_sql, "es_", ("es", GBT_ROUNDS, GBT_ETA, GBT_LAMBDA),
        lambda t, rows: (
            f"SELECT CAST({t} AS INTEGER) AS round, {_MEAN_LOSS_SQL} AS val_logloss "
            f"FROM {rows}"
        ),
    )
    parts.append(
        "pb AS (SELECT round, val_logloss, "
        "min(val_logloss) OVER (ORDER BY round "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best "
        "FROM lad)"
    )
    parts.append(
        "fl AS (SELECT round, val_logloss, "
        "CASE WHEN round = 0 OR val_logloss < prev_best THEN 1 ELSE 0 END "
        "AS improved FROM pb)"
    )
    parts.append(
        f"sp AS (SELECT coalesce(min(CASE WHEN improved = 0 THEN round END), "
        f"{GBT_ROUNDS}) AS stop_at FROM fl)"
    )
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block}
    SELECT f.round, f.val_logloss,
           CAST(CASE WHEN f.round <= s.stop_at THEN 1 ELSE 0 END AS INTEGER)
             AS reached,
           CAST(CASE WHEN f.round <= s.stop_at
                AND row_number() OVER (
                  PARTITION BY CASE WHEN f.round <= s.stop_at THEN 1 ELSE 0 END
                  ORDER BY f.val_logloss, f.round) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM fl f CROSS JOIN sp s"""


def gbt_early_stop_auc_sql(fv_sql: str, patience: int = 2) -> str:
    """Oracle for q_gbt_early_stop_auc: train on the hash-split train
    fold, replay the splits on the holdout fold, emit the per-round
    HOLDOUT rank-sum AUC ladder (:func:`_auc_ctes` keyed by round),
    then apply the patience-k rule in window
    form: boosting stops at the first round whose distance to the
    last improving round reaches ``patience`` (the reference's
    eval_metric='auc' + early_stopping_rounds, `fraud_detector.py:
    245-247`); is_best marks the argmax among reached rounds."""
    parts = _ladder_parts(
        fv_sql, "esa_", ("esa", GBT_ROUNDS, GBT_ETA, GBT_LAMBDA),
        lambda t, rows: (
            f"SELECT CAST({t} AS INTEGER) AS round, {SIGMOID6_F_SQL} AS s, label FROM {rows}"
        ),
    )
    actes, auc = _auc_ctes("esa_", "lad", key="round")
    parts.append(actes)
    # patience-k in window form: improved = strictly beats the running
    # best; streak at t = t − (last improving round ≤ t); round 0
    # improves by definition
    parts.append(
        "pb AS (SELECT round, auc AS val_auc, "
        "max(auc) OVER (ORDER BY round "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best FROM {auc})"
    )
    parts.append(
        "fl AS (SELECT round, val_auc, "
        "CASE WHEN round = 0 OR val_auc > prev_best THEN 1 ELSE 0 END "
        "AS improved FROM pb)"
    )
    parts.append(
        "st AS (SELECT round, val_auc, "
        "round - max(CASE WHEN improved = 1 THEN round END) "
        "OVER (ORDER BY round) AS streak FROM fl)"
    )
    parts.append(
        f"sp AS (SELECT coalesce(min(CASE WHEN streak >= {patience} "
        f"THEN round END), {GBT_ROUNDS}) AS stop_at FROM st)"
    )
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block}
    SELECT f.round, f.val_auc,
           CAST(CASE WHEN f.round <= s.stop_at THEN 1 ELSE 0 END AS INTEGER)
             AS reached,
           CAST(CASE WHEN f.round <= s.stop_at
                AND row_number() OVER (
                  PARTITION BY CASE WHEN f.round <= s.stop_at THEN 1 ELSE 0 END
                  ORDER BY f.val_auc DESC, f.round) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM st f CROSS JOIN sp s"""


def early_stop_frame(
    spark: SparkSession, metric: str, ladder: list[float], stop_at: int, best_round: int
) -> DataFrame:
    """An early-stopping query's output: per round t its ``metric``
    value ``ladder[t]``, whether boosting reached it (t ≤ stop_at) and
    is_best (t = best_round)."""
    rows = [
        (t, v, 1 if t <= stop_at else 0, 1 if t == best_round else 0)
        for t, v in enumerate(ladder)
    ]
    return spark.createDataFrame(
        rows, f"round int, {metric} double, reached int, is_best int"
    )


def early_stop_decision_auc(
    aucs: list[float], patience: int = 2
) -> tuple[int, int]:
    """(stop_at, best_round) under the patience-k rule over a round6
    holdout AUC ladder (aucs[t] = holdout AUC after t rounds):
    boosting stops at the first round that completes ``patience``
    consecutive failures to improve the running best — the
    reference's eval_metric='auc' + early_stopping_rounds=20
    (`fraud_detector.py:245-247`; k=2 at test scale, the same window
    rule). best_round is the argmax among reached rounds, earliest on
    ties — the round count a retrain would deploy with. Identical
    logic to the SQL oracle's last-improving-round window form
    (gbt_early_stop_auc_sql): the streak at t equals
    t − last_improving_round."""
    best = aucs[0]
    streak = 0
    stop_at = len(aucs) - 1
    for t in range(1, len(aucs)):
        if aucs[t] > best:
            best = aucs[t]
            streak = 0
        else:
            streak += 1
            if streak >= patience:
                stop_at = t
                break
    best_round = max(range(stop_at + 1), key=lambda t: (aucs[t], -t))
    return stop_at, best_round


def early_stop_decision(losses: list[float]) -> tuple[int, int]:
    """(stop_at, best_round) under the patience-1 rule over a round6
    holdout loss ladder (losses[t] = holdout log-loss after t rounds):
    boosting stops at the first round that fails to improve the
    running best (the reference's eval_set + early_stopping_rounds,
    `fraud_detector.py:157,246`, at patience 1); best_round is the
    argmin among reached rounds, earliest on ties — the round count a
    retrain would deploy with. Identical logic to the SQL oracle's
    window-function form (gbt_early_stop_sql)."""
    best_loss = losses[0]
    stop_at = len(losses) - 1
    for t in range(1, len(losses)):
        if losses[t] < best_loss:
            best_loss = losses[t]
        else:
            stop_at = t
            break
    best_round = min(range(stop_at + 1), key=lambda t: (losses[t], t))
    return stop_at, best_round
