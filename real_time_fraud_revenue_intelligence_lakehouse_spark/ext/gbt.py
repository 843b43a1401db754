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

Every public trainer — :func:`train_gbt`, :func:`train_gbt_grid`,
ext/gbt_deep's ``train_gbt_deep`` / ``train_gbt_grid_deep`` /
``train_gbt_grid_full`` and ext/gbt_cv's ``train_gbt_grid_cv`` /
``train_gbt_grid_full_cv`` — is a thin mapping of its arguments onto
engine models, and every one returns the engine's heap trees as they
come. One node recursion reads them: :func:`tree_logit_raw` (raw
feature columns, the serving form), :func:`gbt_trained_logit_expr`
(its ensemble) and :func:`deep_tree_logit_on_bins` (the engine's own
bin columns); ext/shap explains them and ext/model_registry stores
them, at any depth.

Determinism contract (the q_logreg_train conventions, extended to
tree structure): probabilities det-round to 6 before the gradient;
gradient/hessian contributions are integer micros summed exactly;
gains are IEEE doubles computed by the identical expression in Spark
(driver Python), generated DuckDB SQL, and the NumPy replays
(tests/test_gbt*.py), so the argmax — and therefore the TREE ITSELF —
is bit-identical across engines, partition layouts, and model
stackings. The oracle unrolls the same rounds as generated
MATERIALIZED CTE blocks (per-row node/side resolution goes through
the stacked long form joined to the 1-row best-split tables, the
standard trick for "CASE on a data-dependent column name" in SQL).

Cites: reference `ml/models/fraud_detector.py:36,154` (XGBClassifier,
tree_method=hist), `ml/models/train.py:201` (fit call),
`FINAL_VALIDATION_REPORT.md:349-419` (model card) — semantics
reproduced, execution re-architected.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import _x_expr, _x_sql
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round

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

_MICRO = 1_000_000.0
_R6 = "(floor(({c}) * 1000000.0 + 0.5) / 1000000.0)"


def _r6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _bin_expr(f: str, scales: dict[str, float] | None, bins: int) -> Column:
    """least(greatest(floor(x_scaled·B), 0), B−1) — identical text in
    :func:`_bin_sql`; features are scaled into [0,1] so the clamp only
    catches the exact-1.0 boundary."""
    raw = F.floor(_x_expr(f, scales) * F.lit(float(bins)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("long")


def _bin_sql(f: str, bins: int) -> str:
    return (
        f"CAST(least(greatest(floor(({_x_sql(f)}) * {float(bins)!r}), 0), "
        f"{bins - 1}) AS BIGINT)"
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


def _gain_sql(glm: str, hlm: str, gm: str, hm: str, lam: float) -> str:
    gl = f"(CAST({glm} AS DOUBLE) / 1000000.0)"
    hl = f"(CAST({hlm} AS DOUBLE) / 1000000.0)"
    gr = f"(CAST({gm} - {glm} AS DOUBLE) / 1000000.0)"
    hr = f"(CAST({hm} - {hlm} AS DOUBLE) / 1000000.0)"
    g = f"(CAST({gm} AS DOUBLE) / 1000000.0)"
    h = f"(CAST({hm} AS DOUBLE) / 1000000.0)"
    return (
        f"({gl} * {gl}) / ({hl} + {lam!r}) + ({gr} * {gr}) / ({hr} + {lam!r})"
        f" - ({g} * {g}) / ({h} + {lam!r})"
    )


def _leaf_w(glm: int, hlm: int, lam: float, alpha_micro: int = 0) -> float:
    """w = −ThresholdL1(G)/(H+λ) from integer micro-sums — same text as
    the SQL; α=0 is XGBoost's plain −G/(H+λ)."""
    return -(_thr(glm, alpha_micro) / 1e6) / ((hlm / 1e6) + lam)


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
    bins: int = GBT_BINS,
    scales: dict[str, float] | None = None,
) -> Column:
    """Heap tree value over RAW feature columns (bins recomputed
    row-locally) — the serving form, at any depth."""
    return _tree_logit(tree, lambda fidx: _bin_expr(features[fidx], scales, bins))


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
    group of a (keys…, s, label, __cnt) frame — q_model_card's
    reduction, windowed per group over the bounded distinct-score
    table and reduced by ONE aggregate (one scalar per group to the
    driver). A one-class group scores 0.0, as the oracles write."""
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
    # the model_metrics avg-rank text
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
        out[tuple(r[k] for k in keys)] = _r6(raw)
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
    bins: int,
    label: str,
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
        F.col(label).alias("label"),
        *([] if fold_col is None else [fold_col.cast("int").alias("__fold")]),
        *[bucket(t) for t in range(key_rounds)],
        *[_bin_expr(f, scales, bins).alias(f"b_{f}") for f in features],
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
                        (F.floor(v * F.lit(_MICRO) + F.lit(0.5)).cast("long")
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
    bins: int,
    label: str,
    scales: dict[str, float] | None,
    fold_col: Column | None = None,
    folds: int | None = None,
) -> list[list[dict]]:
    """Build the engine frame for ``configs`` and descend it: one model
    per config, or per (fold, config) fold-major when ``fold_col``
    assigns ``folds`` folds (each model trains on its complement)."""
    binned = _binned_frame(fv, configs, features, bins, label, scales, fold_col)
    return _descend(binned, _models(configs, folds), features)


def train_gbt(
    fv: DataFrame,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    label: str = "label",
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
    return _fit(fv, [cfg], features, bins, label, scales)[0]


def gbt_trained_logit_expr(
    trees: list[dict],
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    eta: float = GBT_ETA,
    scales: dict[str, float] | None = None,
) -> Column:
    """The trained ensemble's logit over RAW feature columns (bins
    recomputed row-locally) — the train→serve closure for any depth.
    Left-associated, term order = tree order (the determinism
    contract shared with the oracles' rows{t} fold)."""
    z: Column = F.lit(0.0)
    for tr in trees:
        z = z + F.lit(float(eta)) * tree_logit_raw(tr, features, bins, scales)
    return z


# --- generated DuckDB oracle -------------------------------------------------


def _gbt_ctes(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    weighted: bool = False,
    prefix: str = "",
) -> tuple[str, str]:
    """(cte_block, final_rows_cte): the unrolled boosting rounds.
    Every arithmetic step mirrors :func:`train_gbt` token for token.
    Per-row split application resolves the data-dependent split
    feature through the stacked long form joined to the 1-row best
    tables; hot CTEs are MATERIALIZED (DuckDB otherwise re-inlines
    each reference, exponentially re-evaluating the chain).
    ``weighted=True`` multiplies every gradient/hessian contribution
    by scale_pos_weight = n0/n1 (from a cnts CTE of exact counts)
    before the micro-floor — the weighted :func:`train_gbt` fold.
    ``prefix`` namespaces every CTE so several configs can share one
    statement (q_gbt_model_selection — the logreg_train_ctes
    convention).

    Degenerate-frame contract (ADVICE r13): on a frame where the root
    split leaves a child node EMPTY, :func:`train_gbt` raises
    ValueError — and so does this oracle: a chk CTE (evaluated on the
    best2 path every arm reads) calls DuckDB ``error()`` unless both
    child nodes materialized, so engine and oracle agree on degenerate
    inputs by BOTH failing loudly instead of the oracle inventing
    NULL-structured rows."""
    p_ = prefix
    bin_cols = ", ".join(
        f"{_bin_sql(f, bins)} AS b_{f}" for f in features
    )
    stack_case = " ".join(
        f"WHEN {i} THEN g.b_{f}" for i, f in enumerate(features)
    )
    fidx_vals = ", ".join(f"({i})" for i in range(len(features)))
    parts = [
        f"{p_}fv AS ({fv_sql})",
        (
            f"{p_}rows0 AS MATERIALIZED (SELECT o_orderkey, label, "
            f"{bin_cols}, CAST(0.0 AS DOUBLE) AS f FROM {p_}fv)"
        ),
        # Empty-frame guard (ADVICE r15): ck1/ck2/chk ride join WHEREs,
        # so on a fully EMPTY frame no row ever evaluates them and the
        # oracle would return silent NULL/zero-row trees while
        # train_gbt raises. This 1-row CTE always exists; consumers
        # whose final arms are unconditional (gbt_train_sql's per-tree
        # selects) scan it, so the error() provably fires.
        (
            f"{p_}nz AS (SELECT CASE WHEN (SELECT count(*) FROM {p_}rows0) "
            f">= 1 THEN 1 ELSE CAST(error('empty feature frame: GBT "
            f"training needs at least one row - outside the gated GBT "
            f"domain (train_gbt raises ValueError)') AS INTEGER) END AS oknz)"
        ),
    ]
    if weighted:
        parts.append(
            f"{p_}cnts AS (SELECT CAST(sum(1 - label) AS DOUBLE) AS n0, "
            f"CAST(sum(label) AS DOUBLE) AS n1 FROM {p_}fv)"
        )
    wgt = "(CASE WHEN label = 1 THEN (n0 / n1) ELSE 1.0 END)"
    b_star = ", ".join(f"b_{f}" for f in features)
    for t in range(1, rounds + 1):
        p = _R6.format(c="1.0 / (1.0 + exp(-f))")
        gc = f"(({p}) - CAST(label AS DOUBLE))"
        hc = f"(({p}) * (1.0 - ({p})))"
        if weighted:
            gc = f"{gc} * {wgt}"
            hc = f"{hc} * {wgt}"
        parts.append(
            f"{p_}gh{t} AS MATERIALIZED (SELECT o_orderkey, label, {b_star}, f, "
            f"CAST(floor({gc} * 1000000.0 + 0.5) AS BIGINT) AS gm, "
            f"CAST(floor({hc} * 1000000.0 + 0.5) AS BIGINT) AS hm "
            f"FROM {p_}rows{t - 1}{f' CROSS JOIN {p_}cnts' if weighted else ''})"
        )
        parts.append(
            f"{p_}st{t} AS MATERIALIZED (SELECT g.o_orderkey, g.gm, g.hm, fe.fidx, "
            f"CASE fe.fidx {stack_case} END AS bin "
            f"FROM {p_}gh{t} g CROSS JOIN (VALUES {fidx_vals}) fe(fidx))"
        )
        parts.append(
            f"{p_}h1_{t} AS MATERIALIZED (SELECT fidx, bin, "
            f"sum(gm) AS gs, sum(hm) AS hs FROM {p_}st{t} GROUP BY 1, 2)"
        )
        parts.append(
            f"{p_}tot{t} AS (SELECT sum(gs) AS g_m, sum(hs) AS h_m "
            f"FROM {p_}h1_{t} WHERE fidx = 0)"
        )
        parts.append(
            f"{p_}cum1_{t} AS (SELECT fidx, bin, "
            f"sum(gs) OVER (PARTITION BY fidx ORDER BY bin) AS gl_m, "
            f"sum(hs) OVER (PARTITION BY fidx ORDER BY bin) AS hl_m, "
            # each feature's LAST occupied bin is not a candidate —
            # its "split" sends every row left (the r15 interior-only
            # rule, mirrored in _argmax_split)
            f"max(bin) OVER (PARTITION BY fidx) AS maxbin "
            f"FROM {p_}h1_{t})"
        )
        # the _argmax_split "unsplittable node" ValueError twin:
        # admissible candidates exist iff some feature occupies ≥2
        # bins; evaluated in best1's WHERE, whose input (cum1 × tot)
        # is non-empty whenever the frame is, so the error() fires
        parts.append(
            f"{p_}ck1_{t} AS (SELECT CASE WHEN (SELECT count(*) FROM "
            f"(SELECT fidx FROM {p_}h1_{t} GROUP BY fidx "
            f"HAVING count(*) >= 2)) >= 1 THEN 1 "
            f"ELSE CAST(error('unsplittable root in round {t}: every "
            f"feature has a single occupied bin - outside the gated GBT "
            f"domain (train_gbt raises ValueError)') AS INTEGER) END AS ok1)"
        )
        gain1 = _gain_sql("c.gl_m", "c.hl_m", "t.g_m", "t.h_m", lam)
        parts.append(
            f"{p_}best1_{t} AS MATERIALIZED (SELECT c.fidx, c.bin, {gain1} AS gain "
            f"FROM {p_}cum1_{t} c CROSS JOIN {p_}tot{t} t "
            f"CROSS JOIN {p_}ck1_{t} "
            f"WHERE c.bin < c.maxbin AND ok1 = 1 "
            f"ORDER BY {gain1} DESC, c.fidx, c.bin LIMIT 1)"
        )
        parts.append(
            f"{p_}nod{t} AS MATERIALIZED (SELECT s.o_orderkey, "
            f"CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END AS node "
            f"FROM {p_}st{t} s JOIN {p_}best1_{t} b ON s.fidx = b.fidx)"
        )
        parts.append(
            f"{p_}h2_{t} AS MATERIALIZED (SELECT n.node, s.fidx, s.bin, "
            f"sum(s.gm) AS gs, sum(s.hm) AS hs "
            f"FROM {p_}st{t} s JOIN {p_}nod{t} n ON n.o_orderkey = s.o_orderkey "
            f"GROUP BY 1, 2, 3)"
        )
        parts.append(
            f"{p_}tot2_{t} AS (SELECT node, sum(gs) AS g_m, sum(hs) AS h_m "
            f"FROM {p_}h2_{t} WHERE fidx = 0 GROUP BY 1)"
        )
        # the train_gbt ValueError twin: an empty child node means no
        # depth-2 tree exists — refuse to fabricate NULL structure
        parts.append(
            f"{p_}chk{t} AS (SELECT CASE WHEN "
            f"(SELECT count(*) FROM {p_}tot2_{t}) = 2 THEN 1 "
            f"ELSE CAST(error('degenerate root split in round {t}: a child "
            f"node is empty - out of the gated GBT domain (train_gbt "
            f"raises ValueError)') AS INTEGER) END AS ok)"
        )
        # per-node admissibility twin for the children (some feature
        # occupies ≥2 bins in BOTH nodes), evaluated in best2's WHERE
        parts.append(
            f"{p_}ck2_{t} AS (SELECT CASE WHEN (SELECT count(*) FROM "
            f"(SELECT node FROM (SELECT node, fidx FROM {p_}h2_{t} "
            f"GROUP BY node, fidx HAVING count(*) >= 2) GROUP BY node)) = 2 "
            f"THEN 1 ELSE CAST(error('unsplittable child node in round {t}: "
            f"every feature has a single occupied bin - outside the gated "
            f"GBT domain (train_gbt raises ValueError)') AS INTEGER) "
            f"END AS ok2)"
        )
        parts.append(
            f"{p_}cum2_{t} AS (SELECT node, fidx, bin, "
            f"sum(gs) OVER (PARTITION BY node, fidx ORDER BY bin) AS gl_m, "
            f"sum(hs) OVER (PARTITION BY node, fidx ORDER BY bin) AS hl_m, "
            f"max(bin) OVER (PARTITION BY node, fidx) AS maxbin "
            f"FROM {p_}h2_{t})"
        )
        gain2 = _gain_sql("c.gl_m", "c.hl_m", "t.g_m", "t.h_m", lam)
        parts.append(
            f"{p_}best2_{t} AS MATERIALIZED (SELECT node, fidx, bin, gl_m, hl_m, gain FROM ("
            f"SELECT c.node, c.fidx, c.bin, c.gl_m, c.hl_m, {gain2} AS gain, "
            f"row_number() OVER (PARTITION BY c.node "
            f"ORDER BY {gain2} DESC, c.fidx, c.bin) AS rn "
            # interior-only BEFORE the row_number, so rn=1 is the best
            # ADMISSIBLE candidate per node
            f"FROM {p_}cum2_{t} c JOIN {p_}tot2_{t} t ON t.node = c.node "
            f"WHERE c.bin < c.maxbin) "
            # ok rides in the WHERE (not an unused projection DuckDB
            # would prune away): the filter must evaluate the CASE,
            # so the error() actually fires on degenerate frames
            f"CROSS JOIN {p_}chk{t} CROSS JOIN {p_}ck2_{t} "
            f"WHERE rn = 1 AND ok = 1 AND ok2 = 1)"
        )
        wl = (
            "-(CAST(b.gl_m AS DOUBLE) / 1000000.0)"
            f" / ((CAST(b.hl_m AS DOUBLE) / 1000000.0) + {lam!r})"
        )
        wr = (
            "-(CAST(t.g_m - b.gl_m AS DOUBLE) / 1000000.0)"
            f" / ((CAST(t.h_m - b.hl_m AS DOUBLE) / 1000000.0) + {lam!r})"
        )
        parts.append(
            f"{p_}leafw{t} AS MATERIALIZED (SELECT b.node, s.side, "
            f"CASE s.side WHEN 0 THEN {wl} ELSE {wr} END AS w "
            f"FROM {p_}best2_{t} b JOIN {p_}tot2_{t} t ON t.node = b.node "
            f"CROSS JOIN (VALUES (0), (1)) s(side))"
        )
        parts.append(
            f"{p_}sides{t} AS (SELECT n.o_orderkey, n.node, "
            f"CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END AS side "
            f"FROM {p_}nod{t} n JOIN {p_}best2_{t} b ON b.node = n.node "
            f"JOIN {p_}st{t} s ON s.o_orderkey = n.o_orderkey AND s.fidx = b.fidx)"
        )
        parts.append(
            f"{p_}rows{t} AS MATERIALIZED (SELECT r.o_orderkey, r.label, {b_star}, "
            f"r.f + {eta!r} * l.w AS f "
            f"FROM {p_}rows{t - 1} r "
            f"JOIN {p_}sides{t} sd ON sd.o_orderkey = r.o_orderkey "
            f"JOIN {p_}leafw{t} l ON l.node = sd.node AND l.side = sd.side)"
        )
    return ",\n    ".join(parts), f"{p_}rows{rounds}"


def gbt_train_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    weighted: bool = False,
) -> str:
    """Complete oracle for q_gbt_train (and its scale_pos_weight
    twin): one row per tree with the full depth-2 structure — split
    features by NAME, split bins, and the four round6 leaf values."""
    ctes, _ = _gbt_ctes(fv_sql, features, rounds, bins, lam, eta, weighted=weighted)
    fname_case = " ".join(
        f"WHEN {i} THEN '{f}'" for i, f in enumerate(features)
    )
    tree_sels = []
    for t in range(1, rounds + 1):
        w = lambda node, side: (  # noqa: E731
            f"(SELECT {_R6.format(c='w')} FROM leafw{t} "
            f"WHERE node = {node} AND side = {side})"
        )
        tree_sels.append(
            f"SELECT CAST({t - 1} AS INTEGER) AS tree, "
            f"(SELECT CASE fidx {fname_case} END FROM best1_{t}) AS root_feature, "
            f"(SELECT bin FROM best1_{t}) AS root_bin, "
            f"(SELECT CASE fidx {fname_case} END FROM best2_{t} WHERE node = 0) AS l_feature, "
            f"(SELECT bin FROM best2_{t} WHERE node = 0) AS l_bin, "
            f"(SELECT CASE fidx {fname_case} END FROM best2_{t} WHERE node = 1) AS r_feature, "
            f"(SELECT bin FROM best2_{t} WHERE node = 1) AS r_bin, "
            f"{w(0, 0)} AS w_ll, {w(0, 1)} AS w_lr, "
            f"{w(1, 0)} AS w_rl, {w(1, 1)} AS w_rr "
            # the empty-frame guard: nz always has exactly 1 row, so
            # this arm still emits 1 tree row — but the WHERE forces
            # oknz's CASE to evaluate, erroring loudly on empty input
            f"FROM nz WHERE oknz = 1"
        )
        if t < rounds:
            tree_sels.append("UNION ALL")
    return f"WITH {ctes}\n    " + "\n    ".join(tree_sels)


def gbt_importance_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
) -> str:
    """Oracle for q_gbt_importance: total split gain per feature over
    all rounds×levels (XGBoost's gain-mode feature_importances_).
    Per-split gains round6 to decimals BEFORE summing so the per-
    feature total is order-independent across the UNION arms."""
    ctes, _ = _gbt_ctes(fv_sql, features, rounds, bins, lam, eta)
    arms = []
    for t in range(1, rounds + 1):
        arms.append(f"SELECT fidx, gain FROM best1_{t}")
        arms.append(f"SELECT fidx, gain FROM best2_{t}")
    splits = " UNION ALL ".join(arms)
    fvals = ", ".join(f"({i}, '{f}')" for i, f in enumerate(features))
    g6 = _R6.format(c="s.gain")
    return f"""WITH {ctes},
    splits AS ({splits})
    SELECT fe.fname AS feature,
           CAST(coalesce(sum(CAST({g6} AS DECIMAL(18,6))), 0) AS DOUBLE) AS total_gain,
           CAST(count(s.fidx) AS BIGINT) AS n_splits
    FROM (VALUES {fvals}) fe(fidx, fname)
    LEFT JOIN splits s ON s.fidx = fe.fidx
    GROUP BY 1"""


def gbt_learning_curve_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
) -> str:
    """Oracle for q_gbt_learning_curve: in-sample mean log-loss of
    the partial ensemble after each boosting round (round 0 = the
    constant 0-logit model) — the loss ladder that proves each tree
    earns its keep. Every rows{t} CTE already carries the partial
    logit f, so each arm is one aggregate over a MATERIALIZED frame."""
    ctes, _ = _gbt_ctes(fv_sql, features, rounds, bins, lam, eta)
    arms = []
    for t in range(rounds + 1):
        p = _R6.format(c="1.0 / (1.0 + exp(-f))")
        raw = f"CASE WHEN label = 1 THEN -ln({p}) ELSE -ln(1.0 - {p}) END"
        l6 = _R6.format(c=raw)
        mean = _R6.format(
            c=f"CAST(sum(CAST({l6} AS DECIMAL(18,6))) AS DOUBLE) / count(*)"
        )
        arms.append(
            f"SELECT CAST({t} AS INTEGER) AS round, {mean} AS train_logloss "
            f"FROM rows{t}"
        )
    body = "\n    UNION ALL ".join(arms)
    return f"WITH {ctes}\n    {body}"


def gbt_roc_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
) -> str:
    """Oracle for q_gbt_roc: re-train via the unrolled rounds, then
    the fixed-threshold confusion sweep with the logreg_roc_sql
    zero-denominator guards (identical sweep text — only the scored
    CTE differs)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import ROC_THRESHOLDS

    ctes, rows_k = _gbt_ctes(fv_sql, features, rounds, bins, lam, eta)
    s = _R6.format(c="1.0 / (1.0 + exp(-f))")
    taus = ", ".join(f"({t!r})" for t in ROC_THRESHOLDS)
    return f"""WITH {ctes},
    scored AS (SELECT label, {s} AS s FROM {rows_k}),
    sweep AS (
      SELECT t.tau, scored.label, scored.s
      FROM scored CROSS JOIN (VALUES {taus}) t(tau)
    )
    SELECT tau,
           CAST(sum(CASE WHEN s >= tau AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN s >= tau AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CASE WHEN sum(label) = 0 THEN 0.0
                ELSE CAST(sum(CASE WHEN s >= tau AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / sum(label) END AS tpr,
           CASE WHEN sum(1 - label) = 0 THEN 0.0
                ELSE CAST(sum(CASE WHEN s >= tau AND label = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                     / sum(1 - label) END AS fpr,
           CASE WHEN sum(CASE WHEN s >= tau THEN 1 ELSE 0 END) = 0 THEN 0.0
                ELSE CAST(sum(CASE WHEN s >= tau AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / sum(CASE WHEN s >= tau THEN 1 ELSE 0 END) END AS precision_at
    FROM sweep GROUP BY 1"""


def gbt_score_band_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
) -> str:
    """Complete oracle for q_gbt_train_score: re-train via the
    unrolled rounds, score every row with the final ensemble logit,
    band 3-way, aggregate — the logreg_score_sql shape for trees."""
    ctes, rows_k = _gbt_ctes(fv_sql, features, rounds, bins, lam, eta)
    s = _R6.format(c="1.0 / (1.0 + exp(-f))")
    mean_s = _R6.format(
        c="CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / count(*)"
    )
    rate = _R6.format(c="CAST(sum(label) AS DOUBLE) / count(*)")
    return f"""WITH {ctes},
    scored AS (SELECT label, {s} AS s FROM {rows_k}),
    banded AS (
      SELECT label, s,
             CASE WHEN s >= 0.7 THEN 'high'
                  WHEN s >= 0.4 THEN 'medium'
                  ELSE 'low' END AS risk_label
      FROM scored
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
    configs: tuple[tuple[str, int, float, float], ...] = GBT_MS_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    label: str = "label",
    scales: dict[str, float] | None = None,
) -> list[list[dict]]:
    """Fit EVERY grid config in max(rounds)·2 shared scans — one engine
    model per config, so the tree lists are bit-identical to calling
    train_gbt per config (law-pinned in tests/test_gbt.py) and the
    unrolled per-config SQL oracle still gates them. At 100 TB each
    extra config is ≤ 2·d·B more integer cells in the same map-side
    combine."""
    return _fit(fv, [_cfg(*c) for c in configs], features, bins, label, scales)




_H60_OK = "('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 100"


def _gbt_holdout_ctes(
    prefix: str,
    holdout_from: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    eta: float = GBT_ETA,
) -> tuple[str, str]:
    """(cte_block, final_holdout_cte): replay the TRAINED splits on a
    holdout frame — per round, resolve each holdout row's node and
    side against the training chain's {prefix}best1/{prefix}best2
    tables and accumulate f += eta·w from {prefix}leafw, in the exact
    operation order rows{t} uses, so the holdout logit is the same
    left-associated double the engine's compiled ensemble computes."""
    p_ = prefix
    bin_cols = ", ".join(f"{_bin_sql(f, bins)} AS b_{f}" for f in features)
    stack_case = " ".join(
        f"WHEN {i} THEN g.b_{f}" for i, f in enumerate(features)
    )
    fidx_vals = ", ".join(f"({i})" for i in range(len(features)))
    parts = [
        (
            f"{p_}hrows0 AS MATERIALIZED (SELECT o_orderkey, label, "
            f"{bin_cols}, CAST(0.0 AS DOUBLE) AS f FROM {holdout_from})"
        ),
        (
            f"{p_}hst AS MATERIALIZED (SELECT g.o_orderkey, fe.fidx, "
            f"CASE fe.fidx {stack_case} END AS bin "
            f"FROM {p_}hrows0 g CROSS JOIN (VALUES {fidx_vals}) fe(fidx))"
        ),
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"{p_}hnod{t} AS (SELECT s.o_orderkey, "
            f"CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END AS node "
            f"FROM {p_}hst s JOIN {p_}best1_{t} b ON s.fidx = b.fidx)"
        )
        parts.append(
            f"{p_}hsides{t} AS (SELECT n.o_orderkey, n.node, "
            f"CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END AS side "
            f"FROM {p_}hnod{t} n JOIN {p_}best2_{t} b ON b.node = n.node "
            f"JOIN {p_}hst s ON s.o_orderkey = n.o_orderkey AND s.fidx = b.fidx)"
        )
        parts.append(
            f"{p_}hrows{t} AS MATERIALIZED (SELECT r.o_orderkey, r.label, "
            f"r.f + {eta!r} * l.w AS f "
            f"FROM {p_}hrows{t - 1} r "
            f"JOIN {p_}hsides{t} sd ON sd.o_orderkey = r.o_orderkey "
            f"JOIN {p_}leafw{t} l ON l.node = sd.node AND l.side = sd.side)"
        )
    return ",\n    ".join(parts), f"{p_}hrows{rounds}"


def _gbt_ms_parts(
    fv_sql: str,
    configs: tuple[tuple[str, int, float, float], ...] = GBT_MS_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
) -> tuple[list[str], str, str]:
    """(cte parts through the selection, vals, loss_case): hash-split
    train/holdout, one unrolled boosting chain per config (namespaced
    g{i}_), a holdout split-replay per config, per-config decimal-
    folded holdout losses folded into the 1-row ``m`` CTE, plus the
    VALUES/CASE strings consumers need to label configs — shared by
    the selection and retrain-best oracles."""
    parts = [
        f"base AS ({fv_sql})",
        f"tr AS MATERIALIZED (SELECT * FROM base WHERE {_H60_OK} < 80)",
        f"va AS MATERIALIZED (SELECT * FROM base WHERE {_H60_OK} >= 80)",
    ]
    loss_ctes = []
    for i, (_name, rounds, eta, lam) in enumerate(configs):
        p_ = f"g{i}_"
        ctes, _rk = _gbt_ctes(
            "SELECT * FROM tr", features, rounds, bins, lam, eta, prefix=p_
        )
        parts.append(ctes)
        hctes, hk = _gbt_holdout_ctes(p_, "va", features, rounds, bins, eta)
        parts.append(hctes)
        p = _R6.format(c="1.0 / (1.0 + exp(-f))")
        raw = f"CASE WHEN label = 1 THEN -ln({p}) ELSE -ln(1.0 - {p}) END"
        l6 = _R6.format(c=raw)
        loss_ctes.append(f"{p_}loss")
        parts.append(
            f"{p_}loss AS (SELECT count(*) AS n, "
            f"sum(CAST({l6} AS DECIMAL(18,6))) AS L FROM {hk})"
        )
    joins = " ".join(f"CROSS JOIN {lc} v{i}" for i, lc in enumerate(loss_ctes[1:], 1))
    means = ", ".join(
        f"{_R6.format(c=f'CAST(v{i}.L AS DOUBLE) / v{i}.n')} AS m_{i}"
        for i in range(len(configs))
    )
    parts.append(f"m AS (SELECT {means} FROM {loss_ctes[0]} v0 {joins})")
    vals = ", ".join(
        f"('{name}', {rounds}, {eta!r}, {lam!r})"
        for name, rounds, eta, lam in configs
    )
    loss_case = " ".join(
        f"WHEN '{name}' THEN m_{i}"
        for i, (name, _r, _e, _l) in enumerate(configs)
    )
    return parts, vals, loss_case


def gbt_model_selection_sql(
    fv_sql: str,
    configs: tuple[tuple[str, int, float, float], ...] = GBT_MS_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
) -> str:
    """Oracle for q_gbt_model_selection: hash-split train/holdout
    (the q_model_selection split), one unrolled boosting chain per
    config (namespaced by prefix), a holdout split-replay per config,
    then per-config decimal-folded holdout log-loss and an is_best
    rank (val_logloss asc, config id tie-break)."""
    parts, vals, loss_case = _gbt_ms_parts(fv_sql, configs, features, bins)
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block},
    longf AS (
      SELECT c.config, c.rounds, c.eta, c.lam,
             CASE c.config {loss_case} END AS val_logloss
      FROM (VALUES {vals}) c(config, rounds, eta, lam) CROSS JOIN m
    )
    SELECT config, CAST(rounds AS INTEGER) AS rounds, eta, lam, val_logloss,
           CAST(CASE WHEN row_number() OVER (ORDER BY val_logloss, config) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM longf"""


def gbt_retrain_best_sql(
    fv_sql: str,
    configs: tuple[tuple[str, int, float, float], ...] = GBT_MS_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    gates: dict[str, float] | None = None,
) -> str:
    """Oracle for q_retrain_best — the reference `train.py` main flow
    in one statement: the selection chains pick the winner, every
    config ALSO re-trains on the FULL frame with its card computed
    (SQL cannot branch the unrolled training on the data-dependent
    winner — the engine trains only the winner; this all-configs form
    is an oracle artifact), and the winner's card is gated against
    the promotion floors."""
    if gates is None:
        from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import QUALITY_GATES

        gates = QUALITY_GATES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import model_metrics_ctes

    parts, vals, loss_case = _gbt_ms_parts(fv_sql, configs, features, bins)
    card_arms = []
    for i, (name, rounds, eta, lam) in enumerate(configs):
        p_ = f"f{i}_"
        ctes, rk = _gbt_ctes(
            "SELECT * FROM base", features, rounds, bins, lam, eta, prefix=p_
        )
        parts.append(ctes)
        s = _R6.format(c="1.0 / (1.0 + exp(-f))")
        parts.append(f"{p_}scored AS (SELECT label, {s} AS s FROM {rk})")
        cctes, card = model_metrics_ctes(prefix=p_, scored_from=f"{p_}scored")
        parts.append(cctes)
        card_arms.append(f"SELECT '{name}' AS config, * FROM {card}")
    parts.append(
        f"""longf AS (
      SELECT c.config, c.rounds, c.eta, c.lam,
             CASE c.config {loss_case} END AS val_logloss
      FROM (VALUES {vals}) c(config, rounds, eta, lam) CROSS JOIN m
    )"""
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


def gbt_early_stop_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
) -> str:
    """Oracle for q_gbt_early_stop: train on the hash-split train
    fold, replay the splits on the holdout fold, emit the per-round
    HOLDOUT log-loss ladder, then apply the patience-1 rule in SQL:
    stop at the first round that fails to improve the running best
    (eval_set + early_stopping_rounds, `fraud_detector.py:157,246`);
    is_best marks the argmin among reached rounds."""
    p_ = "es_"
    parts = [
        f"base AS ({fv_sql})",
        f"tr AS MATERIALIZED (SELECT * FROM base WHERE {_H60_OK} < 80)",
        f"va AS MATERIALIZED (SELECT * FROM base WHERE {_H60_OK} >= 80)",
    ]
    ctes, _rk = _gbt_ctes(
        "SELECT * FROM tr", features, rounds, bins, lam, eta, prefix=p_
    )
    parts.append(ctes)
    hctes, _hk = _gbt_holdout_ctes(p_, "va", features, rounds, bins, eta)
    parts.append(hctes)
    arms = []
    for t in range(rounds + 1):
        p = _R6.format(c="1.0 / (1.0 + exp(-f))")
        raw = f"CASE WHEN label = 1 THEN -ln({p}) ELSE -ln(1.0 - {p}) END"
        l6 = _R6.format(c=raw)
        mean = _R6.format(
            c=f"CAST(sum(CAST({l6} AS DECIMAL(18,6))) AS DOUBLE) / count(*)"
        )
        arms.append(
            f"SELECT CAST({t} AS INTEGER) AS round, {mean} AS val_logloss "
            f"FROM {p_}hrows{t}"
        )
    parts.append("lad AS (" + "\n      UNION ALL ".join(arms) + ")")
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
        f"{rounds}) AS stop_at FROM fl)"
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


def gbt_early_stop_auc_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    patience: int = 2,
) -> str:
    """Oracle for q_gbt_early_stop_auc: train on the hash-split train
    fold, replay the splits on the holdout fold, emit the per-round
    HOLDOUT rank-sum AUC ladder, then apply the patience-k rule in
    window form: boosting stops at the first round whose distance to
    the last improving round reaches ``patience`` (the reference's
    eval_metric='auc' + early_stopping_rounds, `fraud_detector.py:
    245-247`); is_best marks the argmax among reached rounds."""
    p_ = "esa_"
    parts = [
        f"base AS ({fv_sql})",
        f"tr AS MATERIALIZED (SELECT * FROM base WHERE {_H60_OK} < 80)",
        f"va AS MATERIALIZED (SELECT * FROM base WHERE {_H60_OK} >= 80)",
    ]
    ctes, _rk = _gbt_ctes(
        "SELECT * FROM tr", features, rounds, bins, lam, eta, prefix=p_
    )
    parts.append(ctes)
    hctes, _hk = _gbt_holdout_ctes(p_, "va", features, rounds, bins, eta)
    parts.append(hctes)
    s6 = _R6.format(c="1.0 / (1.0 + exp(-f))")
    arms = [
        f"SELECT CAST({t} AS INTEGER) AS round, {s6} AS s, label "
        f"FROM {p_}hrows{t}"
        for t in range(rounds + 1)
    ]
    parts.append("sc AS (" + "\n      UNION ALL ".join(arms) + ")")
    # the q_model_card rank-sum machinery, windowed per round: exact
    # Mann-Whitney over the bounded distinct-score table
    parts.append(
        "grp AS (SELECT round, s, count(*) AS n, sum(label) AS np "
        "FROM sc GROUP BY 1, 2)"
    )
    parts.append(
        "cum AS (SELECT round, s, n, np, "
        "coalesce(sum(n) OVER w, 0) AS cum_n FROM grp "
        "WINDOW w AS (PARTITION BY round ORDER BY s "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))"
    )
    auc_raw = (
        "(CAST(rank_sum AS DOUBLE) "
        "- CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)"
        " / (CAST(n_pos AS DOUBLE) * n_neg)"
    )
    auc6 = _R6.format(
        c=f"CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0 ELSE {auc_raw} END"
    )
    parts.append(
        "agg AS (SELECT round, sum(np) AS n_pos, sum(n) - sum(np) AS n_neg, "
        "sum(CAST(np AS DECIMAL(28,1)) "
        "* CAST(cum_n + (n + 1) / 2.0 AS DECIMAL(28,1))) AS rank_sum "
        "FROM cum GROUP BY 1)"
    )
    parts.append(f"lad AS (SELECT round, {auc6} AS val_auc FROM agg)")
    # patience-k in window form: improved = strictly beats the running
    # best; streak at t = t − (last improving round ≤ t); round 0
    # improves by definition
    parts.append(
        "pb AS (SELECT round, val_auc, "
        "max(val_auc) OVER (ORDER BY round "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best "
        "FROM lad)"
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
        f"THEN round END), {rounds}) AS stop_at FROM st)"
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
