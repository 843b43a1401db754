"""Depth-d histogram gradient boosting + deterministic row/column
subsampling — the rest of the XGBoost space the reference tunes.

ext/gbt.py fixes the production tree at depth 2; the reference's
Optuna study sweeps ``max_depth`` 3-9 and the stochastic dimensions
``subsample`` / ``colsample_bytree`` 0.6-1.0
(`ml/models/fraud_detector.py:258-266`, called from `train.py:201`).
Every trainer here is a thin wrapper over ext/gbt.py's one boosting
engine (``_descend``: one stacked aggregate per (round, level) over
(fold, nine-axis config) models); this module owns the axes'
semantics, their generated DuckDB oracles, and the sampled studies:

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

Degenerate-frame contract (inherited from ext/gbt.py): if any node
at any level receives ZERO (selected) rows, the trainer raises
ValueError and the generated oracle calls DuckDB ``error()`` — both
engines refuse to fabricate structure for inputs outside the gated
domain, rather than silently disagreeing.

Cites: reference `ml/models/fraud_detector.py:249-276` (the Optuna
space: max_depth, subsample, colsample_bytree), `:36,154`
(XGBClassifier(tree_method=hist)), `ml/models/train.py:201` (fit) —
semantics reproduced, execution re-architected as Spark aggregates.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (  # noqa: F401  (re-exports)
    GBT_BINS,
    GBT_ETA,
    GBT_LAMBDA,
    GBT_ROUNDS,
    FullConfig,
    _argmax_split_sub,
    _bin_expr,
    _bin_sql,
    _cfg,
    _fit,
    _gain_sql,
    _leaf_w,
    _rank_sum_aucs,
    _stack_scores,
    _sub_pct,
    _thr,
    col_subset,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import H60_OK_SQL, R6_SQL

#: The deep default: one level past ext/gbt.py, the floor of the
#: reference's max_depth range (3-9). Deeper is the same machinery
#: with more (bounded) histogram cells per level.
GBT_DEPTH = 3


def _sub_pred_sql(t: int, subsample: float) -> str:
    """Round-``t`` row-selection predicate, DuckDB side — the engine's
    subsample bucket (ext/gbt._sub_ranks) encodes the same test."""
    return (
        f"(('0x' || substr(md5(o_orderkey::VARCHAR || '#r{t}'), 1, 15))::BIGINT"
        f" % 100) < {_sub_pct(subsample)}"
    )


# --- the trainer ---------------------------------------------------------------


def train_gbt_deep(
    fv: DataFrame,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    depth: int = GBT_DEPTH,
    label: str = "label",
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
    return _fit(fv, [cfg], features, bins, label, scales)[0]


# --- generated DuckDB oracle -----------------------------------------------------


def _thr_sql(x: str, a: int) -> str:
    """SQL twin of :func:`_thr` — exact integer thresholding."""
    return f"(CASE WHEN {x} > {a} THEN {x} - {a} WHEN {x} < -{a} THEN {x} + {a} ELSE 0 END)"


def _gain_l1_sql(
    glm: str, hlm: str, gm: str, hm: str, lam: float, a: int
) -> str:
    """SQL twin of :func:`ext.gbt._gain` at α>0 — _gain_sql with the
    three gradient sums L1-thresholded before the double division."""
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


def _gbt_deep_ctes(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    depth: int = GBT_DEPTH,
    subsample: float | None = None,
    colsample: float | None = None,
    prefix: str = "",
    min_child_weight: float = 0.0,
    reg_alpha: float = 0.0,
    pos_weight: float | None = None,
) -> tuple[str, str]:
    """(cte_block, final_rows_cte): the unrolled deep boosting rounds
    — ext/gbt._gbt_ctes generalized by level. Per round t and level
    L the chain is nd{t}_L (heap node assignment) → hh{t}_L
    (histogram over the round's selected rows and eligible features)
    → tt{t}_L (node totals) → ck{t}_L (all 2^L nodes materialized,
    else error() — the ValueError twin) → cm{t}_L (cumulative bins)
    → b{t}_L (argmax per node); the last level adds lw{t} (leaf
    weights), sd{t} (leaf sides), rows{t} (ensemble update over ALL
    rows). Every arithmetic step mirrors :func:`train_gbt_deep`
    token for token."""
    p_ = prefix
    bin_cols = ", ".join(f"{_bin_sql(f, bins)} AS b_{f}" for f in features)
    stack_case = " ".join(
        f"WHEN {i} THEN g.b_{f}" for i, f in enumerate(features)
    )
    b_star = ", ".join(f"b_{f}" for f in features)
    parts = [
        f"{p_}fv AS ({fv_sql})",
        (
            f"{p_}rows0 AS MATERIALIZED (SELECT o_orderkey, label, "
            f"{bin_cols}, CAST(0.0 AS DOUBLE) AS f FROM {p_}fv)"
        ),
    ]
    for t in range(1, rounds + 1):
        active = col_subset(features, t - 1, colsample)
        fidx_vals = ", ".join(f"({i})" for i in active)
        p = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")
        gc = f"(({p}) - CAST(label AS DOUBLE))"
        hc = f"(({p}) * (1.0 - ({p})))"
        if pos_weight is not None:
            # scale_pos_weight: multiply BEFORE the micro-floor in the
            # exact token order of train_gbt_deep (g·w·1e6) — the
            # ext/gbt.py weighted-fold convention with a literal weight
            wgt = f"(CASE WHEN label = 1 THEN {float(pos_weight)!r} ELSE 1.0 END)"
            gc = f"{gc} * {wgt}"
            hc = f"{hc} * {wgt}"
        if subsample is not None and subsample < 1.0:
            insub = f"CASE WHEN {_sub_pred_sql(t - 1, subsample)} THEN 1 ELSE 0 END"
        else:
            insub = "1"
        parts.append(
            f"{p_}gh{t} AS MATERIALIZED (SELECT o_orderkey, label, {b_star}, f, "
            f"{insub} AS insub, "
            f"CAST(floor({gc} * 1000000.0 + 0.5) AS BIGINT) AS gm, "
            f"CAST(floor({hc} * 1000000.0 + 0.5) AS BIGINT) AS hm "
            f"FROM {p_}rows{t - 1})"
        )
        parts.append(
            f"{p_}st{t} AS MATERIALIZED (SELECT g.o_orderkey, g.insub, g.gm, g.hm, "
            f"fe.fidx, CASE fe.fidx {stack_case} END AS bin "
            f"FROM {p_}gh{t} g CROSS JOIN (VALUES {fidx_vals}) fe(fidx))"
        )
        parts.append(
            f"{p_}nd{t}_0 AS (SELECT o_orderkey, 1 AS node FROM {p_}gh{t})"
        )
        f0 = min(active)
        for lvl in range(depth):
            parts.append(
                f"{p_}hh{t}_{lvl} AS MATERIALIZED (SELECT n.node, s.fidx, s.bin, "
                f"sum(s.gm) AS gs, sum(s.hm) AS hs "
                f"FROM {p_}st{t} s JOIN {p_}nd{t}_{lvl} n "
                f"ON n.o_orderkey = s.o_orderkey "
                f"WHERE s.insub = 1 GROUP BY 1, 2, 3)"
            )
            parts.append(
                f"{p_}tt{t}_{lvl} AS (SELECT node, sum(gs) AS g_m, sum(hs) AS h_m "
                f"FROM {p_}hh{t}_{lvl} WHERE fidx = {f0} GROUP BY 1)"
            )
            parts.append(
                f"{p_}ck{t}_{lvl} AS (SELECT CASE WHEN "
                f"(SELECT count(*) FROM {p_}tt{t}_{lvl}) = {2 ** lvl} THEN 1 "
                f"ELSE CAST(error('degenerate split in round {t - 1} level "
                f"{lvl}: a node received no selected rows - outside the "
                f"gated depth-{depth} GBT domain (train_gbt_deep raises "
                f"ValueError)') AS INTEGER) END AS ok)"
            )
            parts.append(
                f"{p_}cm{t}_{lvl} AS (SELECT node, fidx, bin, "
                f"sum(gs) OVER (PARTITION BY node, fidx ORDER BY bin) AS gl_m, "
                f"sum(hs) OVER (PARTITION BY node, fidx ORDER BY bin) AS hl_m, "
                # each feature's last occupied bin is not a candidate
                # (interior-only, mirrored in _argmax_split_sub)
                f"max(bin) OVER (PARTITION BY node, fidx) AS maxbin "
                f"FROM {p_}hh{t}_{lvl})"
            )
            mcw_micro = int(round(min_child_weight * 1e6))
            alpha_micro = int(round(reg_alpha * 1e6))
            mcw_cond = (
                f" AND c.hl_m >= {mcw_micro} AND (t.h_m - c.hl_m) >= {mcw_micro}"
                if mcw_micro
                else ""
            )
            # per-node admissibility (the _argmax_split_sub ValueError
            # twin): every node at this level must have ≥1 admissible
            # candidate — interior bin AND (when set) min_child_weight
            # on both children
            parts.append(
                f"{p_}ckb{t}_{lvl} AS (SELECT CASE WHEN (SELECT "
                f"count(DISTINCT c.node) FROM {p_}cm{t}_{lvl} c "
                f"JOIN {p_}tt{t}_{lvl} t ON t.node = c.node "
                f"WHERE c.bin < c.maxbin{mcw_cond}) = {2 ** lvl} THEN 1 "
                f"ELSE CAST(error('unsplittable node in round {t - 1} level "
                f"{lvl}: no admissible split candidate - outside "
                f"the gated depth-{depth} GBT domain') AS INTEGER) "
                f"END AS okb)"
            )
            if alpha_micro:
                gain = _gain_l1_sql(
                    "c.gl_m", "c.hl_m", "t.g_m", "t.h_m", lam, alpha_micro
                )
            else:
                gain = _gain_sql("c.gl_m", "c.hl_m", "t.g_m", "t.h_m", lam)
            parts.append(
                f"{p_}b{t}_{lvl} AS MATERIALIZED (SELECT node, fidx, bin, gl_m, hl_m, gain "
                f"FROM (SELECT c.node, c.fidx, c.bin, c.gl_m, c.hl_m, "
                f"{gain} AS gain, row_number() OVER (PARTITION BY c.node "
                f"ORDER BY {gain} DESC, c.fidx, c.bin) AS rn "
                f"FROM {p_}cm{t}_{lvl} c JOIN {p_}tt{t}_{lvl} t ON t.node = c.node "
                f"WHERE c.bin < c.maxbin{mcw_cond}) "
                # ok/okb ride in the WHERE so the error() actually
                # evaluates on degenerate frames (the gbt.py trick)
                f"CROSS JOIN {p_}ck{t}_{lvl} CROSS JOIN {p_}ckb{t}_{lvl} "
                f"WHERE rn = 1 AND ok = 1 AND okb = 1)"
            )
            if lvl < depth - 1:
                parts.append(
                    f"{p_}nd{t}_{lvl + 1} AS MATERIALIZED (SELECT n.o_orderkey, "
                    f"n.node * 2 + CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END AS node "
                    f"FROM {p_}nd{t}_{lvl} n "
                    f"JOIN {p_}b{t}_{lvl} b ON b.node = n.node "
                    f"JOIN {p_}st{t} s ON s.o_orderkey = n.o_orderkey "
                    f"AND s.fidx = b.fidx)"
                )
        last = depth - 1
        a_m = int(round(reg_alpha * 1e6))
        if a_m:
            wl = (
                f"-(CAST({_thr_sql('b.gl_m', a_m)} AS DOUBLE) / 1000000.0)"
                f" / ((CAST(b.hl_m AS DOUBLE) / 1000000.0) + {lam!r})"
            )
            wr = (
                f"-(CAST({_thr_sql('(t.g_m - b.gl_m)', a_m)} AS DOUBLE) / 1000000.0)"
                f" / ((CAST(t.h_m - b.hl_m AS DOUBLE) / 1000000.0) + {lam!r})"
            )
        else:
            wl = (
                "-(CAST(b.gl_m AS DOUBLE) / 1000000.0)"
                f" / ((CAST(b.hl_m AS DOUBLE) / 1000000.0) + {lam!r})"
            )
            wr = (
                "-(CAST(t.g_m - b.gl_m AS DOUBLE) / 1000000.0)"
                f" / ((CAST(t.h_m - b.hl_m AS DOUBLE) / 1000000.0) + {lam!r})"
            )
        parts.append(
            f"{p_}lw{t} AS MATERIALIZED (SELECT b.node, s.side, "
            f"CASE s.side WHEN 0 THEN {wl} ELSE {wr} END AS w "
            f"FROM {p_}b{t}_{last} b JOIN {p_}tt{t}_{last} t ON t.node = b.node "
            f"CROSS JOIN (VALUES (0), (1)) s(side))"
        )
        parts.append(
            f"{p_}sd{t} AS (SELECT n.o_orderkey, n.node, "
            f"CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END AS side "
            f"FROM {p_}nd{t}_{last} n JOIN {p_}b{t}_{last} b ON b.node = n.node "
            f"JOIN {p_}st{t} s ON s.o_orderkey = n.o_orderkey AND s.fidx = b.fidx)"
        )
        parts.append(
            f"{p_}rows{t} AS MATERIALIZED (SELECT r.o_orderkey, r.label, {b_star}, "
            f"r.f + {eta!r} * l.w AS f "
            f"FROM {p_}rows{t - 1} r "
            f"JOIN {p_}sd{t} sd ON sd.o_orderkey = r.o_orderkey "
            f"JOIN {p_}lw{t} l ON l.node = sd.node AND l.side = sd.side)"
        )
    return ",\n    ".join(parts), f"{p_}rows{rounds}"


def gbt_train_deep_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
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
    ctes, _ = _gbt_deep_ctes(
        fv_sql, features, rounds, bins, lam, eta, depth, subsample, colsample,
        min_child_weight=min_child_weight, reg_alpha=reg_alpha,
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


def gbt_deep_score_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    depth: int = GBT_DEPTH,
) -> str:
    """Oracle for q_gbt_deep_score: re-train the deep booster via the
    unrolled rounds, score every row, band 3-way — the
    gbt_score_band_sql shape at depth 3 (train→serve closure)."""
    ctes, rows_k = _gbt_deep_ctes(
        fv_sql, features, rounds, bins, lam, eta, depth
    )
    s = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")
    mean_s = R6_SQL.format(
        c="CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / count(*)"
    )
    rate = R6_SQL.format(c="CAST(sum(label) AS DOUBLE) / count(*)")
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


# --- holdout split-replay (deep) -------------------------------------------------


def _gbt_deep_holdout_ctes(
    prefix: str,
    holdout_from: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    eta: float = GBT_ETA,
    depth: int = GBT_DEPTH,
    colsample: float | None = None,
) -> tuple[str, str]:
    """(cte_block, final_holdout_cte): replay the trained deep splits
    on a holdout frame — walk each round's b{t}_L tables level by
    level (heap node descent), then accumulate f += eta·w from lw{t}
    in the exact operation order rows{t} uses."""
    p_ = prefix
    bin_cols = ", ".join(f"{_bin_sql(f, bins)} AS b_{f}" for f in features)
    stack_case = " ".join(
        f"WHEN {i} THEN g.b_{f}" for i, f in enumerate(features)
    )
    all_fidx = ", ".join(f"({i})" for i in range(len(features)))
    parts = [
        (
            f"{p_}hr0 AS MATERIALIZED (SELECT o_orderkey, label, "
            f"{bin_cols}, CAST(0.0 AS DOUBLE) AS f FROM {holdout_from})"
        ),
        (
            f"{p_}hst AS MATERIALIZED (SELECT g.o_orderkey, fe.fidx, "
            f"CASE fe.fidx {stack_case} END AS bin "
            f"FROM {p_}hr0 g CROSS JOIN (VALUES {all_fidx}) fe(fidx))"
        ),
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"{p_}hnd{t}_0 AS (SELECT o_orderkey, 1 AS node FROM {p_}hr{t - 1})"
        )
        for lvl in range(depth - 1):
            parts.append(
                f"{p_}hnd{t}_{lvl + 1} AS (SELECT n.o_orderkey, "
                f"n.node * 2 + CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END AS node "
                f"FROM {p_}hnd{t}_{lvl} n "
                f"JOIN {p_}b{t}_{lvl} b ON b.node = n.node "
                f"JOIN {p_}hst s ON s.o_orderkey = n.o_orderkey "
                f"AND s.fidx = b.fidx)"
            )
        last = depth - 1
        parts.append(
            f"{p_}hsd{t} AS (SELECT n.o_orderkey, n.node, "
            f"CASE WHEN s.bin <= b.bin THEN 0 ELSE 1 END AS side "
            f"FROM {p_}hnd{t}_{last} n JOIN {p_}b{t}_{last} b ON b.node = n.node "
            f"JOIN {p_}hst s ON s.o_orderkey = n.o_orderkey AND s.fidx = b.fidx)"
        )
        parts.append(
            f"{p_}hr{t} AS MATERIALIZED (SELECT r.o_orderkey, r.label, "
            f"r.f + {eta!r} * l.w AS f "
            f"FROM {p_}hr{t - 1} r "
            f"JOIN {p_}hsd{t} sd ON sd.o_orderkey = r.o_orderkey "
            f"JOIN {p_}lw{t} l ON l.node = sd.node AND l.side = sd.side)"
        )
    return ",\n    ".join(parts), f"{p_}hr{rounds}"


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



def train_gbt_grid_deep(
    fv: DataFrame,
    configs: tuple[tuple[str, int, float, float, int], ...] = GBT_DEPTH_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    label: str = "label",
    scales: dict[str, float] | None = None,
) -> list[list[dict]]:
    """Fit every depth-grid config in max(rounds)·max(depth) shared
    scans — one engine model per config, so the tree lists are
    bit-identical to the sequential :func:`train_gbt_deep` fold
    (law-pinned in tests/test_gbt_deep.py). At 100 TB each extra
    config adds ≤ 2^L·d·B integer cells to level L's map-side
    combine."""
    return _fit(fv, [_cfg(*c) for c in configs], features, bins, label, scales)


def gbt_depth_selection_sql(
    fv_sql: str,
    configs: tuple[tuple[str, int, float, float, int], ...] = GBT_DEPTH_CONFIGS,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
) -> str:
    """Oracle for q_gbt_depth_selection: hash-split train/holdout
    (the q_model_selection split), one unrolled DEEP boosting chain
    per config (namespaced), a deep holdout split-replay per config,
    per-config decimal-folded holdout log-loss, is_best rank
    (val_logloss asc, config id tie-break) — gbt_model_selection_sql
    with max_depth as a swept axis."""
    parts = [
        f"base AS ({fv_sql})",
        f"tr AS MATERIALIZED (SELECT * FROM base WHERE {H60_OK_SQL} < 80)",
        f"va AS MATERIALIZED (SELECT * FROM base WHERE {H60_OK_SQL} >= 80)",
    ]
    loss_ctes = []
    for i, (_name, rounds, eta, lam, depth) in enumerate(configs):
        p_ = f"d{i}_"
        ctes, _rk = _gbt_deep_ctes(
            "SELECT * FROM tr", features, rounds, bins, lam, eta, depth,
            prefix=p_,
        )
        parts.append(ctes)
        hctes, hk = _gbt_deep_holdout_ctes(
            p_, "va", features, rounds, bins, eta, depth
        )
        parts.append(hctes)
        p = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")
        raw = f"CASE WHEN label = 1 THEN -ln({p}) ELSE -ln(1.0 - {p}) END"
        l6 = R6_SQL.format(c=raw)
        loss_ctes.append(f"{p_}loss")
        parts.append(
            f"{p_}loss AS (SELECT count(*) AS n, "
            f"sum(CAST({l6} AS DECIMAL(18,6))) AS L FROM {hk})"
        )
    joins = " ".join(
        f"CROSS JOIN {lc} v{i}" for i, lc in enumerate(loss_ctes[1:], 1)
    )
    means = ", ".join(
        f"{R6_SQL.format(c=f'CAST(v{i}.L AS DOUBLE) / v{i}.n')} AS m_{i}"
        for i in range(len(configs))
    )
    parts.append(f"m AS (SELECT {means} FROM {loss_ctes[0]} v0 {joins})")
    vals = ", ".join(
        f"('{name}', {rounds}, {eta!r}, {lam!r}, {depth})"
        for name, rounds, eta, lam, depth in configs
    )
    loss_case = " ".join(
        f"WHEN '{name}' THEN m_{i}"
        for i, (name, _r, _e, _l, _d) in enumerate(configs)
    )
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block},
    longf AS (
      SELECT c.config, c.rounds, c.eta, c.lam, c.depth,
             CASE c.config {loss_case} END AS val_logloss
      FROM (VALUES {vals}) c(config, rounds, eta, lam, depth) CROSS JOIN m
    )
    SELECT config, CAST(rounds AS INTEGER) AS rounds, eta, lam,
           CAST(depth AS INTEGER) AS depth, val_logloss,
           CAST(CASE WHEN row_number() OVER (ORDER BY val_logloss, config) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM longf"""


# --- hash-sampled random search (the reference's 30-trial study) ---------------

#: Swept ranges for the sampled study — test-scale projections of the
#: reference's Optuna space (`fraud_detector.py:249-266`:
#: n_estimators 100-500 → rounds 2-3; learning_rate 0.01-0.3 → eta
#: 0.1-0.5; reg_lambda 0-5 → λ ∈ {0.5, 1, 2}; max_depth 3-9 →
#: depth 2-3). Part of the query identity: the oracle is generated
#: from the identical draws.
RS_TRIALS = 8


def sampled_search_configs(
    n: int = RS_TRIALS,
) -> tuple[tuple[str, int, float, float, int], ...]:
    """The reference's RANDOM hyperparameter search
    (`fraud_detector.py:274`: study.optimize(n_trials=30)) without an
    RNG: each trial's draw for each dimension is an md5 bucket of
    "trial-<i>#<param>" — bit-stable across processes, machines, and
    reruns (the q_gbt_train_subsample content-hash discipline), so
    the sampled config list is a CONSTANT of the query and the
    DuckDB oracle unrolls exactly the same trials. Trials may
    collide (two draws of the same config) exactly like a real
    random study; ranking tie-breaks on trial id."""
    out = []
    for i in range(n):

        def h(param: str, i=i) -> int:
            d = hashlib.md5(f"trial-{i}#{param}".encode()).hexdigest()
            return int(d[:8], 16)

        rounds = 2 + h("n_estimators") % 2
        eta = (1 + h("learning_rate") % 5) / 10.0
        lam = (0.5, 1.0, 2.0)[h("reg_lambda") % 3]
        depth = 2 + h("max_depth") % 2
        out.append((f"t{i:02d}", rounds, eta, lam, depth))
    return tuple(out)


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
        *[_bin_expr(f, scales, GBT_BINS).alias(f"b_{f}") for f in features],
    )
    etas = [c[2] for c in configs]
    auc = _rank_sum_aucs(_stack_scores(vab, trees_all, etas, features), ("cfg",))
    return [auc[(i,)] for i in range(len(configs))]


def gbt_random_search_sql(
    fv_sql: str,
    configs: tuple[tuple[str, int, float, float, int], ...] | None = None,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
) -> str:
    """Oracle for q_gbt_random_search: per sampled trial one unrolled
    DEEP boosting chain on the hash-split train fold + a deep holdout
    replay + a rank-sum AUC (the gbt_cv tail on one fold); is_best
    ranks by (val_auc DESC, config)."""
    configs = sampled_search_configs() if configs is None else configs
    parts = [
        f"base AS ({fv_sql})",
        f"tr AS MATERIALIZED (SELECT * FROM base WHERE {H60_OK_SQL} < 80)",
        f"va AS MATERIALIZED (SELECT * FROM base WHERE {H60_OK_SQL} >= 80)",
    ]
    auc_names: list[str] = []
    for i, (_name, rounds, eta, lam, depth) in enumerate(configs):
        p_ = f"rs{i}_"
        ctes, _rk = _gbt_deep_ctes(
            "SELECT * FROM tr", features, rounds, bins, lam, eta, depth,
            prefix=p_,
        )
        parts.append(ctes)
        hctes, hk = _gbt_deep_holdout_ctes(
            p_, "va", features, rounds, bins, eta, depth
        )
        parts.append(hctes)
        s6 = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")
        parts.append(f"{p_}scored AS (SELECT label, {s6} AS s FROM {hk})")
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
        parts.append(f"{p_}auc AS (SELECT {auc6} AS auc FROM {p_}agg)")
        auc_names.append(f"{p_}auc")
    vals = ", ".join(
        f"('{name}', {rounds}, {eta!r}, {lam!r}, {depth})"
        for name, rounds, eta, lam, depth in configs
    )
    auc_case = " ".join(
        f"WHEN '{name}' THEN (SELECT auc FROM {auc_names[i]})"
        for i, (name, _r, _e, _l, _d) in enumerate(configs)
    )
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block},
    longf AS (
      SELECT c.config, c.rounds, c.eta, c.lam, c.depth,
             CASE c.config {auc_case} END AS val_auc
      FROM (VALUES {vals}) c(config, rounds, eta, lam, depth)
    )
    SELECT config, CAST(rounds AS INTEGER) AS rounds, eta, lam,
           CAST(depth AS INTEGER) AS depth, val_auc,
           CAST(CASE WHEN row_number() OVER (ORDER BY val_auc DESC, config) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM longf"""


# --- FULL-SPACE sampled search (every dimension of the study) ---------------------

#: Trial count for the full-space study — the reference samples 30
#: trials over 9 dimensions (`fraud_detector.py:249-276`); 8 at test
#: scale, all NINE dimensions swept per trial.
RS_FULL_TRIALS = 8


def sampled_search_configs_full(n: int = RS_FULL_TRIALS) -> tuple[FullConfig, ...]:
    """:func:`sampled_search_configs` extended to the study's FULL
    space — every Optuna dimension of `fraud_detector.py:249-267`
    drawn per trial from an md5 bucket of "trial-<i>#<param>"
    (RNG-free, bit-stable; the oracle unrolls the identical draws).
    Bucket sets are test-scale projections of the swept ranges:
    n_estimators 100-500 → rounds 2-3; learning_rate 0.01-0.3 → eta
    0.1-0.5; reg_lambda 0-5 → {0.5, 1, 2}; max_depth 3-9 → depth 2-3;
    subsample 0.6-1.0 → {0.7, 0.85, 1.0}; colsample_bytree 0.6-1.0 →
    {0.75, 1.0}; min_child_weight 1-10 → {0, 0.5, 1}; reg_alpha 0-1 →
    {0, 0.25, 0.5}; scale_pos_weight ~n0/n1 → {1, 2, 5}. The
    stochastic axes draw from the gated domain at the correctness
    scales (sf0.01/sf0.1) — like every GBT id, the toy sf0.001 frame
    is out of domain for depth-3 trials."""
    out = []
    for i in range(n):

        def h(param: str, i=i) -> int:
            d = hashlib.md5(f"trial-{i}#{param}".encode()).hexdigest()
            return int(d[:8], 16)

        rounds = 2 + h("n_estimators") % 2
        eta = (1 + h("learning_rate") % 5) / 10.0
        lam = (0.5, 1.0, 2.0)[h("reg_lambda") % 3]
        depth = 2 + h("max_depth") % 2
        subsample = (0.7, 0.85, 1.0)[h("subsample") % 3]
        colsample = (0.75, 1.0)[h("colsample_bytree") % 2]
        mcw = (0.0, 0.5, 1.0)[h("min_child_weight") % 3]
        alpha = (0.0, 0.25, 0.5)[h("reg_alpha") % 3]
        spw = (1.0, 2.0, 5.0)[h("scale_pos_weight") % 3]
        out.append(
            (f"f{i:02d}", rounds, eta, lam, depth, subsample, colsample,
             mcw, alpha, spw)
        )
    return tuple(out)


def train_gbt_grid_full(
    fv: DataFrame,
    configs: tuple[FullConfig, ...],
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
    label: str = "label",
    scales: dict[str, float] | None = None,
) -> list[list[dict]]:
    """:func:`train_gbt_grid_deep` widened to the FULL study space —
    one engine model per nine-axis trial, so per (round, level) still
    ONE stacked aggregate: subsample rides one shared per-round bucket
    column and a per-trial post-stack threshold, colsample the trial's
    plan-time stack entries, scale_pos_weight the trial's staged
    gm/hm, min_child_weight / reg_alpha the driver-side argmax.
    Per-trial trees are bit-identical to the sequential
    :func:`train_gbt_deep` with the same axes (law-pinned), and extra
    trials only add integer histogram cells, never scans."""
    return _fit(fv, list(configs), features, bins, label, scales)


def gbt_random_search_full_sql(
    fv_sql: str,
    configs: tuple[FullConfig, ...] | None = None,
    features: tuple[str, ...] = SCORE_FEATURES,
    bins: int = GBT_BINS,
) -> str:
    """Oracle for q_gbt_random_search_full: per sampled trial one
    unrolled DEEP boosting chain carrying ALL of that trial's axes
    (subsample predicate, colsample schedule, min_child_weight
    admissibility, ThresholdL1, scale_pos_weight) + a deep holdout
    replay + a rank-sum AUC; is_best ranks by (val_auc DESC, config)."""
    configs = sampled_search_configs_full() if configs is None else configs
    parts = [
        f"base AS ({fv_sql})",
        f"tr AS MATERIALIZED (SELECT * FROM base WHERE {H60_OK_SQL} < 80)",
        f"va AS MATERIALIZED (SELECT * FROM base WHERE {H60_OK_SQL} >= 80)",
    ]
    auc_names: list[str] = []
    for i, (_nm, rounds, eta, lam, depth, sub, csam, mcw, alpha, spw) in enumerate(
        configs
    ):
        p_ = f"rf{i}_"
        ctes, _rk = _gbt_deep_ctes(
            "SELECT * FROM tr", features, rounds, bins, lam, eta, depth,
            subsample=(None if sub is None or sub >= 1.0 else sub),
            colsample=(None if csam is None or csam >= 1.0 else csam),
            prefix=p_, min_child_weight=mcw, reg_alpha=alpha,
            pos_weight=(None if spw is None or float(spw) == 1.0 else spw),
        )
        parts.append(ctes)
        hctes, hk = _gbt_deep_holdout_ctes(
            p_, "va", features, rounds, bins, eta, depth
        )
        parts.append(hctes)
        s6 = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")
        parts.append(f"{p_}scored AS (SELECT label, {s6} AS s FROM {hk})")
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
        parts.append(f"{p_}auc AS (SELECT {auc6} AS auc FROM {p_}agg)")
        auc_names.append(f"{p_}auc")
    vals = ", ".join(
        f"('{nm}', {rounds}, {eta!r}, {lam!r}, {depth}, {sub!r}, {csam!r}, "
        f"{mcw!r}, {alpha!r}, {spw!r})"
        for nm, rounds, eta, lam, depth, sub, csam, mcw, alpha, spw in configs
    )
    auc_case = " ".join(
        f"WHEN '{c[0]}' THEN (SELECT auc FROM {auc_names[i]})"
        for i, c in enumerate(configs)
    )
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block},
    longf AS (
      SELECT c.config, c.rounds, c.eta, c.lam, c.depth, c.subsample,
             c.colsample, c.min_child_weight, c.reg_alpha, c.pos_weight,
             CASE c.config {auc_case} END AS val_auc
      FROM (VALUES {vals}) c(config, rounds, eta, lam, depth, subsample,
                             colsample, min_child_weight, reg_alpha,
                             pos_weight)
    )
    SELECT config, CAST(rounds AS INTEGER) AS rounds, eta, lam,
           CAST(depth AS INTEGER) AS depth,
           CAST(subsample AS DOUBLE) AS subsample,
           CAST(colsample AS DOUBLE) AS colsample,
           CAST(min_child_weight AS DOUBLE) AS min_child_weight,
           CAST(reg_alpha AS DOUBLE) AS reg_alpha,
           CAST(pos_weight AS DOUBLE) AS pos_weight, val_auc,
           CAST(CASE WHEN row_number() OVER (ORDER BY val_auc DESC, config) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM longf"""
