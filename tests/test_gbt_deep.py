"""Depth-d GBT + deterministic subsampling (ext/gbt_deep.py) and
3-fold CV selection (ext/gbt_cv.py).

The test_gbt.py laws, one axis at a time:
1. At depth=2 the generalized trainer reproduces ext/gbt.train_gbt's
   trees BIT-EXACTLY (modulo heap representation) — the old contract
   is a special case, not a parallel code path drifting apart.
2. The depth-3 Spark fit is bit-identical to an independent NumPy
   replay of the same arithmetic — splits, gains, AND leaf doubles.
3. Tree structure is partition-layout independent at depth 3 and
   under row/column subsampling (the schedules are content hashes,
   not RNG).
4. Subsampling is REAL: the sampled booster differs from the exact
   fit; the column schedule has the promised size and determinism.
5. The fused depth-grid trainer returns trees bit-identical to the
   sequential per-config fold.
6. Degenerate nodes raise (both engines refuse to fabricate
   structure) — the gated-domain contract.
7. CV fold AUCs match an independent NumPy rank-sum replay, and the
   mean is the exact left-associated round6 fold the oracle writes.
8. The generated DuckDB chain (the one every GBT oracle is built
   from) reproduces the NumPy replay's trees at depths 2 and 3, and
   the k-fold oracle's folds follow the fold count.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    GBT_BINS,
    GBT_ETA,
    GBT_LAMBDA,
    GBT_ROUNDS,
    _argmax_split_sub,
    _leaf_w,
    col_subset,
    train_gbt,
    train_gbt_grid,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import train_gbt_deep


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _hist(active, B, gm, hm, mask):
    cells = []
    for fidx in active:
        bs = B[mask, fidx]
        for b in np.unique(bs):
            sel = mask & (B[:, fidx] == b)
            cells.append(
                (int(fidx), int(b), int(gm[sel].sum()), int(hm[sel].sum()))
            )
    return cells


def _tree_vals(tree, B, n):
    vals = np.zeros(n)

    def rec(n_id, mask):
        if n_id in tree["leaves"]:
            vals[mask] = tree["leaves"][n_id]
            return
        fidx, b = tree["splits"][n_id]
        left = mask & (B[:, fidx] <= b)
        rec(2 * n_id, left)
        rec(2 * n_id + 1, mask & ~left)

    rec(1, np.ones(n, dtype=bool))
    return vals


def gbt_deep_numpy_replay(
    X,
    y,
    features,
    rounds,
    bins,
    lam,
    eta,
    scales,
    depth,
    ids=None,
    subsample=None,
    colsample=None,
):
    """Independent replay: numpy masking instead of distributed
    aggregation; shares only the pure-Python argmax/leaf folds."""
    div = np.array([(scales or {}).get(f, 1.0) for f in features])
    B = np.minimum(
        np.maximum(np.floor((X / div) * bins), 0), bins - 1
    ).astype(np.int64)
    n, d = X.shape
    trees = []
    for t in range(rounds):
        z = np.zeros(n)
        for tr in trees:
            z = z + eta * _tree_vals(tr, B, n)
        p = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
        g = p - y
        h = p * (1.0 - p)
        gm = np.floor(g * 1e6 + 0.5).astype(np.int64)
        hm = np.floor(h * 1e6 + 0.5).astype(np.int64)
        if subsample is not None and subsample < 1.0:
            pct = int(round(subsample * 100))
            sel = np.array(
                [_h60(f"{i}#r{t}") % 100 < pct for i in ids], dtype=bool
            )
        else:
            sel = np.ones(n, dtype=bool)
        active = col_subset(features, t, colsample)
        tree = {"depth": depth, "splits": {}, "gains": {}, "leaves": {}}
        masks = {1: np.ones(n, dtype=bool)}
        for lvl in range(depth):
            for n_id in range(2**lvl, 2 ** (lvl + 1)):
                m = masks[n_id] & sel
                assert m.any(), "degenerate node in replay"
                fidx, b, glm, hlm, g_m, h_m, gain = _argmax_split_sub(
                    _hist(active, B, gm, hm, m), active, lam
                )
                tree["splits"][n_id] = (fidx, b)
                tree["gains"][n_id] = gain
                left = masks[n_id] & (B[:, fidx] <= b)
                if lvl == depth - 1:
                    tree["leaves"][2 * n_id] = _leaf_w(glm, hlm, lam)
                    tree["leaves"][2 * n_id + 1] = _leaf_w(
                        g_m - glm, h_m - hlm, lam
                    )
                else:
                    masks[2 * n_id] = left
                    masks[2 * n_id + 1] = masks[n_id] & ~left
        trees.append(tree)
    return trees


def _frame(spark, n=900, seed=7):
    """Two planted boundaries + noise so depth-3 trees stay
    non-degenerate: y depends on x2 > 0.55 AND x1 > 0.3."""
    rng = np.random.RandomState(seed)
    x1 = rng.uniform(0, 1, n).round(4)
    x2 = rng.uniform(0, 1, n).round(4)
    x3 = rng.uniform(0, 1, n).round(4)
    flip = rng.uniform(0, 1, n) < 0.15
    y = (((x2 > 0.55) & (x1 > 0.3)) ^ flip).astype(int)
    ids = np.arange(1, n + 1)
    rows = [
        (int(i), float(a), float(b), float(c), int(v))
        for i, a, b, c, v in zip(ids, x1, x2, x3, y)
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, x1 double, x2 double, x3 double, label int"
    )
    return df, np.column_stack([x1, x2, x3]), y.astype(float), ids


FEATS = ("x1", "x2", "x3")


def test_depth2_reproduces_train_gbt_bit_exactly(spark):
    df, X, y, ids = _frame(spark)
    old = train_gbt(df, features=FEATS, scales={})
    new = train_gbt_deep(df, features=FEATS, scales={}, depth=2)
    for a, b in zip(old, new):
        assert a["splits"][1] == b["splits"][1]
        assert a["splits"][2] == b["splits"][2]
        assert a["splits"][3] == b["splits"][3]
        assert a["gains"][1] == b["gains"][1]
        assert a["gains"][2] == b["gains"][2]
        assert a["gains"][3] == b["gains"][3]
        assert tuple(a["leaves"][k] for k in (4, 5, 6, 7)) == (
            b["leaves"][4],
            b["leaves"][5],
            b["leaves"][6],
            b["leaves"][7],
        )


def test_depth3_fit_matches_numpy_replay_bit_exactly(spark):
    df, X, y, ids = _frame(spark)
    got = train_gbt_deep(df, features=FEATS, scales={}, depth=3)
    want = gbt_deep_numpy_replay(
        X, y, FEATS, GBT_ROUNDS, GBT_BINS, GBT_LAMBDA, GBT_ETA, {}, 3
    )
    assert got == want


def test_depth3_is_layout_independent(spark):
    df, *_ = _frame(spark)
    a = train_gbt_deep(df, features=FEATS, scales={}, depth=3)
    b = train_gbt_deep(df.repartition(17), features=FEATS, scales={}, depth=3)
    assert a == b


def test_subsample_matches_replay_and_differs_from_full_fit(spark):
    df, X, y, ids = _frame(spark)
    full = train_gbt_deep(df, features=FEATS, scales={}, depth=2)
    sub = train_gbt_deep(
        df, features=FEATS, scales={}, depth=2, subsample=0.7, colsample=0.7
    )
    assert sub != full, "subsampling must change the fit"
    want = gbt_deep_numpy_replay(
        X, y, FEATS, GBT_ROUNDS, GBT_BINS, GBT_LAMBDA, GBT_ETA, {}, 2,
        ids=ids, subsample=0.7, colsample=0.7,
    )
    assert sub == want
    # bit-stable across layouts: hash schedules, not RNG
    again = train_gbt_deep(
        df.repartition(11), features=FEATS, scales={}, depth=2,
        subsample=0.7, colsample=0.7,
    )
    assert sub == again


def test_col_subset_schedule_properties():
    feats = tuple(f"f{i}" for i in range(8))
    # full when colsample off / >= 1
    assert col_subset(feats, 0, None) == tuple(range(8))
    assert col_subset(feats, 3, 1.0) == tuple(range(8))
    for t in range(5):
        s = col_subset(feats, t, 0.75)
        assert len(s) == 6 and list(s) == sorted(s)
        assert s == col_subset(feats, t, 0.75)  # deterministic
    # the round salt actually rotates the subset somewhere
    assert len({col_subset(feats, t, 0.5) for t in range(6)}) > 1
    # never empty
    assert len(col_subset(feats, 0, 0.01)) == 1


def test_fused_deep_grid_matches_sequential(spark):
    df, *_ = _frame(spark)
    configs = (
        ("a_d2", 2, 0.3, 1.0, 2),
        ("b_d3", 2, 0.3, 1.0, 3),
        ("c_d3_e01", 1, 0.1, 1.0, 3),
    )
    grid = train_gbt_grid(df, configs=configs, features=FEATS, scales={})
    for i, (_n, r, e, lam, d) in enumerate(configs):
        seq = train_gbt_deep(
            df, features=FEATS, scales={}, rounds=r, eta=e, lam=lam, depth=d
        )
        assert grid[i] == seq


def test_degenerate_node_raises(spark):
    # every feature constant → no admissible (non-empty-child) split
    # exists → ValueError at the argmax, not fabricated trees
    rows = [(i, 0.5, 0.5, i % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "o_orderkey long, x1 double, x2 double, label int")
    with pytest.raises(ValueError, match="unsplittable"):
        train_gbt_deep(df, features=("x1", "x2"), scales={}, depth=2)


# --- CV selection (ext/gbt_cv.py) ---------------------------------------------


def _auc_numpy(scores, labels):
    """Mann-Whitney with average-rank ties, independent impl."""
    order = np.argsort(scores)
    s = scores[order]
    lab = labels[order]
    ranks = np.zeros(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[i : j + 1] = (i + 1 + j + 1) / 2.0
        i = j + 1
    n1 = lab.sum()
    n0 = len(lab) - n1
    if n1 == 0 or n0 == 0:
        return 0.0
    r1 = ranks[lab == 1].sum()
    raw = (r1 - n1 * (n1 + 1) / 2) / (n1 * n0)
    return math.floor(raw * 1e6 + 0.5) / 1e6


def test_cv_fold_aucs_match_numpy_replay(spark):
    """End-to-end independence: fold assignment (md5 mod 3), per-fold
    training (NumPy replay of the fused grid via the grid≡sequential
    ≡replay laws), held-out scoring, and the rank-sum AUC reduction
    all recomputed outside Spark — gbt_cv_fold_aucs must agree
    bit-for-bit."""
    from test_gbt import gbt_numpy_replay

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_cv import gbt_cv_fold_aucs

    df, X, y, ids = _frame(spark, n=700, seed=23)
    configs = (("a", 2, 0.3, 1.0), ("b", 1, 0.3, 1.0))
    got = gbt_cv_fold_aucs(df, configs=configs, features=FEATS, scales={})

    folds = 3
    fold = np.array([_h60(str(i)) % folds for i in ids])
    B = np.minimum(
        np.maximum(np.floor(X * GBT_BINS), 0), GBT_BINS - 1
    ).astype(np.int64)
    want = [[None] * folds for _ in configs]
    for f in range(folds):
        tr_mask = fold != f
        va_mask = ~tr_mask
        for i, (_n, rounds, eta, lam) in enumerate(configs):
            trees = gbt_numpy_replay(
                X[tr_mask], y[tr_mask], FEATS, rounds, GBT_BINS, lam, eta, {}
            )
            z = np.zeros(int(va_mask.sum()))
            Bv = B[va_mask]
            for t_ in trees:
                (rf, rb), (lf, lb), (rrf, rrb) = (t_["splits"][k] for k in (1, 2, 3))
                w = t_["leaves"]
                left = np.where(Bv[:, lf] <= lb, w[4], w[5])
                right = np.where(Bv[:, rrf] <= rrb, w[6], w[7])
                z = z + eta * np.where(Bv[:, rf] <= rb, left, right)
            s = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
            want[i][f] = _auc_numpy(s, y[va_mask])
    assert got == want


def test_cv_mean_is_left_associated_round6():
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_cv import cv_mean

    vals = [0.123456, 0.654321, 0.111111]
    s = (0.123456 + 0.654321) + 0.111111
    assert cv_mean(vals) == math.floor((s / 3.0) * 1e6 + 0.5) / 1e6


# --- min_child_weight / reg_alpha (the last Optuna dimensions) -----------------


def test_zero_regularization_is_the_identity(spark):
    """mcw=0 / α=0 must be bit-identical to the plain fit — the new
    parameters change NOTHING unless set (ThresholdL1(g, 0) ≡ g and
    the mcw filter is skipped)."""
    df, *_ = _frame(spark)
    plain = train_gbt_deep(df, features=FEATS, scales={}, depth=2)
    zeroed = train_gbt_deep(
        df, features=FEATS, scales={}, depth=2,
        min_child_weight=0.0, reg_alpha=0.0,
    )
    assert plain == zeroed


def test_thr_is_exact_integer_soft_threshold():
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import _thr

    assert _thr(1_000_000, 500_000) == 500_000
    assert _thr(-1_000_000, 500_000) == -500_000
    assert _thr(400_000, 500_000) == 0
    assert _thr(-400_000, 500_000) == 0
    assert _thr(500_000, 500_000) == 0       # boundary: |g| == α → 0
    assert _thr(7, 0) == 7                    # identity at α=0


def test_min_child_weight_prunes_candidates(spark):
    """A huge mcw forces the argmax away from splits with tiny
    children: with mcw larger than any child's hessian mass the node
    is unsplittable (loud), and with a moderate mcw the chosen splits
    all satisfy the constraint (checked against recomputed masses)."""
    df, X, y, ids = _frame(spark)
    n = len(y)
    # h = p(1-p) ≈ 0.25/row in round 0 → total ≈ 0.25n; mcw beyond
    # half of that cannot be satisfied by any split
    with pytest.raises(ValueError, match="unsplittable"):
        train_gbt_deep(
            df, features=FEATS, scales={}, depth=2,
            min_child_weight=0.25 * n,
        )
    mcw = 20.0  # ≈ 80-row minimum per child in round 0
    trees = train_gbt_deep(
        df, features=FEATS, scales={}, depth=2, min_child_weight=mcw
    )
    plain = train_gbt_deep(df, features=FEATS, scales={}, depth=2)
    # layout-independent like every fit
    again = train_gbt_deep(
        df.repartition(13), features=FEATS, scales={}, depth=2,
        min_child_weight=mcw,
    )
    assert trees == again
    # structure is well-formed either way; equality with the plain
    # fit is allowed (the constraint binds only if the plain argmax
    # picked a tiny child) — verify the constraint HOLDS on the mcw
    # fit by recomputing child row masses from the data
    B = np.minimum(np.maximum(np.floor(X * GBT_BINS), 0), GBT_BINS - 1).astype(int)
    for tr in trees:
        rf, rb = tr["splits"][1]
        left = B[:, rf] <= rb
        assert left.sum() >= 40 and (~left).sum() >= 40  # ≥ mcw/0.25 at h≈0.25


def test_reg_alpha_shrinks_leaves_toward_zero(spark):
    """L1: every |leaf| of the α-fit is ≤ the plain fit's leaf AT THE
    SAME (G, H) only when the same splits are chosen — so check the
    universal property instead: all α-fit leaves satisfy
    |w| ≤ max(0, (|G|−α))/(H+λ) recomputed from its own structure,
    and at least one leaf strictly shrank vs α=0 on the same data."""
    df, *_ = _frame(spark)
    plain = train_gbt_deep(df, features=FEATS, scales={}, depth=2)
    l1 = train_gbt_deep(df, features=FEATS, scales={}, depth=2, reg_alpha=0.5)
    # α only ever reduces |w| for equal structure; across fits compare
    # the max-magnitude leaf — soft-thresholding must not grow it
    max_plain = max(abs(w) for tr in plain for w in tr["leaves"].values())
    max_l1 = max(abs(w) for tr in l1 for w in tr["leaves"].values())
    assert max_l1 <= max_plain + 1e-12
    assert l1 != plain  # α=0.5 actually moved the fit on this frame
    # and it stays layout-independent
    again = train_gbt_deep(
        df.repartition(7), features=FEATS, scales={}, depth=2, reg_alpha=0.5
    )
    assert l1 == again


def test_sampled_search_configs_are_bit_stable_and_in_range():
    """The study's draws are content hashes, not RNG: re-deriving the
    list gives the identical tuple, and every dimension lands inside
    its swept range (the deterministic twin of fraud_detector.py:274's
    30 sampled trials)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import sampled_search_configs

    cfgs = sampled_search_configs()
    assert cfgs == sampled_search_configs()
    assert len(cfgs) == 8 and len({c[0] for c in cfgs}) == 8
    for _name, rounds, eta, lam, depth in cfgs:
        assert rounds in (2, 3)
        assert eta in (0.1, 0.2, 0.3, 0.4, 0.5)
        assert lam in (0.5, 1.0, 2.0)
        assert depth in (2, 3)
    # the sweep is real: more than one value drawn per dimension
    assert len({c[1] for c in cfgs}) > 1
    assert len({c[2] for c in cfgs}) > 1
    assert len({c[3] for c in cfgs}) > 1
    assert len({c[4] for c in cfgs}) > 1


def test_fused_grid_job_count_is_config_width_independent(spark):
    """The claim that makes 30 trials affordable at 100 TB: the fused
    deep grid schedules ONE Spark job per (round, level) — 8 sampled
    trials launch exactly as many jobs as 2 trials with the same
    (max rounds, max depth) envelope; extra trials only widen the
    map-side combine's integer histogram, never add scans."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import sampled_search_configs

    df, *_ = _frame(spark)
    sc = spark.sparkContext

    def jobs_for(configs, group):
        sc.setJobGroup(group, group)
        try:
            train_gbt_grid(df, configs=configs, features=FEATS, scales={})
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    wide = tuple(
        (name, r, e, l, d)
        for name, r, e, l, d in sampled_search_configs()
    )
    # a 2-config grid with the same (rounds, depth) envelope
    narrow = (
        ("n0", max(c[1] for c in wide), 0.3, 1.0, max(c[4] for c in wide)),
        ("n1", 2, 0.2, 1.0, 2),
    )
    n_wide = jobs_for(wide, "rs_wide")
    n_narrow = jobs_for(narrow, "rs_narrow")
    assert n_wide == n_narrow, (n_wide, n_narrow)
    # and the bound itself: one aggregate ACTION per (round, level) at
    # ≤2 Spark jobs each (shuffle-map + result), plus ≤1 job per round
    # for the persist materialization of the shared gradient frame
    # (the within-query cache every level re-reads), plus 1 for the
    # r17 _compress_binned groupBy that folds the frame to distinct
    # weighted (label, bins) rows before round 0
    assert n_wide <= max(c[1] for c in wide) * (
        2 * max(c[4] for c in wide) + 1
    ) + 1


def test_random_search_winner_matches_independent_sweep(spark):
    """End-to-end check against an independent path: fit every
    sampled trial SEQUENTIALLY (train_gbt_deep — bit-identical to the
    fused fold by the grid law), compute each holdout AUC with a
    NumPy rank-sum, and verify grid_holdout_aucs returns the same
    round6 AUCs and therefore the same winner."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import (
        grid_holdout_aucs,
        sampled_search_configs,
        train_gbt_deep,
    )

    cfgs = sampled_search_configs()
    df, X, y, ids = _frame(spark, n=1200, seed=19)
    tr_mask = np.array([_h60(str(i)) % 100 < 80 for i in ids])
    tr = df.filter("('0x' || substr(md5(CAST(o_orderkey AS STRING)), 1, 15)) % 100 < 80")
    # build folds via the engine's own hash column to stay exact
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60
    from pyspark.sql import functions as F

    b = hash60(F.col("o_orderkey").cast("string")) % 100
    tr, va = df.filter(b < 80), df.filter(b >= 80)

    fused = train_gbt_grid(tr, configs=cfgs, features=FEATS, scales={})
    got = grid_holdout_aucs(va, fused, cfgs, features=FEATS, scales={})

    # independent: sequential fits + NumPy AUC on the holdout fold
    r6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    Xva, yva = X[~tr_mask], y[~tr_mask]
    B = np.floor(Xva * 16).clip(0, 15).astype(int)  # bins=16, scales={}
    want = []
    for (_n, rounds, eta, lam, depth) in cfgs:
        seq = train_gbt_deep(
            tr, features=FEATS, scales={}, rounds=rounds, eta=eta,
            lam=lam, depth=depth,
        )
        z = np.zeros(len(yva))
        for t in seq:
            z = z + eta * _tree_vals(t, B, len(yva))
        s = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
        pos, neg = s[yva == 1], s[yva == 0]
        wins = 0.0
        for p in pos:
            wins += (p > neg).sum() + 0.5 * (p == neg).sum()
        want.append(r6(wins / (len(pos) * len(neg))))
    assert got == want


def test_depth4_fit_matches_numpy_replay_bit_exactly(spark):
    """The level loop one past r15's ceiling: depth is a PARAMETER —
    the depth-4 Spark fit (15 splits, 16 leaves per tree) is
    bit-identical to the independent NumPy replay, splits, gains, AND
    leaf doubles (q_gbt_train_depth4's engine path)."""
    df, X, y, _ids = _frame(spark, n=1500, seed=23)
    got = train_gbt_deep(df, features=FEATS, scales={}, rounds=2, depth=4)
    want = gbt_deep_numpy_replay(
        X, y, FEATS, rounds=2, bins=GBT_BINS, lam=GBT_LAMBDA,
        eta=GBT_ETA, scales={}, depth=4,
    )
    assert got == want
    for t in got:
        assert len(t["splits"]) == 15 and len(t["leaves"]) == 16


# --- FULL-space sampled search (train_gbt_grid over nine-axis trials) ------------


def test_full_sampler_is_bit_stable_and_sweeps_every_dimension():
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import sampled_search_configs_full

    cfgs = sampled_search_configs_full()
    assert cfgs == sampled_search_configs_full()  # RNG-free
    assert len(cfgs) == 8
    for (_n, r, e, lam, d, sub, cs, mcw, a, spw) in cfgs:
        assert r in (2, 3) and e in (0.1, 0.2, 0.3, 0.4, 0.5)
        assert lam in (0.5, 1.0, 2.0) and d in (2, 3)
        assert sub in (0.7, 0.85, 1.0) and cs in (0.75, 1.0)
        assert mcw in (0.0, 0.5, 1.0) and a in (0.0, 0.25, 0.5)
        assert spw in (1.0, 2.0, 5.0)
    # every one of the NINE dimensions actually varies across trials
    for idx in range(1, 10):
        assert len({c[idx] for c in cfgs}) > 1, f"dimension {idx} constant"


def test_deep_pos_weight_one_is_the_identity(spark):
    """spw=1.0 multiplies g and h by exactly 1.0 — bit-identical to
    the unweighted fit (the reg-alpha-zero-identity law's twin)."""
    df, *_ = _frame(spark)
    assert train_gbt_deep(
        df, features=FEATS, scales={}, pos_weight=1.0
    ) == train_gbt_deep(df, features=FEATS, scales={})


def test_deep_pos_weight_depth2_matches_train_gbt_weighted(spark):
    """The weighted deep fold at depth=2 reproduces ext/gbt.train_gbt's
    scale_pos_weight fold bit-exactly — the two weighted code paths
    cannot drift apart."""
    df, *_ = _frame(spark)
    old = train_gbt(df, features=FEATS, scales={}, pos_weight=3.0)
    new = train_gbt_deep(
        df, features=FEATS, scales={}, depth=2, pos_weight=3.0
    )
    for a, b in zip(old, new):
        assert a["splits"][1] == b["splits"][1]
        assert a["splits"][2] == b["splits"][2]
        assert a["splits"][3] == b["splits"][3]
        assert tuple(a["leaves"][k] for k in (4, 5, 6, 7)) == (
            b["leaves"][4],
            b["leaves"][5],
            b["leaves"][6],
            b["leaves"][7],
        )
    # and the weight is REAL: the weighted fit differs from the plain one
    assert new != train_gbt_deep(df, features=FEATS, scales={}, depth=2)


def test_fused_full_grid_matches_sequential(spark):
    """Every sampled full-space trial fit by the fused fold is
    bit-identical to the sequential train_gbt_deep with the same nine
    axes — the law that lets the oracle unroll sequential chains."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import sampled_search_configs_full

    cfgs = sampled_search_configs_full()
    df, *_ = _frame(spark, n=1200, seed=19)
    fused = train_gbt_grid(df, configs=cfgs, features=FEATS, scales={})
    for i, (_n, r, e, lam, d, sub, cs, mcw, a, spw) in enumerate(cfgs):
        seq = train_gbt_deep(
            df, features=FEATS, scales={}, rounds=r, eta=e, lam=lam,
            depth=d,
            subsample=None if sub >= 1.0 else sub,
            colsample=None if cs >= 1.0 else cs,
            min_child_weight=mcw, reg_alpha=a,
            pos_weight=None if spw == 1.0 else spw,
        )
        assert fused[i] == seq, f"trial {i} diverged"


def test_fused_full_grid_job_count_is_config_width_independent(spark):
    """The job-count law extends to the full space: 8 fully-
    parameterized trials schedule exactly as many Spark jobs as 2
    trials with the same (rounds, depth) envelope — the stochastic
    axes ride the shared scan (one hash column + a post-stack filter),
    never add one."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import sampled_search_configs_full

    df, *_ = _frame(spark, n=1200, seed=19)
    sc = spark.sparkContext

    def jobs_for(configs, group):
        sc.setJobGroup(group, group)
        try:
            train_gbt_grid(df, configs=configs, features=FEATS, scales={})
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    wide = sampled_search_configs_full()
    narrow = (
        ("n0", max(c[1] for c in wide), 0.3, 1.0, max(c[4] for c in wide),
         0.7, 0.75, 0.5, 0.25, 2.0),
        ("n1", 2, 0.2, 1.0, 2, 0.85, 1.0, 0.0, 0.0, 5.0),
    )
    n_wide = jobs_for(wide, "rsf_wide")
    n_narrow = jobs_for(narrow, "rsf_narrow")
    assert n_wide == n_narrow, (n_wide, n_narrow)
    # ≤2 jobs per (round, level) aggregate action, plus ≤1 job per
    # round for the persist gradient-frame materialization, plus 1
    # for the r17 _compress_binned groupBy before round 0
    assert n_wide <= max(c[1] for c in wide) * (
        2 * max(c[4] for c in wide) + 1
    ) + 1


def test_cv_full_fold_aucs_match_independent_replay(spark):
    """The full-space CV composition (q_model_selection_cv_full):
    fold assignment, per-fold fused full-space training, held-out
    stacked scoring, and the one-aggregate rank-sum reduction — all
    recomputed via an independent path: SEQUENTIAL nine-axis
    train_gbt_deep per (fold, trial) (bit-identical to the fused fold
    by the full-grid law), NumPy deep-tree walk for the holdout
    scores, NumPy rank-sum AUC. Must agree bit-for-bit."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_cv import gbt_cv_fold_aucs
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import sampled_search_configs_full

    cfgs = sampled_search_configs_full()[:4]
    # the CV'd prefix still sweeps every one of the nine dimensions
    for idx in range(1, 10):
        assert len({c[idx] for c in cfgs}) > 1, f"dimension {idx} constant"

    df, X, y, ids = _frame(spark, n=1500, seed=29)
    got = gbt_cv_fold_aucs(df, configs=cfgs, features=FEATS, scales={})

    folds = 3
    fold = np.array([_h60(str(i)) % folds for i in ids])
    B = np.minimum(
        np.maximum(np.floor(X * GBT_BINS), 0), GBT_BINS - 1
    ).astype(np.int64)
    want = [[None] * folds for _ in cfgs]
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60
    from pyspark.sql import functions as F

    fc = F.pmod(hash60(F.col("o_orderkey").cast("string")), F.lit(folds))
    for f in range(folds):
        tr = df.filter(fc != f)
        va_mask = fold == f
        for i, (_n, r, e, lam, d, sub, cs, mcw, a, spw) in enumerate(cfgs):
            seq = train_gbt_deep(
                tr, features=FEATS, scales={}, rounds=r, eta=e, lam=lam,
                depth=d,
                subsample=None if sub >= 1.0 else sub,
                colsample=None if cs >= 1.0 else cs,
                min_child_weight=mcw, reg_alpha=a,
                pos_weight=None if spw == 1.0 else spw,
            )
            n_va = int(va_mask.sum())
            Bv = B[va_mask]
            z = np.zeros(n_va)
            for t_ in seq:
                z = z + e * _tree_vals(t_, Bv, n_va)
            s = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
            want[i][f] = _auc_numpy(s, y[va_mask])
    assert got == want


def test_sampled_study_identities_are_pinned_literally():
    """The engine AND the generated oracle share the sampler, so an
    accidental edit to the bucket sets would move both sides together
    and the hash gate would stay green while the study silently
    changed. Pin the exact draws as literals — changing the study is
    an explicit, reviewed decision."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import (
        sampled_search_configs,
        sampled_search_configs_full,
    )

    assert sampled_search_configs() == (
        ("t00", 2, 0.2, 2.0, 2),
        ("t01", 3, 0.1, 2.0, 3),
        ("t02", 3, 0.1, 2.0, 2),
        ("t03", 3, 0.1, 1.0, 3),
        ("t04", 2, 0.4, 0.5, 3),
        ("t05", 3, 0.3, 0.5, 2),
        ("t06", 2, 0.5, 2.0, 2),
        ("t07", 3, 0.5, 1.0, 2),
    )
    assert sampled_search_configs_full() == (
        ("f00", 2, 0.2, 2.0, 2, 0.7, 1.0, 0.5, 0.5, 5.0),
        ("f01", 3, 0.1, 2.0, 3, 0.85, 0.75, 0.0, 0.25, 2.0),
        ("f02", 3, 0.1, 2.0, 2, 1.0, 1.0, 0.0, 0.5, 5.0),
        ("f03", 3, 0.1, 1.0, 3, 0.7, 1.0, 0.0, 0.5, 2.0),
        ("f04", 2, 0.4, 0.5, 3, 0.7, 0.75, 0.0, 0.5, 5.0),
        ("f05", 3, 0.3, 0.5, 2, 0.7, 0.75, 1.0, 0.5, 2.0),
        ("f06", 2, 0.5, 2.0, 2, 1.0, 0.75, 0.5, 0.0, 1.0),
        ("f07", 3, 0.5, 1.0, 2, 0.85, 1.0, 0.5, 0.25, 5.0),
    )


def test_fold_fused_cv_trainers_match_per_fold_loop(spark):
    """r17: the CV fold loop is fused into ONE stacked aggregate per
    (round, level) (ext/gbt._fit with a fold column — the
    _binned_frame + _descend pair gbt_cv_fold_aucs runs, any grid
    width); the trees must be bit-identical to training each fold's
    complement separately through the single-fold fused trainers —
    splits, gains AND leaf doubles."""
    from pyspark.sql import functions as F

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import _cfg, _fit
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60

    df, *_ = _frame(spark, n=1200, seed=19)
    fold_col = F.pmod(hash60(F.col("o_orderkey").cast("string")), F.lit(3))

    def fused(configs):
        k = len(configs)
        trees = _fit(df, [_cfg(*c) for c in configs], FEATS, GBT_BINS, "label",
                     {}, fold_col, 3)
        return [trees[f * k:(f + 1) * k] for f in range(3)]

    cfgs2 = (("a", 2, 0.3, 1.0), ("b", 1, 0.3, 1.0), ("c", 2, 0.1, 5.0))
    fused2 = fused(cfgs2)
    for f in range(3):
        seq = train_gbt_grid(
            df.filter(fold_col != f), configs=cfgs2, features=FEATS, scales={}
        )
        assert fused2[f] == seq, f"depth-2 fold {f} diverged"

    # full space: every axis exercised (subsample, colsample, mcw,
    # alpha, pos_weight, mixed depths/rounds)
    cfgsF = (
        ("f0", 2, 0.3, 1.0, 2, 0.7, 0.75, 0.5, 0.25, 2.0),
        ("f1", 1, 0.2, 1.0, 3, 1.0, 1.0, 0.0, 0.0, 1.0),
        ("f2", 2, 0.4, 0.5, 2, 0.85, 1.0, 0.0, 0.5, 5.0),
    )
    fusedF = fused(cfgsF)
    for f in range(3):
        seqF = train_gbt_grid(
            df.filter(fold_col != f), configs=cfgsF, features=FEATS, scales={}
        )
        assert fusedF[f] == seqF, f"full-space fold {f} diverged"


def test_failed_fits_release_their_persisted_frames(spark):
    """A constant frame has no admissible split, so the ValueError
    fires after the level-0 job has materialized the round's persisted
    working frame (and, in the CV scorer, the shared binned frame).
    No persisted frame may outlive the failed call."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_cv import gbt_cv_fold_aucs

    rows = [(i, 0.5, 0.5, i % 2) for i in range(60)]
    df = spark.createDataFrame(
        rows, "o_orderkey long, x1 double, x2 double, label int"
    )
    feats = ("x1", "x2")
    jsc = spark.sparkContext._jsc
    for fit in (
        lambda: train_gbt(df, features=feats, scales={}),
        lambda: train_gbt_deep(df, features=feats, scales={}, depth=3),
        lambda: gbt_cv_fold_aucs(
            df, configs=(("a", 2, 0.3, 1.0),), features=feats, scales={}
        ),
    ):
        before = jsc.getPersistentRDDs().size()
        with pytest.raises(ValueError, match="unsplittable"):
            fit()
        assert jsc.getPersistentRDDs().size() == before


def test_single_model_job_count_is_bounded(spark):
    """The single-model path (q_gbt_train's plan build) schedules at
    most rounds·(2·depth+1)+1 Spark jobs: ≤2 per (round, level)
    aggregate action, ≤1 per round for the persisted working frame,
    plus 1 for the compressing groupBy before round 0 — the bound the
    fused-grid pins use, held by train_gbt and train_gbt_deep."""
    df, *_ = _frame(spark)
    sc = spark.sparkContext

    def jobs_for(fit, group):
        sc.setJobGroup(group, group)
        try:
            fit()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n2 = jobs_for(lambda: train_gbt(df, features=FEATS, scales={}), "one_d2")
    assert n2 <= GBT_ROUNDS * (2 * 2 + 1) + 1, n2
    n3 = jobs_for(
        lambda: train_gbt_deep(df, features=FEATS, scales={}, depth=3), "one_d3"
    )
    assert n3 <= GBT_ROUNDS * (2 * 3 + 1) + 1, n3


def test_oracle_chain_matches_numpy_replay():
    """The oracle-side pin (DuckDB only, no Spark session): the one
    generated boosting chain's tree rows — gbt_train_deep_sql at
    depths 2 and 3, and gbt_train_sql's depth-2 rows — equal the NumPy
    replay's splits, bins, round6 gains and round6 leaves on the toy
    frame, so the depth-2 oracle ids and the deep ones read the same
    trees the engine pins hold to."""
    from types import SimpleNamespace

    import duckdb
    import pandas as pd

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import gbt_train_sql
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import (
        gbt_train_deep_sql,
    )

    # the toy frame's arrays, without building a Spark frame
    _df, X, y, ids = _frame(SimpleNamespace(createDataFrame=lambda rows, schema: None))
    con = duckdb.connect()
    con.register(
        "toy",
        pd.DataFrame(
            {"o_orderkey": ids, **{f: X[:, i] for i, f in enumerate(FEATS)},
             "label": y.astype(int)}
        ),
    )
    fv = "SELECT * FROM toy"

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    for depth in (2, 3):
        want = gbt_deep_numpy_replay(
            X, y, FEATS, GBT_ROUNDS, GBT_BINS, GBT_LAMBDA, GBT_ETA, {}, depth
        )
        exp = {}
        for t, tr in enumerate(want):
            for node, (fidx, b) in tr["splits"].items():
                last = node >= 1 << (depth - 1)
                wl, wr = (
                    (r6(tr["leaves"][2 * node]), r6(tr["leaves"][2 * node + 1]))
                    if last
                    else (0.0, 0.0)
                )
                exp[t, node] = (FEATS[fidx], b, r6(tr["gains"][node]), wl, wr, int(last))
        rows = con.execute(gbt_train_deep_sql(fv, features=FEATS, depth=depth)).fetchall()
        assert {(r[0], r[1]): tuple(r[2:]) for r in rows} == exp
        if depth == 2:
            got = sorted(con.execute(gbt_train_sql(fv, features=FEATS)).fetchall())
            assert got == [
                (t, *exp[t, 1][:2], *exp[t, 2][:2], *exp[t, 3][:2],
                 *exp[t, 2][3:5], *exp[t, 3][3:5])
                for t in range(GBT_ROUNDS)
            ]


def test_cv_oracle_fold_follows_the_fold_count():
    """The k-fold oracle's fold of an order is hash60(o_orderkey) mod
    ``folds`` — the engine's pmod(hash60, folds) — for any fold count,
    not mod 3 whatever the count (DuckDB only)."""
    import duckdb

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_cv import _H60_FOLD

    con = duckdb.connect()
    for folds in (2, 3, 5):
        got = con.execute(
            f"SELECT o_orderkey, {_H60_FOLD.format(folds=folds)} "
            "FROM range(1, 200) t(o_orderkey) ORDER BY 1"
        ).fetchall()
        assert got == [(i, _h60(str(i)) % folds) for i in range(1, 200)]
