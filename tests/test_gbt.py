"""Histogram gradient-boosted-tree training (ext/gbt.py).

The q_logreg_train laws, extended to tree structure:
1. The Spark fit is bit-identical to a NumPy replay of the same
   arithmetic — including the TREES THEMSELVES (split features, bins,
   leaf doubles), not just the scores.
2. The booster is real: on a planted axis-aligned boundary the root
   split finds the boundary feature/bin, and the leaf values separate
   the classes with the right signs; later rounds keep shrinking the
   planted holdout's log-loss (boosting, not one tree repeated).
3. Tree structure is partition-layout independent (integer micro-sum
   histograms are associative).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    GBT_BINS,
    GBT_ETA,
    GBT_LAMBDA,
    GBT_ROUNDS,
    _argmax_split,
    _leaf_w,
    train_gbt,
)


def _hist(fidxs, binned, gm, hm, mask):
    """(fidx, bin) → (Σgm, Σhm) integer cells over mask-selected rows."""
    cells = []
    for fidx in fidxs:
        bs = binned[mask, fidx]
        for b in np.unique(bs):
            sel = mask & (binned[:, fidx] == b)
            cells.append((int(fidx), int(b), int(gm[sel].sum()), int(hm[sel].sum())))
    return cells


def gbt_numpy_replay(X, y, features, rounds, bins, lam, eta, scales):
    """The exact fit, replayed in NumPy: same binning, same round6
    sigmoid, same micro-floored integer histograms, and the SAME
    _argmax_split/_leaf_w folds (pure Python, shared with the
    trainer) — only the distributed aggregation is replaced by
    numpy masking."""
    div = np.array([(scales or {}).get(f, 1.0) for f in features])
    B = np.minimum(
        np.maximum(np.floor((X / div) * bins), 0), bins - 1
    ).astype(np.int64)
    n, d = X.shape
    fidxs = list(range(d))
    trees = []
    for _t in range(rounds):
        z = np.zeros(n)
        for tr in trees:
            (rf, rb), (lf, lb), (rrf, rrb) = (tr["splits"][k] for k in (1, 2, 3))
            w = tr["leaves"]
            left = np.where(B[:, lf] <= lb, w[4], w[5])
            right = np.where(B[:, rrf] <= rrb, w[6], w[7])
            z = z + eta * np.where(B[:, rf] <= rb, left, right)
        p = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
        g = p - y
        h = p * (1.0 - p)
        gm = np.floor(g * 1e6 + 0.5).astype(np.int64)
        hm = np.floor(h * 1e6 + 0.5).astype(np.int64)
        all_rows = np.ones(n, dtype=bool)
        rfidx, rbin, _glm, _hlm, _gm, _hm, rgain = _argmax_split(
            _hist(fidxs, B, gm, hm, all_rows), features, lam
        )
        tree = {
            "depth": 2,
            "splits": {1: (rfidx, rbin)},
            "gains": {1: rgain},
            "leaves": {},
        }
        left_mask = B[:, rfidx] <= rbin
        for n_id, mask in ((2, left_mask), (3, ~left_mask)):
            assert mask.any(), "degenerate split in replay"
            cfidx, cbin, glm, hlm, g_m, h_m, cgain = _argmax_split(
                _hist(fidxs, B, gm, hm, mask), features, lam
            )
            tree["splits"][n_id] = (cfidx, cbin)
            tree["gains"][n_id] = cgain
            tree["leaves"][2 * n_id] = _leaf_w(glm, hlm, lam)
            tree["leaves"][2 * n_id + 1] = _leaf_w(g_m - glm, h_m - hlm, lam)
        trees.append(tree)
    return trees


def _boundary_df(spark, n=600, seed=11):
    """Planted axis-aligned boundary with noise: y = 1 iff x2 > 0.55
    (90% of the time) — x1 is pure noise, so the root split must pick
    x2 and land at the 0.55 bin edge."""
    rng = np.random.RandomState(seed)
    x1 = rng.uniform(0, 1, n).round(4)
    x2 = rng.uniform(0, 1, n).round(4)
    flip = rng.uniform(0, 1, n) < 0.1
    y = ((x2 > 0.55) ^ flip).astype(int)
    rows = [(float(a), float(b), int(v)) for a, b, v in zip(x1, x2, y)]
    return (
        spark.createDataFrame(rows, "x1 double, x2 double, label int"),
        np.column_stack([x1, x2]),
        y.astype(float),
    )


def test_spark_fit_matches_numpy_replay_bit_exactly(spark):
    df, X, y = _boundary_df(spark)
    got = train_gbt(df, features=("x1", "x2"), scales={})
    want = gbt_numpy_replay(
        X, y, ("x1", "x2"), GBT_ROUNDS, GBT_BINS, GBT_LAMBDA, GBT_ETA, {}
    )
    assert got == want  # trees AND leaf doubles, bit-identical


def test_booster_recovers_planted_boundary_and_boosts(spark):
    df, X, y = _boundary_df(spark)
    trees = train_gbt(df, features=("x1", "x2"), scales={})
    # the root split finds the planted feature at the planted edge:
    # x2 > 0.55 → bin boundary at floor(0.55·16) = 8
    rfidx, rbin = trees[0]["splits"][1]
    assert rfidx == 1
    assert rbin == 8
    # left child (x2 ≤ 0.55) is the negative class, right positive:
    # leaf values push the logit the right way
    w0 = trees[0]["leaves"]
    assert w0[4] < 0 and w0[5] < 0
    # (an empty leaf yields -0.0 = -(0/1e6)/(0/1e6+λ); no row can
    # reach it, so only the populated right leaf carries the sign)
    assert w0[6] > 0
    assert w0[7] >= 0 or w0[7] == 0.0
    # boosting is real: per-round log-loss decreases monotonically
    bins = GBT_BINS
    B = np.minimum(np.maximum(np.floor(X * bins), 0), bins - 1).astype(int)

    def logloss(upto):
        z = np.zeros(len(y))
        for tr in trees[:upto]:
            (rf, rb), (lf, lb), (rrf, rrb) = (tr["splits"][k] for k in (1, 2, 3))
            w = tr["leaves"]
            left = np.where(B[:, lf] <= lb, w[4], w[5])
            right = np.where(B[:, rrf] <= rrb, w[6], w[7])
            z = z + GBT_ETA * np.where(B[:, rf] <= rb, left, right)
        p = np.clip(1.0 / (1.0 + np.exp(-z)), 1e-9, 1 - 1e-9)
        return float(-(y * np.log(p) + (1 - y) * np.log(1 - p)).mean())

    losses = [logloss(k) for k in range(GBT_ROUNDS + 1)]
    assert all(b < a for a, b in zip(losses, losses[1:])), losses
    # and the model actually classifies the planted boundary
    z = np.zeros(len(y))
    for tr in trees:
        (rf, rb), (lf, lb), (rrf, rrb) = (tr["splits"][k] for k in (1, 2, 3))
        w = tr["leaves"]
        left = np.where(B[:, lf] <= lb, w[4], w[5])
        right = np.where(B[:, rrf] <= rrb, w[6], w[7])
        z = z + GBT_ETA * np.where(B[:, rf] <= rb, left, right)
    acc = ((z > 0).astype(int) == y).mean()
    assert acc > 0.85, acc


def test_tree_structure_is_partition_layout_independent(spark):
    df, _X, _y = _boundary_df(spark, n=400, seed=7)
    t1 = train_gbt(df.repartition(1), features=("x1", "x2"), scales={})
    t9 = train_gbt(df.repartition(9, "x2"), features=("x1", "x2"), scales={})
    assert t1 == t9  # integer histograms are associative


def test_degenerate_frame_raises_cleanly(spark):
    """A constant frame puts every row in one bin: no admissible
    (non-empty-child) split exists → a clear ValueError, not a silent
    nonsense tree (the q_naive_bayes one-class discipline). Since the
    r15 interior-only candidate rule this fires at the argmax itself
    (no feature has ≥2 occupied bins), instead of surfacing one level
    later as an empty child."""
    df = spark.createDataFrame(
        [(0.5, 0.5, i % 2) for i in range(50)], "x1 double, x2 double, label int"
    )
    with pytest.raises(ValueError, match="unsplittable"):
        train_gbt(df, features=("x1", "x2"), scales={})


def test_leaf_rounding_is_half_up_floor(spark):
    """The output-boundary round6 is the engine's portable formula —
    pin it against Python banker's rounding regressions."""
    assert math.floor(-0.1234565 * 1e6 + 0.5) / 1e6 == -0.123456
    assert math.floor(0.1234565 * 1e6 + 0.5) / 1e6 == 0.123457


def test_catalog_gbt_ops_artifacts_are_consistent(spark, sf_dir):
    """End-to-end on driver testdata: the importance table accounts
    for exactly 9 splits (3 rounds x 3 nodes) with non-negative
    gains, and the learning curve strictly decreases from the 0-logit
    constant — boosting earns every round."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry

    registry._load_all()
    imp = {
        r["feature"]: r
        for r in registry._REGISTRY["q_gbt_importance"].fn(spark, sf_dir).collect()
    }
    assert len(imp) == 8
    assert sum(r["n_splits"] for r in imp.values()) == 9
    for r in imp.values():
        assert r["total_gain"] >= 0.0
        if r["n_splits"] == 0:
            assert r["total_gain"] == 0.0
    curve = {
        r["round"]: r["train_logloss"]
        for r in registry._REGISTRY["q_gbt_learning_curve"].fn(spark, sf_dir).collect()
    }
    assert sorted(curve) == [0, 1, 2, 3]
    assert curve[0] == pytest.approx(0.693147, abs=1e-6)  # ln 2 at z=0
    assert all(curve[t + 1] < curve[t] for t in range(3)), curve


def _imbalanced_gbt_df(spark, n=2500, seed=23):
    """A WEAK minority signal, the case scale_pos_weight exists for:
    x1 > 0.75 is 30% positive, elsewhere 0% (≈7% positives overall).
    A clean-margin boundary wouldn't separate the trainers — pure
    leaves go positive regardless of imbalance; here every risky leaf
    is 70% negative, so the unweighted leaf value converges to
    p≈0.3 < 0.5 (recall 0) while the weighted one converges to
    p·pw/(p·pw+1−p) ≈ 0.84 > 0.5."""
    rng = np.random.RandomState(seed)
    x1 = rng.uniform(0, 1, n).round(4)
    y = ((x1 > 0.75) & (rng.uniform(0, 1, n) < 0.3)).astype(int)
    rows = [(float(a), int(v)) for a, v in zip(x1, y)]
    return (
        spark.createDataFrame(rows, "x1 double, label int"),
        x1.reshape(-1, 1),
        y.astype(float),
    )


def test_scale_pos_weight_booster_recovers_imbalanced_boundary(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import scale_pos_weight

    df, X, y = _imbalanced_gbt_df(spark)
    pw, _ = scale_pos_weight(df)

    def recall(trees):
        B = np.minimum(np.maximum(np.floor(X * GBT_BINS), 0), GBT_BINS - 1).astype(int)
        z = np.zeros(len(y))
        for tr in trees:
            (rf, rb), (lf, lb), (rrf, rrb) = (tr["splits"][k] for k in (1, 2, 3))
            w = tr["leaves"]
            left = np.where(B[:, lf] <= lb, w[4], w[5])
            right = np.where(B[:, rrf] <= rrb, w[6], w[7])
            z = z + GBT_ETA * np.where(B[:, rf] <= rb, left, right)
        pred = (z > 0).astype(int)
        return float(((pred == 1) & (y == 1)).sum() / (y == 1).sum())

    plain = train_gbt(df, features=("x1",), scales={})
    wtd = train_gbt(df, features=("x1",), scales={}, pos_weight=pw)
    assert recall(plain) < 0.2, (recall(plain), plain)
    assert recall(wtd) > 0.8, (recall(wtd), wtd)
    # the weighted fit is still layout-independent
    wtd9 = train_gbt(
        df.repartition(9, "x1"), features=("x1",), scales={}, pos_weight=pw
    )
    assert wtd == wtd9


def test_oracle_errors_on_degenerate_frame_like_the_engine():
    """ADVICE r13 (updated for the r15 interior-only rule): train_gbt
    raises ValueError on a frame with no admissible split; the
    generated oracle must FAIL TOO (DuckDB error() via the ck1 guard
    evaluated on the best1 path), not fabricate NULL-structured tree
    rows — engine and oracle agree on degenerate inputs by both
    failing loudly."""
    import duckdb
    import pandas as pd

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import gbt_train_sql
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES

    con = duckdb.connect()
    n = 40
    con.register(
        "deg",
        pd.DataFrame(
            {
                "o_orderkey": range(n),
                "label": [i % 2 for i in range(n)],
                **{f: [0.0] * n for f in SCORE_FEATURES},
            }
        ),
    )
    with pytest.raises(duckdb.Error, match="unsplittable root"):
        con.execute(gbt_train_sql("SELECT * FROM deg")).fetchall()


def test_grid_fold_matches_sequential_fold_bit_exactly(spark):
    """train_gbt_grid's fused shared-scan descent must return trees
    BIT-IDENTICAL to calling train_gbt per config — the
    train_logreg_grid law for boosting (per-config arithmetic is
    independent and written in the same operation order; only the
    scan is shared)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import train_gbt_grid

    df, _X, _y = _boundary_df(spark, n=500, seed=3)
    configs = (
        ("r3_e0.3_l1", 3, GBT_ETA, GBT_LAMBDA),
        ("r2_e0.3_l1", 2, GBT_ETA, GBT_LAMBDA),
        ("r3_e0.1_l1", 3, 0.1, GBT_LAMBDA),
        ("r3_e0.3_l5", 3, GBT_ETA, 5.0),
    )
    fused = train_gbt_grid(df, configs, features=("x1", "x2"), scales={})
    for i, (_n, rounds, eta, lam) in enumerate(configs):
        seq = train_gbt(
            df, features=("x1", "x2"), rounds=rounds, eta=eta, lam=lam, scales={}
        )
        assert fused[i] == seq, f"config {i} diverged from sequential fold"


def test_selection_tie_breaks_on_config_id_in_both_directions(spark):
    """selection_frame's best-config rule with a planted tie, for an
    ascending score (log-loss) and a descending one (AUC): the smaller
    config id wins — listed second, so index order cannot stand in for
    the rule, and the smallest id overall has the worst score, so the
    score still ranks first. The oracle twin (_selection_sql's
    ``ORDER BY {rank}, config``) picks the same row and writes the
    same columns."""
    import duckdb

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
        _selection_sql,
        selection_frame,
    )

    configs = (("c2", 3, 0.3, 1.0), ("c1", 2, 0.3, 1.0), ("c0", 3, 0.1, 1.0))
    for col, vals, desc in (
        ("val_logloss", [0.61, 0.61, 0.70], False),
        ("val_auc", [0.74, 0.74, 0.52], True),
    ):
        frame = selection_frame(spark, configs, [(col, vals)], desc=desc)
        got = {r["config"]: r["is_best"] for r in frame.collect()}
        assert got == {"c2": 0, "c1": 1, "c0": 0}, (col, got)
        sql = _selection_sql(
            [], configs, [(col, [repr(v) for v in vals])],
            f"{col} DESC" if desc else col,
        )
        res = duckdb.connect().execute(sql)
        assert [d[0] for d in res.description] == frame.columns
        assert {r[0]: r[-1] for r in res.fetchall()} == got


def test_early_stop_decision_rule():
    """The patience-1 rule, pinned: stop at the first non-improving
    round; best = argmin among reached rounds, earliest on ties."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import early_stop_decision

    # monotone improvement → never stops early, last round wins
    assert early_stop_decision([0.69, 0.65, 0.64, 0.63]) == (3, 3)
    # worsens at 3 → stop there, round 2 deploys
    assert early_stop_decision([0.69, 0.66, 0.64, 0.66]) == (3, 2)
    # worsens immediately → stop at 1, constant model wins
    assert early_stop_decision([0.60, 0.61, 0.50, 0.40]) == (1, 0)
    # plateau (tie) is NOT an improvement → stop, earlier round wins
    assert early_stop_decision([0.69, 0.65, 0.65, 0.10]) == (2, 1)


def test_early_stop_halts_when_round_overfits_planted_noise(spark):
    """VERDICT r13 #3's acceptance test: a small train fold where the
    round-3 tree latches onto the pure-noise feature x1 — the holdout
    ladder improves through round 2, worsens at 3, and the decision
    stops with best_round = 2 (seed pinned from a deterministic
    search; the replay asserts the overfit tree really roots on
    noise)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
        early_stop_decision,
        gbt_trained_logit_expr,
    )
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import _loss_expr
    from pyspark.sql import functions as F

    rng = np.random.RandomState(56)

    def mk(n):
        x1 = rng.uniform(0, 1, n).round(4)  # pure noise
        x2 = rng.uniform(0, 1, n).round(4)  # signal
        flip = rng.uniform(0, 1, n) < 0.25
        y = ((x2 > 0.55) ^ flip).astype(int)
        return [(float(a), float(b), int(v)) for a, b, v in zip(x1, x2, y)]

    tr = spark.createDataFrame(mk(80), "x1 double, x2 double, label int")
    va = spark.createDataFrame(mk(400), "x1 double, x2 double, label int")
    trees = train_gbt(tr, features=("x1", "x2"), scales={})
    assert trees[2]["splits"][1][0] == 0, "round-3 tree should root on the noise feature"
    zs = [F.lit(0.0)]
    for t in trees:
        zs.append(
            zs[-1]
            + F.lit(GBT_ETA)
            * gbt_trained_logit_expr([t], features=("x1", "x2"), eta=1.0, scales={})
        )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(_loss_expr(z).cast("decimal(18,6)")).alias(f"L_{t}")
        for t, z in enumerate(zs)
    ]
    row = va.agg(*aggs).first()
    losses = [
        math.floor(float(row[f"L_{t}"]) / row["n"] * 1e6 + 0.5) / 1e6
        for t in range(4)
    ]
    assert losses[1] < losses[0] and losses[2] < losses[1]
    assert losses[3] >= losses[2], "round 3 must overfit on holdout"
    assert early_stop_decision(losses) == (3, 2)


def _numpy_holdout_losses(trees_list, Xv, yv, etas, scales, feats):
    """round6 holdout mean log-loss ladders per config, replayed in
    NumPy with the engine's exact fold (bin with scales, accumulate
    eta*leaf left-assoc, round6 sigmoid, round6 per-row loss,
    round6 mean)."""
    div = np.array([scales.get(f, 1.0) for f in feats])
    B = np.minimum(
        np.maximum(np.floor((Xv / div) * GBT_BINS), 0), GBT_BINS - 1
    ).astype(np.int64)

    def r6a(a):
        return np.floor(a * 1e6 + 0.5) / 1e6

    out = []
    for trees, eta in zip(trees_list, etas):
        z = np.zeros(len(yv))
        ladder = []
        for t in range(len(trees) + 1):
            if t > 0:
                tr = trees[t - 1]
                (rf, rb), (lf, lb), (rrf, rrb) = (tr["splits"][k] for k in (1, 2, 3))
                w = tr["leaves"]
                left = np.where(B[:, lf] <= lb, w[4], w[5])
                right = np.where(B[:, rrf] <= rrb, w[6], w[7])
                z = z + eta * np.where(B[:, rf] <= rb, left, right)
            p = r6a(1.0 / (1.0 + np.exp(-z)))
            l6 = r6a(np.where(yv == 1, -np.log(p), -np.log(1.0 - p)))
            ladder.append(math.floor((l6.sum() / len(yv)) * 1e6 + 0.5) / 1e6)
        out.append(ladder)
    return out


def _hash_split_pandas(fv):
    """The engine's bucket(o_orderkey) < 80 split, replayed with
    hashlib (first 15 md5 hex chars as an int, mod 100)."""
    import hashlib

    b = fv["o_orderkey"].astype(str).map(
        lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 100
    )
    return fv[b < 80], fv[b >= 80]


def test_gbt_model_selection_winner_matches_numpy_sweep(spark, sf_dir):
    """VERDICT r13 #2's acceptance clause: the grid query's winner
    (and every config's round6 holdout loss) must match an
    INDEPENDENT NumPy sweep — pandas-side hash split, per-config
    NumPy boosting replay, NumPy holdout ladders."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import GBT_MS_CONFIGS
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import FEATURE_SCALES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_scoring import (
        _logreg_fv,
        q_gbt_model_selection,
    )

    fv = _logreg_fv(spark, sf_dir).toPandas()
    tr, va = _hash_split_pandas(fv)
    feats = tuple(SCORE_FEATURES)
    Xt = tr[list(feats)].to_numpy(float)
    yt = tr["label"].to_numpy(float)
    trees_list = [
        gbt_numpy_replay(
            Xt, yt, feats, rounds, GBT_BINS, lam, eta, dict(FEATURE_SCALES)
        )
        for _n, rounds, eta, lam in GBT_MS_CONFIGS
    ]
    ladders = _numpy_holdout_losses(
        trees_list,
        va[list(feats)].to_numpy(float),
        va["label"].to_numpy(float),
        [eta for _n, _r, eta, _l in GBT_MS_CONFIGS],
        dict(FEATURE_SCALES),
        feats,
    )
    np_losses = [lad[-1] for lad in ladders]
    got = {
        r["config"]: r
        for r in q_gbt_model_selection(spark, sf_dir).collect()
    }
    for i, (name, _r, _e, _l) in enumerate(GBT_MS_CONFIGS):
        assert abs(got[name]["val_logloss"] - np_losses[i]) <= 2e-6, (
            name,
            got[name]["val_logloss"],
            np_losses[i],
        )
    np_best = min(
        range(len(GBT_MS_CONFIGS)),
        key=lambda i: (np_losses[i], GBT_MS_CONFIGS[i][0]),
    )
    winners = [c for c, r in got.items() if r["is_best"] == 1]
    assert winners == [GBT_MS_CONFIGS[np_best][0]]


def test_gbt_early_stop_matches_numpy_ladder(spark, sf_dir):
    """The early-stop query's ladder and decision replayed end to end
    in NumPy (config-0 booster on the pandas hash split)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
        GBT_MS_CONFIGS,
        early_stop_decision,
    )
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import FEATURE_SCALES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_scoring import (
        _logreg_fv,
        q_gbt_early_stop,
    )

    fv = _logreg_fv(spark, sf_dir).toPandas()
    tr, va = _hash_split_pandas(fv)
    feats = tuple(SCORE_FEATURES)
    _n0, rounds, eta, lam = GBT_MS_CONFIGS[0]
    trees = gbt_numpy_replay(
        tr[list(feats)].to_numpy(float),
        tr["label"].to_numpy(float),
        feats,
        rounds,
        GBT_BINS,
        lam,
        eta,
        dict(FEATURE_SCALES),
    )
    ladder = _numpy_holdout_losses(
        [trees],
        va[list(feats)].to_numpy(float),
        va["label"].to_numpy(float),
        [eta],
        dict(FEATURE_SCALES),
        feats,
    )[0]
    got = sorted(q_gbt_early_stop(spark, sf_dir).collect(), key=lambda r: r["round"])
    assert len(got) == len(ladder)
    for t, row in enumerate(got):
        assert abs(row["val_logloss"] - ladder[t]) <= 2e-6, (t, row, ladder[t])
    stop_at, best_round = early_stop_decision([row["val_logloss"] for row in got])
    for t, row in enumerate(got):
        assert row["reached"] == (1 if t <= stop_at else 0)
        assert row["is_best"] == (1 if t == best_round else 0)


def test_retrain_best_ships_the_selection_winner(spark, sf_dir):
    """q_retrain_best's identity columns must be exactly the
    selection's is_best row (same winner, same holdout loss), its
    gate rows must cover every promotion floor, and promoted must be
    the AND of the per-gate oks — train.py's main flow wired together
    without renaming anything."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import QUALITY_GATES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_scoring import (
        q_gbt_model_selection,
        q_retrain_best,
    )

    sel = {r["config"]: r for r in q_gbt_model_selection(spark, sf_dir).collect()}
    winner = next(r for r in sel.values() if r["is_best"] == 1)
    rows = q_retrain_best(spark, sf_dir).collect()
    assert {r["metric"] for r in rows} == set(QUALITY_GATES)
    for r in rows:
        assert r["config"] == winner["config"]
        assert r["rounds"] == winner["rounds"]
        assert r["eta"] == winner["eta"]
        assert r["lam"] == winner["lam"]
        assert r["val_logloss"] == winner["val_logloss"]
        assert r["ok"] == (1 if r["value"] >= r["min_required"] else 0)
        assert r["promoted"] == min(x["ok"] for x in rows)


def test_oracle_and_engine_fail_loudly_on_empty_frame(spark):
    """ADVICE r15: on a fully EMPTY frame the ck1 guard rides a join
    that has no rows, so its error() never evaluated and the oracle
    silently emitted NULL trees while train_gbt raised. The nz guard
    (scanned by the oracle's unconditional per-tree arms) and
    _argmax_split's explicit empty-cells check close the gap: BOTH
    engines now fail loudly, with the same gated-domain message."""
    import duckdb
    import pandas as pd

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import gbt_train_sql, train_gbt
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES

    con = duckdb.connect()
    con.register(
        "base_empty",
        pd.DataFrame(
            {
                "o_orderkey": pd.Series([], dtype="int64"),
                "label": pd.Series([], dtype="int64"),
                **{f: pd.Series([], dtype="float64") for f in SCORE_FEATURES},
            }
        ),
    )
    with pytest.raises(duckdb.Error, match="empty feature frame"):
        con.execute(gbt_train_sql("SELECT * FROM base_empty")).fetchall()
    empty = spark.createDataFrame(
        [], "x1 double, x2 double, label int"
    )
    with pytest.raises(ValueError, match="empty feature frame"):
        train_gbt(empty, features=("x1", "x2"), scales={})


def test_early_stop_auc_patience_rule():
    """Patience-k on an AUC ladder: stop at the k-th CONSECUTIVE
    failure to strictly improve the running best; ties do not
    improve; best = argmax among reached rounds, earliest on ties."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import early_stop_decision_auc

    # monotone improvement → never stops, last round deploys
    assert early_stop_decision_auc([0.5, 0.6, 0.7, 0.8], 2) == (3, 3)
    # one bad round then recovery → streak resets, no stop
    assert early_stop_decision_auc([0.5, 0.7, 0.65, 0.75], 2) == (3, 3)
    # two consecutive non-improving rounds → stop at the round that
    # COMPLETES the streak
    assert early_stop_decision_auc([0.5, 0.7, 0.65, 0.66], 2) == (3, 1)
    # a TIE is not an improvement (strict >)
    assert early_stop_decision_auc([0.5, 0.7, 0.7, 0.7], 2) == (3, 1)
    # patience-1 degenerates to the log-loss rule's shape
    assert early_stop_decision_auc([0.5, 0.7, 0.69, 0.9], 1) == (2, 1)
    # best is earliest on exact ties among reached rounds
    assert early_stop_decision_auc([0.7, 0.7, 0.6, 0.6], 2) == (2, 0)


def test_loss_and_auc_ladders_can_disagree_on_the_stop_round():
    """The point of eval_metric being a PARAMETER
    (`fraud_detector.py:246`): from the SAME planted per-round scores,
    the log-loss ladder keeps improving (patience-1 never stops)
    while the AUC ladder degrades twice in a row (patience-2 stops at
    round 2) — a round can improve calibration while hurting ranking."""
    import math

    import numpy as np

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
        early_stop_decision,
        early_stop_decision_auc,
    )

    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    y = np.array([1] * 6 + [0] * 6)
    # per-round scores: ten well-calibrated rows keep tightening
    # (loss ↓ every round) while one positive/negative pair first
    # TIES, then swaps, then a second pair ties (AUC ↓ from round 1)
    S = np.array([
        [0.52] * 6 + [0.48] * 6,                              # AUC 1.0
        [0.80] * 5 + [0.59] + [0.20] * 5 + [0.59],            # tie: 35.5/36
        [0.93] * 5 + [0.58] + [0.07] * 5 + [0.60],            # swap: 35/36
        [0.99] * 4 + [0.60, 0.58] + [0.01] * 5 + [0.60],      # +tie: 34.5/36
    ])

    def logloss(s):
        return r6(float(np.mean(np.where(y == 1, -np.log(s), -np.log(1 - s)))))

    def auc(s):
        pos, neg = s[y == 1], s[y == 0]
        wins = sum((p > q) + 0.5 * (p == q) for p in pos for q in neg)
        return r6(wins / (len(pos) * len(neg)))

    losses = [logloss(s) for s in S]
    aucs = [auc(s) for s in S]
    assert losses == sorted(losses, reverse=True)  # strictly improving
    assert aucs[0] > aucs[1] > aucs[2]             # ranking degrades
    stop_loss, best_loss = early_stop_decision(losses)
    stop_auc, best_auc = early_stop_decision_auc(aucs, 2)
    assert stop_loss == 3 and best_loss == 3   # loss rule never stops
    assert stop_auc == 2 and best_auc == 0     # AUC rule stops early
    assert stop_loss != stop_auc


def test_auc_patience_window_form_matches_python_rule():
    """The oracle's last-improving-round window form ≡ the driver's
    streak loop, on randomized ladders (streak(t) = t − last
    improving round is the loop's counter, proven by sweep)."""
    import duckdb
    import numpy as np

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import early_stop_decision_auc

    con = duckdb.connect()
    rng = np.random.RandomState(42)
    for k in (1, 2, 3):
        for _ in range(25):
            lad = [round(float(v), 3) for v in rng.uniform(0.4, 0.9, 6)]
            vals = ", ".join(f"({t}, {v!r})" for t, v in enumerate(lad))
            sql = f"""
            WITH lad(round, val_auc) AS (VALUES {vals}),
            pb AS (SELECT round, val_auc,
                   max(val_auc) OVER (ORDER BY round
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_best FROM lad),
            fl AS (SELECT round, val_auc,
                   CASE WHEN round = 0 OR val_auc > prev_best
                        THEN 1 ELSE 0 END AS improved FROM pb),
            st AS (SELECT round, val_auc,
                   round - max(CASE WHEN improved = 1 THEN round END)
                     OVER (ORDER BY round) AS streak FROM fl)
            SELECT coalesce(min(CASE WHEN streak >= {k} THEN round END),
                            {len(lad) - 1}) FROM st
            """
            got = con.execute(sql).fetchone()[0]
            want, _ = early_stop_decision_auc(lad, k)
            assert got == want, (lad, k, got, want)
