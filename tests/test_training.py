"""Distributed logistic-regression training (ext/training.py).

Three laws:
1. The Spark fold is bit-identical to a NumPy replay of the same
   arithmetic (the determinism contract the DuckDB oracle also
   leans on).
2. The optimizer is real: on a linearly separable problem it finds
   the boundary (high accuracy, margin-sign weights) and per-
   iteration log-loss decreases monotonically.
3. The gradient is partition-layout independent: any repartitioning
   of the feature frame yields the SAME weights (the 100 TB claim —
   decimal micro-sums are associative).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import (
    FEATURE_SCALES,
    ITERS,
    LR,
    train_logreg,
    trained_score_expr,
)


def numpy_replay(X, y, features, lr, iters, scales=None):
    """The exact fold, replayed in NumPy: same operation ORDER per
    step (left-assoc logit per feature, round6 sigmoid, micro-floored
    contributions, exact integer sums, w − lr·(g/1e6/n))."""
    n, d = X.shape
    div = np.array([(scales or {}).get(f, 1.0) for f in features])
    Xs = X / div
    w = np.zeros(d + 1)
    for _ in range(iters):
        z = np.full(n, w[0])
        for j in range(d):  # left-assoc, matching the Spark expression
            z = z + w[j + 1] * Xs[:, j]
        p = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
        r = p - y
        g = np.empty(d + 1)
        g[0] = np.floor(r * 1e6 + 0.5).sum()
        for j in range(d):
            g[j + 1] = np.floor((r * Xs[:, j]) * 1e6 + 0.5).sum()
        for j in range(d + 1):
            w[j] = w[j] - lr * (g[j] / 1e6 / n)
    return w


def _sep_df(spark, n=400, seed=3):
    """Linearly separable 2-feature problem with margin: y = 1 iff
    2·x1 − x2 > 0.3 (deterministic RNG, no ties near the boundary)."""
    rng = np.random.RandomState(seed)
    x1 = rng.uniform(-1, 1, n).round(3)
    x2 = rng.uniform(-1, 1, n).round(3)
    m = 2.0 * x1 - x2 - 0.3
    keep = np.abs(m) > 0.15  # margin
    rows = [
        (float(a), float(b), int(v > 0))
        for a, b, v in zip(x1[keep], x2[keep], m[keep])
    ]
    return spark.createDataFrame(rows, "x1 double, x2 double, label int"), rows


def test_spark_fold_matches_numpy_replay_exactly(spark):
    df, rows = _sep_df(spark)
    X = np.array([[r[0], r[1]] for r in rows])
    y = np.array([r[2] for r in rows], dtype=float)
    w, n = train_logreg(df, features=("x1", "x2"), lr=1.0, iters=6)
    want = numpy_replay(X, y, ("x1", "x2"), 1.0, 6)
    assert n == len(rows)
    got = np.array([w["bias"], w["x1"], w["x2"]])
    assert got.tolist() == want.tolist()  # bit-identical doubles


def test_optimizer_learns_separable_boundary(spark):
    df, rows = _sep_df(spark)
    X = np.array([[r[0], r[1]] for r in rows])
    y = np.array([r[2] for r in rows], dtype=float)

    # per-iteration loss strictly decreases (NumPy replay of the same
    # fold — iteration counts beyond the query's K are fair game here)
    losses = []
    for k in range(1, 13):
        w = numpy_replay(X, y, ("x1", "x2"), 2.0, k)
        z = w[0] + X @ w[1:]
        p = 1.0 / (1.0 + np.exp(-z))
        losses.append(
            -(y * np.log(np.clip(p, 1e-12, 1))
              + (1 - y) * np.log(np.clip(1 - p, 1e-12, 1))).mean()
        )
    assert all(b < a for a, b in zip(losses, losses[1:])), losses

    # the trained Spark model separates: boundary sign recovered
    # (w_x1 > 0 > w_x2, |w_x1| > |w_x2|) and accuracy is high
    w, _ = train_logreg(df, features=("x1", "x2"), lr=2.0, iters=12)
    assert w["x1"] > 0 > w["x2"] and abs(w["x1"]) > abs(w["x2"])
    scored = df.select(
        "label", trained_score_expr(w, ("x1", "x2"), scales={}).alias("s")
    ).collect()
    acc = sum((r["s"] >= 0.5) == (r["label"] == 1) for r in scored) / len(scored)
    assert acc >= 0.95, acc


def test_weights_are_partition_layout_independent(spark):
    df, _ = _sep_df(spark, n=300, seed=11)
    w1, _ = train_logreg(df.repartition(1), features=("x1", "x2"), iters=3)
    w13, _ = train_logreg(
        df.repartition(13, "x1"), features=("x1", "x2"), iters=3
    )
    assert w1 == w13  # exact: micro-sums are associative integers


def test_catalog_query_converges_on_testdata(spark, sf_dir):
    """End-to-end on driver testdata: the registered query's weights
    replay exactly in NumPy AND the fit is calibrated (mean predicted
    probability within 2% of the base rate — the max-likelihood
    optimum for signal-free labels)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_scoring import _logreg_fv

    registry._load_all()
    fv = _logreg_fv(spark, sf_dir)
    pdf = fv.toPandas()
    X = pdf[list(SCORE_FEATURES)].to_numpy(float)
    y = pdf["label"].to_numpy(float)
    want = numpy_replay(X, y, SCORE_FEATURES, LR, ITERS, FEATURE_SCALES)
    got = {
        r["feature"]: r["weight"]
        for r in registry._REGISTRY["q_logreg_train"].fn(spark, sf_dir).collect()
    }
    names = ["bias"] + list(SCORE_FEATURES)
    for m, wv in zip(names, want):
        assert got[m] == math.floor(wv * 1e6 + 0.5) / 1e6, m

    w = dict(zip(names, want))
    scored = fv.select(
        trained_score_expr(w, SCORE_FEATURES, FEATURE_SCALES).alias("s")
    ).agg({"s": "avg"}).first()[0]
    assert scored == pytest.approx(y.mean(), abs=0.02)


def test_naive_bayes_probs_are_valid_and_smoothed(spark):
    """Per (feature, label): probabilities over the observed domain
    sum to (n_seen_values_c + V)/(n_c + V)… in the Laplace world that
    is exactly 1 when every domain value was seen under the label —
    and a value unseen under one label still gets its 1/(n_c+V) row."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import nb_train

    rows = [
        (1, 0, 0, 1), (2, 0, 0, 1), (3, 0, 1, 0),
        (4, 1, 1, 1), (5, 1, 1, 0), (6, 1, 2, 0),  # f1=2 unseen under label 0
    ]
    df = spark.createDataFrame(rows, "o_orderkey int, label int, f1 int, f2 int")
    probs = {
        (r["feature"], r["value"], r["label"]): (r["cnt"], r["p"])
        for r in nb_train(df, features=("f1", "f2")).collect()
    }
    # f1 domain V=3 (values 0,1,2); label 0 has n_c=3, saw f1∈{0,0,1}
    assert probs[("f1", 0, 0)] == (2, (2 + 1) / (3 + 3))
    assert probs[("f1", 1, 0)] == (1, (1 + 1) / (3 + 3))
    assert probs[("f1", 2, 0)] == (0, (0 + 1) / (3 + 3))  # smoothed zero
    # every (feature,label) block: sum over the FULL grid = (n_c+V)/(n_c+V) = 1
    for f, v_dom in (("f1", 3), ("f2", 2)):
        for c in (0, 1):
            s = sum(p for (ff, _, cc), (_, p) in probs.items() if ff == f and cc == c)
            assert abs(s - 1.0) < 1e-12, (f, c, s)


def test_naive_bayes_prediction_matches_hand_computation(spark):
    """Decimal log-posterior argmax reproduces the hand-computed NB
    decision on a tiny separable table (f1 perfectly predicts)."""
    import math

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import (
        nb_score_confusion,
        nb_train,
    )

    rows = [(i, 0, 0, i % 2) for i in range(1, 9)] + [
        (i, 1, 1, i % 2) for i in range(9, 17)
    ]
    df = spark.createDataFrame(rows, "o_orderkey int, label int, f1 int, f2 int")
    conf = {
        (r["label"], r["pred"]): r["n"]
        for r in nb_score_confusion(df, features=("f1", "f2")).collect()
    }
    assert conf == {(0, 0): 8, (1, 1): 8}  # perfectly recovered

    # replay one row's decision by hand from the trained table
    probs = {
        (r["feature"], r["value"], r["label"]): r["p"]
        for r in nb_train(df, features=("f1", "f2")).collect()
    }
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    z0 = r6(math.log(probs[("f1", 0, 0)])) + r6(math.log(probs[("f2", 1, 0)])) + r6(math.log(0.5))
    z1 = r6(math.log(probs[("f1", 0, 1)])) + r6(math.log(probs[("f2", 1, 1)])) + r6(math.log(0.5))
    assert z0 > z1  # row (f1=0, f2=1) → class 0, as the matrix showed


def kmeans_numpy_replay(X, features, k, iters, scales=None):
    """Exact replay of train_kmeans: identical distance arithmetic
    (left-assoc term order), round8 decimal-folded sums via integer
    units, <=-cascade argmin, empty-cluster carry."""
    div = np.array([(scales or {}).get(f, 1.0) for f in features])
    Xs = X / div
    n, d = Xs.shape
    cents = np.array([[(i + 0.5) / k] * d for i in range(k)])
    sizes = [0] * k
    for _ in range(iters):
        dists = np.zeros((n, k))
        for i in range(k):
            acc = np.zeros(n)
            for j in range(d):
                diff = Xs[:, j] - cents[i][j]
                acc = acc + diff * diff
            dists[:, i] = acc
        asg = np.full(n, k - 1)
        for i in range(k - 2, -1, -1):
            ok = np.ones(n, dtype=bool)
            for j in range(i + 1, k):
                ok &= dists[:, i] <= dists[:, j]
            asg = np.where(ok, i, asg)
        new = cents.copy()
        for i in range(k):
            m = asg == i
            sizes[i] = int(m.sum())
            if sizes[i]:
                for j in range(d):
                    units = np.floor(Xs[m, j] * 1e8 + 0.5).astype(np.int64).sum()
                    new[i][j] = (int(units) / 1e8) / sizes[i]
        cents = new
    return cents, sizes


def test_kmeans_matches_numpy_replay_and_recovers_blobs(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import train_kmeans

    rng = np.random.RandomState(5)
    blobs = []
    centers = [(0.1, 0.1), (0.9, 0.2), (0.5, 0.9)]
    for cx, cy in centers:
        blobs.append(np.column_stack([
            (cx + rng.uniform(-0.05, 0.05, 60)).round(4),
            (cy + rng.uniform(-0.05, 0.05, 60)).round(4),
        ]))
    X = np.vstack(blobs)
    df = spark.createDataFrame([(float(a), float(b)) for a, b in X], "x1 double, x2 double")
    cents, sizes = train_kmeans(df, features=("x1", "x2"), k=3, iters=4, scales={})
    want_c, want_s = kmeans_numpy_replay(X, ("x1", "x2"), 3, 4, scales={})
    assert sizes == want_s
    for i in range(3):
        assert [cents[i]["x1"], cents[i]["x2"]] == list(want_c[i])  # bit-identical
    # blob recovery: every true center has a trained centroid within 0.06
    for cx, cy in centers:
        d = min((cents[i]["x1"] - cx) ** 2 + (cents[i]["x2"] - cy) ** 2 for i in range(3))
        assert d < 0.06 ** 2, (cx, cy, cents)
    assert sorted(sizes) == [60, 60, 60]


def test_kmeans_is_partition_layout_independent(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import train_kmeans

    rng = np.random.RandomState(9)
    rows = [(float(a), float(b)) for a, b in rng.uniform(0, 1, (200, 2)).round(4)]
    df = spark.createDataFrame(rows, "x1 double, x2 double")
    c1, s1 = train_kmeans(df.repartition(1), features=("x1", "x2"), k=3, iters=2, scales={})
    c9, s9 = train_kmeans(df.repartition(9, "x1"), features=("x1", "x2"), k=3, iters=2, scales={})
    assert s1 == s9 and c1 == c9  # decimal folds are associative


def test_roc_rates_pin_to_zero_on_one_class_frames(spark):
    """ADVICE r12: tpr/fpr need the same zero-denominator guard as
    precision_at — a frame with no positives (or no negatives) must
    yield 0.0, not NULL, matching the oracle's CASE guards."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import logreg_roc

    no_pos = spark.createDataFrame(
        [(0, 0.2), (0, 0.8), (0, 0.5)], "label int, s double"
    )
    rows = {r["tau"]: r for r in logreg_roc(no_pos).collect()}
    assert all(r["tpr"] == 0.0 for r in rows.values())
    assert rows[0.5]["fpr"] == pytest.approx(2 / 3)

    no_neg = spark.createDataFrame(
        [(1, 0.2), (1, 0.8), (1, 0.5)], "label int, s double"
    )
    rows = {r["tau"]: r for r in logreg_roc(no_neg).collect()}
    assert all(r["fpr"] == 0.0 for r in rows.values())
    assert rows[0.5]["tpr"] == pytest.approx(2 / 3)


def test_naive_bayes_rejects_one_class_training_frame(spark):
    """ADVICE r12: a single-class frame must raise a clear ValueError
    up front, not a bare KeyError deep in expression compilation."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import (
        nb_score_confusion,
    )

    one_class = spark.createDataFrame(
        [(i, 0, i % 3, i % 2) for i in range(20)],
        "o_orderkey long, label int, f1 int, f2 int",
    )
    with pytest.raises(ValueError, match="both classes"):
        nb_score_confusion(one_class, features=("f1", "f2"))


def numpy_replay_weighted(X, y, features, lr, iters, pw, scales=None):
    """Weighted twin of numpy_replay: contributions multiply by
    w_y = pw (y=1) / 1.0 (y=0) before micro-flooring; updates divide
    by n_eff = n0 + pw*n1 (same operation order as the engine)."""
    n, d = X.shape
    div = np.array([(scales or {}).get(f, 1.0) for f in features])
    Xs = X / div
    wgt = np.where(y == 1, pw, 1.0)
    n0d, n1d = float((y == 0).sum()), float((y == 1).sum())
    n_eff = n0d + pw * n1d
    w = np.zeros(d + 1)
    for _ in range(iters):
        z = np.full(n, w[0])
        for j in range(d):
            z = z + w[j + 1] * Xs[:, j]
        p = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
        r = p - y
        g = np.empty(d + 1)
        g[0] = np.floor(r * wgt * 1e6 + 0.5).sum()
        for j in range(d):
            g[j + 1] = np.floor((r * Xs[:, j]) * wgt * 1e6 + 0.5).sum()
        for j in range(d + 1):
            w[j] = w[j] - lr * (g[j] / 1e6 / n_eff)
    return w


def _imbalanced_df(spark, n=2000, seed=17):
    """Deliberately imbalanced planted boundary: ~5% positives, all
    with x1 > 0.7 (clean margin) — the unweighted 5-iteration fold
    stays dominated by the negative mass and predicts nothing at 0.5,
    while the weighted fold recovers the boundary."""
    rng = np.random.RandomState(seed)
    x1 = rng.uniform(0, 1, n).round(3)
    y = ((x1 > 0.75) & (rng.uniform(0, 1, n) < 0.4)).astype(int)
    keep = (x1 < 0.7) | (y == 1)  # margin: negatives stay below 0.7
    rows = [(float(a), int(v)) for a, v in zip(x1[keep], y[keep])]
    X = x1[keep].reshape(-1, 1)
    return spark.createDataFrame(rows, "x1 double, label int"), X, y[keep].astype(float)


def test_weighted_fold_matches_numpy_replay_exactly(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import scale_pos_weight

    df, X, y = _imbalanced_df(spark)
    pw, _n_eff = scale_pos_weight(df)
    assert pw == float((y == 0).sum()) / float((y == 1).sum())
    w, n = train_logreg(
        df, features=("x1",), lr=1.0, iters=5, scales={}, weighted=True
    )
    want = numpy_replay_weighted(X, y, ("x1",), 1.0, 5, pw, scales={})
    assert [w["bias"], w["x1"]] == list(want)  # bit-identical
    assert n == len(y)


def test_weighting_recovers_imbalanced_boundary_unweighted_does_not(spark):
    """The reason scale_pos_weight exists (fraud_detector.py:148):
    on a 20:1 frame the unweighted 5-step fold never crosses the 0.5
    decision line for ANY positive, the weighted one catches nearly
    all of them."""
    import math

    df, X, y = _imbalanced_df(spark)

    def recall(w):
        z = w["bias"] + w["x1"] * X[:, 0]
        pred = (1.0 / (1.0 + np.exp(-z)) >= 0.5).astype(int)
        tp = int(((pred == 1) & (y == 1)).sum())
        return tp / int((y == 1).sum())

    w_plain, _ = train_logreg(df, features=("x1",), lr=1.0, iters=5, scales={})
    w_wtd, _ = train_logreg(
        df, features=("x1",), lr=1.0, iters=5, scales={}, weighted=True
    )
    assert recall(w_plain) < 0.2, (recall(w_plain), w_plain)
    assert recall(w_wtd) > 0.8, (recall(w_wtd), w_wtd)
    assert math.isfinite(w_wtd["bias"])


def test_scale_pos_weight_rejects_one_class(spark):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import scale_pos_weight

    df = spark.createDataFrame([(0.1, 0), (0.2, 0)], "x1 double, label int")
    with pytest.raises(ValueError, match="both classes"):
        scale_pos_weight(df)


def test_model_selection_grid_matches_numpy_sweep(spark, sf_dir):
    """The winning config of q_model_selection equals an independent
    NumPy sweep: replay every config's fold on the collected train
    fold, score the holdout, argmin by (loss, config)."""
    import math

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import MS_CONFIGS
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry

    registry._load_all()
    res = {
        r["config"]: r
        for r in registry._REGISTRY["q_model_selection"].fn(spark, sf_dir).collect()
    }
    assert set(res) == {c[0] for c in MS_CONFIGS}
    assert sum(r["is_best"] for r in res.values()) == 1

    # independent replay: pull the split frames once
    fv = registry._REGISTRY["q_feature_vector"].fn(spark, sf_dir)
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60
    from pyspark.sql import functions as F

    b = hash60(F.col("o_orderkey").cast("string")) % 100
    cols = ["label", *SCORE_FEATURES]
    tr = np.array(fv.filter(b < 80).select(*cols).collect(), dtype=float)
    va = np.array(fv.filter(b >= 80).select(*cols).collect(), dtype=float)
    ytr, Xtr = tr[:, 0], tr[:, 1:]
    yva, Xva = va[:, 0], va[:, 1:]
    losses = {}
    for name, lr, iters, weighted in MS_CONFIGS:
        if weighted:
            pw = float((ytr == 0).sum()) / float((ytr == 1).sum())
            w = numpy_replay_weighted(
                Xtr, ytr, SCORE_FEATURES, lr, iters, pw, scales=FEATURE_SCALES
            )
        else:
            w = numpy_replay(Xtr, ytr, SCORE_FEATURES, lr, iters, scales=FEATURE_SCALES)
        div = np.array([FEATURE_SCALES.get(f, 1.0) for f in SCORE_FEATURES])
        z = np.full(len(yva), w[0])
        Xs = Xva / div
        for j in range(len(SCORE_FEATURES)):
            z = z + w[j + 1] * Xs[:, j]
        p = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
        raw = np.where(yva == 1, -np.log(p), -np.log(1.0 - p))
        l6 = np.floor(raw * 1e6 + 0.5) / 1e6
        losses[name] = math.floor((l6.sum() / len(yva)) * 1e6 + 0.5) / 1e6
    for name in losses:
        assert res[name]["val_logloss"] == pytest.approx(losses[name], abs=2e-6), name
    want_best = min(losses, key=lambda k: (losses[k], k))
    got_best = next(k for k, r in res.items() if r["is_best"] == 1)
    assert got_best == want_best


def test_model_metrics_matches_sklearn_formulas(spark):
    """model_metrics (the reference's ModelMetrics/_evaluate) equals
    an independent NumPy computation of the sklearn definitions —
    rank-sum AUC with average-rank ties, step-sum average precision,
    and zero_division=0 P/R/F1 at the 0.70 threshold — on a frame
    with heavy score ties and a real signal. The two AUC reductions
    agree on it: the keyed ext.gbt._rank_sum_aucs per group equals
    the global model_metrics on that group alone, a one-class group
    included (0.0 in both)."""
    import math

    from pyspark.sql import functions as F

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import _rank_sum_aucs
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import model_metrics

    rng = np.random.RandomState(31)
    # scores quantized to 0.05 steps → heavy ties (the average-rank path)
    s = (np.round(rng.uniform(0, 1, 800) * 20) / 20.0).round(6)
    y = (rng.uniform(0, 1, 800) < np.clip(s * 0.8 + 0.05, 0, 1)).astype(int)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "label int, s double"
    )
    row = model_metrics(df).collect()[0]

    # NumPy replay of the sklearn definitions
    n_pos, n_neg = int(y.sum()), int((1 - y).sum())
    order = np.argsort(s, kind="mergesort")
    ss, yy = s[order], y[order]
    ranks = np.empty(len(ss))
    i = 0
    while i < len(ss):
        j = i
        while j < len(ss) and ss[j] == ss[i]:
            j += 1
        ranks[i:j] = (i + 1 + j) / 2.0  # average rank, 1-based
        i = j
    auc = (ranks[yy == 1].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert row["roc_auc"] == pytest.approx(auc, abs=2e-6)
    # AP: descending distinct thresholds
    uniq = np.unique(s)[::-1]
    ap, prev_r = 0.0, 0.0
    for tau in uniq:
        pred = s >= tau
        tp = int((pred & (y == 1)).sum())
        p_k = tp / int(pred.sum())
        r_k = tp / n_pos
        ap += (r_k - prev_r) * p_k
        prev_r = r_k
    assert row["avg_precision"] == pytest.approx(ap, abs=1e-5)
    pred = s >= 0.7
    tp = int((pred & (y == 1)).sum())
    pp = int(pred.sum())
    prec = tp / pp if pp else 0.0
    rec = tp / n_pos if n_pos else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    assert row["precision_at"] == pytest.approx(prec, abs=2e-6)
    assert row["recall_at"] == pytest.approx(rec, abs=2e-6)
    assert row["f1_at"] == pytest.approx(f1, abs=2e-6)
    assert (row["tp"], row["fp"]) == (tp, pp - tp)
    assert row["fn"] == n_pos - tp
    assert row["tn"] == len(y) - pp - (n_pos - tp)
    assert math.isclose(row["threshold"], 0.7)

    # groups 0-2 split the frame; group 3 is one-class (all negative)
    g = np.concatenate([np.arange(len(y)) % 3, np.full(40, 3)])
    yg = np.concatenate([y, np.zeros(40, dtype=int)])
    sg = np.concatenate([s, s[:40]])
    grouped = spark.createDataFrame(
        [(int(a), int(b), float(c)) for a, b, c in zip(g, yg, sg)],
        "g int, label int, s double",
    ).withColumn("__cnt", F.lit(1))
    keyed = _rank_sum_aucs(grouped, ("g",))
    assert sorted(keyed) == [(0,), (1,), (2,), (3,)]
    for k in range(4):
        card = model_metrics(grouped.where(F.col("g") == k)).collect()[0]
        assert keyed[(k,)] == card["roc_auc"], k
    assert keyed[(3,)] == 0.0


def test_model_metrics_guards_degenerate_frames(spark):
    """zero_division=0 semantics: no positives → recall/f1/auc/ap pin
    to 0.0 (and no predictions above τ → precision 0.0), not NULL."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import model_metrics

    df = spark.createDataFrame(
        [(0, 0.1), (0, 0.2), (0, 0.3)], "label int, s double"
    )
    row = model_metrics(df).collect()[0]
    assert (row["roc_auc"], row["avg_precision"]) == (0.0, 0.0)
    assert (row["precision_at"], row["recall_at"], row["f1_at"]) == (0.0, 0.0, 0.0)
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (0, 0, 0, 3)


def test_fused_grid_descent_equals_sequential_folds(spark):
    """train_logreg_grid (all configs' gradients in ONE aggregate per
    step) returns BIT-IDENTICAL weights to the sequential per-config
    train_logreg calls — the fusion only shares scans, never
    arithmetic."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import (
        train_logreg_grid,
    )

    df, X, y = _imbalanced_df(spark)
    configs = (
        ("a", 1.0, 4, 0),
        ("b", 0.5, 4, 0),
        ("c", 1.0, 2, 0),
        ("d", 1.0, 4, 1),
    )
    fused = train_logreg_grid(df, configs, features=("x1",), scales={})
    for i, (_name, lr, iters, weighted) in enumerate(configs):
        w, _ = train_logreg(
            df, features=("x1",), lr=lr, iters=iters, scales={},
            weighted=bool(weighted),
        )
        assert fused[i] == w, configs[i]
