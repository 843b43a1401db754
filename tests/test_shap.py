"""Exact TreeSHAP of depth-2 heap trees (ext/shap.py).

Three laws, checked against an INDEPENDENT Fraction-exact Shapley
implementation (direct subset enumeration over feature sets with
recursive cover-weighted descent — structurally different from the
module's mask algebra):

1. Additivity (efficiency): Σ_f φ_f = v(full) − v(∅) EXACTLY in
   Fractions, for every branch pattern and every coincidence shape
   (distinct / root=child / child=child / all-same features).
2. The module's micro-floored φ6 values match the exact Shapley
   values within the term-floor bound (≤ 0.5 micro per term).
3. End-to-end: on a planted boundary the signal feature dominates
   mean |φ|, and a single-feature tree's φ is value − base.
"""

from __future__ import annotations

import math
from fractions import Fraction
from itertools import combinations

import numpy as np
import pytest

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import GBT_ETA, train_gbt
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.shap import shap_terms


def _v_ref(tree, covers, S, branches):
    """Independent cover-weighted conditional expectation, exact in
    Fractions: at each internal node, follow x's branch if the node's
    feature is conditioned on (∈ S), else average children by their
    training covers."""
    n, nl, nr, nll, nlr, nrl, nrr = (covers[k] for k in range(1, 8))
    fa, fb, fc = (tree["splits"][k][0] for k in (1, 2, 3))
    i_a, i_b, i_c = branches
    wll, wlr, wrl, wrr = (Fraction(tree["leaves"][k]) for k in (4, 5, 6, 7))
    if fb in S:
        left = wll if i_b else wlr
    else:
        left = Fraction(nll, nl) * wll + Fraction(nlr, nl) * wlr
    if fc in S:
        right = wrl if i_c else wrr
    else:
        right = Fraction(nrl, nr) * wrl + Fraction(nrr, nr) * wrr
    if fa in S:
        return left if i_a else right
    return Fraction(nl, n) * left + Fraction(nr, n) * right


def _phi_ref(tree, covers, branches):
    """Exact Shapley values per unique feature — the brute-force
    definition over feature subsets."""
    uniq = sorted({tree["splits"][k][0] for k in (1, 2, 3)})
    u = len(uniq)
    phis = {}
    for f in uniq:
        others = [g for g in uniq if g != f]
        total = Fraction(0)
        for k in range(len(others) + 1):
            for S in combinations(others, k):
                w = Fraction(
                    math.factorial(k) * math.factorial(u - k - 1),
                    math.factorial(u),
                )
                total += w * (
                    _v_ref(tree, covers, set(S) | {f}, branches)
                    - _v_ref(tree, covers, set(S), branches)
                )
        phis[f] = total
    return phis


#: heap covers: root, its children (2, 3), the leaves (4..7)
_COVERS = dict(zip(range(1, 8), (100, 60, 40, 35, 25, 10, 30)))
_WS = (0.41, -0.27, -0.64, 0.13)


def _tree(root, left, right):
    """Depth-2 heap tree: splits at nodes 1..3, leaves 4..7 = _WS."""
    return {
        "depth": 2,
        "splits": {1: root, 2: left, 3: right},
        "gains": {1: 0.0, 2: 0.0, 3: 0.0},
        "leaves": dict(zip((4, 5, 6, 7), _WS)),
    }


def _branches(pattern):
    """(i_a, i_b, i_c) of a branch pattern: bit k−1 is node k."""
    return (pattern & 1, (pattern >> 1) & 1, (pattern >> 2) & 1)


#: one tree per coincidence shape — the subset algebra must tie
#: coincident features into one Shapley player in every case
_SHAPES = {
    "distinct": _tree((0, 7), (1, 3), (2, 11)),
    "root_eq_right": _tree((0, 7), (1, 3), (0, 11)),
    "root_eq_left": _tree((0, 7), (0, 2), (2, 11)),
    "children_eq": _tree((0, 7), (1, 3), (1, 12)),
    "all_same": _tree((0, 7), (0, 2), (0, 11)),
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_additivity_is_exact_in_fractions(shape):
    tree = _SHAPES[shape]
    for i_a in (0, 1):
        for i_b in (0, 1):
            for i_c in (0, 1):
                phis = _phi_ref(tree, _COVERS, (i_a, i_b, i_c))
                uniq = set(phis)
                full = _v_ref(tree, _COVERS, uniq, (i_a, i_b, i_c))
                base = _v_ref(tree, _COVERS, set(), (i_a, i_b, i_c))
                assert sum(phis.values()) == full - base, (shape, i_a, i_b, i_c)


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_module_phi_matches_bruteforce_shapley(shape):
    """shap_terms' mask-algebra φ6 (micro-floored per term, scaled by
    eta) vs the independent exact Shapley values: within the floor
    bound of 0.5 micro per term (≤ 4 terms per feature)."""
    tree = _SHAPES[shape]
    table = shap_terms(tree, _COVERS, eta=GBT_ETA)
    for pattern, phis6 in table.items():
        ref = _phi_ref(tree, _COVERS, _branches(pattern))
        assert set(phis6) == set(ref)
        for f, p6 in phis6.items():
            exact = float(ref[f]) * GBT_ETA * 1e6
            assert abs(p6 - exact) <= 2.0 + 1e-9, (shape, _branches(pattern), f)


def test_single_feature_tree_phi_is_value_minus_base():
    """u = 1: the lone player takes the whole deviation — φ equals
    the (eta-scaled) tree value at x minus the cover-weighted base."""
    tree = _SHAPES["all_same"]
    table = shap_terms(tree, _COVERS, eta=1.0)
    n, nl, nr, nll, nlr, nrl, nrr = (_COVERS[k] for k in range(1, 8))
    wll, wlr, wrl, wrr = (tree["leaves"][k] for k in (4, 5, 6, 7))
    base = (nl / n) * ((nll / nl) * wll + (nlr / nl) * wlr) + (
        nr / n
    ) * ((nrl / nr) * wrl + (nrr / nr) * wrr)
    for pattern, phis in table.items():
        i_a, i_b, i_c = _branches(pattern)
        val = (wll if i_b else wlr) if i_a else (wrl if i_c else wrr)
        assert abs(phis[0] / 1e6 - (val - base)) < 2e-6


def test_signal_feature_dominates_attribution(spark):
    """Planted boundary (y follows x2, x1 is noise): the booster's
    mean |φ| must load on x2 — attribution finds the signal."""
    from pyspark.sql import functions as F

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import GBT_BINS, _bin_expr

    rng = np.random.RandomState(11)
    n = 600
    x1 = rng.uniform(0, 1, n).round(4)
    x2 = rng.uniform(0, 1, n).round(4)
    flip = rng.uniform(0, 1, n) < 0.1
    y = ((x2 > 0.55) ^ flip).astype(int)
    df = spark.createDataFrame(
        [(float(a), float(b), int(v)) for a, b, v in zip(x1, x2, y)],
        "x1 double, x2 double, label int",
    )
    trees = train_gbt(df, features=("x1", "x2"), scales={})
    # covers per tree from one aggregate (the q_gbt_shap recipe)
    feats = ("x1", "x2")

    def bcol(fidx):
        return _bin_expr(feats[fidx], {}, GBT_BINS)

    mean_abs = {0: 0.0, 1: 0.0}
    for tr in trees:
        i_a, i_b, i_c = (bcol(f) <= b for f, b in (tr["splits"][k] for k in (1, 2, 3)))
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(i_a.cast("long")).alias("nl"),
            F.sum((i_a & i_b).cast("long")).alias("nll"),
            F.sum(((~i_a) & i_c).cast("long")).alias("nrl"),
        ).first()
        nn, nl = int(row["n"]), int(row["nl"])
        covers = dict(
            zip(
                range(1, 8),
                (
                    nn,
                    nl,
                    nn - nl,
                    int(row["nll"]),
                    nl - int(row["nll"]),
                    int(row["nrl"]),
                    (nn - nl) - int(row["nrl"]),
                ),
            )
        )
        table = shap_terms(tr, covers, eta=GBT_ETA)
        # fold |φ| over the data distribution via the branch patterns
        pat = df.select(
            i_a.cast("int").alias("a"),
            i_b.cast("int").alias("b"),
            i_c.cast("int").alias("c"),
        ).groupBy("a", "b", "c").count().collect()
        for r in pat:
            phis = table[r["a"] + 2 * r["b"] + 4 * r["c"]]
            for f, p6 in phis.items():
                mean_abs[f] += abs(p6) * r["count"] / n / 1e6
    assert mean_abs[1] > 5 * max(mean_abs[0], 1e-9), mean_abs
