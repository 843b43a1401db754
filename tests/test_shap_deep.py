"""Exact TreeSHAP of depth-3 heap trees (ext/shap.py's one engine).

The test_shap.py laws generalized to 7-player games, checked against
an INDEPENDENT Fraction-exact Shapley replay over heap trees:

1. φ values match a brute-force Shapley computation (all subsets of
   the tree's unique features, cover-weighted conditional
   expectations in exact Fractions) for every branch pattern and
   several coincidence shapes, within the per-term micro-floor bound.
2. Additivity: Σ_f φ_f = v(full) − v(∅) holds EXACTLY in Fractions
   for every one of the 128 patterns.
3. The per-row pattern/array compilation reproduces the driver-side
   tables on a real fitted booster at depths 2 and 3 (engine law; the
   relational enumerations are gated by the q_gbt_shap and
   q_gbt_shap_deep oracles in selfcheck).
4. A tree deeper than the engine's bound is refused by name.
"""

from __future__ import annotations

import math
from fractions import Fraction
from itertools import combinations

import pytest

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import GBT_ETA
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.shap import (
    cover_ratios,
    shap_coef,
    shap_terms,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.shap_deep import (
    INTERNAL,
    LEAVES,
)


def _v_ref(tree, covers, S, pattern):
    """Fraction-exact cover-weighted conditional expectation: at each
    internal node, follow the row's branch if the node's split
    FEATURE is in S, else weight both children by training covers."""

    def rec(node) -> Fraction:
        if node in LEAVES:
            return Fraction(tree["leaves"][node])
        fidx, _b = tree["splits"][node]
        ind = (pattern >> (node - 1)) & 1
        if fidx in S:
            return rec(2 * node) if ind == 1 else rec(2 * node + 1)
        pl = Fraction(covers[2 * node], covers[node])
        pr = Fraction(covers[2 * node + 1], covers[node])
        return pl * rec(2 * node) + pr * rec(2 * node + 1)

    return rec(1)


def _phi_ref(tree, covers, pattern):
    """Brute-force Shapley in exact Fractions over the tree's unique
    features."""
    uniq = sorted({tree["splits"][k][0] for k in INTERNAL})
    u = len(uniq)
    out = {}
    for f in uniq:
        others = [g for g in uniq if g != f]
        phi = Fraction(0)
        for r in range(len(others) + 1):
            for combo in combinations(others, r):
                S = set(combo)
                coef = Fraction(
                    math.factorial(len(S)) * math.factorial(u - len(S) - 1),
                    math.factorial(u),
                )
                phi += coef * (
                    _v_ref(tree, covers, S | {f}, pattern)
                    - _v_ref(tree, covers, S, pattern)
                )
        out[f] = phi
    return out


def _tree(splits, leaves):
    return {
        "depth": 3,
        "splits": {k: splits[k] for k in INTERNAL},
        "gains": {k: 0.0 for k in INTERNAL},
        "leaves": dict(zip(LEAVES, leaves)),
    }


#: covers: a full 2000-row frame descending unevenly
_COVERS = {1: 2000, 2: 1200, 3: 800, 4: 700, 5: 500, 6: 500, 7: 300,
           8: 400, 9: 300, 10: 350, 11: 150, 12: 320, 13: 180, 14: 220, 15: 80}

_WS = [0.8, -0.4, 0.3, -0.9, 0.5, -0.2, 0.7, -0.6]

_SHAPES = {
    # 7 distinct features: the widest game (u = 7)
    "all_distinct": _tree(
        {1: (0, 7), 2: (1, 4), 3: (2, 9), 4: (3, 2), 5: (4, 11), 6: (5, 6), 7: (6, 13)},
        _WS,
    ),
    # one feature everywhere: u = 1 (maximal coincidence)
    "all_same": _tree(
        {k: (2, 3 + k) for k in INTERNAL},
        _WS,
    ),
    # root feature repeated at two deep nodes, two other players
    "root_repeats_deep": _tree(
        {1: (1, 8), 2: (4, 5), 3: (1, 12), 4: (6, 3), 5: (1, 9), 6: (4, 10), 7: (6, 7)},
        _WS,
    ),
    # siblings coincide level-wise: 3 players, one per level
    "level_players": _tree(
        {1: (0, 7), 2: (3, 5), 3: (3, 10), 4: (5, 2), 5: (5, 8), 6: (5, 11), 7: (5, 14)},
        _WS,
    ),
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_additivity_is_exact_in_fractions(shape):
    tree = _SHAPES[shape]
    uniq = {tree["splits"][k][0] for k in INTERNAL}
    for pattern in range(128):
        phis = _phi_ref(tree, _COVERS, pattern)
        full = _v_ref(tree, _COVERS, uniq, pattern)
        base = _v_ref(tree, _COVERS, set(), pattern)
        assert sum(phis.values()) == full - base, (shape, pattern)


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_module_phi_matches_bruteforce_shapley(shape):
    """shap_terms' mask-algebra φ6 (micro-floored per term,
    eta-scaled) vs the independent exact Shapley values: within the
    floor bound of 0.5 micro per term (≤ 2^(u−1) terms per feature)."""
    tree = _SHAPES[shape]
    table = shap_terms(tree, _COVERS, eta=GBT_ETA)
    uniq = sorted({tree["splits"][k][0] for k in INTERNAL})
    u = len(uniq)
    bound = 0.5 * (1 << max(0, u - 1)) + 1e-9
    for pattern in (0, 1, 37, 64, 85, 127):
        ref = _phi_ref(tree, _COVERS, pattern)
        phis6 = table[pattern]
        assert set(phis6) == set(ref)
        for f, p6 in phis6.items():
            exact = float(ref[f]) * GBT_ETA * 1e6
            assert abs(p6 - exact) <= bound, (shape, pattern, f, p6, exact)


def test_coef_matches_fraction_exactly():
    for u in range(1, 8):
        for s in range(u):
            exact = Fraction(
                math.factorial(s) * math.factorial(u - s - 1), math.factorial(u)
            )
            assert shap_coef(u, s) == float(exact)


def test_covers_ratios_shape():
    ps = cover_ratios(_COVERS)
    assert set(ps) == set(range(2, 16))
    # children of each node partition it
    for k in range(1, 8):
        assert _COVERS[2 * k] + _COVERS[2 * k + 1] == _COVERS[k]


@pytest.mark.parametrize("depth", [2, 3])
def test_engine_columns_reproduce_tables_on_fitted_booster(spark, depth):
    """Fit a real booster of ``depth``, compile the pattern/array
    columns, and check each row's φ6 equals the driver-side table
    entry at that row's pattern — the engine compilation law, row by
    row, for both boosters the catalog explains (the relational
    oracles are gated separately by selfcheck)."""
    import numpy as np

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import train_gbt_deep
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.shap import (
        branch_pattern,
        shap_phi_columns,
        tree_covers,
    )

    rng = np.random.RandomState(5)
    n = 800
    x1 = rng.uniform(0, 1, n).round(4)
    x2 = rng.uniform(0, 1, n).round(4)
    x3 = rng.uniform(0, 1, n).round(4)
    y = (((x2 > 0.55) & (x1 > 0.3)) ^ (rng.uniform(0, 1, n) < 0.15)).astype(int)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), int(v)) for a, b, c, v in zip(x1, x2, x3, y)],
        "x1 double, x2 double, x3 double, label int",
    )
    feats = ("x1", "x2", "x3")
    trees = train_gbt_deep(df, features=feats, scales={}, depth=depth, rounds=2)
    internal = range(1, 1 << depth)
    # covers via the same reach construction the queries use
    covers = tree_covers(df, trees, feats, {})
    tables = [shap_terms(tr, cov) for tr, cov in zip(trees, covers)]
    phis = shap_phi_columns(trees, tables, feats, {})
    pats = [branch_pattern(tr, feats, {}) for tr in trees]
    got = df.select(
        *[p.alias(f"pat_{t}") for t, p in enumerate(pats)], *phis
    ).collect()
    for r in got:
        for i, f in enumerate(feats):
            want = sum(
                tables[t][r[f"pat_{t}"]].get(i, 0)
                for t in range(len(trees))
                if i in {trees[t]["splits"][k][0] for k in internal}
            )
            assert r[f"phi6_{f}"] == want


def test_engine_refuses_trees_deeper_than_three():
    """A depth-4 heap tree (15 internal nodes, 32,768 branch patterns)
    is outside the exact engine: every entry point raises ValueError
    naming the depth, not a KeyError from a missing node."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.shap import (
        shap_phi_columns,
        shap_terms,
        tree_covers,
    )

    deep = {
        "depth": 4,
        "splits": {k: (k % 3, k) for k in range(1, 16)},
        "gains": {k: 0.0 for k in range(1, 16)},
        "leaves": {leaf: 0.1 * (leaf - 24) for leaf in range(16, 32)},
    }
    covers = {k: 1 << (5 - k.bit_length()) for k in range(1, 32)}
    with pytest.raises(ValueError, match="depth 4"):
        shap_terms(deep, covers)
    with pytest.raises(ValueError, match="depth 4"):
        shap_phi_columns([deep], [{}], ("x1", "x2", "x3"), {})
    with pytest.raises(ValueError, match="depth 4"):
        tree_covers(None, [deep], ("x1", "x2", "x3"), {})
