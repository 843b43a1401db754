"""Exact per-prediction attribution (TreeSHAP) for the fitted boosters.

The reference explains individual predictions with SHAP over its
fitted XGBoost (`ml/models/fraud_detector.py:185-191`, ``explain()``
building a ``shap.TreeExplainer``) at whatever ``max_depth`` its study
picks (3-9, `:258`). Path-dependent TreeSHAP of one heap tree is
CLOSED FORM here: a depth-d tree has 2^d−1 internal nodes, so the
Shapley sum runs over the subsets of its ≤ 2^d−1 unique split
features, with the conditional expectation

    v(S) = Σ_leaves w_leaf · Π_path factor(node, S)
    factor = [player(node) ∈ S] → the row's branch indicator (0/1)
             [player(node) ∉ S] → cover(child)/cover(node)

— Lundberg's cover-weighted descent, which needs only the per-node
TRAINING row counts (covers) the fitted splits already induce
(:func:`tree_covers`, one count aggregate).

Determinism contract (the ext/gbt.py conventions): covers are exact
integers; per (tree, subset) terms ``coef · (v(S∪f) − v(S)) · eta``
are evaluated by the recursion ``(L(k)·v(2k)) + (R(k)·v(2k+1))`` —
the ONE parenthesization the generated DuckDB oracle
(:func:`_shap_ctes`, at depth 2 and depth 3) writes token for token —
and the coefficient is the exact factorial ratio :func:`shap_coef`,
the same double as the oracle's DOUBLE-typed repr literals. Every
term micro-floors to an integer BEFORE any aggregation, so per-row φ
values are integer micros, sums are order-independent on any
partition layout, and the whole artifact hash-gates. Coincident
features (one feature splitting several nodes) are handled by the
subset enumeration itself: equal features share one Shapley player,
and the mask → node-membership mapping ties their factors together.

Per row, φ is one ``element_at`` into a per-(tree, feature) literal
array indexed by the row's branch PATTERN (bit k−1 = node k's
indicator; 8 patterns at depth 2, 128 at depth 3), precomputed
driver-side from the collected covers — the sanctioned
model-broadcast scalar class. Scoring stays row-local inside
codegen; the only aggregation is the final (band, feature) rollup.
The bins are never NULL (``greatest`` skips a NULL scaled value), so
the pattern is total. Additivity Σ_f φ_f = v(full) − v(∅) per tree is
pinned EXACTLY in Fractions against independent brute-force Shapley
replays at both depths (tests/test_shap.py, tests/test_shap_deep.py).

Depth contract: the engine explains heap trees of depth ≤ 3
(:data:`MAX_SHAP_DEPTH`). Depth 4 would mean 32,768 patterns per tree
and 2^15 subsets per feature; a deeper booster needs the polynomial
path algorithm, not a wider table, so a deeper tree raises
ValueError naming its depth. Do not bolt a different approximation
(e.g. Saabas) onto the serving path, which would silently change
attribution semantics.

Cites: reference `ml/models/fraud_detector.py:185-191` (explain,
shap.TreeExplainer) — semantics reproduced, execution re-architected.
"""

from __future__ import annotations

import math

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    GBT_BINS,
    GBT_ETA,
    GBT_ROUNDS,
    _bin_expr,
    _gbt_chain_ctes,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import RISK_LABEL_SQL, SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R6_SQL, SIGMOID6_F_SQL

#: The deepest tree the exact engine explains (128 branch patterns).
MAX_SHAP_DEPTH = 3


def _internal(tree: dict) -> range:
    """Heap ids of the tree's internal nodes, 1..2^d−1."""
    depth = tree["depth"]
    if depth > MAX_SHAP_DEPTH:
        raise ValueError(
            f"exact TreeSHAP explains trees of depth <= {MAX_SHAP_DEPTH}; "
            f"this tree has depth {depth}"
        )
    return range(1, 1 << depth)


def shap_coef(u: int, size: int) -> float:
    """|S|!·(u−|S|−1)!/u! as the exact double both engines read —
    Python true division of exact integers is correctly rounded, so
    it equals the oracle's literals: ``repr`` of this value typed
    DOUBLE (an untyped decimal literal can land 1 ulp away, as
    0.03333333333333333 does in DuckDB)."""
    return math.factorial(size) * math.factorial(u - size - 1) / math.factorial(u)


def cover_ratios(covers: dict[int, int]) -> dict[int, float]:
    """child → cover(child)/cover(parent) as the same float division
    the SQL writes (CAST(c AS DOUBLE) / CAST(p AS DOUBLE))."""
    return {c: float(covers[c]) / float(covers[c // 2]) for c in covers if c > 1}


def _v(
    k: int,
    bits: dict[int, int],
    inds: dict[int, float],
    ps: dict[int, float],
    ws: dict[int, float],
) -> float:
    """Cover-weighted conditional expectation of the subtree at node
    ``k`` for one membership pattern: ``(L(k)·v(2k)) + (R(k)·v(2k+1))``,
    the parenthesization the SQL oracles emit."""
    if k in ws:
        return ws[k]
    on = bits[k] == 1
    left = inds[k] if on else ps[2 * k]
    right = (1.0 - inds[k]) if on else ps[2 * k + 1]
    return (left * _v(2 * k, bits, inds, ps, ws)) + (
        right * _v(2 * k + 1, bits, inds, ps, ws)
    )


def shap_terms(
    tree: dict, covers: dict[int, int], eta: float = GBT_ETA
) -> dict[int, dict[int, int]]:
    """Per branch pattern → {fidx: φ6} integer micros of the
    eta-scaled Shapley values of ONE fitted heap tree. Pattern bit
    k−1 is node k's indicator (pattern = Σ i_k · 2^(k−1), heap order).

    Subset enumeration over the tree's unique features: ranks are
    1-based in ascending fidx order (the SQL's row_number ORDER BY
    fidx); masks run 0..2^u−1; a node's membership bit is its
    feature's rank bit, so coincident features share bits by
    construction. Each term micro-floors INDEPENDENTLY (the
    q_gbt_importance round-before-sum discipline) so φ6 sums are
    order-free in any engine."""
    internal = _internal(tree)
    splits = tree["splits"]
    ws = {leaf: float(w) for leaf, w in tree["leaves"].items()}
    ps = cover_ratios(covers)
    uniq = sorted({splits[k][0] for k in internal})
    u = len(uniq)
    rank = {f: i + 1 for i, f in enumerate(uniq)}
    # a mask's node-membership bits do not depend on the pattern
    bits = [
        {k: (m >> (rank[splits[k][0]] - 1)) & 1 for k in internal}
        for m in range(1 << u)
    ]
    out: dict[int, dict[int, int]] = {}
    for pattern in range(1 << len(internal)):
        inds = {k: float((pattern >> (k - 1)) & 1) for k in internal}
        phis: dict[int, int] = {}
        for f in uniq:
            fbit = 1 << (rank[f] - 1)
            p6 = 0
            for m in range(1 << u):
                if m & fbit:
                    continue
                coef = shap_coef(u, bin(m).count("1"))
                v0 = _v(1, bits[m], inds, ps, ws)
                v1 = _v(1, bits[m | fbit], inds, ps, ws)
                p6 += math.floor((coef * (v1 - v0)) * eta * 1000000.0 + 0.5)
            phis[f] = p6
        out[pattern] = phis
    return out


def tree_covers(
    fv,
    trees: list[dict],
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
) -> list[dict[int, int]]:
    """Per-tree training covers {heap node: row count} from ONE count
    aggregate over the feature frame: a node's reach is its parent's
    reach AND the parent's branch test (the fitted splits re-evaluated
    as row-local bin comparisons) — exact integer sums, the sanctioned
    bounded-histogram collect class."""
    from pyspark.sql import functions as F

    nodes = [range(2, 2 * len(_internal(tr)) + 2) for tr in trees]
    aggs = [F.count(F.lit(1)).alias("n")]
    for t, tr in enumerate(trees):
        reach = {1: F.lit(True)}
        for k in _internal(tr):
            fidx, b = tr["splits"][k]
            ind = _bin_expr(features[fidx], scales) <= b
            reach[2 * k] = reach[k] & ind
            reach[2 * k + 1] = reach[k] & ~ind
        for node in nodes[t]:
            aggs.append(F.sum(reach[node].cast("long")).alias(f"c{t}_{node}"))
    row = fv.agg(*aggs).first()
    return [
        {1: int(row["n"]), **{node: int(row[f"c{t}_{node}"]) for node in ns}}
        for t, ns in enumerate(nodes)
    ]


def _pattern_sql(
    tree: dict, features: tuple[str, ...], scales: dict[str, float] | None
) -> str:
    """The row's branch pattern Σ i_k · 2^(k−1) as SQL text over RAW
    feature columns; each bin is rendered byte-for-byte as
    ext/gbt._bin_sql renders it for the oracles."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import _x_sql

    terms = []
    for k in _internal(tree):
        fidx, b = tree["splits"][k]
        bin_sql = (
            f"CAST(least(greatest(floor(({_x_sql(features[fidx], scales)})"
            f" * {float(GBT_BINS)!r}), 0), {GBT_BINS - 1}) AS BIGINT)"
        )
        terms.append(f"(CAST(({bin_sql} <= {int(b)}) AS INT) * {1 << (k - 1)})")
    return "(" + " + ".join(terms) + ")"


def branch_pattern(
    tree: dict,
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
):
    """The row's branch pattern over RAW feature columns — the index
    :func:`shap_terms` keys its table by."""
    from pyspark.sql import functions as F

    return F.expr(_pattern_sql(tree, features, scales))


def shap_phi_columns(
    trees: list[dict],
    tables: list[dict[int, dict[int, int]]],
    features: tuple[str, ...] = SCORE_FEATURES,
    scales: dict[str, float] | None = None,
) -> list:
    """Per-feature φ6 Spark columns ``phi6_<feature>`` for a fitted
    ensemble, given the per-(tree, branch-pattern) tables
    (:func:`shap_terms` over training covers): per (tree,
    feature-in-tree) one element_at into the literal array of that
    feature's φ6 per pattern, indexed by the row's branch pattern —
    row-local and STATELESS, so the same columns score batch frames
    and streaming micro-batches identically
    (streaming/scoring.explain_stream rides them inside ingest)."""
    from pyspark.sql import functions as F

    pats = [_pattern_sql(tr, features, scales) for tr in trees]
    cols = []
    for fidx in range(len(features)):
        col = F.lit(0).cast("long")
        for t, tr in enumerate(trees):
            internal = _internal(tr)
            if fidx not in {tr["splits"][k][0] for k in internal}:
                continue
            # one F.expr per (tree, feature): rendering the pattern and
            # the literal array as SQL text keeps driver-side plan
            # building to one py4j call (the r16 driver-overhead rule)
            arr = ",".join(
                str(int(tables[t][p].get(fidx, 0))) for p in range(1 << len(internal))
            )
            col = col + F.expr(
                f"CAST(element_at(array({arr}), {pats[t]} + 1) AS BIGINT)"
            )
        cols.append(col.alias(f"phi6_{features[fidx]}"))
    return cols


# --- generated DuckDB oracle -------------------------------------------------


def _shap_ctes(fv_sql: str, depth: int = 2) -> list[str]:
    """The TreeSHAP oracle's CTE parts, through the per-row
    per-feature φ6 table (``phis``) and the score banding
    (``banded``), for the depth-``depth`` booster (depth ≤
    :data:`MAX_SHAP_DEPTH`): re-train via ext/gbt's one boosting
    chain, take every node's cover from the chain's level frames
    (nd{t}_L, sd{t}), and run :func:`shap_terms`' subset enumeration
    relationally — uniq ranks → masks → membership bits → the
    :func:`_v` recursion ``(L(k)·v(2k)) + (R(k)·v(2k+1))`` written out
    token for token, with the coefficients as ``repr`` literals of
    :func:`shap_coef` typed DOUBLE (the same doubles) — then
    micro-floor each term."""
    if depth > MAX_SHAP_DEPTH:
        raise ValueError(f"exact TreeSHAP explains trees of depth <= {MAX_SHAP_DEPTH}")
    ctes, rows_k = _gbt_chain_ctes(fv_sql, depth=depth)
    internal = range(1, 1 << depth)
    leaves = range(1 << depth, 2 << depth)
    size = " + ".join(f"((p.m >> {i}) & 1)" for i in range(len(internal)))
    coef = "(CASE p.u " + " ".join(
        f"WHEN {u} THEN (CASE ({size}) "
        + " ".join(f"WHEN {s} THEN {shap_coef(u, s)!r}::DOUBLE" for s in range(u))
        + " END)"
        for u in range(1, len(internal) + 1)
    ) + " END)"

    def v(k: int, bit) -> str:
        if k in leaves:
            return f"w{k}"
        left = f"(CASE WHEN {bit(k)} = 1 THEN i{k} ELSE p{2 * k} END)"
        right = f"(CASE WHEN {bit(k)} = 1 THEN (1.0 - i{k}) ELSE p{2 * k + 1} END)"
        return f"(({left} * {v(2 * k, bit)}) + ({right} * {v(2 * k + 1, bit)}))"

    m1 = "(p.m | (1 << (p.rk - 1)))"
    v0 = v(1, lambda k: f"((p.m >> (rk.r{k} - 1)) & 1)")
    v1 = v(1, lambda k: f"(({m1} >> (rk.r{k} - 1)) & 1)")
    masks = ", ".join(f"({m})" for m in range(1 << len(internal)))
    parts = [ctes]
    for t in range(1, GBT_ROUNDS + 1):

        def cover(k: int, t=t) -> str:
            lvl = k.bit_length() - 1
            if lvl == 0:
                return f"(SELECT count(*) FROM gh{t})"
            if lvl == depth:
                return f"(SELECT count(*) FROM sd{t} WHERE node = {k // 2} AND side = {k % 2})"
            return f"(SELECT count(*) FROM nd{t}_{lvl} WHERE node = {k})"

        ratios = ", ".join(
            f"CAST({cover(k)} AS DOUBLE) / CAST({cover(k // 2)} AS DOUBLE) AS p{k}"
            for k in range(2, 2 << depth)
        )
        parts.append(f"covs{t} AS MATERIALIZED (SELECT {ratios})")
        struct = [
            f"(SELECT {c} FROM b{t}_{k.bit_length() - 1} WHERE node = {k}) AS {c[0]}{k}"
            for k in internal
            for c in ("fidx", "bin")
        ] + [
            f"(SELECT w FROM lw{t} WHERE node = {k // 2} AND side = {k % 2}) AS w{k}"
            for k in leaves
        ]
        parts.append(f"struct{t} AS MATERIALIZED (SELECT {', '.join(struct)})")
        uf = " UNION ".join(f"SELECT f{k} AS f FROM struct{t}" for k in internal)
        parts.append(
            f"uniq{t} AS MATERIALIZED (SELECT f AS fidx, "
            f"CAST(row_number() OVER (ORDER BY f) AS INTEGER) AS rk, "
            f"CAST(count(*) OVER () AS INTEGER) AS u FROM ({uf}) uf)"
        )
        rk_cols = ", ".join(
            f"(SELECT rk FROM uniq{t} un, struct{t} s WHERE un.fidx = s.f{k}) AS r{k}"
            for k in internal
        )
        parts.append(f"rks{t} AS MATERIALIZED (SELECT {rk_cols})")
        ind_cols = ", ".join(
            f"CASE WHEN s{k}.bin <= st.b{k} THEN 1.0 ELSE 0.0 END AS i{k}"
            for k in internal
        )
        ind_joins = " ".join(
            f"JOIN st{t} s{k} ON s{k}.o_orderkey = s1.o_orderkey AND s{k}.fidx = st.f{k}"
            for k in internal[1:]
        )
        parts.append(
            f"ind{t} AS MATERIALIZED (SELECT s1.o_orderkey, {ind_cols} "
            f"FROM struct{t} st JOIN st{t} s1 ON s1.fidx = st.f1 {ind_joins})"
        )
        parts.append(
            f"pm{t} AS MATERIALIZED (SELECT un.fidx, un.rk, un.u, mm.m "
            f"FROM uniq{t} un JOIN (VALUES {masks}) "
            f"mm(m) ON mm.m < (1 << un.u) AND ((mm.m >> (un.rk - 1)) & 1) = 0)"
        )
        parts.append(
            f"terms{t} AS (SELECT i.o_orderkey, p.fidx, "
            f"CAST(floor(({coef} * ({v1} - {v0})) * {GBT_ETA!r} * 1000000.0 + 0.5) "
            f"AS BIGINT) AS t6 "
            f"FROM ind{t} i CROSS JOIN pm{t} p CROSS JOIN covs{t} "
            f"CROSS JOIN struct{t} CROSS JOIN rks{t} rk)"
        )
        parts.append(
            f"phi{t} AS MATERIALIZED (SELECT o_orderkey, fidx, "
            f"sum(t6) AS p6 FROM terms{t} GROUP BY 1, 2)"
        )
    phi_arms = " UNION ALL ".join(f"SELECT * FROM phi{t}" for t in range(1, GBT_ROUNDS + 1))
    parts.append(
        f"phis AS MATERIALIZED (SELECT o_orderkey, fidx, sum(p6) AS p6 FROM ("
        f"{phi_arms}) GROUP BY 1, 2)"
    )
    parts.append(
        f"banded AS MATERIALIZED (SELECT o_orderkey, "
        f"{RISK_LABEL_SQL.format(s=SIGMOID6_F_SQL)} AS risk_label FROM {rows_k})"
    )
    return parts


def gbt_shap_sql(fv_sql: str, depth: int = 2) -> str:
    """Complete oracle for q_gbt_shap (and, at depth 3,
    q_gbt_shap_deep): the :func:`_shap_ctes` φ6 table, aggregated to
    mean φ / mean |φ| per (risk band, feature) over the full feature
    grid."""
    parts = _shap_ctes(fv_sql, depth)
    fvals = ", ".join(f"({i}, '{f}')" for i, f in enumerate(SCORE_FEATURES))
    mean_phi = R6_SQL.format(c="CAST(sum(p6) AS DOUBLE) / count(*) / 1000000.0")
    mean_abs = R6_SQL.format(c="CAST(sum(abs(p6)) AS DOUBLE) / count(*) / 1000000.0")
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block},
    grid AS (
      SELECT b.risk_label, fe.fname,
             coalesce(p.p6, 0) AS p6
      FROM banded b CROSS JOIN (VALUES {fvals}) fe(fidx, fname)
      LEFT JOIN phis p ON p.o_orderkey = b.o_orderkey AND p.fidx = fe.fidx
    )
    SELECT risk_label, fname AS feature, count(*) AS n,
           {mean_phi} AS mean_phi, {mean_abs} AS mean_abs_phi
    FROM grid GROUP BY 1, 2"""


def gbt_shap_top_sql(fv_sql: str) -> str:
    """Complete oracle for q_gbt_shap_top: per row, the feature with
    the largest |φ6| (FIRST index on ties — matching the engine's
    array_position-of-max fold), aggregated per (risk band, top
    feature) with the mean |φ| it carried when on top."""
    parts = _shap_ctes(fv_sql)
    fvals = ", ".join(f"({i}, '{f}')" for i, f in enumerate(SCORE_FEATURES))
    mean_abs = R6_SQL.format(c="CAST(sum(abs(p6)) AS DOUBLE) / count(*) / 1000000.0")
    cte_block = ",\n    ".join(parts)
    return f"""WITH {cte_block},
    grid AS (
      SELECT b.o_orderkey, b.risk_label, fe.fidx, fe.fname,
             coalesce(p.p6, 0) AS p6
      FROM banded b CROSS JOIN (VALUES {fvals}) fe(fidx, fname)
      LEFT JOIN phis p ON p.o_orderkey = b.o_orderkey AND p.fidx = fe.fidx
    ),
    ranked AS (
      SELECT risk_label, fname, p6,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY abs(p6) DESC, fidx) AS rn
      FROM grid
    )
    SELECT risk_label, fname AS top_feature, count(*) AS n,
           {mean_abs} AS mean_abs_phi
    FROM ranked WHERE rn = 1 GROUP BY 1, 2"""
