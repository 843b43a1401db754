"""The generated DuckDB oracle for exact TreeSHAP of the depth-3
booster (q_gbt_shap_deep).

The Spark side is ext/shap.py's one engine, which explains heap trees
of any depth ≤ 3. This module keeps the independent relational
reference at depth 3: ext/gbt_deep.py's heap-indexed trees have 7
internal nodes, ≤ 7 unique features and ≤ 2⁷ = 128 subsets, and the
oracle re-trains the deep chain, derives every node's cover from the
chain's level frames, and runs the identical subset enumeration with
membership bits per node — the same cover-weighted descent

    v(S) = Σ_leaves w_leaf · Π_path factor(node, S)
    factor = [player(node) ∈ S] → the row's branch indicator (0/1)
             [player(node) ∉ S] → cover(child)/cover(node)

in the parenthesization ext/shap's recursion evaluates
(:func:`_v_deep_sql`), with the exact factorial-ratio coefficients
emitted as repr-literals of ``ext.shap.shap_coef`` — so every double
matches bit-for-bit and the whole artifact hash-gates.

Cites: reference `ml/models/fraud_detector.py:185-191` (explain,
shap.TreeExplainer over the fitted XGBoost, whose max_depth the
study sweeps 3-9 at :258) — semantics reproduced, execution
re-architected.
"""

from __future__ import annotations

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    GBT_BINS,
    GBT_ETA,
    GBT_LAMBDA,
    GBT_ROUNDS,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import (
    GBT_DEPTH,
    _gbt_deep_ctes,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.scoring import SCORE_FEATURES
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.shap import shap_coef
from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import R6_SQL

#: heap layout of a depth-3 tree
INTERNAL = tuple(range(1, 8))  # nodes 1..7
LEAVES = tuple(range(8, 16))  # nodes 8..15


# --- generated DuckDB oracle ---------------------------------------------------


def _v_deep_sql(bit: dict[int, str]) -> str:
    """ext/shap's ``_v`` recursion unrolled at depth 3, with membership
    bits as SQL integer expressions — same parenthesization, token
    for token.
    Reads i1..i7 (indicators), p2..p15 (cover ratios), w8..w15."""

    def L(k: int) -> str:
        return f"(CASE WHEN {bit[k]} = 1 THEN i{k} ELSE p{2 * k} END)"

    def R(k: int) -> str:
        return f"(CASE WHEN {bit[k]} = 1 THEN (1.0 - i{k}) ELSE p{2 * k + 1} END)"

    return (
        f"(({L(1)} * (({L(2)} * (({L(4)} * w8) + ({R(4)} * w9)))"
        f" + ({R(2)} * (({L(5)} * w10) + ({R(5)} * w11)))))"
        f" + ({R(1)} * (({L(3)} * (({L(6)} * w12) + ({R(6)} * w13)))"
        f" + ({R(3)} * (({L(7)} * w14) + ({R(7)} * w15))))))"
    )


def _coef_deep_sql() -> str:
    """CASE over (u, |S|) emitting the exact repr-literals of
    :func:`shap_coef` — both engines read the same doubles."""
    arms = []
    for u in range(1, 8):
        inner = " ".join(
            f"WHEN {s} THEN {shap_coef(u, s)!r}" for s in range(u)
        )
        size = " + ".join(f"((p.m >> {i}) & 1)" for i in range(7))
        arms.append(f"WHEN {u} THEN (CASE ({size}) {inner} END)")
    return "(CASE p.u " + " ".join(arms) + " END)"


def gbt_shap_deep_sql(
    fv_sql: str,
    features: tuple[str, ...] = SCORE_FEATURES,
    rounds: int = GBT_ROUNDS,
    bins: int = GBT_BINS,
    lam: float = GBT_LAMBDA,
    eta: float = GBT_ETA,
    depth: int = GBT_DEPTH,
) -> str:
    """Complete oracle for q_gbt_shap_deep: re-train the depth-3
    booster via the unrolled deep rounds, derive every node's cover
    from the chain's nd/sd frames, run the identical subset
    enumeration relationally (uniq ranks → 128 masks → membership
    bits → the :func:`_v_deep_sql` template with repr-literal
    coefficients), micro-floor each term, and aggregate mean φ /
    mean |φ| per (risk band, feature)."""
    assert depth == 3, "the deep SHAP closed form is written for depth 3"
    ctes, rows_k = _gbt_deep_ctes(fv_sql, features, rounds, bins, lam, eta, depth)
    parts = [ctes]
    phi_arms = []
    for t in range(1, rounds + 1):
        # covers: level frames nd{t}_0 (node 1), nd{t}_1 (2,3),
        # nd{t}_2 (4..7); leaves 8..15 = sd{t}.node*2+side
        ratio = []
        for c in (2, 3):
            ratio.append(
                f"CAST((SELECT count(*) FROM nd{t}_1 WHERE node = {c}) AS DOUBLE) / "
                f"CAST((SELECT count(*) FROM nd{t}_0) AS DOUBLE) AS p{c}"
            )
        for c in (4, 5, 6, 7):
            ratio.append(
                f"CAST((SELECT count(*) FROM nd{t}_2 WHERE node = {c}) AS DOUBLE) / "
                f"CAST((SELECT count(*) FROM nd{t}_1 WHERE node = {c // 2}) AS DOUBLE) AS p{c}"
            )
        for leaf in LEAVES:
            parent, side = leaf // 2, leaf % 2
            ratio.append(
                f"CAST((SELECT count(*) FROM sd{t} WHERE node = {parent} "
                f"AND side = {side}) AS DOUBLE) / "
                f"CAST((SELECT count(*) FROM nd{t}_2 WHERE node = {parent}) AS DOUBLE) AS p{leaf}"
            )
        parts.append(f"covs{t} AS MATERIALIZED (SELECT " + ", ".join(ratio) + ")")
        node_src = {1: (f"b{t}_0", 1)}
        for k in (2, 3):
            node_src[k] = (f"b{t}_1", k)
        for k in (4, 5, 6, 7):
            node_src[k] = (f"b{t}_2", k)
        struct_cols = []
        for k in INTERNAL:
            tbl, node = node_src[k]
            struct_cols.append(
                f"(SELECT fidx FROM {tbl} WHERE node = {node}) AS f{k}"
            )
            struct_cols.append(
                f"(SELECT bin FROM {tbl} WHERE node = {node}) AS b{k}"
            )
        for leaf in LEAVES:
            parent, side = leaf // 2, leaf % 2
            struct_cols.append(
                f"(SELECT w FROM lw{t} WHERE node = {parent} AND side = {side}) AS w{leaf}"
            )
        parts.append(
            f"struct{t} AS MATERIALIZED (SELECT " + ", ".join(struct_cols) + ")"
        )
        uf = " UNION ".join(f"SELECT f{k} AS f FROM struct{t}" for k in INTERNAL)
        parts.append(
            f"uniq{t} AS MATERIALIZED (SELECT f AS fidx, "
            f"CAST(row_number() OVER (ORDER BY f) AS INTEGER) AS rk, "
            f"CAST(count(*) OVER () AS INTEGER) AS u FROM ({uf}) uf)"
        )
        rk_cols = ", ".join(
            f"(SELECT rk FROM uniq{t} un, struct{t} s WHERE un.fidx = s.f{k}) AS r{k}"
            for k in INTERNAL
        )
        parts.append(f"rks{t} AS MATERIALIZED (SELECT {rk_cols})")
        ind_cols = ", ".join(
            f"CASE WHEN s{k}.bin <= st.b{k} THEN 1.0 ELSE 0.0 END AS i{k}"
            for k in INTERNAL
        )
        ind_joins = " ".join(
            f"JOIN st{t} s{k} ON s{k}.o_orderkey = s1.o_orderkey "
            f"AND s{k}.fidx = st.f{k}"
            for k in INTERNAL
            if k != 1
        )
        parts.append(
            f"ind{t} AS MATERIALIZED (SELECT s1.o_orderkey, {ind_cols} "
            f"FROM struct{t} st JOIN st{t} s1 ON s1.fidx = st.f1 {ind_joins})"
        )
        masks = ", ".join(f"({m})" for m in range(128))
        parts.append(
            f"pm{t} AS MATERIALIZED (SELECT un.fidx, un.rk, un.u, mm.m "
            f"FROM uniq{t} un JOIN (VALUES {masks}) "
            f"mm(m) ON mm.m < (1 << un.u) AND ((mm.m >> (un.rk - 1)) & 1) = 0)"
        )
        coef = _coef_deep_sql()
        m1 = "(p.m | (1 << (p.rk - 1)))"
        v0 = _v_deep_sql(
            {k: f"((p.m >> (rk.r{k} - 1)) & 1)" for k in INTERNAL}
        )
        v1 = _v_deep_sql(
            {k: f"(({m1} >> (rk.r{k} - 1)) & 1)" for k in INTERNAL}
        )
        parts.append(
            f"terms{t} AS (SELECT i.o_orderkey, p.fidx, "
            f"CAST(floor(({coef} * ({v1} - {v0})) * {eta!r} * 1000000.0 + 0.5) "
            f"AS BIGINT) AS t6 "
            f"FROM ind{t} i CROSS JOIN pm{t} p CROSS JOIN covs{t} "
            f"CROSS JOIN struct{t} CROSS JOIN rks{t} rk)"
        )
        parts.append(
            f"phi{t} AS MATERIALIZED (SELECT o_orderkey, fidx, "
            f"sum(t6) AS p6 FROM terms{t} GROUP BY 1, 2)"
        )
        phi_arms.append(f"SELECT * FROM phi{t}")
    parts.append(
        "phis AS MATERIALIZED (SELECT o_orderkey, fidx, sum(p6) AS p6 FROM ("
        + " UNION ALL ".join(phi_arms)
        + ") GROUP BY 1, 2)"
    )
    s = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")
    parts.append(
        f"banded AS MATERIALIZED (SELECT o_orderkey, "
        f"CASE WHEN {s} >= 0.7 THEN 'high' "
        f"WHEN {s} >= 0.4 THEN 'medium' ELSE 'low' END AS risk_label "
        f"FROM {rows_k})"
    )
    fvals = ", ".join(f"({i}, '{f}')" for i, f in enumerate(features))
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
