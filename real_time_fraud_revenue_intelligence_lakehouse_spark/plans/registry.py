"""Declared-query registry — the engine's correctness contract.

Every operator from SURVEY.md §2 registers here as a named query:
a PySpark callable ``fn(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an equivalent ANSI-SQL string the DuckDB oracle runs
on the same parquet tables. `__spark_entry__.py` simply re-exports
this registry to the driver.

Column-name discipline: the driver's comparator sorts columns by name
and hashes values, so the Spark result and the oracle SQL must agree
on every output column name — alias everything on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from real_time_fraud_revenue_intelligence_lakehouse_spark.session import tune


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir)`` as a declared query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver may hand us a session we didn't build; pin
            # the determinism-critical runtime confs before planning.
            tune(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in _REGISTRY:
            raise ValueError(f"duplicate query id: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog  # noqa: F401


# Verification priority: the driver's correctness gate walks queries()
# in dict order with a hard 50-entry per-round budget (every registered
# id is green in the r01-r15 union), so ids needing a fresh driver row
# come FIRST. Layout of this head:
#   1-40:   ids whose trained or selected artifact now reads through
#           the one keyed memo (shared_frames.memo), BPE and GBT first;
#   41-42:  the stateful-fold batch twins (q_ewma_recursive,
#           q_stateful_profile);
#   43-44:  the two scale probes (44 ≤ the 50-cap);
#   45:     the last round-16 id not above (q_score_input_gate);
#   46-61:  the 16 ids whose last sampled row is r09;
#   62-109: the 48 ids whose last sampled row is r10 and that are not
#           above.
# Names not listed keep their registration order after these (the
# r11-r15 blocks rotated out: all driver-green at r11-r15).
# Planned-but-not-yet-registered names are harmless: _ordered()
# filters on membership.
_FRONT: tuple[str, ...] = (
    # — read through the one keyed memo (shared_frames.memo) —
    "q_bpe_encode",
    "q_bpe_merges",
    "q_gbt_calibration",
    "q_gbt_deep_score",
    "q_gbt_depth_selection",
    "q_gbt_early_stop",
    "q_gbt_early_stop_auc",
    "q_gbt_importance",
    "q_gbt_learning_curve",
    "q_gbt_model_selection",
    "q_gbt_random_search",
    "q_gbt_random_search_full",
    "q_gbt_roc",
    "q_gbt_shap",
    "q_gbt_shap_deep",
    "q_gbt_shap_top",
    "q_gbt_train",
    "q_gbt_train_deep",
    "q_gbt_train_depth4",
    "q_gbt_train_l1",
    "q_gbt_train_mcw",
    "q_gbt_train_score",
    "q_gbt_train_subsample",
    "q_gbt_train_weighted",
    "q_kmeans_inertia",
    "q_kmeans_train",
    "q_logreg_ablation",
    "q_logreg_roc",
    "q_logreg_train",
    "q_logreg_train_scaled",
    "q_logreg_train_score",
    "q_logreg_train_weighted",
    "q_model_card",
    "q_model_promotion",
    "q_model_selection",
    "q_model_selection_cv",
    "q_model_selection_cv_full",
    "q_retrain_best",
    "q_score_drift_psi",
    "q_standard_scale_train",
    # — rewritten onto the one stateful-fold driver —
    "q_ewma_recursive",
    "q_stateful_profile",
    # — scale probes —
    "q_scale_probe_scan",
    "q_scale_probe_join",
    # — new in round 16, never driver-verified —
    "q_score_input_gate",
    # — last driver row r09 (the 16 past r15's 50-cap) —
    "q_quality_score",
    "q_record_linkage",
    "q_rolling_hash",
    "q_schema_drift",
    "q_shipping_priority",
    "q_simhash",
    "q_simhash_pairs",
    "q_source_mix",
    "q_source_profile",
    "q_text_cleanup",
    "q_text_stats",
    "q_tfidf_terms",
    "q_top_tokens",
    "q_unigram_logprob",
    "q_vector_norms",
    "q_vocab_coverage",
    # — last driver row r10 (48 ids; q_bpe_encode and q_bpe_merges
    #   moved to the memo block) —
    "q_agg_join",
    "q_bpe_encode_external",
    "q_bucket_tier",
    "q_casts",
    "q_clean_filter",
    "q_country_risk",
    "q_dashboard_today",
    "q_dedup_keep_any",
    "q_derived_flags",
    "q_dim_dates",
    "q_dim_users_segments",
    "q_distinct_count",
    "q_dup_spans",
    "q_embed_drift",
    "q_enum_mapping",
    "q_enum_whitelist",
    "q_epoch_ms_to_date",
    "q_except_check",
    "q_explode_agg",
    "q_fact_fraud_events",
    "q_fact_orders",
    "q_feature_vector",
    "q_fillna",
    "q_grouping_sets",
    "q_hash_key",
    "q_hourly_rollup",
    "q_join_left",
    "q_join_lookup",
    "q_json_parse",
    "q_latest_per_key",
    "q_lookup_join",
    "q_misra_gries",
    "q_percentiles",
    "q_pivot_status",
    "q_pmi_collocations",
    "q_quantile_by_key",
    "q_quantile_sketch",
    "q_readability",
    "q_revenue_daily",
    "q_route_reconstruct",
    "q_scalar_math",
    "q_star_join",
    "q_stg_payments",
    "q_string_funcs",
    "q_time_parts",
    "q_topk",
    "q_union_all",
    "q_user_scores",
)


def _ordered() -> dict[str, QuerySpec]:
    front = [n for n in _FRONT if n in _REGISTRY]
    rest = [n for n in _REGISTRY if n not in set(front)]
    return {n: _REGISTRY[n] for n in front + rest}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in _ordered().items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}


def specs() -> dict[str, QuerySpec]:
    _load_all()
    return _ordered()
