"""Registry of named queries + their DuckDB oracle SQL.

Each entry is one operator/pipeline from SURVEY.md §2's inventory (or an
LLM-pipeline extension), expressed as:

- ``fn(spark, sf_dir) -> DataFrame``: the Spark-first implementation,
- ``oracle``: equivalent SQL DuckDB runs over the same parquet (views
  ``region nation customer supplier part orders lineitem events documents
  embeddings`` are pre-registered by the driver), or ``None`` for genuinely
  non-SQL-expressible operators (driver then records a rows-only check).

Determinism contract (so the order-insensitive value-hash matches):
- aggregated money/measures: DECIMAL end-to-end, final cast DECIMAL(38,6)
  on BOTH engines (double sums are order-dependent -> never hash-stable);
- counts: BIGINT both sides (DuckDB SUM(int)->HUGEINT is always cast back);
- event-time buckets: TIMESTAMP_NTZ from ``F.window``; oracle reproduces the
  bucket with tz-independent epoch arithmetic;
- every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import apply_runtime_confs


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}

# The driver's correctness sweep gates the FIRST 50 entries of ``queries()``
# (dict order). ``GATE_PRIORITY`` names exactly 50 queries that come first,
# in this order; the rest follow in registration order. Rotation rule, each
# round: lead with every query whose plan changed since the last gated
# prefix froze (and any new query), then fill to exactly 50 with the
# queries whose freshest CORRECTNESS_r* row is oldest.
GATE_PRIORITY: list[str] = [
    # ROUND-13 ROTATION (the r12 verdict's recipe, executed): prefix =
    # changed-plan re-entries + the 40 r10-fresh names (registry keys in
    # CORRECTNESS_r10 absent from r11/r12, in r10 key order) + oldest
    # r11-fresh names to fill 50.
    #
    # CHANGED-PLAN re-entries (the r4-r12 convention — every query whose
    # plan changed after the r12 gate prefix froze, or changes this
    # round, leads the head so the driver re-verifies it):
    # - llm_dedup_simhash / llm_dedup_simhash_pairs: late-r12
    #   single-shuffle packed-vote rewrite (r12 verdict item 1);
    # - llm_dedup_edit_distance_verify: late-r12 minhash_candidates
    #   factoring (also r10-fresh, so it leads the r10 fill below);
    # - r13 changed plans are appended here in the same commit as the
    #   change lands (two-phase top-k SALT retune: the 5 ANN-family
    #   consumers; CC propagate restructure: llm_dedup_clusters;
    #   referential-integrity shared-scan probe fold; quality-score
    #   spread revert; skyline frontier checkpoint; BPE trainer job
    #   restructure — the last three displace the 3 tail names, whose
    #   plans are untouched and whose r10/r11 rows stand).
    "llm_dedup_simhash",
    "llm_dedup_simhash_pairs",
    # r13 changed plans (see above)
    "llm_ann_cosine_topk",
    "llm_ann_ivf",
    "llm_ann_ivf_trained_recall",
    "llm_ann_pq_adc_recall",
    "llm_lsh_tuning_curve",
    "llm_dedup_clusters",
    "llm_text_quality_score",
    "f_skyline_pareto_suppliers",
    "llm_bpe_train_merges",
    "llm_bpe_encode_corpus",
    # the 40 r10-fresh names, r10 key order (includes the changed-plan
    # llm_dedup_edit_distance_verify and dq_referential_integrity)
    "llm_ann_pq_encode",
    "llm_chunk_dedup",
    "llm_text_repetition",
    "llm_corpus_final",
    "llm_dedup_edit_distance_verify",
    "dwd_base_log_page",
    "dwd_base_log_start",
    "dwd_base_log_err",
    "dwd_base_log_display",
    "dwd_base_log_action",
    "dim_app_router",
    "dim_app_materialize",
    "dws_sliding_window_events",
    "llm_corpus_rollup",
    "dws_user_event_funnel",
    "dws_session_window_events",
    "dws_time_hierarchy_rollup",
    "dws_user_retention_cohort",
    "dws_gap_fill_locf_daily_orders",
    "dim_scd2_user_event_intervals",
    "dwd_trade_order_detail",
    "dwd_trade_order_cancel_detail",
    "dwd_trade_order_pay_suc_detail",
    "dws_trade_trademark_category_user_refund_window",
    "dq_audit_warehouse",
    "llm_mix_domains",
    "llm_text_rare_token_ratio",
    "dq_checksum_partition",
    "llm_dedup_embedding_cosine",
    "dws_event_anomaly_zscore",
    "f_unpivot_event_day",
    "dq_referential_integrity",
    "dws_user_path_transitions",
    "dq_null_profile",
    "dwd_trade_cart_add",
    "dwd_interaction_comment_info",
    "dwd_trade_order_refund",
    "dwd_base_db_router",
]


def _ordered_names() -> list[str]:
    """Registry names with the gate-priority prefix first."""
    prioritized = [n for n in GATE_PRIORITY if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(prioritized)]
    return prioritized + rest


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query; normalizes the session's runtime confs
    before building the plan (the driver passes its own SparkSession)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
            # kwargs pass through so keyword-only variants (e.g. a query's
            # compress_exact=False twin) stay callable through the registry
            apply_runtime_confs(spark)
            return fn(spark, sf_dir, **kwargs)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "", tags=tags
        )
        return wrapped

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from . import load_all

    load_all()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracles() -> dict[str, str]:
    from . import load_all

    load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
