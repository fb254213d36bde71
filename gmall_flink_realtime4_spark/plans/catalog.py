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
    # Rotation after the r13 prefix (CORRECTNESS_r13) froze.
    #
    # CHANGED-PLAN head: every query whose plan changed since then. The
    # five twinned DWS apps now run their pipelines/dws.py transforms over
    # tables adapters (new oracles: the reference's columns and grain).
    "dws_trade_sku_order_window",
    "dws_trade_province_order_window",
    "dws_trade_trademark_category_user_refund_window",
    "dws_trade_cart_add_uu_window",
    "dws_user_user_login_window",
    # Each accumulate-then-finalize query now runs its twin's partials and
    # finalize, on the one KMV sketch per engine (operators/hashing.py):
    # the masked plans of the first five changed, and the checkpointed
    # (build-phase) supplier aggregate of the skyline gained the re-sum.
    "dq_table_stats_profile",
    "dq_vocab_drift",
    "dq_langid_eval",
    "llm_sketch_kmv_distinct",
    "llm_quality_train_step",
    "f_skyline_pareto_suppliers",
    # The one pair path per near-dup family (operators/joins.py::
    # candidate_pairs) changed the masked plans of the next four and the
    # checkpointed (build-phase) candidate/verify plans of the next two.
    "llm_dedup_minhash_lsh",
    "llm_dedup_containment_lsh",
    "llm_winnow_fingerprints",
    "llm_text_repetition",
    "llm_dedup_clusters",
    "llm_dedup_edit_distance_verify",
    # The one word-3-gram builder per engine (operators/minhash.py)
    # changed the masked plans of the next five and the build-phase
    # shingle plan of llm_lsh_tuning_curve; the broadcast hints of
    # dq_referential_integrity narrowed to the dimension parents.
    "llm_dedup_ngram_jaccard",
    "llm_dedup_containment",
    "llm_decontaminate",
    "llm_corpus_final",
    "llm_ngram_heavy_hitters",
    "llm_lsh_tuning_curve",
    "dq_referential_integrity",
    # Fill: the queries whose freshest CORRECTNESS row is oldest — the
    # two r10-fresh names, then r11-fresh names in r11 key order.
    "dws_traffic_source_keyword_page_view_window",
    "dws_traffic_vc_ch_ar_is_new_page_view_window",
    "dws_traffic_home_detail_page_view_window",
    "dws_user_user_register_window",
    "dws_trade_payment_suc_window",
    "dws_trade_order_window",
    "p1_json_parse_validity_filter",
    "f_date_formats",
    "f_conditional_cast_math",
    "f_asof_join_latest_order",
    "f_json_props_extract",
    "llm_multimodal_decode",
    "llm_multimodal_frame_sample",
    "llm_multimodal_pixel_stats",
    "llm_sample_stratified",
    "llm_pack_sequences",
    "llm_sketch_histogram_quantiles",
    "llm_dedup_embedding_cells",
    "llm_embedding_kmeans_step",
    "llm_neardup_recall",
    "llm_multimodal_image_dedup",
    "llm_multimodal_image_neardup_pairs",
    "llm_sample_domain_cap",
    "llm_embedding_quantize_int8",
    "f_zorder_layout_audit",
    "dq_sketch_join_cardinality",
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
