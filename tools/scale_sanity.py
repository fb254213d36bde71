"""Scale-sanity harness: replicate sf0.1 N-fold and re-run the headline
queries, verifying the plans HOLD as data grows (near-linear wall-clock, no
OOM, no plan flip to cartesian/sort-merge-of-dims).

Replication is key-aware so the workload scales like real growth, not like
a degenerate duplicate pile:

- facts (lineitem/orders/events) shift their keys per replica; dims
  (region/nation/customer/supplier/part) stay fixed — fact/dim ratio grows
  like a real warehouse, dim joins stay broadcast.
- documents: every token is salted per replica, so shingle/minhash/simhash
  candidate spaces scale ~linearly instead of quadratically across replicas
  (10 exact copies of every doc would mean a 100x pair blowup — growth, not
  scale).
- embeddings: vec_id shifts; query set stays replica-0 (fixed query budget
  over a growing base — the ANN serving pattern).

Usage: python tools/scale_sanity.py [N] [query ...]
(with query names given, only those run — for re-measuring a changed plan)

x100 tier: python tools/scale_sanity.py --tier x100 [query ... | all]
Institutionalizes round 9's one-off hand-run: N=100, driver heap raised
to 96g (SPARK_GRAFT_DRIVER_MEM still wins if set), and the default run
list is TIME-BUDGETED — the 20 bench flagships + the round's
changed-plan queries (X100_DEFAULT below), not all 135; `all` runs the
full registry (r9 measured ~30 min). Append rows to SCALE.md from the
JSON this prints.

Skew mode: python tools/scale_sanity.py [N] --skew [query ... | all]
Replicates with DELIBERATE hot keys (~x100 the median: one domain, one
user, one shingle — see replicate_skew) and runs the skew-exposed
queries (SKEW_DEFAULT) — the evidence that the repo's skew story (AQE
skew-split, salting-free pair joins, domain caps) holds when a key is
actually hot, not just when growth is uniform.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from gmall_flink_realtime4_spark.plans.catalog import queries  # noqa: E402
from gmall_flink_realtime4_spark.session import get_spark  # noqa: E402
from tools.isopair import warm_up  # noqa: E402

SRC = "/root/testdata/sf0.1"
QUERIES = [
    "dws_trade_sku_order_window",
    "dwd_trade_order_detail",
    "dws_trade_province_order_window",
    "dwd_base_log_page",
    "llm_dedup_exact",
    "llm_dedup_minhash_lsh",
    "llm_dedup_simhash",
    "llm_dedup_simhash_pairs",
    "llm_dedup_embedding_cosine",
    "llm_dedup_clusters",
    "llm_ann_cosine_topk",
    "llm_ann_ivf",
    "llm_text_quality_score",
    "llm_multimodal_decode",
    "llm_sample_stratified",
    "llm_pack_sequences",
    "llm_decontaminate",
    "llm_ann_pq_encode",
    "llm_ann_pq_adc_recall",
    "llm_dedup_edit_distance_verify",
    # round 3
    "llm_chunk_dedup",
    "llm_ngram_heavy_hitters",
    "llm_tfidf_top_terms",
    "llm_dedup_containment",
    "f_bloom_prefilter_semi_join",
    "f_pivot_event_day",
    "f_window_suite_orders",
    "dws_cube_event_stats",
    "llm_split_train_val_test",
    "llm_type_token_ratio",
    "llm_dedup_containment_lsh",
    "f_top_users_per_event_type",
    "dq_outlier_mad_events",
    "llm_length_decile_curriculum",
    "dq_reconcile_orders_lineitem",
    "f_set_ops_source_overlap",
    "llm_dup_span_coverage",
    "llm_embedding_covariance",
    # round 4: full registry coverage — every registered query gets a x-N row
    "dwd_base_db_router",
    "dwd_interaction_comment_info",
    "dwd_trade_cart_add",
    "dwd_trade_order_cancel_detail",
    "dwd_trade_order_pay_suc_detail",
    "dwd_trade_order_refund",
    "dws_trade_cart_add_uu_window",
    "dws_trade_order_window",
    "dws_trade_payment_suc_window",
    "dws_trade_trademark_category_user_refund_window",
    "dws_traffic_home_detail_page_view_window",
    "dws_traffic_source_keyword_page_view_window",
    "dws_traffic_vc_ch_ar_is_new_page_view_window",
    "dws_user_user_login_window",
    "dws_user_user_register_window",
    "p1_json_parse_validity_filter",
    "f_asof_join_latest_order",
    "f_conditional_cast_math",
    "f_date_formats",
    "f_json_props_extract",
    "dq_audit_warehouse",
    "llm_ann_ivf_trained_recall",
    "llm_dedup_embedding_cells",
    "llm_embedding_kmeans_step",
    "llm_multimodal_frame_sample",
    "llm_neardup_recall",
    "llm_sketch_histogram_quantiles",
    "llm_sketch_kmv_distinct",
    "llm_dedup_ngram_jaccard",
    "llm_text_token_count",
    "llm_text_langid",
    "llm_text_length_quantiles",
    "llm_corpus_prepare",
    "llm_text_fingerprint",
    "f_range_band_join",
    "llm_text_repetition",
    "llm_corpus_final",
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
    # new in round 4
    # (llm_sketch_kmv_union folded into llm_sketch_kmv_distinct in r9)
    "llm_multimodal_pixel_stats",
    "dq_null_profile",
    "llm_mix_domains",
    "llm_text_rare_token_ratio",
    "dq_checksum_partition",
    "dws_event_anomaly_zscore",
    "f_unpivot_event_day",
    "dq_referential_integrity",
    "dws_user_path_transitions",
    # new in round 5
    "llm_multimodal_resize",
    "llm_multimodal_audio_stats",
    "llm_pii_redact",
    "llm_text_unigram_surprisal",
    "llm_text_bigram_surprisal",
    "llm_bpe_pair_counts",
    "f_entity_resolution_customers",
    "llm_sketch_countmin",
    "llm_dedup_url_normalize",
    "llm_multimodal_image_dedup",
    "llm_multimodal_image_neardup_pairs",
    "llm_sample_domain_cap",
    "llm_embedding_quantize_int8",
    "f_zorder_layout_audit",
    "dq_table_stats_profile",
    "dq_sketch_join_cardinality",
    "llm_bpe_train_merges",
    "llm_bpe_encode_corpus",
    "dws_event_type_pagerank",
    "llm_sketch_hll_distinct",
    "llm_bm25_topk",
    "llm_winnow_fingerprints",
    "dq_distribution_drift_ks",
    "dq_vocab_drift",
    "dq_langid_eval",
    "llm_lsh_tuning_curve",
    "dq_benford_first_digit",
    "llm_sample_pps",
    "llm_multimodal_audio_resample",
    "dws_dau_wau_stickiness",
    # round 7
    "f_skyline_pareto_suppliers",
    "dws_event_cooccurrence_lift",
    "llm_text_readability",
    "llm_sample_reservoir",
    "llm_embedding_pca_power_step",
    # round 8
    "llm_quality_classifier",
    # round 9
    "llm_quality_train_step",
]

DIMS = ["region", "nation", "customer", "supplier", "part"]

# --tier x100 default run list (time-budgeted): the bench.py headline
# flagships + this round's changed-plan queries. llm_lsh_tuning_curve
# re-ENTERS in r11: its exact ground-truth join — the documented
# super-linear honesty row (150.8 s at x100 r9, 99.9 s r10) — is now
# bounded by the md5-rank truth sample, and the x100 row is the evidence
# that the fix landed.
X100_DEFAULT = [
    "dws_trade_sku_order_window",
    "dwd_trade_order_detail",
    "dwd_trade_order_pay_suc_detail",
    "dws_trade_province_order_window",
    "dws_traffic_vc_ch_ar_is_new_page_view_window",
    "dws_user_user_login_window",
    "dwd_base_log_page",
    "llm_dedup_exact",
    "llm_dedup_ngram_jaccard",
    "llm_dedup_minhash_lsh",
    "llm_ann_cosine_topk",
    "llm_ann_ivf",
    "llm_dedup_embedding_cells",
    "llm_dedup_containment_lsh",
    "llm_corpus_final",
    "llm_multimodal_decode",
    "llm_dedup_simhash",
    "dws_sliding_window_events",
    "dws_session_window_events",
    "dws_user_event_funnel",
    # changed-plan this round (keep current per round)
    "llm_ann_pq_adc_recall",
    "llm_lsh_tuning_curve",
]


def replicate(spark, n: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for t in DIMS:
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    okey_span = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1

    def _union(parts):
        out_df = parts[0]
        for p in parts[1:]:
            out_df = out_df.unionByName(p)
        return out_df

    _union(
        [
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * okey_span))
            for i in range(n)
        ]
    ).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    _union(
        [
            orders.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(i * okey_span)
            )
            for i in range(n)
        ]
    ).write.mode("overwrite").parquet(f"{out}/orders.parquet")
    _union(
        [
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
            for i in range(n)
        ]
    ).write.mode("overwrite").parquet(f"{out}/events.parquet")
    _union(
        [
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
            .withColumn(
                "text",
                F.regexp_replace("text", " ", f" s{i}") if i else F.col("text"),
            )
            for i in range(n)
        ]
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    _union(
        [
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
            for i in range(n)
        ]
    ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")


def replicate_skew(spark, n: int, out: str) -> None:
    """Key-aware replication with DELIBERATE hot keys (~x100 the median),
    for measuring the skew story (AQE skew-split on pair joins, domain
    caps, top-K) instead of assuming it:

    - documents: sources salted per replica (20 -> 20*n domains of 250
      docs), then every even doc_id reassigned to ONE hot domain — at
      x10 that is 25k docs vs a 250-doc median (x100). Every 20th doc
      additionally gets a fixed UNSALTED sentence appended, making one
      shingle's posting list ~n*250 docs (x10: 2.5k docs -> ~3.1M pairs
      from that single join key) while the token salting keeps the rest
      of the candidate space linear.
    - events: every 15th event reassigned to ONE hot user — x10: ~66k
      events vs a ~660 median (x100).
    - embeddings (r12): every 64th vector's embedding replaced with
      vec_id 0's array — ONE byte-equal duplicate group holding ~1.6%
      of the corpus (x30: ~47k members vs the replication-induced median
      group of 30, ~x1500). This is the hot key the embedding family's
      SemDeDup step-0 exact-dup compression exists for: mining must stay
      rep-level (one representative for the whole hot group), so the
      within-cell pair space never goes quadratic in the group size.
      vec_id stays unique; only the vector bytes duplicate.
    - lineitem/orders/dims: exactly as ``replicate``.
    """
    replicate(spark, n, out)
    docs = spark.read.parquet(f"{out}/documents.parquet")
    (
        docs.withColumn(
            "source",
            F.when(F.col("doc_id") % 2 == 0, F.lit("srchot")).otherwise(
                F.concat(
                    F.col("source"),
                    F.lit("_r"),
                    F.expr("doc_id div 10000000").cast("string"),
                )
            ),
        )
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 20 == 0,
                F.concat(
                    F.col("text"), F.lit(" hotkey alpha beta gamma hotkey")
                ),
            ).otherwise(F.col("text")),
        )
        .write.mode("overwrite")
        .parquet(f"{out}/documents_skew.parquet")
    )
    shutil.rmtree(f"{out}/documents.parquet")
    os.rename(f"{out}/documents_skew.parquet", f"{out}/documents.parquet")
    ev = spark.read.parquet(f"{out}/events.parquet")
    hot_user = ev.agg(F.min("user_id")).collect()[0][0]
    (
        ev.withColumn(
            "user_id",
            F.when(F.col("event_id") % 15 == 0, F.lit(hot_user)).otherwise(
                F.col("user_id")
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{out}/events_skew.parquet")
    )
    shutil.rmtree(f"{out}/events.parquet")
    os.rename(f"{out}/events_skew.parquet", f"{out}/events.parquet")
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    hot = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("hot_emb")
    )
    (
        emb.crossJoin(F.broadcast(hot))
        .withColumn(
            "embedding",
            F.when(F.col("vec_id") % 64 == 0, F.col("hot_emb")).otherwise(
                F.col("embedding")
            ),
        )
        .drop("hot_emb")
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings_skew.parquet")
    )
    shutil.rmtree(f"{out}/embeddings.parquet")
    os.rename(f"{out}/embeddings_skew.parquet", f"{out}/embeddings.parquet")


# --skew default run list: the queries whose 100 TB hazard IS the hot key
# (pair-exploding joins, domain caps, per-key top-K / path stats).
SKEW_DEFAULT = [
    "llm_dedup_ngram_jaccard",
    "llm_dedup_containment",
    "llm_dedup_minhash_lsh",
    "llm_dedup_containment_lsh",
    "llm_ngram_heavy_hitters",
    "llm_sample_domain_cap",
    "llm_mix_domains",
    "f_top_users_per_event_type",
    "dws_user_path_transitions",
    # r12: the embedding family under the planted hot DUPLICATE VECTOR
    # (exact-dup compression is the skew defense under test)
    "llm_dedup_embedding_cells",
    "llm_dedup_embedding_cosine",
    "llm_neardup_recall",
]


def main() -> None:
    argv = list(sys.argv[1:])
    tier = None
    skew = False
    if "--tier" in argv:
        i = argv.index("--tier")
        tier = argv[i + 1]
        del argv[i : i + 2]
    if "--skew" in argv:
        skew = True
        argv.remove("--skew")
    if tier is not None:
        n = int(tier.lstrip("x"))
        names = argv
    else:
        n = int(argv[0]) if argv and argv[0].isdigit() else 10
        names = argv[1:] if argv and argv[0].isdigit() else argv
    if n >= 100:
        # r9's hand-run knob, institutionalized: the 100-way union +
        # multi-GB pair frames need a bigger driver heap in local mode.
        # Must happen before the JVM exists; an explicit env still wins.
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "96g")
    scaled = f"/tmp/spark_graft_scale_x{n}" + ("skew" if skew else "")
    spark = get_spark("scale_sanity")
    if not os.path.exists(f"{scaled}/embeddings.parquet"):
        print(
            f"# replicating sf0.1 x{n}{' +skew' if skew else ''} -> {scaled}",
            file=sys.stderr,
        )
        (replicate_skew if skew else replicate)(spark, n, scaled)
    qs = queries()
    missing = sorted(set(qs) - set(QUERIES))
    if missing:  # registry drift: a query with no scale row is invisible
        print(f"# WARNING not scale-covered: {missing}", file=sys.stderr)
    run_all = names == ["all"]
    unknown = [] if run_all else [a for a in names if a not in qs]
    if unknown:  # a typo must not silently fall back to the FULL x-N sweep
        print(f"unknown query name(s): {unknown}", file=sys.stderr)
        sys.exit(2)
    if run_all:
        run_list = QUERIES
    elif names:
        run_list = names
    elif skew:
        run_list = SKEW_DEFAULT
    elif tier is not None and n >= 100:
        run_list = X100_DEFAULT
    else:
        run_list = QUERIES
    # Untimed warm-up (the bench.py discipline): JVM JIT, parquet footers,
    # Arrow/Python workers, and whole-stage codegen all first-touch on
    # someone — without this the sweep charged ~10 s of session warm-up to
    # run_list[0] (dws_trade_sku_order_window read 13.5 s in-sweep vs ~2 s
    # warm in round 8's ×10 sweep). The warm-up is QUERY-NEUTRAL since r9
    # (r8 ADVICE): r8 warmed with a full untimed rep of run_list[0], which
    # gave that one query a dedicated warm rep (its own shuffle files,
    # codegen, broadcast reuse) no other query received — its in-sweep
    # number read systematically warmer than the rest. Now a fixed
    # NON-registered plan exercises the same machinery classes (scan,
    # shuffle hash-agg, broadcast join, codegen, Arrow workers) without
    # favoring any registered query; run_list[0] absorbs whatever residual
    # session warm-up remains (noted in SCALE.md).
    warm_up(spark, scaled)
    results = {}
    for name in run_list:
        t0 = time.perf_counter()
        cnt = qs[name](spark, scaled).count()
        dt = round(time.perf_counter() - t0, 2)
        results[name] = {"sec": dt, "rows": cnt}
        print(f"# {name}: {cnt} rows in {dt}s", file=sys.stderr)
    label = f"sf0.1 x{n}" + (" skew" if skew else "")
    print(json.dumps({"scale": label, "results": results}))


if __name__ == "__main__":
    main()
