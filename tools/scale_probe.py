"""Scaling probe: run key operators at 1x and 10x data and report the
wall-time ratio. A linear-ish operator shows ratio ~10 (or less, when
fixed overheads dominate at 1x); a quadratic one shows ~100 and fails
the 100 TB design review.

Synthesizes the 10x inputs by unioning shifted copies of the sf0.1
tables into /tmp (never touches /root/testdata). Usage:

    python tools/scale_probe.py [sf_dir] [op ...] [--warm]

COLD-vs-COLD is the default (round 8, VERDICT r7 item 5): the
_swap_persist slots, the one memo layer (`memo.py`) and the Spark
cache are cleared before EVERY timed run, so the 1x
denominator can never ride a memoized index that the bigger run must
rebuild.  The round-7 sweep produced two false super-linear alarms
exactly this way (lsh_band_tuning "222x", hard_negative_mining "137x"
— both ~50x once decomposed cold-vs-cold).  One un-timed warm-up run
still precedes the measurements to absorb JVM/py4j/codegen start-up;
its caches are then dropped.  Pass --warm for the legacy behavior
(useful to measure the memoized steady-state itself).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from greenplum_cdc_spark.io import load_table  # noqa: E402
from greenplum_cdc_spark.operators import dedup, text, timeseries  # noqa: E402
from greenplum_cdc_spark.session import get_spark  # noqa: E402

import os as _os
MULT = int(_os.environ.get("SCALE_PROBE_MULT", "10"))


def synthesize(spark, sf_dir: str, out_dir: str) -> None:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    copies = None
    for i in range(MULT):
        # shift ids; salt the text of non-first copies so dedup sees
        # mostly-distinct docs (pure duplication would be trivially easy)
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_docs))
        if i:
            # salt EVERY token so copies are distinct documents: the
            # probe must measure corpus-size scaling at a constant
            # duplicate rate, not an answer-size explosion (10 mutual
            # near-dups per doc makes the true pair count itself ~100x).
            c = c.withColumn("text", F.regexp_replace("text", " ", f"{i} "))
        copies = c if copies is None else copies.unionByName(c)
    copies.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    ev = load_table(spark, sf_dir, "events")
    n_ev = ev.count()
    stack = None
    for i in range(MULT):
        c = ev.withColumn("event_id", F.col("event_id") + F.lit(i * n_ev))
        stack = c if stack is None else stack.unionByName(c)
    stack.write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))

    vecs = load_table(spark, sf_dir, "embeddings")
    n_vec = vecs.count()
    vstack = None
    for i in range(MULT):
        c = vecs.withColumn("vec_id", F.col("vec_id") + F.lit(i * n_vec))
        if i:
            # rotate one dim so copies are distinct vectors
            c = c.withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, j) -> CASE WHEN j = {i % 64} "
                    "THEN CAST(-x AS FLOAT) ELSE x END)"
                ),
            )
        vstack = c if vstack is None else vstack.unionByName(c)
    vstack.write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))

    orders = load_table(spark, sf_dir, "orders")
    max_ord = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    ostack = None
    for i in range(MULT):
        c = orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * max_ord))
        ostack = c if ostack is None else ostack.unionByName(c)
    ostack.write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))

    li = load_table(spark, sf_dir, "lineitem")
    max_ok = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    lstack = None
    for i in range(MULT):
        # shift order keys: 10x the orders at constant basket size, so a
        # linear-in-orders operator should show ~10x, not a pair blowup
        c = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok))
        lstack = c if lstack is None else lstack.unionByName(c)
    lstack.write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))

    cust = load_table(spark, sf_dir, "customer")
    max_ck = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    cstack = None
    for i in range(MULT):
        c = cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * max_ck))
        cstack = c if cstack is None else cstack.unionByName(c)
    cstack.write.mode("overwrite").parquet(os.path.join(out_dir, "customer.parquet"))

    part = load_table(spark, sf_dir, "part")
    max_pk = part.agg(F.max("p_partkey")).collect()[0][0] + 1
    pstack = None
    for i in range(MULT):
        # names deliberately unchanged: fuzzy matching must show its
        # distinct-entity collapse (10x rows, constant name set)
        c = part.withColumn("p_partkey", F.col("p_partkey") + F.lit(i * max_pk))
        pstack = c if pstack is None else pstack.unionByName(c)
    pstack.write.mode("overwrite").parquet(os.path.join(out_dir, "part.parquet"))

    # dimension tables stay 1x (that is their 100 TB reality too)
    for t in ("region", "nation", "supplier"):
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet")
        )


def timed(fn, spark, d) -> float:
    t0 = time.perf_counter()
    fn(spark, d).write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 2)


OPS = {
    "dedup_exact": dedup.dedup_exact,
    "dedup_minhash_lsh": dedup.dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,
    "minhash_jaccard_est": dedup.minhash_jaccard_est,
    "dedup_simhash": dedup.dedup_simhash,
    "doc_fingerprint": text.doc_fingerprint,
    "token_count": text.token_count,
    "vocab_stats": text.vocab_stats,
    "events_sessionize": timeseries.events_sessionize,
    "salted_hot_key_rollup": timeseries.salted_hot_key_rollup,
    "running_total_by_user": timeseries.running_total_by_user,
}


def _late_ops():
    from greenplum_cdc_spark.operators import quality, similarity
    from greenplum_cdc_spark.plans import cdc_queries, tpch

    return {
        "cdc_parse_events": cdc_queries.cdc_parse_events,
        "cdc_snapshot_latest": cdc_queries.cdc_snapshot_latest,
        "knn_lsh": similarity.knn_lsh,
        "embedding_stats": similarity.embedding_stats,
        "dedup_embedding": similarity.dedup_embedding,
        "doc_repetition": quality.doc_repetition,
        "pii_scrub": quality.pii_scrub,
        "bm25_rank": quality.bm25_rank,
        "contamination_check": quality.contamination_check,
        "knn_ivf": similarity.knn_ivf,
        "active_users_rolling": timeseries.active_users_rolling,
        "basket_part_pairs": tpch.basket_part_pairs,
        "passage_dup_13gram": quality.passage_dup_13gram,
        "unigram_logprob": quality.unigram_logprob,
        "domain_mix_sample": text.domain_mix_sample,
        "dedup_canonical": dedup.dedup_canonical,
        "cdc_dlq": cdc_queries.cdc_dlq,
        "dedup_clusters": dedup.dedup_clusters,
        "ohlc_candlestick": timeseries.ohlc_candlestick,
        "time_weighted_avg": timeseries.time_weighted_avg,
        "cdc_scd2_history": cdc_queries.cdc_scd2_history,
        "cdc_txn_apply": cdc_queries.cdc_txn_apply,
        "replica_checksum": cdc_queries.replica_checksum,
        "embedding_quantize": similarity.embedding_quantize,
        "gopher_filter": quality.gopher_filter,
        "tfidf_cosine_pairs": similarity.tfidf_cosine_pairs,
        "interval_overlap_join": timeseries.interval_overlap_join,
        "cdc_table_routing": cdc_queries.cdc_table_routing,
        "cms_estimate": _sketches().cms_estimate,
        # round 3
        "cdc_snapshot_diff": cdc_queries.cdc_snapshot_diff,
        "cdc_incremental_view": cdc_queries.cdc_incremental_view,
        "scd2_point_in_time_join": cdc_queries.scd2_point_in_time_join,
        "event_debounce": timeseries.event_debounce,
        "skew_diagnostics": timeseries.skew_diagnostics,
        "bloom_filter_probe": _sketches().bloom_filter_probe,
        "fuzzy_match_names": text.fuzzy_match_names,
        "kmeans_embeddings": similarity.kmeans_embeddings,
        "weighted_sample": text.weighted_sample,
        "period_over_period": timeseries.period_over_period,
        "event_pattern_match": timeseries.event_pattern_match,
        "set_ops_reconcile": tpch.set_ops_reconcile,
        "equi_depth_histogram": _stats().equi_depth_histogram,
        "column_profile": _stats().column_profile,
        "join_cardinality_estimate": _stats().join_cardinality_estimate,
        "zorder_layout": _stats().zorder_layout,
        # round-3 late additions
        "salted_skew_join": timeseries.salted_skew_join,
        "association_rules": tpch.association_rules,
        "late_arriving_dimension": cdc_queries.late_arriving_dimension,
        "mad_outliers": _stats().mad_outliers,
        "integrity_check": _stats().integrity_check,
        "cdc_changefeed": cdc_queries.cdc_changefeed,
        "sql_interface_revenue": tpch.sql_interface_revenue,
        "dup_graph_degree": dedup.dup_graph_degree,
        "cdc_gap_detection": cdc_queries.cdc_gap_detection,
        "rfm_segmentation": tpch.rfm_segmentation,
        "knn_recall_eval": similarity.knn_recall_eval,
        "cdc_heartbeat_lag": cdc_queries.cdc_heartbeat_lag,
        "lsh_band_tuning": dedup.lsh_band_tuning,
        # round 4
        "ngram_topk": text.ngram_topk,
        "length_bucket_mix": text.length_bucket_mix,
        "semantic_dedup": similarity.semantic_dedup,
        "pq_encode": similarity.pq_encode,
        "quantile_normalize": timeseries.quantile_normalize,
        "source_overlap": dedup.source_overlap,
        "incremental_agg_maintenance": tpch.incremental_agg_maintenance,
        "top_percent_per_group": tpch.top_percent_per_group,
        "cdc_stale_replay_guard": cdc_queries.cdc_stale_replay_guard,
        "doc_keywords": quality.doc_keywords,
        "dedup_incremental_lsh": dedup.dedup_incremental_lsh,
        "embedding_outliers": similarity.embedding_outliers,
        "archive_compact_small_files": tpch.archive_compact_small_files,
        "hash_features": text.hash_features,
        "cdc_source_reconcile": cdc_queries.cdc_source_reconcile,
        "archive_partition_prune": cdc_queries.archive_partition_prune,
        "pack_sequences": text.pack_sequences,
        "context_chunks": text.context_chunks,
        "span_mask_plan": text.span_mask_plan,
        "curation_funnel": quality.curation_funnel,
        "cdc_gdpr_erasure": cdc_queries.cdc_gdpr_erasure,
        # round 4, second batch
        "hierarchy_rollup": tpch.hierarchy_rollup,
        "decile_lift_table": _stats().decile_lift_table,
        "attribution_model": timeseries.attribution_model,
        "theta_sketch_setops": _sketches().theta_sketch_setops,
        "ndv_estimate_sample": _sketches().ndv_estimate_sample,
        "bpe_merge_step": text.bpe_merge_step,
        "pagerank_parts": tpch.pagerank_parts,
        "cdc_consistent_cut": cdc_queries.cdc_consistent_cut,
        "data_token_budget": text.data_token_budget,
        "media_phash": _multimodal().media_phash,
        "train_eval_split": text.train_eval_split,
        "hard_negative_mining": similarity.hard_negative_mining,
        "markov_transitions": timeseries.markov_transitions,
        "column_entropy": _stats().column_entropy,
        "anti_entropy_repair": cdc_queries.anti_entropy_repair,
        "cdc_bootstrap_handoff": cdc_queries.cdc_bootstrap_handoff,
        "dedup_soft_weights": dedup.dedup_soft_weights,
        "top_movers": timeseries.top_movers,
        "hilbert_layout": _stats().hilbert_layout,
        "ngram_coverage_curve": text.ngram_coverage_curve,
        "dedup_bloom_prefilter": dedup.dedup_bloom_prefilter,
        "full_text_search": quality.full_text_search,
        "geo_grid_join": timeseries.geo_grid_join,
        "cusum_changepoint": timeseries.cusum_changepoint,
        "trend_slope": _stats().trend_slope,
        "impute_missing": _stats().impute_missing,
        # round 5
        "wal2json_parse_events": cdc_queries.wal2json_parse_events,
        "wal2json_snapshot_equivalence": (
            cdc_queries.wal2json_snapshot_equivalence
        ),
        "stream_fanout_heterogeneous": (
            _streaming().stream_fanout_heterogeneous
        ),
        "knn_ivfpq": similarity.knn_ivfpq,
        "shard_shuffle": text.shard_shuffle,
        "ivf_index_update": similarity.ivf_index_update,
        "dup_span_removal": quality.dup_span_removal,
        "cdc_replica_vacuum": cdc_queries.cdc_replica_vacuum,
        "wal2json_v2_parse_events": cdc_queries.wal2json_v2_parse_events,
        "cdc_field_merge": cdc_queries.cdc_field_merge,
        "k_anonymity_audit": quality.k_anonymity_audit,
        "embedding_drift": similarity.embedding_drift,
        "cdc_ddl_apply": cdc_queries.cdc_ddl_apply,
        "mv_rewrite_equivalence": tpch.mv_rewrite_equivalence,
        "cdc_tombstone_gc": cdc_queries.cdc_tombstone_gc,
        "split_contamination_matrix": quality.split_contamination_matrix,
        "dataset_card": text.dataset_card,
        "dataset_version_diff": text.dataset_version_diff,
        "doc_novelty": text.doc_novelty,
        "langid_confusion": text.langid_confusion,
        # round 6: C48 un-gated (transformWithStateInPandas live)
        "stream_running_totals": (
            _streaming_stateful().stream_running_totals_query
        ),
        "kafka_segment_replay": cdc_queries.kafka_segment_replay,
        # round 6: double-execution fix (window over rollup, no
        # bounds-collect re-run of the synth+parse pipeline)
        "schema_drift_monitor": cdc_queries.schema_drift_monitor,
        # round 6: matryoshka dimension-ablation recall eval
        "embedding_dim_ablation": similarity.embedding_dim_ablation,
        # round 6: IVF recall/cost sweep over nprobe
        "ivf_recall_sweep": similarity.ivf_recall_sweep,
        # round 6: decontamination n-gram-width calibration
        "contamination_ngram_sweep": quality.contamination_ngram_sweep,
        # round 7: key-state guard + append-mode commits
        "stream_scd2_pipeline": _streaming().stream_scd2_pipeline,
        # round 7: bidirectional nearest-neighbor temporal join
        "asof_nearest_join": timeseries.asof_nearest_join,
        # round 7: temperature-scaled domain-mixture weights
        "mixture_temperature": text.mixture_temperature,
        # round 7: Rabin-style content-defined chunking
        "content_defined_chunking": text.content_defined_chunking,
        "fastcdc_chunking": text.fastcdc_chunking,
        "connected_components": dedup.connected_components,
        "pareto_frontier": quality.pareto_frontier,
        "embedding_covariance": similarity.embedding_covariance,
        "reciprocal_rank_fusion": quality.reciprocal_rank_fusion,
        "unicode_anomaly_scan": quality.unicode_anomaly_scan,
        "bitemporal_belief_audit": cdc_queries.bitemporal_belief_audit,
        "padding_waste_audit": text.padding_waste_audit,
        "seasonal_decompose": timeseries.seasonal_decompose,
        "histogram_drift_tvd": _stats().histogram_drift_tvd,
        "prefix_dup_scan": dedup.prefix_dup_scan,
        "dedup_containment": dedup.dedup_containment,
        "benford_digit_audit": _stats().benford_digit_audit,
        "dp_histogram_release": _quality().dp_histogram_release,
        "stratified_kfold": text.stratified_kfold,
        "langid_calibration": text.langid_calibration,
        "tokenizer_fertility": text.tokenizer_fertility,
        "fd_discovery": _stats().fd_discovery,
        "winsorized_stats": _stats().winsorized_stats,
        "collocation_lift": text.collocation_lift,
        "count_autocorr": timeseries.count_autocorr,
        "ab_test_readout": _stats().ab_test_readout,
        "compression_advisor": _stats().compression_advisor,
        "activity_gini": _stats().activity_gini,
        "funnel_time_to_convert": timeseries.funnel_time_to_convert,
        "media_audio_features": _multimodal().media_audio_features,
        "cdc_write_conflicts": _cdcq().cdc_write_conflicts,
        "revenue_waterfall": _tpch().revenue_waterfall,
        "shipping_delay_sla": _tpch().shipping_delay_sla,
        "frequent_triples": _tpch().frequent_triples,
        "customer_ltv_cohort": _tpch().customer_ltv_cohort,
        "delta_encoding_advisor": __import__("greenplum_cdc_spark.operators.stats", fromlist=["stats"]).delta_encoding_advisor,
        "boilerplate_segments": text.boilerplate_segments,
        "cuped_readout": __import__("greenplum_cdc_spark.operators.stats", fromlist=["stats"]).cuped_readout,
        "media_phash_near_pairs": __import__("greenplum_cdc_spark.operators.multimodal", fromlist=["multimodal"]).media_phash_near_pairs,
        "exact_quantile_bisect": __import__("greenplum_cdc_spark.operators.stats", fromlist=["stats"]).exact_quantile_bisect,
        "topic_lexicon_mix": text.topic_lexicon_mix,
        "abc_pareto_class": _tpch().abc_pareto_class,
        "l_diversity_audit": quality.l_diversity_audit,
        "code_switch_scan": text.code_switch_scan,
        "embedding_hubness": similarity.embedding_hubness,
        "session_path_trigrams": timeseries.session_path_trigrams,
        "ngram_continuation_stats": text.ngram_continuation_stats,
        "supplier_hhi": _tpch().supplier_hhi,
        "bpe_merge_sweep": text.bpe_merge_sweep,
        "order_backlog_daily": _tpch().order_backlog_daily,
        "token_budget_waterfill": text.token_budget_waterfill,
        "dedup_threshold_sweep": dedup.dedup_threshold_sweep,
        "concurrent_sessions_peak": timeseries.concurrent_sessions_peak,
        "return_rate_trend": _tpch().return_rate_trend,
        "cdc_out_of_order_audit": __import__("greenplum_cdc_spark.plans.cdc_queries", fromlist=["cdc_queries"]).cdc_out_of_order_audit,
        # round 7: streaming nearest-neighbor temporal join
        "stream_nearest_join": _streaming_stateful().stream_nearest_join_query,
        "discount_elasticity": _tpch().discount_elasticity,
        "segment_overlap_matrix": _stats().segment_overlap_matrix,
        "ewma_control_chart": timeseries.ewma_control_chart,
        "readability_score": _quality().readability_score,
        "debezium_parse_events": __import__("greenplum_cdc_spark.plans.cdc_queries", fromlist=["cdc_queries"]).debezium_parse_events,
        "debezium_snapshot_equivalence": __import__("greenplum_cdc_spark.plans.cdc_queries", fromlist=["cdc_queries"]).debezium_snapshot_equivalence,
        "heaps_law_curve": text.heaps_law_curve,
        "survival_curve_km": _stats().survival_curve_km,
        "mmr_diverse_topk": similarity.mmr_diverse_topk,
        "price_index_laspeyres": _tpch().price_index_laspeyres,
        "theil_sen_trend": timeseries.theil_sen_trend,
        "late_data_impact_audit": cdc_queries.late_data_impact_audit,
        "cdc_snapshot_chunked": cdc_queries.cdc_snapshot_chunked,
        "cdc_masking_transform": cdc_queries.cdc_masking_transform,
        "text_width_audit": _quality().text_width_audit,
        "shuffle_partition_advisor": _stats().shuffle_partition_advisor,
        "case_fold_collision_audit": dedup.case_fold_collision_audit,
        "markov_attribution": timeseries.markov_attribution,
        "max_drawdown": timeseries.max_drawdown,
        "kcore_decomposition": _tpch().kcore_decomposition,
        # round 10: the flagship TPC-H join shapes + asof/island ops
        "q1_pricing_summary": _tpch().q1_pricing_summary,
        "q3_shipping_priority": _tpch().q3_shipping_priority,
        "q5_supplier_volume": _tpch().q5_supplier_volume,
        "q9_product_profit": _tpch().q9_product_profit,
        "q18_large_volume": _tpch().q18_large_volume,
        "q20_dominant_suppliers": _tpch().q20_dominant_suppliers,
        "q21_suppliers_kept_waiting": _tpch().q21_suppliers_kept_waiting,
        "asof_join_orders": timeseries.asof_join_orders,
        "event_islands": timeseries.event_islands,
        "q2_min_cost_supplier": _tpch().q2_min_cost_supplier,
        "q4_order_priority": _tpch().q4_order_priority,
        "q6_forecast_revenue": _tpch().q6_forecast_revenue,
        "q7_volume_shipping": _tpch().q7_volume_shipping,
        "q8_market_share": _tpch().q8_market_share,
        "q10_returned_items": _tpch().q10_returned_items,
        "q11_important_parts": _tpch().q11_important_parts,
        "q12_priority_shipping": _tpch().q12_priority_shipping,
        "q13_customer_distribution": _tpch().q13_customer_distribution,
        "q14_promo_effect": _tpch().q14_promo_effect,
        "q15_top_supplier": _tpch().q15_top_supplier,
        "q16_parts_supplier_cnt": _tpch().q16_parts_supplier_cnt,
        "q17_small_qty_revenue": _tpch().q17_small_qty_revenue,
        "q19_discounted_revenue": _tpch().q19_discounted_revenue,
        "q22_sales_opportunity": _tpch().q22_sales_opportunity,
        "cube_agg": _tpch().cube_agg,
        "grouping_sets_agg": _tpch().grouping_sets_agg,
        "service_level_stock": _tpch().service_level_stock,
        "hapax_tail_audit": text.hapax_tail_audit,
        "slo_burn_rate_alert": timeseries.slo_burn_rate_alert,
        "wape_backtest": timeseries.wape_backtest,
        "net_revenue_retention": _tpch().net_revenue_retention,
        "stream_debezium_pipeline": __import__("greenplum_cdc_spark.streaming.pipeline", fromlist=["pipeline"]).stream_debezium_pipeline,
        # round 9
        "cdc_before_image_audit": cdc_queries.cdc_before_image_audit,
        "degree_assortativity": _tpch().degree_assortativity,
        "repeat_purchase_interval": _tpch().repeat_purchase_interval,
        "char_entropy_filter": text.char_entropy_filter,
        "tokenizer_oov_rate": text.tokenizer_oov_rate,
        "knn_mutuality_audit": similarity.knn_mutuality_audit,
        "graph_triangles": dedup.graph_triangles,
        "simhash_near_pairs": dedup.simhash_near_pairs,
        "semantic_dedup_two_level": similarity.semantic_dedup_two_level,
    }


def _streaming():
    from greenplum_cdc_spark.streaming import pipeline

    return pipeline


def _streaming_stateful():
    from greenplum_cdc_spark.streaming import stateful

    return stateful


def _stats():
    from greenplum_cdc_spark.operators import stats

    return stats


def _quality():
    from greenplum_cdc_spark.operators import quality

    return quality


def _multimodal():
    from greenplum_cdc_spark.operators import multimodal

    return multimodal


def _cdcq():
    from greenplum_cdc_spark.plans import cdc_queries

    return cdc_queries


def _tpch():
    from greenplum_cdc_spark.plans import tpch

    return tpch


def _sketches():
    from greenplum_cdc_spark.operators import sketches

    return sketches


def reset_caches(spark) -> None:
    """Drop every library-level memo a previous run may have left:
    the _swap_persist slots (cached index relations), every value of
    the one memo layer (`memo.py`: inferred table schemas, bucketed
    tables, cluster labels, quantizer training, query sides and the
    scratch feeds, which the next run writes again), and Spark's own
    cache registry."""
    from greenplum_cdc_spark import memo
    from greenplum_cdc_spark.operators import dedup

    for df in list(dedup._PERSIST_CACHE.values()):
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — best-effort teardown
            pass
    dedup._PERSIST_CACHE.clear()
    memo.clear()
    spark.catalog.clearCache()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    warm = "--warm" in sys.argv[1:]
    keep = "--keep" in sys.argv[1:]  # keep the synthesized corpus for
    # the next invocation (multi-batch probe sessions re-use it)
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    big_dir = f"/tmp/scale_probe_{MULT}x"
    spark = get_spark("scale-probe")
    if not (os.path.isdir(big_dir) and len(os.listdir(big_dir)) >= 10):
        synthesize(spark, sf_dir, big_dir)
    only = set(args[1:])
    mode = "warm" if warm else "cold"
    print(f"op,t_1x_s,t_{MULT}x_s,ratio  # mode={mode}")
    for name, fn in {**OPS, **_late_ops()}.items():
        if only and name not in only:
            continue
        timed(fn, spark, sf_dir)  # warm plan/code paths
        if not warm:
            reset_caches(spark)
        t1 = timed(fn, spark, sf_dir)
        if not warm:
            reset_caches(spark)
        t10 = timed(fn, spark, big_dir)
        print(f"{name},{t1},{t10},{round(t10 / max(t1, 0.01), 1)}")
    if not keep:
        shutil.rmtree(big_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
