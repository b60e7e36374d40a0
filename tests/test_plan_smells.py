"""Global plan-smell sweep: every batch query's physical plan is
checked for the operators that do not survive 100 TB — CartesianProduct
anywhere, and BroadcastNestedLoopJoin outside the whitelist of ops that
deliberately broadcast a constant-size side (k-means' K centroids, the
brute-force baselines' query set, scalar cross joins).

A regression here (a join losing its equi-condition, a broadcast hint
dropped) can pass every correctness gate and still melt at scale; this
sweep makes the whole `queries()` surface fail fast instead.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# streaming/stateful wrappers run real streams (slow; separate tests
# cover them) — the sweep audits the batch surface
_SKIP = {
    "stream_cdc_pipeline",
    "stream_windowed_counts",
    "stream_fanout",
    "stream_dedup_stateful",
    "stream_sessionize_stateful",
    "stream_dedup_watermark",
    "stream_interval_join",
    "stream_late_data",
    "stream_session_window",
    "stream_rate_limit",
    # these write real files / databases as part of the operator
    "source_format_roundtrip",
    "bucketed_colocated_join",
    "cdc_event_archive",
    "cdc_apply_incremental",  # plan built over written replica
    # round-4 streaming additions (real multi-batch streams; dedicated
    # contract tests in test_round4b.py cover them)
    "stream_outer_join",
    "stream_window_chain",
    "stream_static_enrich",
    "stream_update_mode_counts",
    # round-5 streaming additions (real streams; dedicated semantics
    # tests in test_round5.py / the oracle gate)
    "stream_fanout_heterogeneous",
    "stream_wal2json_pipeline",
    "stream_debezium_pipeline",
    "cdc_replica_vacuum",  # writes/vacuums real replica versions
    "cdc_ddl_apply",  # executes real catalog DDL + table writes
    "stream_heavy_hitters",  # real multi-batch stateful stream
    # round-6 streaming addition (real 2-batch incremental SCD2 merge;
    # dedicated cross-batch test in test_round6.py + the oracle gate)
    "stream_scd2_pipeline",
    # round-7 streaming addition (real 2-batch stateful nearest join;
    # dedicated cross-batch tests in test_round7.py + the oracle gate)
    "stream_nearest_join",
}

# ops whose BroadcastNestedLoopJoin is a deliberate constant-size
# broadcast (documented in their docstrings)
_BNLJ_OK = {
    "dp_histogram_release",  # broadcast |langs|-row domain spine (C106)
    "heaps_law_curve",  # 10-row checkpoint spine, fd <= cp join (C122)
    "price_index_laspeyres",  # one-row base-month scalar (B32/C34 idiom)
    "late_data_impact_audit",  # 4-row lateness-knob spine (B132)
    "cdc_snapshot_chunked",  # 1-row span scalar (B32/C34 idiom)
    "markov_attribution",  # 1-row effect-total scalar (B32/C34 idiom)
    "cdc_masking_transform",  # 1-row cents-range scalar (B32/C34 idiom)
    "slo_burn_rate_alert",  # 1-row feed-totals scalar (B32/C34 idiom)
    "survival_curve_km",  # one-row feed-end scalar (B32/C34 idiom)
    "compression_advisor",  # 9x one-row dict-table-bytes scalars (B108)
    "langid_calibration",  # one-row ECE scalar (B32/C34 idiom)
    "tokenizer_fertility",  # one-row corpus-totals scalar
    "collocation_lift",  # one-row token/bigram-totals scalar
    "count_autocorr",  # 7-row lag table broadcast
    "bitemporal_belief_audit",  # one-row valid-cut scalar (B32/C34 idiom)
    "histogram_drift_tvd",  # one-row time-cut/range scalar (B32/C34 idiom)
    "kmeans_embeddings",  # K-row centroid table per Lloyd round
    "semantic_dedup",  # 8-row coarse-quantizer broadcast (assignment pass)
    "knn_cosine_bruteforce",  # broadcast query set, != condition
    "mmr_diverse_topk",  # broadcast 4-row probe set, != condition (C6 shape)
    "knn_ivf",  # broadcast query set within cells
    "dedup_embedding",  # mapInPandas over broadcast matrix
    "salted_hot_key_rollup",  # scalar broadcast
    "knn_recall_eval",  # broadcast top-k/query sets
    "embedding_dim_ablation",  # broadcast query set, != condition (C6 shape)
    "ivf_recall_sweep",  # broadcast probe/query sets; truth pass is C6-shaped
    "contamination_check",  # broadcast benchmark n-gram set
    "weighted_sample",  # one-row max-weight scalar
    "rfm_segmentation",  # one-row head-date scalar
    "join_cardinality_estimate",  # one-row stat scalars
    "skew_diagnostics",  # scalar
    "dataset_card",  # 1-row aggregate x 1-row median scalar crossJoin
    "association_rules",  # one-row basket-total scalar
    "integrity_check",  # 6x one-row (n_child, n_parent, n_orphans) scalars
    "lsh_band_tuning",  # per-config one-row n_true scalar
    "embedding_quantize",  # one-row per-dim bounds scalar
    "tfidf_cosine_pairs",  # corpus-stat scalars (N, df caps)
    "graph_triangles",  # one-row wedge-total scalar
    "topk_with_others",  # one-row total-revenue scalar
    "dq_expectations",  # one-row FK-orphan-count scalar
    "equi_depth_histogram",
    "heavy_hitters",  # scalar total broadcast
    "cms_estimate",  # sketch-row broadcast
    "kmv_distinct",
    "approx_percentile_sketch",  # exact-rank scalar join
    "bm25_rank",  # corpus-stats scalar
    "unigram_logprob",  # corpus-total scalar
    "vocab_stats",
    "time_gap_fill",  # calendar bounds scalar
    "active_users_rolling",  # date-span scalar
    "zscore_anomaly",  # per-type stats broadcast
    "mad_outliers",
    "q11_important_parts",  # scalar subquery threshold
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q22_sales_opportunity",
    "user_retention_cohorts",
    "q13_customer_distribution",
    # round-4 second batch: deliberate constant-size scalar broadcasts
    "theta_sketch_setops",  # 1-row exact/estimate frames assembled
    "ndv_estimate_sample",  # 1-row sample stats x 1-row exact stats
    "bpe_merge_step",  # 1-row winning-pair broadcast
    "cdc_consistent_cut",  # 1-row global-cut scalar
    "data_token_budget",  # 1-row B_max scalar
    "hard_negative_mining",  # sqrt(N)-row seed table (IVF assignment)
    "cusum_changepoint",  # three 1-row scalars (totals, peak, first-peak day)
    "cdc_tombstone_gc",  # 1-row high-watermark scalar (r7 fix of the
    # unpartitioned-window regression — the scalar now broadcasts)
    "mixture_temperature",  # 1-row token-budget scalar x 3-row totals
    # round-8 continuation session: 1-row scalar broadcasts (B32/C34 idiom)
    "frequent_triples",  # 1-row basket-total scalar
    "cuped_readout",  # 1-row pre/post midpoint scalar
    "topic_lexicon_mix",  # 4-row topic domain spine (C106 idiom)
    "embedding_hubness",  # broadcast bounded query set, != condition (C6 shape)
    "session_path_trigrams",  # 1-row trigram-total scalar
    "ngram_continuation_stats",  # 1-row bigram-type-total scalar
    "token_budget_waterfill",  # 1-row totals/level scalars
    "dedup_threshold_sweep",  # 1-row per-tau flagged/total scalars
    # round 9
    "knn_mutuality_audit",  # C116's broadcast bounded query set + 1-row
    # per-k edge/mutual count scalars
    # round 10 adjudication (VERDICT r9 item 1a): the L1 coarse-codebook
    # assignment broadcasts k1 = icbrt(N) seed rows — capped at 2000
    # (the DuckDB oracle spine hardcodes the same cap), i.e. <= 2000 x
    # 64 doubles ~ 1 MB for any corpus up to N = 8e9 docs.  Same
    # bounded-codebook idiom as semantic_dedup (8 rows) and
    # kmeans_embeddings (K rows), with the bound stated here because
    # this one grows (sublinearly) with N instead of being constant.
    "semantic_dedup_two_level",
}


# ops whose unpartitioned window runs over a provably-constant-size
# frame (a rollup already reduced to a handful of rows), never the
# data-proportional relation. An empty partition spec moves the WHOLE
# input to ONE task — on a data-proportional frame that is a
# single-partition shuffle of billions of rows at 100x scale (the r6
# cdc_tombstone_gc regression this assertion exists to keep dead).
_UNPART_WINDOW_OK = {
    "schema_drift_monitor",  # |payload-keys|-row rollup (constant ~6 rows)
    "decile_lift_table",  # 10-row decile table
    "heavy_hitters",  # rank over the N survivors of a TakeOrdered limit
    "cusum_changepoint",  # running sum over the per-DAY rollup (calendar-size)
    "slo_burn_rate_alert",  # bounded lag frames over the per-HOUR rollup
    "embedding_drift",  # rank over the per-DIM rollup (embedding dims, ~64)
    "theta_sketch_setops",  # min-K merge over <= 2K sketch rows (K=64)
    "moving_avg_daily",  # 7-day frame over the per-DAY rollup
    "topk_with_others",  # rank over the 25-row per-nation rollup
    "skew_diagnostics",  # exact order stats over per-KEY counts (reduced
    # cardinality; docstring states the approx_percentile swap for
    # billion-key regimes)
    "period_over_period",  # lag over the per-MONTH rollup (calendar-size)
    "order_backlog_daily",  # running flow over the per-DAY spine
    # (calendar-size: bounded at any corpus size)
    "token_budget_waterfill",  # sort window over the |sources| rollup
}


import re

# frames ending at UNBOUNDED FOLLOWING but NOT starting at UNBOUNDED
# PRECEDING: Spark's UnboundedFollowingWindowFunctionFrame rescans
# current-to-end for EVERY row — O(partition^2). Whole-partition frames
# (unboundedpreceding -> unboundedfollowing) compute once and are fine.
# The r7 asof_nearest_join probe measured this class at 206x wall on
# the 100x corpus before the reversed-sort running-frame fix.
_QUAD_FRAME = re.compile(
    r"specifiedwindowframe\((?:Row|Range)Frame,"
    r" (?!unboundedpreceding\$\(\))[^,]+, unboundedfollowing\$\(\)\)"
)


def _quadratic_frames(df):
    """Window frames in the optimized plan that rescan per row."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sorted(set(_QUAD_FRAME.findall(plan)))


def _unpartitioned_windows(df):
    """Logical-plan Window nodes with an empty partitionSpec."""
    out = []

    def walk(node):
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                out.append(node.toString().split("\n", 1)[0])
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def test_detector_fires_on_unpartitioned_window(spark):
    """The detector itself must stay RED on the class it guards: the
    r6 cdc_tombstone_gc shape (max over Window.partitionBy()) and a
    growing unbounded-following frame both trip their assertions."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    df = spark.range(10).withColumn(
        "m", F.max("id").over(Window.partitionBy())
    )
    assert _unpartitioned_windows(df), "unpartitioned-window detector is blind"
    ok = spark.range(10).withColumn(
        "g", F.col("id") % 3
    ).withColumn("m", F.max("id").over(Window.partitionBy("g")))
    assert not _unpartitioned_windows(ok)


def test_detector_fires_on_quadratic_frame(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = (
        Window.partitionBy(F.col("id") % 3)
        .orderBy("id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    df = spark.range(10).withColumn("m", F.min("id").over(w))
    assert _quadratic_frames(df), "quadratic-frame detector is blind"
    # whole-partition frames are computed once and stay allowed
    wfull = (
        Window.partitionBy(F.col("id") % 3)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ok = spark.range(10).withColumn("m", F.min("id").over(wfull))
    assert not _quadratic_frames(ok)


@pytest.mark.parametrize("name", [
    k for k in entrymod.queries() if k not in _SKIP
])
def test_no_plan_smells(spark, sf_dir, name):
    fn = entrymod.queries()[name]
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected BroadcastNestedLoopJoin (non-equi join "
            "or lost broadcast hint?)"
        )
    if name not in _UNPART_WINDOW_OK:
        bad = _unpartitioned_windows(df)
        assert not bad, (
            f"{name}: Window with empty partition spec (single-task "
            f"shuffle of the whole input at scale): {bad}"
        )
    quad = _quadratic_frames(df)
    assert not quad, (
        f"{name}: growing frame ending at UNBOUNDED FOLLOWING — Spark "
        f"rescans current-to-end per row, O(partition^2): {quad}"
    )
