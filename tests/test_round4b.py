"""Round-4 second batch: hierarchy rollup, decile lift, attribution,
theta sketch set ops, sampled NDV estimation."""

from __future__ import annotations

import pyspark.sql.functions as F

from greenplum_cdc_spark.io import load_table  # noqa: E402
from greenplum_cdc_spark.operators import sketches, stats, timeseries  # noqa: E402
from greenplum_cdc_spark.plans import tpch  # noqa: E402


class TestHierarchyRollup:
    def test_root_covers_everything(self, spark, sf_dir):
        """Node 0 is every customer's ancestor: its subtree totals must
        equal the whole-table totals."""
        out = tpch.hierarchy_rollup(spark, sf_dir)
        root = out.filter(F.col("node") == 0).collect()[0]
        orders = load_table(spark, sf_dir, "orders")
        truth = orders.agg(
            F.countDistinct("o_custkey").alias("nc"),
            F.count("*").alias("no"),
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).alias("rc"),
        ).collect()[0]
        assert root["n_customers"] == truth["nc"]
        assert root["n_orders"] == truth["no"]
        assert root["rev_cents"] == truth["rc"]

    def test_parent_contains_child(self, spark, sf_dir):
        """Every node's subtree totals are >= each of its children's
        (monotone containment up the tree)."""
        out = tpch.hierarchy_rollup(spark, sf_dir).select(
            "node", "n_orders", "rev_cents"
        )
        child = out.select(
            F.col("node").alias("c_node"),
            F.col("n_orders").alias("c_orders"),
            F.col("rev_cents").alias("c_rev"),
        ).filter(F.col("c_node") > 0)
        joined = child.join(
            out, F.col("node") == F.expr("c_node div 10"), "inner"
        )
        bad = joined.filter(
            (F.col("c_orders") > F.col("n_orders"))
            | (F.col("c_rev") > F.col("rev_cents"))
        ).count()
        assert bad == 0


class TestDecileLift:
    def test_partition_and_cumulative(self, spark, sf_dir):
        rows = stats.decile_lift_table(spark, sf_dir).collect()
        assert [r["decile"] for r in rows] == list(range(1, 11))
        n_cust = (
            load_table(spark, sf_dir, "orders")
            .select("o_custkey")
            .distinct()
            .count()
        )
        assert sum(r["n_customers"] for r in rows) == n_cust
        # deciles are ranked by spend DESC: per-decile revenue never increases
        revs = [r["rev_cents"] for r in rows]
        assert revs == sorted(revs, reverse=True)
        # cumulative share is monotone and lands within floor-division
        # slack of 10000 bp
        cums = [r["cum_share_bp"] for r in rows]
        assert cums == sorted(cums)
        assert 10000 - 10 <= cums[-1] <= 10000


class TestAttribution:
    def test_total_purchases_conserved(self, spark, sf_dir):
        out = timeseries.attribution_model(spark, sf_dir).collect()
        total = sum(r["n_purchases"] for r in out)
        truth = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .count()
        )
        assert total == truth
        channels = {r["touch_channel"] for r in out}
        assert channels <= {"view", "click", "none"}


class TestThetaSketch:
    def test_estimates_bracket_truth(self, spark, sf_dir):
        r = sketches.theta_sketch_setops(spark, sf_dir).collect()[0]
        # KMV k=64 has rsd ~ 1/sqrt(k-2) ~ 13%; allow 4 sigma
        for est, exact in [
            (r["est_a_x10k"], r["exact_a"]),
            (r["est_b_x10k"], r["exact_b"]),
            (r["est_union_x10k"], r["exact_union"]),
        ]:
            assert abs(est / 10000.0 - exact) <= 0.52 * exact
        # set algebra sanity on the exact side
        assert r["exact_union"] <= r["exact_a"] + r["exact_b"]
        assert (
            r["exact_inter"] == r["exact_a"] + r["exact_b"] - r["exact_union"]
        )

    def test_intersection_estimate_reasonable(self, spark, sf_dir):
        r = sketches.theta_sketch_setops(spark, sf_dir).collect()[0]
        if r["exact_inter"]:
            assert abs(r["est_inter_x10k"] / 10000.0 - r["exact_inter"]) <= (
                0.75 * r["exact_inter"]
            )


class TestNdvEstimate:
    def test_gee_formula_and_bounds(self, spark, sf_dir):
        r = sketches.ndv_estimate_sample(spark, sf_dir).collect()[0]
        assert r["gee_estimate"] == r["d_sample"] + 3 * r["f1_sample"]
        assert 0 < r["n_sampled"] < r["n_total"]
        assert r["d_sample"] <= r["exact_ndv"]
        assert (
            r["abs_err_bp"]
            == abs(r["gee_estimate"] - r["exact_ndv"]) * 10000 // r["exact_ndv"]
        )


class TestBpeMergeStep:
    def test_merge_semantics(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text as text_ops

        rows = text_ops.bpe_merge_step(spark, sf_dir).collect()
        pre = [r for r in rows if r["stage"] == "pre"]
        post = [r for r in rows if r["stage"] == "post"]
        assert len(pre) == 5 and len(post) == 5
        # pre tokens are single chars
        assert all(
            len(r["token_a"]) == 1 and len(r["token_b"]) == 1 for r in pre
        )
        # post tokens are single chars or exactly the merged token
        top_pre = max(pre, key=lambda r: r["cnt"])
        merge = top_pre["token_a"] + top_pre["token_b"]
        post_tokens = {r["token_a"] for r in post} | {r["token_b"] for r in post}
        assert all(t == merge or len(t) == 1 for t in post_tokens)
        # the merged pair itself can no longer occur as two bare chars
        assert not any(
            r["token_a"] == top_pre["token_a"]
            and r["token_b"] == top_pre["token_b"]
            for r in post
        )
        # merging strictly removes the heaviest pair: every post count
        # is below the winning pre count
        assert all(r["cnt"] <= top_pre["cnt"] for r in post)

    def test_pre_counts_match_bruteforce(self, spark, sf_dir):
        """Pre-merge top pair count equals a pure-python recount."""
        from collections import Counter

        from greenplum_cdc_spark.io import load_table
        from greenplum_cdc_spark.operators import text as text_ops

        docs = load_table(spark, sf_dir, "documents").select("text").collect()
        c = Counter()
        for r in docs:
            for w in r["text"].split(" "):
                for i in range(len(w) - 1):
                    c[w[i : i + 2]] += 1
        rows = text_ops.bpe_merge_step(spark, sf_dir).collect()
        top = max(
            (r for r in rows if r["stage"] == "pre"), key=lambda r: r["cnt"]
        )
        best = max(c.items(), key=lambda kv: (kv[1], [-ord(ch) for ch in kv[0]]))
        assert top["cnt"] == best[1]
        assert top["token_a"] + top["token_b"] == best[0]


class TestPagerank:
    def test_rank_mass_and_bounds(self, spark, sf_dir):
        from greenplum_cdc_spark.plans import tpch as tpch_plans

        rows = tpch_plans.pagerank_parts(spark, sf_dir).collect()
        assert 0 < len(rows) <= tpch_plans.PR_TOPN
        # every rank >= the teleport floor and the list is sorted desc
        assert all(r["pr"] >= 150000 for r in rows)
        prs = [r["pr"] for r in rows]
        assert prs == sorted(prs, reverse=True)
        assert all(r["deg"] >= 1 for r in rows)


class TestConsistentCut:
    def test_cut_is_min_watermark_and_consistent(self, spark, sf_dir):
        from greenplum_cdc_spark.plans import cdc_queries as cq

        rows = cq.cdc_consistent_cut(spark, sf_dir).collect()
        assert {r["table_name"] for r in rows} == {"accounts", "activity"}
        cut = rows[0]["cut_us"]
        assert all(r["cut_us"] == cut for r in rows)
        assert cut == min(r["applied_wm_us"] for r in rows)
        # the lagged table's watermark is strictly behind the other's
        wm = {r["table_name"]: r["applied_wm_us"] for r in rows}
        assert wm["activity"] <= wm["accounts"]


class TestTokenBudget:
    def test_no_lang_oversampled_and_budget_maximal(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text as text_ops

        rows = text_ops.data_token_budget(spark, sf_dir).collect()
        assert len(rows) == 5
        assert sum(r["target_share_bp"] for r in rows) == 10000
        for r in rows:
            assert 0 < r["tokens_wanted"] <= r["available_tokens"]
            assert r["sample_rate_bp"] <= 10000
        limiting = [r for r in rows if r["is_limiting"]]
        assert limiting
        # the limiting language is (near-)fully consumed: its rate is
        # within floor-division slack of 10000 bp
        assert all(r["sample_rate_bp"] >= 9990 for r in limiting)


class TestStreamOuterJoin:
    def test_matched_equals_batch_inner_and_no_spurious_nulls(
        self, spark, sf_dir
    ):
        from greenplum_cdc_spark.streaming import pipeline as P

        out = P.stream_outer_join(spark, sf_dir)
        ev = load_table(spark, sf_dir, "events")
        v = ev.filter(F.col("event_type") == "view").alias("v")
        c = ev.filter(F.col("event_type") == "click").alias("c")
        cond = (
            (F.col("v.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") > F.col("v.ts"))
            & (F.col("c.ts") <= F.col("v.ts") + F.expr("INTERVAL 2 HOURS"))
        )
        inner = v.join(c, cond).count()
        matched = out.filter(F.col("click_event_id").isNotNull()).count()
        assert matched == inner
        # every emitted null row is truly unmatched in batch semantics
        truth_unmatched = v.join(c, cond, "left_anti").select(
            F.col("event_id").alias("view_event_id")
        )
        nulls = out.filter(F.col("click_event_id").isNull()).select(
            "view_event_id"
        )
        spurious = nulls.join(truth_unmatched, "view_event_id", "left_anti")
        assert spurious.count() == 0


class TestStreamWindowChain:
    def test_rollup_conserves_counts_for_closed_hours(self, spark, sf_dir):
        from greenplum_cdc_spark.streaming import pipeline as P

        out = P.stream_window_chain(spark, sf_dir).cache()
        rows = out.collect()
        assert rows
        assert all(1 <= r["n_subwindows"] <= 6 for r in rows)
        # each emitted hourly total equals the batch recount
        ev = load_table(spark, sf_dir, "events")
        truth = (
            ev.groupBy(
                F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
            )
            .agg(F.count("*").alias("n_true"))
        )
        bad = (
            out.join(truth, ["hour_start", "event_type"], "left")
            .filter(
                F.col("n_true").isNull() | (F.col("n60") != F.col("n_true"))
            )
            .count()
        )
        assert bad == 0


class TestMediaPhash:
    def test_phash_matches_pure_python(self, spark, sf_dir):
        """Spark's decoded-bytes dHash equals a from-scratch python
        recomputation over the generative pixel formula."""
        from greenplum_cdc_spark.operators import multimodal as mm

        rows = {
            r["doc_id"]: r for r in mm.media_phash(spark, sf_dir).collect()
        }
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 3 == 0)
            .select("doc_id", "n_chars")
            .collect()
        )
        import numpy as np

        for d in docs[:20]:
            doc_id, n_chars = d["doc_id"], d["n_chars"]
            w, h = n_chars % 64 + 16, n_chars % 48 + 12
            pix = ((doc_id + np.arange(h * w * 3)) % 256).reshape(h, w, 3)
            gray = pix.astype(np.int64).sum(axis=2)
            yi = (np.arange(8) * h) // 8
            xi = (np.arange(9) * w) // 9
            g = gray[yi][:, xi]
            bits = (g[:, :-1] > g[:, 1:]).astype(np.int64).ravel()
            lo = int(sum(b << k for k, b in enumerate(bits[:32])))
            hi = int(sum(b << k for k, b in enumerate(bits[32:])))
            r = rows[doc_id]
            assert (r["phash_lo"], r["phash_hi"], r["n_set_bits"]) == (
                lo,
                hi,
                int(bits.sum()),
            ), doc_id

    def test_halves_fit_32_bits(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import multimodal as mm

        rows = mm.media_phash(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r["phash_lo"] < (1 << 32)
            assert 0 <= r["phash_hi"] < (1 << 32)
            assert 0 <= r["n_set_bits"] <= 64


class TestStreamStaticEnrich:
    def test_conserves_events_and_buckets_unknowns(self, spark, sf_dir):
        from greenplum_cdc_spark.streaming import pipeline as P

        rows = P.stream_static_enrich(spark, sf_dir).collect()
        total = sum(r["n_events"] for r in rows)
        assert total == load_table(spark, sf_dir, "events").count()
        segs = {r["segment"] for r in rows}
        # every user_id at this sf resolves against the customer dim
        dim_segs = {
            r["c_mktsegment"]
            for r in load_table(spark, sf_dir, "customer")
            .select("c_mktsegment")
            .distinct()
            .collect()
        }
        assert segs <= dim_segs | {"UNKNOWN"}


class TestTrainEvalSplit:
    def test_partition_is_total_and_disjoint(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text as text_ops

        rows = text_ops.train_eval_split(spark, sf_dir).collect()
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert sum(r["n_docs"] for r in rows) == n_docs
        splits = {r["split"] for r in rows}
        assert splits == {"train", "val", "test"}
        per_split = {}
        for r in rows:
            per_split.setdefault(r["split"], 0)
            per_split[r["split"]] += r["n_docs"]
        # hash mod 100 bands: train ~80%, val ~10%, test ~10% (loose)
        assert per_split["train"] > per_split["val"]
        assert per_split["train"] > per_split["test"]

    def test_assignment_is_stable_under_growth(self, spark, sf_dir):
        """A document's split never changes when the corpus grows: the
        same doc_ids get the same split at two scale factors."""
        from greenplum_cdc_spark.operators import text as text_ops

        import hashlib

        def split_of(doc_id: int) -> str:
            h = int(hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:7], 16)
            pct = h % 100
            return "train" if pct < 80 else ("val" if pct < 90 else "test")

        # closed form IS the operator's assignment — spot-check via the
        # rollup: recompute expected counts from the raw table
        docs = load_table(spark, sf_dir, "documents").select("doc_id").collect()
        from collections import Counter

        expect = Counter(split_of(r["doc_id"]) for r in docs)
        rows = text_ops.train_eval_split(spark, sf_dir).collect()
        got = Counter()
        for r in rows:
            got[r["split"]] += r["n_docs"]
        assert got == expect


class TestHardNegativeMining:
    def test_pairs_are_valid_and_margins_consistent(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import similarity as sim

        rows = sim.hard_negative_mining(spark, sf_dir).collect()
        assert rows
        vecs = {
            r["vec_id"]: r["label"]
            for r in load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "label")
            .collect()
        }
        qmod = sim._hnm_mod(len(vecs))
        for r in rows:
            assert r["q_id"] % qmod == 0
            if r["pos_id"] is not None:
                assert vecs[r["pos_id"]] == r["q_label"]
                assert r["pos_id"] != r["q_id"]
                assert r["pos_dist2_u"] >= 0
            if r["neg_id"] is not None:
                assert vecs[r["neg_id"]] != r["q_label"]
                assert r["neg_dist2_u"] >= 0
            if r["pos_id"] is not None and r["neg_id"] is not None:
                assert r["margin_u"] == r["neg_dist2_u"] - r["pos_dist2_u"]

    def test_positive_is_true_nearest_same_label(self, spark, sf_dir):
        """The positive is the EXACT same-label nearest (label blocks
        are complete, unlike the cell-approximate negative)."""
        import numpy as np

        from greenplum_cdc_spark.operators import similarity as sim

        emb = {
            r["vec_id"]: (r["label"], np.array(r["embedding"], dtype=np.float64))
            for r in load_table(spark, sf_dir, "embeddings").collect()
        }

        def u(v):
            from decimal import ROUND_HALF_UP, Decimal

            return np.array(
                [
                    int(
                        Decimal(repr(round(float(x), 6))).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                        * 1_000_000
                    )
                    for x in v
                ],
                dtype=np.int64,
            )

        rows = sim.hard_negative_mining(spark, sf_dir).collect()
        for r in rows[:5]:
            ql, qv = emb[r["q_id"]]
            qu = u(qv)
            best = min(
                (
                    (int(((u(v) - qu) ** 2).sum()), vid)
                    for vid, (lbl, v) in emb.items()
                    if lbl == ql and vid != r["q_id"]
                ),
            )
            assert (r["pos_dist2_u"], r["pos_id"]) == best


class TestMarkovTransitions:
    def test_rows_sum_to_one_and_conserve_events(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import timeseries as ts

        rows = ts.markov_transitions(spark, sf_dir).collect()
        total_n = sum(r["n"] for r in rows)
        assert total_n == load_table(spark, sf_dir, "events").count()
        from collections import defaultdict

        by_from = defaultdict(list)
        for r in rows:
            by_from[r["from_type"]].append(r)
        for _ft, rs in by_from.items():
            bp = sum(r["prob_bp"] for r in rs)
            # floor division: within |cells| bp below 10000
            assert 10000 - len(rs) <= bp <= 10000
            assert all(r["row_total"] == sum(x["n"] for x in rs) for r in rs)


class TestColumnEntropy:
    def test_bounds_and_event_type_value(self, spark, sf_dir):
        import math

        from greenplum_cdc_spark.operators import stats as stats_ops

        rows = {r["col_name"]: r for r in stats_ops.column_entropy(spark, sf_dir).collect()}
        assert set(rows) == {"event_type", "user_id", "event_date"}
        for r in rows.values():
            assert 0 <= r["entropy_micro"] <= r["max_entropy_micro"] + 1
            assert 0 <= r["uniformity_bp"] <= 10000
        # event_type is ~uniform over 5 types: entropy near ln(5)
        et = rows["event_type"]
        assert abs(et["entropy_micro"] / 1e6 - math.log(5)) < 0.01
        assert et["uniformity_bp"] > 9900

    def test_entropy_matches_python(self, spark, sf_dir):
        """event_type entropy equals a from-scratch recomputation with
        the same 6-dp micro-nat contract."""
        import math
        from collections import Counter

        from greenplum_cdc_spark.operators import stats as stats_ops

        ev = load_table(spark, sf_dir, "events").select("event_type").collect()
        c = Counter(r["event_type"] for r in ev)
        total = sum(c.values())
        h_u = sum(
            cnt * int(round(round(math.log(total / cnt), 6) * 1_000_000))
            for cnt in c.values()
        )
        got = {
            r["col_name"]: r
            for r in stats_ops.column_entropy(spark, sf_dir).collect()
        }["event_type"]
        assert got["entropy_micro"] == h_u // total
        assert got["ndv"] == len(c)


class TestAntiEntropyRepair:
    def test_repair_converges_b_to_a(self, spark, sf_dir):
        """Applying the emitted ops to replica B reproduces replica A."""
        from greenplum_cdc_spark.operators import cdc as cdc_ops
        from greenplum_cdc_spark.plans import cdc_queries as cq

        snap = cdc_ops.snapshot_latest(cq._feed(spark, sf_dir)).select(
            "pk", F.col("value").cast("decimal(12,2)").alias("value")
        )
        a = {r["pk"]: float(r["value"]) for r in snap.collect()}
        b = {
            pk: (round(v + 0.01, 2) if pk % cq._AE_SKEW_MOD == 0 else v)
            for pk, v in a.items()
            if pk % cq._AE_DROP_MOD != 0
        }
        ops = cq.anti_entropy_repair(spark, sf_dir).collect()
        assert ops  # divergence exists at this sf
        for r in ops:
            if r["repair_op"] == "upsert":
                b[r["pk"]] = r["a_value"]
            else:
                b.pop(r["pk"], None)
        assert {k: round(v, 2) for k, v in b.items()} == {
            k: round(v, 2) for k, v in a.items()
        }


class TestBootstrapHandoff:
    def test_handoff_equals_full_replay(self, spark, sf_dir):
        """bootstrap(<=cut, tombstoned) + overlapping tail == one-shot
        full-history snapshot, per event_type."""
        from greenplum_cdc_spark.operators import cdc as cdc_ops
        from greenplum_cdc_spark.plans import cdc_queries as cq

        got = {
            r["event_type"]: (r["n_rows"], r["value_cents"], r["content_digest"])
            for r in cq.cdc_bootstrap_handoff(spark, sf_dir).collect()
        }
        snap = cdc_ops.snapshot_latest(cq._feed(spark, sf_dir))
        truth = {
            r["event_type"]: (r["n"], r["cents"])
            for r in snap.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)")).alias(
                    "cents"
                ),
            )
            .collect()
        }
        assert set(got) == set(truth)
        for et, (n, cents, _dig) in got.items():
            assert (n, cents) == truth[et]


class TestCheckpointResume:
    def test_exactly_once_across_restart(self, spark, sf_dir):
        from greenplum_cdc_spark.streaming import pipeline as P

        rows = P.stream_checkpoint_resume(spark, sf_dir).collect()
        ev = load_table(spark, sf_dir, "events")
        truth = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
        }
        got = {r["event_type"]: r["n_events"] for r in rows}
        assert got == truth  # no loss, and...
        for r in rows:  # ...no duplicates from the restart
            assert r["n_events"] == r["n_distinct"]


class TestSoftWeights:
    def test_weight_mass_equals_cluster_count(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import dedup as dd

        rows = dd.dedup_soft_weights(spark, sf_dir).collect()
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert len(rows) == n_docs
        clusters = {r["cluster_id"] for r in rows}
        mass = sum(r["weight_bp"] for r in rows)
        # sum over a cluster of 10000 div size is 10000 - (slack < size)
        assert len(clusters) * 10000 - n_docs < mass <= len(clusters) * 10000
        for r in rows:
            assert r["weight_bp"] == 10000 // r["cluster_size"]


class TestTopMovers:
    def test_directions_and_bp_math(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import timeseries as ts

        rows = ts.top_movers(spark, sf_dir).collect()
        assert 0 < len(rows) <= 2 * ts.TOP_MOVERS_N
        for r in rows:
            if r["direction"] == "gain":
                assert r["delta_cents"] >= 0
            else:
                assert r["delta_cents"] < 0
            assert r["delta_cents"] == r["cents"] - r["prev_cents"]
            assert (
                r["abs_change_bp"]
                == abs(r["delta_cents"]) * 10000 // abs(r["prev_cents"])
            )
        # within each direction the list is sorted by |change| desc
        for d in ("gain", "drop"):
            bps = [r["abs_change_bp"] for r in rows if r["direction"] == d]
            assert bps == sorted(bps, reverse=True)


class TestHilbertLayout:
    def test_hilbert_index_matches_reference(self, spark, sf_dir):
        """The arithmetic-only SQL chain equals the canonical bitwise
        xy2d on a sampled grid."""
        from greenplum_cdc_spark.operators import stats as stats_ops

        chain, dcol = stats_ops._hilbert_sql("xd", "yd")
        grid = spark.createDataFrame(
            [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 13)],
            "xd bigint, yd bigint",
        )
        grid.createOrReplaceTempView("__SRC__TEST")
        out = spark.sql(
            chain.replace("FROM __SRC__", "FROM __SRC__TEST")
        ).select("xd", "yd", dcol)

        def xy2d(n, x, y):
            d, s = 0, n // 2
            while s >= 1:
                rx = 1 if (x & s) else 0
                ry = 1 if (y & s) else 0
                d += s * s * ((3 * rx) ^ ry)
                if ry == 0:
                    if rx == 1:
                        x, y = n - 1 - x, n - 1 - y
                    x, y = y, x
                s //= 2
            return d

        for r in out.collect():
            assert r[dcol] == xy2d(256, r["xd"], r["yd"]), (r["xd"], r["yd"])

    def test_hilbert_blocks_tighter_than_zorder(self, spark, sf_dir):
        """The measurable claim: average per-block span (x+y) under the
        Hilbert layout is no worse than under Z-order."""
        from greenplum_cdc_spark.operators import stats as stats_ops

        rows = stats_ops.hilbert_layout(spark, sf_dir).collect()
        spans = {"hilbert": [], "zorder": []}
        for r in rows:
            spans[r["curve"]].append(r["span_x"] + r["span_y"])
        avg = {c: sum(v) / len(v) for c, v in spans.items()}
        assert avg["hilbert"] <= avg["zorder"] * 1.05


class TestSchemaDrift:
    def test_added_key_detected(self, spark, sf_dir):
        from greenplum_cdc_spark.plans import cdc_queries as cq

        rows = {r["key"]: r for r in cq.schema_drift_monitor(spark, sf_dir).collect()}
        assert set(rows) == {"user_id", "value", "event_type"}
        assert rows["user_id"]["status"] == "stable"
        assert rows["value"]["status"] == "stable"
        assert rows["event_type"]["status"] == "added"
        # the added key appears only in post-DDL envelopes
        assert rows["event_type"]["n_envelopes"] < rows["user_id"]["n_envelopes"]
        assert rows["event_type"]["first_seen"] > rows["user_id"]["first_seen"]


class TestNgramCoverage:
    def test_monotone_and_bounded(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text as text_ops

        rows = text_ops.ngram_coverage_curve(spark, sf_dir).collect()
        assert [r["k"] for r in rows] == [10, 100, 1000, 10000]
        covs = [r["coverage_bp"] for r in rows]
        assert covs == sorted(covs)
        assert all(0 < c <= 10000 for c in covs)
        last = rows[-1]
        if last["vocab_size"] <= last["k"]:
            # vocab fits in the largest K: full coverage
            assert last["tokens_covered"] == last["total_tokens"]


class TestBloomPrefilter:
    def test_no_false_negatives_and_matches_plain_dedup(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import dedup as dd

        rows = dd.dedup_bloom_prefilter(spark, sf_dir).collect()
        assert rows
        # a bloom-negative row is NEVER a true duplicate
        for r in rows:
            if r["is_dup"]:
                assert r["bloom_positive"]
        # exact verdicts equal the plain C19 anti-join semantics
        docs = load_table(spark, sf_dir, "documents")
        hist_hashes = {
            r["h"]
            for r in docs.filter(F.col("doc_id") < dd._INCR_SPLIT)
            .select(F.md5("text").alias("h"))
            .distinct()
            .collect()
        }
        for r in rows:
            assert r["is_dup"] == (r["text_hash"] in hist_hashes)


class TestFullTextSearch:
    def test_verdicts_match_python(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import quality as q

        got = {r["doc_id"]: r for r in q.full_text_search(spark, sf_dir).collect()}
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        for d in docs:
            toks = [t for t in d["text"].split(" ") if t]
            has_and = "spark" in toks and "table" in toks
            phrase = sum(
                1
                for i in range(len(toks) - 1)
                if toks[i] == "fast" and toks[i + 1] == "key"
            )
            if not has_and and not phrase:
                assert d["doc_id"] not in got
                continue
            r = got[d["doc_id"]]
            expect = (
                "both" if has_and and phrase else ("and" if has_and else "phrase")
            )
            assert r["matched_via"] == expect, d["doc_id"]
            assert r["phrase_hits"] == phrase


class TestGeoGridJoin:
    def test_bucketing_equals_bruteforce(self, spark, sf_dir):
        """Grid-bucketed candidates reproduce the O(N^2) truth exactly
        (completeness AND no duplicates)."""
        import hashlib

        from greenplum_cdc_spark.operators import timeseries as ts

        rows = [
            (r["key_a"], r["key_b"], r["dist2_u"])
            for r in ts.geo_grid_join(spark, sf_dir).collect()
        ]
        keys = [
            r["c_custkey"]
            for r in load_table(spark, sf_dir, "customer")
            .select("c_custkey")
            .collect()
        ]

        def coord(prefix, k):
            return int(
                hashlib.md5(f"{prefix}{k}".encode()).hexdigest()[:7], 16
            ) % ts._GEO_SPACE

        pts = {k: (coord("gx:", k), coord("gy:", k)) for k in keys}
        d2 = ts._GEO_RADIUS ** 2
        truth = sorted(
            (a, b, (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2)
            for i, a in enumerate(sorted(keys))
            for b in sorted(keys)[i + 1 :]
            if (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2 <= d2
        )
        assert sorted(rows) == truth
        assert len(rows) == len(set((a, b) for a, b, _ in rows))


class TestCusum:
    def test_changepoint_is_argmax_and_series_conserves(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import timeseries as ts

        rows = ts.cusum_changepoint(spark, sf_dir).collect()
        assert rows
        # exactly one changepoint, at the first |S| peak
        cps = [r for r in rows if r["is_changepoint"]]
        assert len(cps) == 1
        peak = max(abs(r["s_t"]) for r in rows)
        firsts = [r["d"] for r in rows if abs(r["s_t"]) == peak]
        assert cps[0]["d"] == min(firsts)
        # the full cumulative deviation telescopes to zero
        assert rows[-1]["s_t"] == 0


class TestTrendSlope:
    def test_closed_form_matches_python(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import stats as stats_ops

        rows = stats_ops.trend_slope(spark, sf_dir).collect()
        assert len(rows) == 5
        for r in rows:
            num, den = int(r["slope_num"]), int(r["slope_den"])
            assert den > 0
            expect = (
                (num * 1_000_000) // den
                if num >= 0
                else -((-num * 1_000_000) // den)
            )
            assert r["slope_micro_cents_per_day"] == expect


class TestImputeMissing:
    def test_conservation_and_fill(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import stats as stats_ops

        rows = stats_ops.impute_missing(spark, sf_dir).collect()
        total_rows = sum(r["n_rows"] for r in rows)
        assert total_rows == load_table(spark, sf_dir, "events").count()
        for r in rows:
            assert 0 < r["n_missing"] < r["n_rows"]
            assert r["fill_cents"] == r["observed_cents"] // (
                r["n_rows"] - r["n_missing"]
            )
            assert (
                r["total_after_impute_cents"]
                == r["observed_cents"] + r["n_missing"] * r["fill_cents"]
            )
