"""Round-4 additions: distributed global ranking (the zorder /
equi-depth production path), the apply_incremental watermark guard,
and the C48 handler-logic protocol tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from greenplum_cdc_spark.io import load_table  # noqa: E402
from greenplum_cdc_spark.operators import stats  # noqa: E402


class TestGlobalRowNumber:
    def test_matches_single_partition_window(self, spark, sf_dir):
        """The distributed rank is bit-identical to the oracle-exact
        single-partition window form (the construction it replaces)."""
        orders = load_table(spark, sf_dir, "orders").select(
            "o_totalprice", "o_orderkey"
        )
        ranked, total = stats._global_row_number(
            orders, "o_totalprice", ["o_orderkey"]
        )
        assert total == orders.count()
        w = Window.orderBy("o_totalprice", "o_orderkey")
        truth = orders.withColumn("rn_true", F.row_number().over(w).cast("bigint"))
        mismatches = (
            ranked.join(truth, ["o_totalprice", "o_orderkey"])
            .filter(F.col("rn") != F.col("rn_true"))
            .count()
        )
        assert mismatches == 0

    def test_rank_is_dense_and_complete(self, spark, sf_dir):
        """Ranks are exactly 1..N with no gaps or duplicates."""
        ev = load_table(spark, sf_dir, "events").select("ts", "event_id")
        ranked, total = stats._global_row_number(
            ev.withColumn("tsd", F.col("ts").cast("double")), "tsd", ["event_id"]
        )
        agg = ranked.agg(
            F.count("*").alias("n"),
            F.countDistinct("rn").alias("ndv"),
            F.min("rn").alias("lo"),
            F.max("rn").alias("hi"),
        ).collect()[0]
        assert agg["n"] == total == agg["ndv"]
        assert (agg["lo"], agg["hi"]) == (1, total)

    def test_no_single_partition_exchange(self, spark, sf_dir):
        """The round-3 verdict's requirement: the executed plans of
        zorder_layout and equi_depth_histogram contain NO
        single-partition exchange (the global-sort scale-killer both
        shipped with in round 3)."""
        for fn in (stats.zorder_layout, stats.equi_depth_histogram):
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SinglePartition" not in plan, f"{fn.__name__}:\n{plan}"


class TestKafkaClasspathProbe:
    def test_real_kafka_source_when_classpath_allows(self, spark):
        """Probe the REAL spark-sql-kafka path at test time (round-3
        verdict item 7): if the package is on the classpath, the factory
        must construct the source and emit the uniform one-column `line`
        contract (construction is lazy — no broker needed); if not, skip
        with the reason printed and the record-shape double (covered in
        test_streaming.py) remains the CI path."""
        import pytest

        from greenplum_cdc_spark.sources.bus import read_bus_stream

        try:
            df = read_bus_stream(
                spark, "kafka", bootstrap_servers="localhost:9092", topic="probe"
            )
        except Exception as e:  # noqa: BLE001
            assert "kafka" in str(e).lower()
            pytest.skip(
                "spark-sql-kafka not on this classpath "
                f"({str(e).splitlines()[0][:90]}); kafka-double covers the "
                "decode path"
            )
        assert df.columns == ["line"]
        assert df.isStreaming


class _FakeValueState:
    """In-memory double of transformWithState's ValueState — the
    protocol surface _RunningTotalProcessor touches (get/update)."""

    def __init__(self):
        self._v = None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def exists(self):
        return self._v is not None


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        self.states[name] = _FakeValueState()
        return self.states[name]


class TestRunningTotalsHandlerLogic:
    """C48 protocol-level tests: pure-function checks of the handler's
    state transitions over (state, Arrow batches). Kept even though
    round 6's protobuf bridge (vendor/google) un-gated the LIVE
    transformWithState run (test_round3.test_stream_running_totals_tws,
    plus the stream_running_totals oracle row) — these pin the handler
    logic without needing a state server at all."""

    def _proc(self):
        from greenplum_cdc_spark.streaming.stateful import _RunningTotalProcessor

        p = _RunningTotalProcessor()
        p.init(_FakeHandle())
        return p

    def test_fresh_key_accumulates_batch(self):
        import pandas as pd

        p = self._proc()
        out = list(
            p.handleInputRows(
                (7,), iter([pd.DataFrame({"value_cents": [100, 250, 50]})]), None
            )
        )
        assert len(out) == 1
        row = out[0].iloc[0]
        assert (row["user_id"], row["total_events"], row["total_cents"]) == (7, 3, 400)
        assert p._totals.get() == (3, 400)

    def test_existing_state_carries_forward(self):
        import pandas as pd

        p = self._proc()
        p._totals.update((5, 1000))
        out = list(
            p.handleInputRows(
                (7,), iter([pd.DataFrame({"value_cents": [250, -50]})]), None
            )
        )
        row = out[0].iloc[0]
        assert (row["total_events"], row["total_cents"]) == (7, 1200)
        assert p._totals.get() == (7, 1200)

    def test_multiple_arrow_chunks_one_batch(self):
        """The protocol may split one micro-batch's rows for a key into
        several Arrow chunks — they must fold into ONE emission."""
        import pandas as pd

        p = self._proc()
        out = list(
            p.handleInputRows(
                (1,),
                iter(
                    [
                        pd.DataFrame({"value_cents": [10]}),
                        pd.DataFrame({"value_cents": [20, 30]}),
                    ]
                ),
                None,
            )
        )
        assert len(out) == 1
        assert p._totals.get() == (3, 60)

    def test_replay_equals_batch_aggregate(self):
        """Exact simulation of the driver's oracle: N micro-batches
        replayed through the handler equal one global aggregate."""
        import pandas as pd

        rng_rows = [(i % 4, (i * 37) % 500 - 100) for i in range(200)]
        procs = {}
        last = {}
        for b in range(5):  # 5 micro-batches of 40 rows
            chunk = rng_rows[b * 40 : (b + 1) * 40]
            by_key = {}
            for k, v in chunk:
                by_key.setdefault(k, []).append(v)
            for k, vals in by_key.items():
                p = procs.setdefault(k, self._proc())
                out = list(
                    p.handleInputRows(
                        (k,), iter([pd.DataFrame({"value_cents": vals})]), None
                    )
                )
                r = out[0].iloc[0]
                last[k] = (int(r["total_events"]), int(r["total_cents"]))
        expect = {}
        for k, v in rng_rows:
            n, c = expect.get(k, (0, 0))
            expect[k] = (n + 1, c + v)
        assert last == expect


class TestApplyIncrementalWatermarkGuard:
    """Round-1 advice case, now ENFORCED: a below-watermark batch can
    never resurrect a deleted key or reorder a live one."""

    def _events(self, spark):
        rows = [
            # key L: insert then update (lives at ts 3)
            ("L", 1, 0, "insert", "l-v1"),
            ("L", 3, 0, "update", "l-v3"),
            # key K: insert then DELETE at ts 4 (absent from snapshot)
            ("K", 1, 0, "insert", "k-v1"),
            ("K", 4, 0, "delete", None),
        ]
        return spark.createDataFrame(
            rows, "pk string, ts long, seq long, op string, payload string"
        )

    def test_below_watermark_batch_is_inert(self, spark):
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.operators import cdc

        applied = self._events(spark)
        replica = cdc.snapshot_latest(applied)
        # per-key watermark over ALL applied events (deletes included —
        # the piece the replica alone cannot provide for dead keys)
        wm = applied.groupBy("pk").agg(
            F.max(F.struct("ts", "seq")).alias("w")
        ).select("pk", F.col("w.ts").alias("ts"), F.col("w.seq").alias("seq"))
        late = spark.createDataFrame(
            [
                ("K", 2, 0, "update", "k-RESURRECTED"),  # pre-delete: must drop
                ("L", 2, 0, "update", "l-STALE"),  # older than live row: must drop
            ],
            "pk string, ts long, seq long, op string, payload string",
        )
        out = cdc.apply_incremental(replica, late, watermark=wm)
        got = {r["pk"]: r["payload"] for r in out.collect()}
        assert got == {"L": "l-v3"}, got

    def test_replica_derived_guard_without_deletes(self, spark):
        """enforce_watermark=True with no watermark table: stale updates
        to LIVE keys are dropped (dead keys need the watermark table or
        keep_tombstones — documented)."""
        from greenplum_cdc_spark.operators import cdc

        applied = self._events(spark).filter("op != 'delete' AND pk = 'L'")
        replica = cdc.snapshot_latest(applied)
        late = spark.createDataFrame(
            [("L", 2, 0, "update", "l-STALE")],
            "pk string, ts long, seq long, op string, payload string",
        )
        out = cdc.apply_incremental(replica, late, enforce_watermark=True)
        got = {r["pk"]: r["payload"] for r in out.collect()}
        assert got == {"L": "l-v3"}, got

    def test_above_watermark_batch_applies(self, spark):
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.operators import cdc

        applied = self._events(spark)
        replica = cdc.snapshot_latest(applied)
        wm = applied.groupBy("pk").agg(
            F.max(F.struct("ts", "seq")).alias("w")
        ).select("pk", F.col("w.ts").alias("ts"), F.col("w.seq").alias("seq"))
        fresh = spark.createDataFrame(
            [
                ("L", 5, 0, "update", "l-v5"),
                ("K", 6, 0, "insert", "k-reborn"),  # genuinely new life
                ("M", 5, 0, "insert", "m-v5"),  # unseen key passes too
            ],
            "pk string, ts long, seq long, op string, payload string",
        )
        out = cdc.apply_incremental(replica, fresh, watermark=wm)
        got = {r["pk"]: r["payload"] for r in out.collect()}
        assert got == {"L": "l-v5", "K": "k-reborn", "M": "m-v5"}, got


class TestRound4Operators:
    """Semantics pins for the round-4 operator batch (each also has a
    DuckDB oracle twin in the gate; these tests pin the properties the
    oracle alone can't see)."""

    def test_ngram_topk_counts(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text

        rows = text.ngram_topk(spark, sf_dir).collect()
        assert len(rows) == text.NGRAM_TOPK
        cnts = [r["cnt"] for r in rows]
        assert cnts == sorted(cnts, reverse=True)
        # ties are broken lexicographically: equal-count runs are sorted
        for a, b in zip(rows, rows[1:]):
            if a["cnt"] == b["cnt"]:
                assert a["bigram"] < b["bigram"]

    def test_length_bucket_mix_shares_sum(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text

        rows = text.length_bucket_mix(spark, sf_dir).collect()
        by_bucket: dict[int, list] = {}
        for r in rows:
            by_bucket.setdefault(r["len_bucket"], []).append(r)
        for b, grp in by_bucket.items():
            total = grp[0]["bucket_total"]
            assert sum(r["cnt"] for r in grp) == total
            # floor-division shares sum to <= 10000 and miss < |langs|
            s = sum(r["share_bp"] for r in grp)
            assert 10000 - len(grp) < s <= 10000

    def test_semantic_dedup_conservation(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import similarity

        rows = similarity.semantic_dedup(spark, sf_dir).collect()
        total = sum(r["n_vecs"] for r in rows)
        assert total == load_table(spark, sf_dir, "embeddings").count()
        for r in rows:
            assert r["n_kept"] + r["n_dropped"] == r["n_vecs"]
            assert r["n_kept"] >= 1  # the min-id representative survives

    def test_pq_codes_in_range_and_err_nonneg(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import similarity

        rows = similarity.pq_encode(spark, sf_dir).collect()
        for r in rows:
            for m in range(similarity.PQ_M):
                assert 0 <= r[f"code{m}"] < similarity.PQ_CODES
            assert r["recon_err"] >= 0.0
        # seeds encode to themselves with zero error
        seeds = [r for r in rows if r["vec_id"] < similarity.PQ_CODES]
        for r in seeds:
            assert r["recon_err"] == 0.0
            assert all(
                r[f"code{m}"] == r["vec_id"] for m in range(similarity.PQ_M)
            )

    def test_quantile_normalize_tail(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import timeseries

        rows = timeseries.quantile_normalize(spark, sf_dir).collect()
        assert rows, "tail must be non-empty"
        assert all(r["pct_rank"] >= timeseries.QNORM_TAIL for r in rows)
        # each group's maximum-value row scores exactly 1.0
        assert any(r["pct_rank"] == 1.0 for r in rows)

    def test_source_overlap_bounds(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import dedup

        rows = dedup.source_overlap(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["src_a"] < r["src_b"]
            assert 0 < r["n_shared"] <= min(r["n_a"], r["n_b"])
            assert 0 < r["containment_bp"] <= 10000

    def test_incremental_agg_equals_full_recompute(self, spark, sf_dir):
        """merge(base, delta) == recompute — and the split is real (both
        sides non-empty), so the test isn't vacuous."""
        from greenplum_cdc_spark.plans import tpch

        orders = load_table(spark, sf_dir, "orders")
        split = F.lit(tpch._IAM_SPLIT).cast("timestamp")
        assert orders.filter(F.col("o_orderdate") < split).count() > 0
        assert orders.filter(F.col("o_orderdate") >= split).count() > 0
        merged = tpch.incremental_agg_maintenance(spark, sf_dir).collect()
        full = (
            orders.groupBy(
                F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
                "o_orderstatus",
            )
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum(tpch._money("o_totalprice")), 4)
                .cast("double")
                .alias("sum_total"),
            )
            .orderBy("month", "o_orderstatus")
            .collect()
        )
        assert merged == full

    def test_top_percent_threshold_exact(self, spark, sf_dir):
        from greenplum_cdc_spark.plans import tpch

        for r in tpch.top_percent_per_group(spark, sf_dir).collect():
            assert r["n_top"] == (r["n_group"] + tpch.TOP_PCT - 1) // tpch.TOP_PCT
            assert r["min_top_revenue"] <= r["max_top_revenue"]


class TestStaleReplayGuard:
    def test_replay_is_identity(self, spark, sf_dir):
        """The graded query's invariant, stated directly: replaying every
        pre-split insert into the guarded replica changes nothing."""
        from greenplum_cdc_spark.plans import cdc_queries as cq
        from greenplum_cdc_spark.operators import cdc as cdc_ops

        feed = cq._feed(spark, sf_dir)
        b1 = feed.filter(F.col("ts") < F.lit(cq._SPLIT_TS).cast("timestamp"))
        replica = cdc_ops.snapshot_latest(b1)
        guarded = cq.cdc_stale_replay_guard(spark, sf_dir)
        assert guarded.count() == replica.count()

    def test_without_guard_deleted_keys_resurrect(self, spark, sf_dir):
        """The guard has teeth: the same replay WITHOUT the watermark
        resurrects keys whose final pre-split event was a delete."""
        from greenplum_cdc_spark.plans import cdc_queries as cq
        from greenplum_cdc_spark.operators import cdc as cdc_ops

        feed = cq._feed(spark, sf_dir)
        b1 = feed.filter(F.col("ts") < F.lit(cq._SPLIT_TS).cast("timestamp"))
        replica = cdc_ops.snapshot_latest(b1)
        stale = b1.filter(F.col("op") == "insert")
        unguarded = cdc_ops.apply_incremental(replica, stale)
        # keys that died pre-split and had at least one earlier insert
        dead_with_insert = (
            cdc_ops.snapshot_latest(b1, keep_tombstones=True)
            .filter(F.col("op") == "delete")
            .join(stale.select("pk").distinct(), "pk")
            .count()
        )
        assert dead_with_insert > 0, "corpus must exercise the resurrection case"
        assert unguarded.count() == replica.count() + dead_with_insert


class TestSwapPersist:
    def test_same_plan_reuses_cache(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import dedup

        a = load_table(spark, sf_dir, "documents").select("doc_id")
        cached = dedup._swap_persist("_test_swap", a)
        again = dedup._swap_persist(
            "_test_swap", load_table(spark, sf_dir, "documents").select("doc_id")
        )
        assert again is cached  # identical plan -> reuse, no unpersist churn

    def test_different_plan_swaps(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import dedup

        first = dedup._swap_persist(
            "_test_swap2", load_table(spark, sf_dir, "documents").select("doc_id")
        )
        second = dedup._swap_persist(
            "_test_swap2",
            load_table(spark, sf_dir, "documents").select("doc_id", "lang"),
        )
        assert second is not first
        assert first.storageLevel.useMemory is False  # unpersisted
        assert dedup._PERSIST_CACHE["_test_swap2"] is second
        second.unpersist()
        del dedup._PERSIST_CACHE["_test_swap2"]
        del dedup._PERSIST_CACHE["_test_swap"]


class TestRound4SecondBatch:
    def test_doc_keywords_shape(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import quality

        rows = quality.doc_keywords(spark, sf_dir).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert len(by_doc) == n_docs  # every doc gets keywords
        for grp in by_doc.values():
            assert [r["rk"] for r in grp] == list(range(1, len(grp) + 1))
            scores = [r["score_u"] for r in grp]
            assert scores == sorted(scores, reverse=True)
            assert all(r["score_u"] == (r["tf"] * quality.KEYWORDS_SCALE) // r["df"] for r in grp)

    def test_dedup_incremental_lsh_verified_subset(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import dedup

        rows = dedup.dedup_incremental_lsh(spark, sf_dir).collect()
        n_new = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") >= dedup._INCR_SPLIT)
            .count()
        )
        assert len(rows) == n_new  # one verdict per batch doc, no drops
        for r in rows:
            if r["is_dup"]:
                assert r["match_doc"] < dedup._INCR_SPLIT  # matches history only
                assert r["match_hashes"] >= dedup.INC_MIN_MATCH
                assert r["n_cand"] >= 1
            else:
                assert r["match_doc"] == -1 and r["match_hashes"] == 0
        assert any(r["is_dup"] for r in rows), "corpus must exercise matches"

    def test_embedding_outliers_are_farthest(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import similarity

        out = similarity.embedding_outliers(spark, sf_dir)
        rows = out.collect()
        by_label: dict[int, list] = {}
        for r in rows:
            by_label.setdefault(r["label"], []).append(r)
        for grp in by_label.values():
            assert len(grp) == similarity.OUTLIER_TOPN
            d = [r["dist2_u"] for r in grp]
            assert d == sorted(d, reverse=True)
            assert all(x >= 0 for x in d)


class TestRound4ThirdBatch:
    def test_compaction_collapses_files(self, spark, sf_dir, tmp_path):
        """The gate row proves content invariance; this pins the
        filesystem fact the oracle can't see: fewer, larger files."""
        import os

        from greenplum_cdc_spark.plans import tpch

        ev = load_table(spark, sf_dir, "events").select("event_id", "value")
        frag = str(tmp_path / "frag")
        ev.repartition(tpch.COMPACT_FRAG_FILES).write.parquet(frag)
        n_frag = sum(1 for f in os.listdir(frag) if f.endswith(".parquet"))
        frag_bytes = sum(
            os.path.getsize(os.path.join(frag, f))
            for f in os.listdir(frag)
            if f.endswith(".parquet")
        )
        n_out = max(1, -(-frag_bytes // tpch.COMPACT_TARGET_BYTES))
        compact = str(tmp_path / "compact")
        spark.read.parquet(frag).repartition(n_out).write.parquet(compact)
        n_comp = sum(1 for f in os.listdir(compact) if f.endswith(".parquet"))
        assert n_frag == tpch.COMPACT_FRAG_FILES
        assert n_comp < n_frag
        assert (
            spark.read.parquet(compact).count()
            == spark.read.parquet(frag).count()
        )

    def test_hash_features_conservation(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import quality, text

        rows = text.hash_features(spark, sf_dir).collect()
        assert all(0 <= r["bucket"] < text.HASH_FEAT_BUCKETS for r in rows)
        total_tokens = (
            load_table(spark, sf_dir, "documents")
            .select(F.explode(quality._toks_col()).alias("t"))
            .count()
        )
        assert sum(r["total_cnt"] for r in rows) == total_tokens
        for r in rows:
            assert r["max_doc_cnt"] <= r["total_cnt"]
            assert r["n_docs"] >= 1

    def test_source_reconcile_covers_all_keys(self, spark, sf_dir):
        from greenplum_cdc_spark.plans import cdc_queries as cq
        from greenplum_cdc_spark.operators import cdc as cdc_ops

        rows = {r["status"]: r for r in cq.cdc_source_reconcile(spark, sf_dir).collect()}
        feed = cq._feed(spark, sf_dir)
        src = feed.withColumn(
            "source", F.when(F.col("seq") % 2 == 0, "a").otherwise("b")
        )
        n_a = cdc_ops.snapshot_latest(src.filter("source = 'a'")).count()
        n_b = cdc_ops.snapshot_latest(src.filter("source = 'b'")).count()
        both = sum(
            rows[s]["n_keys"] for s in ("agree", "disagree") if s in rows
        )
        assert both + rows.get("only_a", {"n_keys": 0})["n_keys"] == n_a
        assert both + rows.get("only_b", {"n_keys": 0})["n_keys"] == n_b


class TestArchivePartitionPrune:
    def test_partition_filters_reach_the_scan(self, spark, sf_dir, tmp_path):
        """The pruning the A32 oracle can't see: the date predicate must
        land as a PartitionFilter (directory-level skip), not a
        post-scan Filter, and the pruned scan reads fewer partitions."""
        from greenplum_cdc_spark.plans import cdc_queries as cq

        feed = cq._feed(spark, sf_dir).withColumn(
            "event_date", F.to_date(F.date_trunc("day", "ts"))
        )
        base = str(tmp_path / "archive")
        feed.write.partitionBy("event_date").parquet(base)
        archive = spark.read.parquet(base)
        filtered = archive.filter(
            (F.col("event_date") >= F.lit(cq._PRUNE_LO).cast("date"))
            & (F.col("event_date") < F.lit(cq._PRUNE_HI).cast("date"))
        )
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "event_date" in seg and seg.strip(), (
            "date predicate must prune at the partition level: " + seg
        )
        n_days_all = feed.select("event_date").distinct().count()
        n_days_kept = filtered.select("event_date").distinct().count()
        assert 0 < n_days_kept < n_days_all
        # functional equality with the unpartitioned path
        want = feed.filter(
            (F.col("event_date") >= F.lit(cq._PRUNE_LO).cast("date"))
            & (F.col("event_date") < F.lit(cq._PRUNE_HI).cast("date"))
        ).count()
        assert filtered.count() == want


class TestBatchConstructionOps:
    def test_pack_sequences_exact_cumsum(self, spark, sf_dir):
        """The distributed running sum equals the single-partition window
        (the construction it replaces), and bins tile the token mass."""
        from greenplum_cdc_spark.operators import text

        rows = text.pack_sequences(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        total = docs.select(
            F.sum(F.size(F.filter(F.split("text", " "), lambda x: x != "")))
        ).first()[0]
        assert sum(r["n_tokens"] for r in rows) == total
        bins = [r["bin_id"] for r in rows]
        assert bins == sorted(bins)
        assert bins[-1] == (total - 1) // text.PACK_BUDGET
        # interior bins are full to within one document's length
        for r in rows[:-1]:
            assert r["fill_bp"] >= 10000 - (10000 * 500 // text.PACK_BUDGET)

    def test_context_chunks_closed_form(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text

        for r in text.context_chunks(spark, sf_dir).collect():
            n, L, S = r["n_tokens"], text.CHUNK_LEN, text.CHUNK_STRIDE
            want = 1 if n <= L else 1 + -(-(n - L) // S)
            assert r["n_chunks"] == want
            assert 0 < r["last_chunk_len"] <= max(L, n if n <= L else L)

    def test_span_mask_deterministic_and_bounded(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text

        a = text.span_mask_plan(spark, sf_dir).collect()
        b = text.span_mask_plan(spark, sf_dir).collect()
        assert a == b  # content-addressed: bit-identical re-runs
        for r in a:
            assert r["n_masked"] <= min(
                r["n_tokens"], r["n_spans"] * text.SPAN_MASK_LEN
            )
            assert 0 <= r["mask_rate_bp"] <= 10000
        # the 1/10 start rate should mask roughly LEN/10 of tokens corpus-wide
        tot = sum(r["n_tokens"] for r in a)
        masked = sum(r["n_masked"] for r in a)
        assert 0.1 < masked / tot < 0.5


def test_curation_funnel_monotone(spark, sf_dir):
    """Stage counts shrink monotonically per language and the funnel's
    quality stage agrees with the graded gopher_filter verdicts."""
    from greenplum_cdc_spark.operators import quality

    rows = quality.curation_funnel(spark, sf_dir).collect()
    by_lang: dict[str, dict[str, int]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["stage"]] = r["n_docs"]
    for lang, st in by_lang.items():
        seq = [st.get(s, 0) for s in ("1_input", "2_quality", "3_deduped", "4_sampled")]
        assert seq == sorted(seq, reverse=True), (lang, seq)
        assert seq[0] > 0
    n_quality = sum(st.get("2_quality", 0) for st in by_lang.values())
    n_gopher = quality.gopher_filter(spark, sf_dir).filter("keep").count()
    assert n_quality == n_gopher


def test_gdpr_erasure_accounting(spark, sf_dir):
    """The four surfaces reconcile: archive splits exactly into erased +
    remaining, and tombstones == live erased keys."""
    from greenplum_cdc_spark.plans import cdc_queries as cq

    rows = {r["surface"]: r for r in cq.cdc_gdpr_erasure(spark, sf_dir).collect()}
    feed = cq._feed(spark, sf_dir)
    total = feed.count()
    assert (
        rows["2_archive_events"]["n_affected"]
        + rows["4_archive_remaining"]["n_affected"]
        == total
    )
    assert (
        rows["3_downstream_tombstones"]["n_affected"]
        == rows["1_replica_rows"]["n_keys"]
    )
    assert rows["1_replica_rows"]["n_affected"] > 0, "erasure set must be non-empty"
