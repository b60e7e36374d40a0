"""Round-5 additions: loud guards on the collect→CASE-literal count
pattern (r4 verdict #2 / advice #6), the theta-sketch sub-K degenerate
case (r4 advice), and the impute_missing all-missing-group cross-engine
parity fix (r4 advice).
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from greenplum_cdc_spark.operators import sketches, stats, timeseries  # noqa: E402
from greenplum_cdc_spark.plans import tpch  # noqa: E402

_TS0 = datetime.datetime(2024, 1, 1)


def _write(tmp_path, name, table: pa.Table) -> str:
    pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


def _events_table(event_ids, event_types, values):
    n = len(event_ids)
    return pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array(
                [_TS0 + datetime.timedelta(minutes=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": pa.array(event_types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(['{"k": "1"}'] * n, pa.string()),
        }
    )


class TestCaseLiteralGuards:
    """The inlined CASE-literal count table is only valid on a tiny
    group domain; a high-cardinality key must fail loudly, not build a
    megabyte CASE on the driver."""

    def test_top_percent_per_group_rejects_wide_domain(self, spark, tmp_path):
        n = 70  # > the 64-literal bound
        li = pa.table(
            {
                "l_orderkey": pa.array(range(n), pa.int64()),
                "l_linenumber": pa.array([1] * n, pa.int32()),
                "l_returnflag": pa.array([f"F{i:02d}" for i in range(n)]),
                "l_extendedprice": pa.array([100.0 + i for i in range(n)]),
                "l_discount": pa.array([0.05] * n, pa.float64()),
            }
        )
        sf = _write(tmp_path, "lineitem", li)
        with pytest.raises(ValueError, match="bounded at 64"):
            tpch.top_percent_per_group(spark, sf)

    def test_quantile_normalize_rejects_wide_domain(self, spark, tmp_path):
        n = 80
        ev = _events_table(
            list(range(n)),
            [f"type_{i:02d}" for i in range(n)],
            [float(i) for i in range(n)],
        )
        sf = _write(tmp_path, "events", ev)
        with pytest.raises(ValueError, match="bounded at 64"):
            timeseries.quantile_normalize(spark, sf)

    def test_small_domain_still_works(self, spark, sf_dir):
        """The guard must not fire on the real 3-flag / 5-type data."""
        assert tpch.top_percent_per_group(spark, sf_dir).count() > 0
        assert timeseries.quantile_normalize(spark, sf_dir).count() > 0


class TestThetaSketchSmallSetGuard:
    def test_sub_k_side_fails_loudly(self, spark, tmp_path):
        """A side with < K=64 distinct keys has no K-th minimum; the
        old code silently collapsed to zero rows via empty crossJoins."""
        n = 40  # both halves get < 64 distinct custkeys
        orders = pa.table(
            {
                "o_orderkey": pa.array(range(n), pa.int64()),
                "o_custkey": pa.array([i % 20 for i in range(n)], pa.int64()),
            }
        )
        sf = _write(tmp_path, "orders", orders)
        with pytest.raises(ValueError, match="fewer than K=64"):
            sketches.theta_sketch_setops(spark, sf)

    def test_full_size_unaffected(self, spark, sf_dir):
        assert sketches.theta_sketch_setops(spark, sf_dir).count() == 1


class TestImputeAllMissingGroup:
    def test_all_missing_group_yields_null_on_both_engines(
        self, spark, tmp_path
    ):
        """A group that is 100% 'missing' (every event_id % 13 == 0)
        used to be NULL in Spark but a division-by-zero ERROR in DuckDB;
        both engines must now emit NULL fill_cents for it."""
        # 'allmiss' rows all have event_id divisible by 13; 'mixed' not
        ids = [13, 26, 39] + [1, 2, 3, 13 * 4]
        types = ["allmiss"] * 3 + ["mixed"] * 4
        vals = [10.0, 20.0, 30.0, 1.0, 2.0, 3.0, 4.0]
        ev = _events_table(ids, types, vals)
        sf = _write(tmp_path, "events", ev)

        rows = {
            r["event_type"]: r
            for r in stats.impute_missing(spark, sf).collect()
        }
        assert rows["allmiss"]["fill_cents"] is None
        assert rows["allmiss"]["total_after_impute_cents"] is None
        assert rows["mixed"]["fill_cents"] == 200  # (100+200+300) div 3

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
        )
        ora = con.execute(stats.IMPUTE_MISSING_SQL).fetchall()
        by_type = {r[0]: r for r in ora}
        assert by_type["allmiss"][4] is None  # fill_cents
        assert by_type["mixed"][4] == 200


class TestBulkIndexStore:
    def test_external_version_replay_is_order_safe(self, spark, tmp_path):
        """Out-of-order batches and deletes: the replay must honor the
        external version (CDC seq), not batch arrival order — the ES
        semantics that make the heterogeneous sink crash/replay-safe."""
        import datetime

        from greenplum_cdc_spark.streaming.pipeline import BulkIndexStore

        t0 = datetime.datetime(2024, 1, 1)

        def delta(rows):
            return spark.createDataFrame(
                [(pk, op, seq, t0, val) for pk, op, seq, val in rows],
                "pk bigint, op string, seq bigint, ts timestamp, value double",
            )

        store = BulkIndexStore(spark, str(tmp_path / "bulk"))
        store.commit(delta([(1, "insert", 5, 10.0), (2, "insert", 6, 20.0)]))
        # batch 2 arrives LATER but carries an OLDER event for pk 1
        store.commit(delta([(1, "insert", 3, 99.0)]))
        # batch 3 deletes pk 2
        store.commit(delta([(2, "delete", 9, 0.0)]))
        got = {r["pk"]: r for r in store.read_replay().collect()}
        assert set(got) == {1}
        assert got[1]["seq"] == 5 and got[1]["value"] == 10.0

    def test_bulk_wire_format_is_es_bulk(self, spark, tmp_path):
        """Every emitted line is either a valid _bulk action with
        external versioning or a source doc — POSTable as-is."""
        import datetime
        import glob
        import json

        from greenplum_cdc_spark.streaming.pipeline import BulkIndexStore

        t0 = datetime.datetime(2024, 1, 1)
        store = BulkIndexStore(spark, str(tmp_path / "bulk"))
        store.commit(
            spark.createDataFrame(
                [(7, "insert", 11, t0, 1.5), (8, "delete", 12, t0, 0.0)],
                "pk bigint, op string, seq bigint, ts timestamp, value double",
            )
        )
        lines = []
        for f in glob.glob(str(tmp_path / "bulk" / "v=1" / "part-*")):
            lines += open(f).read().splitlines()
        parsed = [json.loads(ln) for ln in lines if ln]
        actions = [p for p in parsed if "index" in p or "delete" in p]
        docs = [p for p in parsed if "pk" in p]
        assert len(actions) == 2 and len(docs) == 1
        for a in actions:
            meta = a.get("index") or a.get("delete")
            assert meta["version_type"] == "external"
            assert meta["_index"] == "events"
        assert docs[0]["pk"] == 7 and docs[0]["seq"] == 11


class TestKnnIvfPq:
    def test_recall_vs_exact_in_cell(self, spark, sf_dir):
        """ADC top-5 must recover a useful fraction of the exact
        within-cell L2 top-5 (measured 0.53 at the 16x32 operating
        point on this synthetic corpus; iid embeddings are PQ's worst
        case). The bound guards against a silent metric/codebook
        regression, not a benchmark claim."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from greenplum_cdc_spark.io import load_table
        from greenplum_cdc_spark.operators import similarity as S

        vecs = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
        corpus = S._ivf_assign(vecs)
        q = corpus.filter(F.col("vec_id") < S.IVF_QUERIES).select(
            F.col("vec_id").alias("qid"), "cell", F.col("embedding").alias("qe")
        )
        pairs = corpus.alias("c").join(
            F.broadcast(q).alias("q"),
            (F.col("c.cell") == F.col("q.cell"))
            & (F.col("c.vec_id") != F.col("q.qid")),
        )
        d2 = F.aggregate(
            F.zip_with(
                "q.qe",
                "c.embedding",
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("nid"))
        exact: dict[int, set] = {}
        for r in (
            pairs.select(
                F.col("q.qid").alias("qid"),
                F.col("c.vec_id").alias("nid"),
                d2.alias("d2"),
            )
            .withColumn("rk", F.row_number().over(w))
            .filter("rk <= 5")
            .collect()
        ):
            exact.setdefault(r["qid"], set()).add(r["nid"])
        adc: dict[int, set] = {}
        rows = S.knn_ivfpq(spark, sf_dir).collect()
        for r in rows:
            adc.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls = [
            len(exact[k] & adc.get(k, set())) / len(exact[k]) for k in exact
        ]
        assert sum(recalls) / len(recalls) >= 0.4

        # per-query ADC ranking is monotone in rank
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_d2"]))
        for pairs_q in by_q.values():
            ordered = sorted(pairs_q)
            assert all(
                ordered[i][1] <= ordered[i + 1][1]
                for i in range(len(ordered) - 1)
            )


class TestShardShuffle:
    def test_permutation_complete_and_dense(self, spark, sf_dir):
        """Every document lands exactly once; positions are dense
        1..shard_docs per shard (a valid global permutation)."""
        from greenplum_cdc_spark.io import load_table
        from greenplum_cdc_spark.operators import text as T

        rows = T.shard_shuffle(spark, sf_dir).collect()
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert len(rows) == n_docs
        assert len({r["doc_id"] for r in rows}) == n_docs
        by_shard: dict[int, list[int]] = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(1, len(poss) + 1))
        # hash sharding keeps shards roughly balanced (within 3x)
        sizes = [len(v) for v in by_shard.values()]
        assert max(sizes) <= 3 * max(1, min(sizes))

    def test_reproducible_across_runs(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import text as T

        a = [(r["shard"], r["pos"], r["doc_id"]) for r in T.shard_shuffle(spark, sf_dir).collect()]
        b = [(r["shard"], r["pos"], r["doc_id"]) for r in T.shard_shuffle(spark, sf_dir).collect()]
        assert a == b


class TestIvfIndexUpdate:
    def test_frozen_centroids_and_conservation(self, spark, sf_dir):
        """The audit's totals must equal the corpus split, and base
        assignments must match what training-on-base assigns (frozen
        centroids — the no-retrain contract)."""
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.io import load_table
        from greenplum_cdc_spark.operators import similarity as S

        rows = S.ivf_index_update(spark, sf_dir).collect()
        vecs = load_table(spark, sf_dir, "embeddings")
        n_base = vecs.filter(F.col("vec_id") % S.IVFUPD_MOD != 0).count()
        n_new = vecs.filter(F.col("vec_id") % S.IVFUPD_MOD == 0).count()
        assert sum(r["n_base"] for r in rows) == n_base
        assert sum(r["n_new"] for r in rows) == n_new
        # base-side assignment with frozen centroids == plain training
        # assignment on the base corpus
        base = vecs.filter(F.col("vec_id") % S.IVFUPD_MOD != 0).select(
            "vec_id", "label", "embedding"
        )
        direct = {
            (r["vec_id"], r["cell"])
            for r in S._ivf_assign(base).select("vec_id", "cell").collect()
        }
        frozen = S._ivf_train(base)
        via_update = {
            (r["vec_id"], r["cell"])
            for r in S._ivf_assign_to(base, frozen)
            .select("vec_id", "cell")
            .collect()
        }
        assert direct == via_update
        # flags are consistent with the reported growth
        for r in rows:
            expect = 1 if (r["n_base"] == 0 or r["growth_bp"] > S.IVFUPD_RETRAIN_BP) else 0
            assert r["needs_retrain"] == expect


class TestDupSpanRemoval:
    def test_matches_pure_python_reference(self, spark, sf_dir):
        """Independent oracle: brute-force the removal plan in plain
        Python over the sf0.001 corpus and require exact equality —
        positions, merging, and budgets, not just shapes."""
        from collections import defaultdict

        from greenplum_cdc_spark.io import load_table
        from greenplum_cdc_spark.operators import quality as Q

        K = Q.PASSAGE_K
        docs = {
            r["doc_id"]: [w for w in r["text"].split(" ") if w != ""]
            for r in load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .collect()
        }
        gram_docs: dict[tuple, set] = defaultdict(set)
        for did, toks in docs.items():
            for i in range(len(toks) - K + 1):
                gram_docs[tuple(toks[i : i + K])].add(did)
        dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
        expected = []
        for did in sorted(docs):
            toks = docs[did]
            marks = [
                i + 1
                for i in range(len(toks) - K + 1)
                if tuple(toks[i : i + K]) in dup
            ]
            spans = []
            for p in marks:
                if spans and p <= spans[-1][1] - K + 1 + K:  # p <= prev_pos + K
                    spans[-1] = (spans[-1][0], max(spans[-1][1], p + K - 1))
                else:
                    spans.append((p, p + K - 1))
            for idx, (s, e) in enumerate(spans, start=1):
                expected.append((did, idx, s, e))

        got = [
            (r["doc_id"], r["span_idx"], r["span_start"], r["span_end"])
            for r in Q.dup_span_removal(spark, sf_dir).collect()
        ]
        assert got == expected

    def test_spans_disjoint_and_min_width(self, spark, sf_dir):
        from greenplum_cdc_spark.operators import quality as Q

        rows = Q.dup_span_removal(spark, sf_dir).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            assert r["span_tokens"] >= Q.PASSAGE_K
            by_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        for spans in by_doc.values():
            spans.sort()
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert s2 > e1  # disjoint after merging


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_round5_ops_partition_count_invariant(spark):
    """Distributed-correctness property for the round-5 operators:
    results must not depend on how the data is partitioned — run each
    under 1, 3 and 13 shuffle partitions and require identical row
    sets. Covers the two-phase shard rank, the IVF-PQ broadcast join,
    the dup-span island merge, the wal2json txn explode, and the
    field-merge max_by aggregates."""
    from greenplum_cdc_spark.io import shuffle_partitions
    from greenplum_cdc_spark.operators import quality, similarity, text
    from greenplum_cdc_spark.plans import cdc_queries

    sf = "/root/testdata/sf0.001"
    ops = [
        text.shard_shuffle,
        similarity.knn_ivfpq,
        similarity.ivf_index_update,
        quality.dup_span_removal,
        cdc_queries.wal2json_parse_events,
        cdc_queries.cdc_field_merge,
        quality.split_contamination_matrix,
        text.doc_novelty,
    ]
    for op in ops:
        results = []
        for n in (1, 3, 13):
            with shuffle_partitions(spark, n):
                results.append(_collect_sorted(op(spark, sf)))
        assert results[0] == results[1] == results[2], op.__name__


def test_bulk_store_ignores_unpointed_version(spark, tmp_path):
    """Crash mid-commit: a v= directory written WITHOUT the pointer
    flip (the crash window) must be invisible to read_replay — the
    same reader guarantee ReplicaStore's _LATEST protocol gives."""
    import datetime
    import os

    from greenplum_cdc_spark.streaming.pipeline import BulkIndexStore

    t0 = datetime.datetime(2024, 1, 1)
    store = BulkIndexStore(spark, str(tmp_path / "bulk"))
    store.commit(
        spark.createDataFrame(
            [(1, "insert", 5, t0, 10.0)],
            "pk bigint, op string, seq bigint, ts timestamp, value double",
        )
    )
    # simulate a crashed second commit: directory exists, pointer not
    # flipped (write the files via a raw parquet write, no commit())
    spark.createDataFrame(
        [('{"index":{"_index":"events","_id":2,"version":9,'
          '"version_type":"external"}}\n'
          '{"pk":2,"seq":9,"ts_us":0,"value":99.0}',)],
        "value string",
    ).write.mode("overwrite").text(str(tmp_path / "bulk" / "v=2"))
    assert os.path.isdir(str(tmp_path / "bulk" / "v=2"))
    got = {r["pk"] for r in store.read_replay().collect()}
    assert got == {1}  # the unpointed version is invisible


class TestStreamHeavyHitters:
    def test_matches_exact_python_simulation(self, spark, sf_dir):
        """The drained Space-Saving state must equal an exact Python
        simulation of the same recurrence over the same two batches
        (the C50 rows-only pattern), and the SS guarantees must hold
        against exact counts: est >= true and est - err <= true."""
        from collections import Counter, defaultdict

        from greenplum_cdc_spark.io import load_table
        from greenplum_cdc_spark.streaming import stateful as S

        docs = {
            r["doc_id"]: [w for w in r["text"].split(" ") if w != ""]
            for r in load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .collect()
        }
        n_docs = len(docs)
        half = n_docs // 2
        import hashlib

        def bucket(w):
            return int(hashlib.md5(w.encode()).hexdigest()[:6], 16) % S.SS_BUCKETS

        sim: dict[int, dict] = defaultdict(dict)
        for batch_ids in (
            [d for d in docs if d < half],
            [d for d in docs if d >= half],
        ):
            agg = Counter()
            for did in batch_ids:
                agg.update(docs[did])
            per_bucket = defaultdict(list)
            for w in sorted(agg):
                per_bucket[bucket(w)].append((w, agg[w]))
            for b, items in per_bucket.items():
                for w, cnt in items:  # sorted order, like the operator
                    S._ss_fold(sim[b], w, cnt)

        got = {
            (r["bucket"], r["word"]): (r["est_count"], r["err"])
            for r in S.stream_heavy_hitters_query(spark, sf_dir).collect()
        }
        expect = {
            (b, w): cnts for b, tbl in sim.items() for w, cnts in tbl.items()
        }
        assert got == expect

        truth = Counter()
        for toks in docs.values():
            truth.update(toks)
        for (b, w), (est, err) in got.items():
            assert est >= truth[w]
            assert est - err <= truth[w]

    def test_eviction_rule_is_deterministic(self):
        """Direct recurrence check with forced evictions: the minimum
        counter goes, ties evict the lexicographically smallest word,
        and the newcomer inherits the evicted count as error."""
        from greenplum_cdc_spark.streaming import stateful as S

        counters: dict = {}
        for i in range(S.SS_K):
            S._ss_fold(counters, f"w{i:02d}", 1)
        assert len(counters) == S.SS_K
        # all counts equal 1 -> eviction tie -> 'w00' (lexicographic min)
        S._ss_fold(counters, "zzz", 3)
        assert "w00" not in counters
        assert counters["zzz"] == (1 + 3, 1)  # inherits min count as err
        assert len(counters) == S.SS_K
