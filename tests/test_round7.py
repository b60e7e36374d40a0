"""Round-7 additions:

- crc32c_many (numpy slicing-by-8 lanes + GF(2) combine tree) pinned
  bit-for-bit to the scalar reference crc32c and the spec check value;
- encode_record_batches == per-batch encode_record_batch bytes;
- scd2_merge_fn's per-key watermark sidecar: explicit state beside the
  versions, guard reads O(keys) not O(history), rollback on late batch;
- ReplicaStore append-mode commits: immutable partitions are linked,
  not rewritten (closed-row bytes written exactly once across batches).
"""

from __future__ import annotations

import random

import pytest


class TestCrc32cMany:
    def test_spec_check_value(self):
        from greenplum_cdc_spark.sources.kafka_wire import crc32c, crc32c_many

        # the published CRC-32C check value for ASCII "123456789"
        assert crc32c(b"123456789") == 0xE3069283
        assert crc32c_many([b"123456789"]) == [0xE3069283]

    def test_matches_scalar_on_random_buffers(self):
        from greenplum_cdc_spark.sources.kafka_wire import (
            _CHUNK,
            crc32c,
            crc32c_many,
        )

        rng = random.Random(1701)
        sizes = [4, 5, 13, _CHUNK - 1, _CHUNK, _CHUNK + 1, 1000, 4096, 70001]
        bufs = [
            bytes(rng.randrange(256) for _ in range(rng.choice(sizes)))
            for _ in range(50)
        ]
        assert crc32c_many(bufs) == [crc32c(b) for b in bufs]

    def test_tiny_buffer_fallback(self):
        from greenplum_cdc_spark.sources.kafka_wire import crc32c, crc32c_many

        tiny = [b"", b"a", b"ab", b"abc"]
        assert crc32c_many(tiny) == [crc32c(b) for b in tiny]
        assert crc32c_many([]) == []

    def test_batched_encoder_bytes_identical(self):
        from greenplum_cdc_spark.sources.kafka_wire import (
            encode_record_batch,
            encode_record_batches,
        )

        specs = [
            (0, 1000, [(0, 0, b"k0", b"v0"), (1, 5, None, b"v1")]),
            (2, 2000, [(0, 0, b"k2", None)]),
            (3, 3000, [(i, i, f"k{i}".encode(), b"x" * i) for i in range(40)]),
        ]
        batched = encode_record_batches(specs)
        singles = [encode_record_batch(*s) for s in specs]
        assert batched == singles

    def test_corrupt_byte_still_raises(self):
        """The batched-verify path must reject a flipped byte anywhere
        in any batch of a segment (CRC comparison happens per batch
        even though the CRCs are computed in one vectorized pass)."""
        from greenplum_cdc_spark.sources.kafka_wire import (
            KafkaWireError,
            decode_segment,
            encode_record_batch,
        )

        seg = encode_record_batch(
            0, 0, [(0, 0, b"k", b"hello")]
        ) + encode_record_batch(1, 10, [(0, 0, b"k2", b"world")])
        assert len(decode_segment(seg)) == 2
        corrupt = bytearray(seg)
        corrupt[-3] ^= 0x40  # inside the second batch's value bytes
        with pytest.raises(KafkaWireError, match="CRC32C mismatch"):
            decode_segment(bytes(corrupt))


class TestReplicaStoreMixedLineage:
    def test_plain_and_append_commits_interleave(self, spark, tmp_path):
        """A store may freely mix full-snapshot and append-mode
        commits: a plain commit resets the manifest (its df IS the full
        table), an append commit links prior segments plus its own;
        time travel sees exactly each version's linked segments; vacuum
        GCs a segment only when NO retained version links it."""
        import os

        from greenplum_cdc_spark.streaming.pipeline import ReplicaStore

        def df(*vals):
            return spark.createDataFrame([(v,) for v in vals], "x int")

        store = ReplicaStore(spark, str(tmp_path / "rep"))
        store.commit(df(1))  # v1: plain
        store.commit(df(2), append=df(10))  # v2: base {2} + seg {10}
        store.commit(df(3), append=df(20))  # v3: base {3} + segs {10,20}
        assert sorted(r["x"] for r in store.read(version=2).collect()) == [2, 10]
        assert sorted(r["x"] for r in store.read(version=3).collect()) == [3, 10, 20]
        store.commit(df(4))  # v4: plain again -> manifest resets
        assert [r["x"] for r in store.read().collect()] == [4]
        # v1..v2 dropped: seg b000002 ({10}) still linked by v3 -> kept
        store.vacuum(keep_last=2)
        assert sorted(r["x"] for r in store.read(version=3).collect()) == [3, 10, 20]
        seg_root = os.path.join(store.path, "seg")
        assert sorted(os.listdir(seg_root)) == ["b000002", "b000003"]
        # drop v3 too: both segments now unreferenced -> GC'd
        store.vacuum(keep_last=1)
        assert os.listdir(seg_root) == []
        assert [r["x"] for r in store.read().collect()] == [4]


class TestAppendCommitCrashRetry:
    def test_replayed_batch_overwrites_its_own_half_written_segment(
        self, spark, tmp_path
    ):
        """At-least-once recovery: a crash BETWEEN segment write and
        pointer flip leaves an orphaned seg dir named for the never-
        committed version; the replayed batch must overwrite it (the
        name is deterministic per target version) and commit cleanly —
        never fail on the leftover, never double-count its rows."""
        import os

        from greenplum_cdc_spark.streaming.pipeline import ReplicaStore

        def df(*vals):
            return spark.createDataFrame([(v,) for v in vals], "x int")

        store = ReplicaStore(spark, str(tmp_path / "rep"))
        store.commit(df(1), append=df(10))  # v1
        # simulate the crash: segment for v2 written, pointer NOT
        # flipped (half-written = wrong content to make overwrite
        # observable)
        df(999, 998).write.parquet(os.path.join(store.path, "seg", "b000002"))
        assert store.current_version() == 1
        # the replayed batch commits the REAL v2
        store.commit(df(2), append=df(20))
        assert store.current_version() == 2
        vals = sorted(r["x"] for r in store.read().collect())
        assert vals == [2, 10, 20]  # no 999/998 ghosts, no duplicates


class TestWal2JsonV2MultiChange:
    def test_gated_row_orders_intra_txn_changes(self, spark):
        """The gated v2 entry now carries [B, I, U, C] transactions —
        the I and the U hit the SAME key in the SAME txn, so ONLY the
        offset-derived change_idx can rank them. Pin: every revision
        row ('revised') has change_idx exactly its txn's I + 1, and the
        per-key latest-wins winner under (ts, xid, change_idx) is the
        U, never the I."""
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.plans.cdc_queries import (
            wal2json_v2_parse_events,
        )

        out = wal2json_v2_parse_events(spark, "/root/testdata/sf0.001")
        rev = out.filter(F.col("event_type") == "revised")
        assert rev.count() > 0
        pairs = (
            out.filter(F.col("xid") % 100 == 0)
            .groupBy("xid")
            .agg(
                F.max_by("event_type", "change_idx").alias("winner"),
                F.count("*").alias("n"),
            )
        )
        multi = pairs.filter(F.col("n") == 2)
        assert multi.count() == rev.count()
        assert multi.filter(F.col("winner") != "revised").count() == 0


class TestAsofNearestJoin:
    def test_direction_and_tie_semantics(self, spark):
        """Hand-built fixture: nearer-forward picks forward, nearer-
        backward picks backward, exact tie prefers backward, same-
        instant order is a zero-distance backward match, no-order key
        yields NULLs. Drives the production staircase directly."""
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.operators import timeseries as ts

        # monkeypatch-free: replicate the operator's core on a fixture
        # via the same code path by writing fixture tables to a temp
        # sf_dir is heavyweight; instead pin the operator's OUTPUT on
        # sf0.001 against per-row recomputation in python
        out = ts.asof_nearest_join(spark, "/root/testdata/sf0.001")
        rows = out.collect()
        assert len(rows) == 1000
        from greenplum_cdc_spark.io import load_table

        orders = (
            load_table(spark, "/root/testdata/sf0.001", "orders")
            .groupBy("o_custkey", "o_orderdate")
            .agg(F.max("o_orderkey").alias("okey"))
            .collect()
        )
        by_user = {}
        for r in orders:
            by_user.setdefault(r["o_custkey"], []).append(
                (r["o_orderdate"], r["okey"])
            )
        import datetime

        n_fwd = n_back = 0
        for r in rows:
            cands = by_user.get(r["user_id"], [])
            if not cands:
                assert r["direction"] is None and r["dist_us"] is None
                continue
            at = r["at_ts"]
            best = min(
                cands,
                key=lambda c: (
                    abs(
                        datetime.datetime.combine(c[0], datetime.time())
                        - at
                    ),
                    # tie -> earlier date (backward)
                    datetime.datetime.combine(c[0], datetime.time()) > at,
                ),
            )
            assert r["nearest_orderdate"] == best[0], (r, best)
            assert r["nearest_orderkey"] == best[1]
            exp_dist = abs(
                int(
                    (
                        datetime.datetime.combine(best[0], datetime.time())
                        - at
                    ).total_seconds()
                    * 1_000_000
                )
            )
            assert r["dist_us"] == exp_dist
            if r["direction"] == "forward":
                n_fwd += 1
            else:
                n_back += 1
        # the fixture corpus must actually exercise both directions
        assert n_fwd > 0 and n_back > 0


def _py_chunks(text: str):
    """Pure-python INDEPENDENT twin of the C97 Gear boundary rule
    (same W/multiplier/modulus/threshold, scalar loop — no numpy, no
    shared code with the operator's vectorized _gear_bounds_py)."""
    from greenplum_cdc_spark.operators.text import (
        _CDC_G_MULT,
        _CDC_MOD,
        _CDC_THRESH,
        _CDC_W,
    )

    def is_boundary(p: int) -> bool:  # p is a 1-indexed end position
        h = sum(
            (1 << j) * ((ord(text[p - 1 - j]) * _CDC_G_MULT) % _CDC_MOD)
            for j in range(_CDC_W)
        )
        return h % _CDC_MOD < _CDC_THRESH

    ends = [p for p in range(_CDC_W, len(text) + 1) if is_boundary(p)]
    if not ends or ends[-1] != len(text):
        ends.append(len(text))
    out, s = [], 0
    for e in ends:
        out.append(text[s:e])
        s = e
    return out


class TestContentDefinedChunking:
    def test_insertion_stability(self):
        """THE content-defined property (why CDC beats fixed-size
        chunking for dedup): editing the head of a document leaves the
        chunk set after the first post-edit boundary IDENTICAL, so a
        chunk store re-uploads O(edit), not O(doc). Fixed-size
        chunking shifts every later chunk."""
        import random

        rng = random.Random(99)
        words = ["alpha", "bravo", "charlie", "delta", "echo", "fox"]
        text = " ".join(rng.choice(words) for _ in range(600))
        edited = "INSERTED PREFIX " + text
        a, b = _py_chunks(text), _py_chunks(edited)
        # the tails converge: a long common suffix of chunks survives
        n_common = 0
        while (
            n_common < min(len(a), len(b))
            and a[-1 - n_common] == b[-1 - n_common]
        ):
            n_common += 1
        assert n_common >= len(a) - 3, (len(a), len(b), n_common)
        # fixed-size chunking of the same edit shares NO tail chunks
        fixed_a = [text[i : i + 64] for i in range(0, len(text), 64)]
        fixed_b = [edited[i : i + 64] for i in range(0, len(edited), 64)]
        assert fixed_a[-1] != fixed_b[-1] or fixed_a[-2] != fixed_b[-2]

    def test_conservation_and_python_twin(self, spark):
        """Operator output conserves bytes (per-source total_chars ==
        sum of doc lengths) and matches the pure-python chunker's
        chunk count on a sampled source."""
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.io import load_table
        from greenplum_cdc_spark.operators.text import (
            content_defined_chunking,
        )

        sf = "/root/testdata/sf0.001"
        out = {
            r["source"]: r
            for r in content_defined_chunking(spark, sf).collect()
        }
        docs = load_table(spark, sf, "documents")
        truth = {
            r["source"]: r["total"]
            for r in docs.groupBy("source")
            .agg(F.sum(F.length("text")).alias("total"))
            .collect()
        }
        assert set(out) == set(truth)
        for src, r in out.items():
            assert r["total_chars"] == truth[src]
            assert r["n_unique_chunks"] <= r["n_chunks"]
            assert r["unique_chars"] <= r["total_chars"]
        # python-twin chunk count for one source
        src0 = sorted(out)[0]
        texts = [
            r["text"]
            for r in docs.filter(F.col("source") == src0).collect()
        ]
        assert out[src0]["n_chunks"] == sum(len(_py_chunks(t)) for t in texts)


class TestStreamNearestJoin:
    def _run(self, spark, tmp_path, batches):
        """Drive the REAL state machine over explicit micro-batches."""
        import os

        from greenplum_cdc_spark.streaming.stateful import (
            run_stream_nearest,
        )

        feed_dir = str(tmp_path / "feed")
        os.makedirs(feed_dir)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "k long, ts_us long, seq long, kind int"
            )
            p = os.path.join(feed_dir, f"_b={i}")
            df.coalesce(1).write.parquet(p)
            for f in os.listdir(p):
                os.utime(
                    os.path.join(p, f), (1_700_000_000 + i, 1_700_000_000 + i)
                )
        out = run_stream_nearest(
            spark,
            feed_dir + "/_b=*",
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
        )
        return {r["probe_id"]: r for r in out.collect()}

    def test_cross_batch_forward_resolution(self, spark, tmp_path):
        """A probe pending at the end of batch 1 must be resolved by a
        quote arriving in batch 2 — through state, not within one
        window. Horizon expiry and zero-distance immediate emission
        also pinned; a probe the stream cannot yet decide stays
        unemitted."""
        from greenplum_cdc_spark.streaming.stateful import _NEAR_H_US

        H = _NEAR_H_US
        b1 = [
            (1, 1_000, 10, 1),        # quote q10 @1000
            (1, 5_000, 1, 0),         # probe p1 @5000
        ]
        b2 = [
            (1, 6_000, 11, 1),        # quote q11: p1 -> forward (1000)
            (1, 6_000 + 2 * H, 3, 0), # far probe p3: also expires nothing
            (1, 6_000 + 2 * H, 12, 1),  # same-instant quote for p3 -> dist 0
            (1, 7_000 + 4 * H, 4, 0),  # probe p4: back=q12 dist > H ->
                                        # pends, never resolved (unemitted)
        ]
        got = self._run(spark, tmp_path, [b1, b2])
        assert got[1]["direction"] == "forward"
        assert got[1]["matched_qid"] == 11 and got[1]["dist_us"] == 1_000
        # p3 zero-distance backward (same-instant quote sorts first)
        assert got[3]["direction"] == "backward"
        assert got[3]["matched_qid"] == 12 and got[3]["dist_us"] == 0
        # p4 undecidable at drain -> unemitted
        assert 4 not in got

    def test_horizon_expiry_emits_no_match_row(self, spark, tmp_path):
        """A probe with no quote within H on either side resolves as an
        explicit no-match row once ANY row passes its horizon — in a
        LATER batch, through state."""
        from greenplum_cdc_spark.streaming.stateful import _NEAR_H_US

        H = _NEAR_H_US
        b1 = [(1, 1_000, 1, 0)]  # probe, no quotes at all
        b2 = [(1, 1_000 + H + 1, 2, 0)]  # any row past the horizon
        got = self._run(spark, tmp_path, [b1, b2])
        assert got[1]["direction"] is None
        assert got[1]["matched_qid"] is None and got[1]["dist_us"] is None
        assert 2 not in got  # the second probe is itself undecided

    def test_backward_wins_exact_tie(self, spark, tmp_path):
        b1 = [
            (1, 1_000, 10, 1),   # quote
            (1, 2_000, 1, 0),    # probe equidistant (1000 both sides)
            (1, 3_000, 11, 1),   # quote
        ]
        got = self._run(spark, tmp_path, [b1])
        assert got[1]["direction"] == "backward"
        assert got[1]["matched_qid"] == 10

    def test_idle_key_resolves_via_event_time_timer(self, spark, tmp_path):
        """Round 8: key 1 sends ONE quote + ONE probe in batch 1 and
        then goes silent forever; batch 2 carries ONLY key-2 traffic.
        The event-time timer (armed at key 1's oldest horizon, fired by
        the watermark key 2 advances) must flush key 1's pending probe
        as backward-only — under the r7 NoTimeout build this probe
        could never emit, leaking its state for the stream's lifetime."""
        from greenplum_cdc_spark.streaming.stateful import _NEAR_H_US

        H = _NEAR_H_US
        b1 = [
            (1, 1_000, 10, 1),       # key-1 quote (backward candidate)
            (1, 500_000, 1, 0),      # key-1 probe: pends (no forward yet)
            (2, 600_000, 20, 1),     # key-2 noise
        ]
        b2 = [  # ONLY key-2 rows: watermark sails past key 1's horizon
            (2, 500_000 + 3 * H, 21, 1),
            (2, 500_000 + 3 * H, 2, 0),  # same-instant: resolves dist 0
        ]
        got = self._run(spark, tmp_path, [b1, b2])
        assert got[1]["direction"] == "backward"
        assert got[1]["matched_qid"] == 10
        assert got[1]["dist_us"] == 499_000
        # key 2's own zero-distance resolution unaffected by the timer
        assert got[2]["direction"] == "backward" and got[2]["dist_us"] == 0

    def test_idle_key_no_match_flush_and_state_removal(self, spark, tmp_path):
        """A quote-less idle key flushes an explicit no-match row on
        timer fire; replaying MORE traffic for it afterwards behaves
        as a fresh key (state was removed, not wedged)."""
        from greenplum_cdc_spark.streaming.stateful import _NEAR_H_US

        H = _NEAR_H_US
        b1 = [(1, 1_000, 1, 0), (2, 2_000, 20, 1)]   # key-1 probe, no quote
        b2 = [(2, 2_000 + 2 * H, 21, 1)]             # key-2 only: fires timer
        b3 = [  # key 1 returns long after: must act like a fresh key
            (1, 3_000 + 4 * H, 11, 1),
            (1, 3_000 + 4 * H, 3, 0),   # same-instant: resolves dist 0
        ]
        got = self._run(spark, tmp_path, [b1, b2, b3])
        assert got[1]["direction"] is None          # timer-flushed no-match
        assert got[1]["matched_qid"] is None
        assert got[3]["direction"] == "backward"    # fresh-state resolution
        assert got[3]["matched_qid"] == 11 and got[3]["dist_us"] == 0


class TestMixtureTemperature:
    def test_weight_semantics(self, spark):
        """Per alpha: weights sum to 1; alpha=1 is natural frequency
        (weight proportional to tokens, epochs == 1 for every domain);
        cooler temperatures COMPRESS the spread (max/min weight ratio
        strictly decreases as alpha drops) while preserving the domain
        ranking."""
        from greenplum_cdc_spark.operators.text import mixture_temperature

        rows = mixture_temperature(spark, "/root/testdata/sf0.001").collect()
        by_alpha = {}
        for r in rows:
            by_alpha.setdefault(r["alpha"], []).append(r)
        assert set(by_alpha) == {"1.0", "0.5", "0.25"}
        spreads = {}
        for alpha, rs in by_alpha.items():
            total_w = sum(r["weight"] for r in rs)
            assert abs(total_w - 1.0) < 1e-12
            ws = sorted(r["weight"] for r in rs)
            spreads[alpha] = ws[-1] / ws[0]
            # ranking by weight == ranking by tokens at every alpha
            assert [
                x["source"] for x in sorted(rs, key=lambda r: -r["weight"])
            ] == [x["source"] for x in sorted(rs, key=lambda r: (-r["tokens"], r["source"]))]
        for r in by_alpha["1.0"]:
            assert abs(r["epochs"] - 1.0) < 1e-12
        assert spreads["1.0"] > spreads["0.5"] > spreads["0.25"] >= 1.0


class TestScd2WatermarkState:
    def _ev(self, spark, pk, us, seq, op="insert"):
        import pyspark.sql.functions as F

        return spark.createDataFrame(
            [(pk, us, seq, op, 1.0, "view")],
            "pk long, us long, seq long, op string, value double,"
            " event_type string",
        ).select(
            "pk",
            F.timestamp_micros(F.col("us")).alias("ts"),
            "seq", "op", "value", "event_type",
        )

    def test_sidecar_written_and_versioned(self, spark, tmp_path):
        """Every successful merge commits a per-key watermark sidecar
        beside the version it belongs to; the guard reads that state,
        never the version history."""
        import os

        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            _scd2_wm_path,
            scd2_merge_fn,
        )

        store = ReplicaStore(spark, str(tmp_path / "rep"))
        merge = scd2_merge_fn(store)
        merge(self._ev(spark, 1, 2_000_000_000, 5), 0)
        merge(self._ev(spark, 1, 3_000_000_000, 6), 1)
        assert os.path.isdir(_scd2_wm_path(store, 1))
        assert os.path.isdir(_scd2_wm_path(store, 2))
        wm = spark.read.parquet(_scd2_wm_path(store, 2)).collect()
        assert len(wm) == 1
        assert wm[0]["_wm_seq"] == 6

    def test_late_batch_leaves_no_trace(self, spark, tmp_path):
        """The guard runs PRE-commit over the persisted batch frame: a
        late batch leaves pointer, versions, segments and sidecar all
        byte-for-byte untouched."""
        import os

        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            _scd2_wm_path,
            scd2_merge_fn,
        )

        store = ReplicaStore(spark, str(tmp_path / "rep"))
        merge = scd2_merge_fn(store)
        merge(self._ev(spark, 1, 2_000_000_000, 5), 0)
        segs_before = sorted(
            os.listdir(os.path.join(store.path, "seg"))
        ) if os.path.isdir(os.path.join(store.path, "seg")) else []
        with pytest.raises(ValueError, match="out-of-order"):
            merge(self._ev(spark, 1, 1_000_000_000, 6), 1)
        assert store.current_version() == 1
        assert not os.path.isdir(os.path.join(store.path, "v=2"))
        assert not os.path.isdir(_scd2_wm_path(store, 2))
        segs_after = sorted(
            os.listdir(os.path.join(store.path, "seg"))
        ) if os.path.isdir(os.path.join(store.path, "seg")) else []
        assert segs_after == segs_before
        # and the store still accepts in-order events afterwards
        merge(self._ev(spark, 1, 3_000_000_000, 7), 2)
        assert store.read().count() == 2

    def test_dead_key_repeat_delete_tightens_watermark(self, spark, tmp_path):
        """The sidecar records EVERY delivered event — including a
        repeat delete on a dead key, which emits no version row. A
        history-derived watermark would forget that delete; the state
        form must refuse an event older than it."""
        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            scd2_merge_fn,
        )

        store = ReplicaStore(spark, str(tmp_path / "rep"))
        merge = scd2_merge_fn(store)
        merge(
            self._ev(spark, 1, 100_000_000, 1).unionByName(
                self._ev(spark, 1, 200_000_000, 2, "delete")
            ),
            0,
        )
        # second delete at t=400s on the already-dead key: no version
        # row, but the watermark must advance to 400s
        merge(self._ev(spark, 1, 400_000_000, 3, "delete"), 1)
        assert store.read().filter("is_current").count() == 0
        with pytest.raises(ValueError, match="out-of-order"):
            merge(self._ev(spark, 1, 300_000_000, 4), 2)

    def test_closed_rows_written_exactly_once(self, spark, tmp_path):
        """Append-mode commits: every closed SCD2 version's bytes land
        in ONE write-once segment and are never rewritten by later
        batches — segment files' (name, size, mtime) stay identical
        across N further commits; only the open-slice base and the
        key-state sidecar are rewritten per batch. And the logical
        table (read = base ∪ segments) still equals the one-shot
        window over all events."""
        import os

        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            scd2_merge_fn,
        )

        def fingerprint(root):
            out = {}
            for dirpath, _dirs, files in os.walk(root):
                for fn in files:
                    p = os.path.join(dirpath, fn)
                    st = os.stat(p)
                    out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
            return out

        store = ReplicaStore(spark, str(tmp_path / "rep"))
        merge = scd2_merge_fn(store)
        seen: dict[str, dict] = {}
        # 4 batches, each closing the prior version of both keys
        for b in range(4):
            batch = self._ev(spark, 1, (b + 1) * 1_000_000_000, b).unionByName(
                self._ev(spark, 2, (b + 1) * 1_000_000_000 + 5, 100 + b)
            )
            merge(batch, b)
            seg_root = os.path.join(store.path, "seg")
            for d in os.listdir(seg_root):
                fp = fingerprint(os.path.join(seg_root, d))
                if d in seen:
                    assert fp == seen[d], f"segment {d} was rewritten"
                seen[d] = fp
        # logical equivalence with the one-shot lead window
        res = store.read()
        assert res.count() == 8  # 4 versions x 2 keys
        assert res.filter("is_current").count() == 2
        closed = res.filter("NOT is_current").count()
        assert closed == 6
        # time travel still consistent: version 2 saw 2 batches
        v2 = store.read(version=2)
        assert v2.count() == 4 and v2.filter("is_current").count() == 2

    def test_vacuum_keeps_referenced_segments(self, spark, tmp_path):
        """vacuum() drops old version dirs but never a segment still
        linked by a retained version's manifest; fully unreferenced
        segments are garbage-collected."""
        import os

        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            scd2_merge_fn,
        )

        store = ReplicaStore(spark, str(tmp_path / "rep"))
        merge = scd2_merge_fn(store)
        for b in range(4):
            merge(self._ev(spark, 1, (b + 1) * 1_000_000_000, b), b)
        removed = store.vacuum(keep_last=2)
        assert removed == [1, 2]
        # all 4 segments still referenced by v3/v4 manifests -> intact
        assert store.read().count() == 4
        assert store.read(version=3).count() == 3

    def test_history_fallback_when_sidecar_missing(self, spark, tmp_path):
        """A store that predates the sidecar (or lost it in a crash)
        still guards correctly: the watermark falls back to the
        history derivation."""
        import shutil

        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            _scd2_wm_path,
            scd2_merge_fn,
        )

        store = ReplicaStore(spark, str(tmp_path / "rep"))
        merge = scd2_merge_fn(store)
        merge(self._ev(spark, 1, 2_000_000_000, 5), 0)
        shutil.rmtree(_scd2_wm_path(store, 1))
        with pytest.raises(ValueError, match="out-of-order"):
            merge(self._ev(spark, 1, 1_000_000_000, 6), 1)
        merge(self._ev(spark, 1, 3_000_000_000, 7), 2)
        assert store.read().count() == 2
