"""Round-6 hardening tests (VERDICT r5 items 6-8 + ADVICE r5 fixes):

- the demo.py storyline is CI-pinned (item 6);
- the kafka record contract is proven against WIRE bytes — a
  spec-derived RecordBatch v2 golden blob decoded by the pure-stdlib
  decoder, reshaped into the connector's record frame, and parsed by
  the SAME `_kafka_to_lines` → `parse_maxwell` path (item 7);
- stream_heavy_hitters' serialized state is bounded under adversarial
  long words (item 8);
- wal2json v2 requires an offset for multi-change ordering and uses it
  deterministically (ADVICE medium);
- the AMQP drain survives content frames arriving slower than the idle
  timeout and stays frame-aligned (ADVICE low).
"""

from __future__ import annotations

import json
import os
import socket
import struct
import sys
import threading
import time

import pytest

from greenplum_cdc_spark.sources.kafka_wire import (
    KafkaWireError,
    crc32c,
    decode_record_batch,
    encode_zigzag,
    records_to_frame,
)


# --- golden-batch builder ------------------------------------------------
# Deliberately INDEPENDENT of sources/kafka_wire.py's encoder: these
# bytes are derived from the public spec by a second implementation, so
# decoder and encoder are both pinned against something that can't
# share their bugs (test_module_encoder_matches_independent_builder
# closes the triangle).


def _encode_record(
    offset_delta: int,
    ts_delta: int,
    key: bytes | None,
    value: bytes | None,
    headers=(),
) -> bytes:
    body = b"\x00"  # record attributes
    body += encode_zigzag(ts_delta)
    body += encode_zigzag(offset_delta)
    if key is None:
        body += encode_zigzag(-1)
    else:
        body += encode_zigzag(len(key)) + key
    if value is None:
        body += encode_zigzag(-1)
    else:
        body += encode_zigzag(len(value)) + value
    body += encode_zigzag(len(headers))
    for hk, hv in headers:
        hkb = hk.encode()
        body += encode_zigzag(len(hkb)) + hkb
        if hv is None:
            body += encode_zigzag(-1)
        else:
            body += encode_zigzag(len(hv)) + hv
    return encode_zigzag(len(body)) + body


def build_record_batch(
    base_offset: int,
    base_ts: int,
    records: list[tuple],
    attributes: int = 0,
) -> bytes:
    """records: list of (offset_delta, ts_delta, key, value) tuples."""
    recs = b"".join(_encode_record(*r) for r in records)
    last_delta = max((r[0] for r in records), default=0)
    max_ts = base_ts + max((r[1] for r in records), default=0)
    post_crc = struct.pack(
        ">hiqqqhii",
        attributes,
        last_delta,
        base_ts,
        max_ts,
        -1,  # producerId (none)
        -1,  # producerEpoch
        -1,  # baseSequence
        len(records),
    ) + recs
    crc = crc32c(post_crc)
    body = struct.pack(">ibI", 0, 2, crc) + post_crc  # leaderEpoch, magic, crc
    return struct.pack(">qi", base_offset, len(body)) + body


MAXWELL_VALUES = [
    b'{"database": "appdb", "table": "album", "type": "insert",'
    b' "ts": 1704067200, "xid": 1, "data": {"id": "1", "title": "a"}}',
    b'{"database": "appdb", "table": "album", "type": "update",'
    b' "ts": 1704067201, "xid": 2, "data": {"id": "1", "title": "b"}}',
    b'{"database": "appdb", "table": "album", "type": "delete",'
    b' "ts": 1704067202, "xid": 3, "data": {"id": "2"}}',
]


class TestKafkaWireGoldenBytes:
    def _golden(self) -> bytes:
        return build_record_batch(
            base_offset=100,
            base_ts=1_704_067_200_000,
            records=[
                (i, i * 1000, f"k{i}".encode(), v)
                for i, v in enumerate(MAXWELL_VALUES)
            ],
        )

    def test_decode_offsets_timestamps_keys_values(self):
        recs = decode_record_batch(self._golden())
        assert [r["offset"] for r in recs] == [100, 101, 102]
        assert [r["timestamp"] for r in recs] == [
            1_704_067_200_000,
            1_704_067_201_000,
            1_704_067_202_000,
        ]
        assert [r["key"] for r in recs] == [b"k0", b"k1", b"k2"]
        assert [r["value"] for r in recs] == MAXWELL_VALUES

    def test_null_key_and_headers_roundtrip(self):
        batch = build_record_batch(
            0, 0, [(0, 0, None, b"v")]
        )
        # headers variant built by hand through _encode_record
        rec = _encode_record(0, 0, None, b"v", headers=[("h", b"x"), ("n", None)])
        post = struct.pack(">hiqqqhii", 0, 0, 0, 0, -1, -1, -1, 1) + rec
        blob = (
            struct.pack(">qi", 0, 4 + 1 + 4 + len(post))
            + struct.pack(">ibI", 0, 2, crc32c(post))
            + post
        )
        recs = decode_record_batch(batch)
        assert recs[0]["key"] is None and recs[0]["value"] == b"v"
        recs2 = decode_record_batch(blob)
        assert recs2[0]["headers"] == [("h", b"x"), ("n", None)]

    def test_crc_tamper_rejected(self):
        blob = bytearray(self._golden())
        blob[-1] ^= 0xFF  # flip a bit in the last record's value
        with pytest.raises(KafkaWireError, match="CRC32C mismatch"):
            decode_record_batch(bytes(blob))

    def test_bad_magic_rejected(self):
        blob = bytearray(self._golden())
        blob[16] = 1  # magic byte (offset 8+4+4)
        with pytest.raises(KafkaWireError, match="magic"):
            decode_record_batch(bytes(blob))

    def test_compressed_batch_rejected(self):
        blob = build_record_batch(
            0, 0, [(0, 0, None, b"v")], attributes=2  # snappy bit
        )
        with pytest.raises(KafkaWireError, match="compressed"):
            decode_record_batch(blob)

    def test_truncation_rejected(self):
        blob = self._golden()
        with pytest.raises(KafkaWireError):
            decode_record_batch(blob[:-3])

    def test_crc32c_known_vector(self):
        # public check value: CRC32C("123456789") == 0xE3069283
        assert crc32c(b"123456789") == 0xE3069283

    def test_module_encoder_matches_independent_builder(self):
        from greenplum_cdc_spark.sources.kafka_wire import (
            encode_record_batch,
        )

        records = [
            (i, i * 1000, f"k{i}".encode(), v)
            for i, v in enumerate(MAXWELL_VALUES)
        ]
        assert encode_record_batch(
            100, 1_704_067_200_000, records
        ) == build_record_batch(100, 1_704_067_200_000, records)

    def test_wire_records_drive_the_production_decode_path(self, spark):
        from greenplum_cdc_spark.sources.bus import (
            _kafka_to_lines,
            kafka_record_double,
        )
        from greenplum_cdc_spark.sources.maxwell import parse_maxwell

        recs = decode_record_batch(self._golden())
        frame = records_to_frame(spark, recs, topic="maxwell", partition=0)
        # the wire frame and the CI double expose the IDENTICAL column
        # set — the contract the double exists to mirror
        double = kafka_record_double(
            spark.createDataFrame([("x",)], "line string")
        )
        assert frame.columns == double.columns
        typed = parse_maxwell(_kafka_to_lines(frame))
        rows = {
            (r["op"], r["data"]["id"] if r["data"] else None)
            for r in typed.collect()
        }
        assert rows == {("insert", "1"), ("update", "1"), ("delete", "2")}


class TestKafkaSegments:
    def test_segment_roundtrip_multiple_batches(self):
        from greenplum_cdc_spark.sources.kafka_wire import (
            decode_segment,
            encode_record_batch,
            iter_record_batches,
        )

        seg = encode_record_batch(
            0, 1000, [(i, i, None, f"v{i}".encode()) for i in range(3)]
        ) + encode_record_batch(
            3, 2000, [(i, 0, b"k", f"w{i}".encode()) for i in range(2)]
        )
        assert len(list(iter_record_batches(seg))) == 2
        recs = decode_segment(seg)
        assert [r["offset"] for r in recs] == [0, 1, 2, 3, 4]
        assert recs[0]["value"] == b"v0" and recs[4]["value"] == b"w1"
        assert recs[3]["key"] == b"k" and recs[0]["key"] is None

    def test_truncated_segment_rejected(self):
        from greenplum_cdc_spark.sources.kafka_wire import (
            KafkaWireError,
            decode_segment,
            encode_record_batch,
        )

        seg = encode_record_batch(0, 0, [(0, 0, None, b"v")])
        with pytest.raises(KafkaWireError):
            decode_segment(seg + b"\x00\x01\x02")  # trailing garbage
        with pytest.raises(KafkaWireError):
            decode_segment(seg[:-2])  # ends mid-batch

    def test_segment_replay_lands_typed_rows(self, spark):
        from greenplum_cdc_spark.plans.cdc_queries import (
            _KSEG_MOD,
            kafka_segment_replay,
        )

        rows = kafka_segment_replay(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows
        assert all(r["offset"] == r["event_id"] for r in rows)
        assert all(r["event_id"] % _KSEG_MOD == 0 for r in rows)
        assert {r["op"] for r in rows} <= {"insert", "delete"}


# --- item 8: heavy-hitters state stays bounded under long words ---------


class TestHeavyHitterStateBound:
    def test_norm_word_properties(self):
        from greenplum_cdc_spark.streaming.stateful import (
            _SS_MAX_WORD,
            _ss_norm_word,
        )

        assert _ss_norm_word("short") == "short"
        exact = "x" * _SS_MAX_WORD
        assert _ss_norm_word(exact) == exact
        long_a = "a" * 5000
        long_b = "a" * 5000 + "b"
        na, nb = _ss_norm_word(long_a), _ss_norm_word(long_b)
        assert len(na) == len(nb) == _SS_MAX_WORD
        assert na != nb  # digest keeps distinct words distinct
        assert na == _ss_norm_word(long_a)  # deterministic

    def test_adversarial_long_words_bounded_and_exact(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.io import shuffle_partitions
        from greenplum_cdc_spark.streaming.stateful import (
            _SS_MAX_WORD,
            SS_K,
            _ss_fold,
            _ss_norm_word,
            stream_heavy_hitters,
        )

        # 40 distinct 4-8 KB words with skewed counts: state would be
        # ~200 KB per bucket without the bound, ~1 KB with it
        words = [("w" * 4000) + f"-{i:03d}" + ("y" * (i * 100)) for i in range(40)]
        counts = [(w, (i % 7) + 1) for i, w in enumerate(words)]
        feed = tmp_path / "feed"
        spark.createDataFrame(counts, "word string, cnt long").coalesce(
            1
        ).write.parquet(str(feed))
        stream = (
            spark.readStream.schema("word string, cnt long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        sink = "hh_bound_sink"
        with shuffle_partitions(spark, 4):
            q = (
                stream_heavy_hitters(stream)
                .writeStream.format("memory")
                .queryName(sink)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.table(sink).collect()
        assert out, "no emissions"
        # (a) the bound: every stored word is <= _SS_MAX_WORD chars and
        # every bucket holds at most SS_K counters
        per_bucket: dict[int, list] = {}
        for r in out:
            assert len(r["word"]) <= _SS_MAX_WORD
            per_bucket.setdefault(r["bucket"], []).append(r)
        for bucket, rows in per_bucket.items():
            assert len(rows) <= SS_K, f"bucket {bucket} has {len(rows)}"
        # (b) exactness vs the normalized simulation: single batch, so
        # the streamed counters equal a local Space-Saving fold over the
        # same (bucketed) normalized words
        bucket_of = {}
        for w, _ in counts:
            b = (
                spark.sql(
                    "SELECT CAST(conv(substring(md5('"
                    + w
                    + "'), 1, 6), 16, 10) AS BIGINT) % 8 AS b"
                ).collect()[0]["b"]
            )
            bucket_of[w] = b
        sim: dict[int, dict] = {}
        for w, c in counts:
            _ss_fold(
                sim.setdefault(bucket_of[w], {}), _ss_norm_word(w), c
            )
        got = {
            (r["bucket"], r["word"]): (r["est_count"], r["err"])
            for r in out
        }
        want = {
            (b, w): v for b, tbl in sim.items() for w, v in tbl.items()
        }
        assert got == want


# --- ADVICE medium: wal2json v2 offset discipline ------------------------


class TestWal2JsonV2Offset:
    def _lines(self, vals):
        """One multi-change txn: same xid/ts, same key, different values."""
        return [
            json.dumps(
                {
                    "action": "I",
                    "xid": 7,
                    "timestamp": "2024-01-01 00:00:00.000000",
                    "schema": "public",
                    "table": "t",
                    "columns": [
                        {"name": "id", "type": "bigint", "value": "1"},
                        {"name": "v", "type": "text", "value": v},
                    ],
                }
            )
            for v in vals
        ]

    def test_missing_offset_fails_loudly(self, spark):
        from greenplum_cdc_spark.sources.wal2json import parse_wal2json_v2

        df = spark.createDataFrame(
            [(ln,) for ln in self._lines(["a", "b"])], "line string"
        )
        with pytest.raises(ValueError, match="offset_col"):
            parse_wal2json_v2(df)

    def test_single_change_assertion_allows_omission(self, spark):
        from greenplum_cdc_spark.sources.wal2json import parse_wal2json_v2

        df = spark.createDataFrame(
            [(ln,) for ln in self._lines(["a"])], "line string"
        )
        out = parse_wal2json_v2(df, single_change_txns=True).collect()
        assert len(out) == 1 and out[0]["change_idx"] == 0

    def test_offset_orders_intra_transaction_changes(self, spark):
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.operators.cdc import snapshot_latest
        from greenplum_cdc_spark.sources.wal2json import parse_wal2json_v2

        lines = self._lines(["first", "second"])
        for offsets, winner in [((0, 1), "second"), ((1, 0), "first")]:
            df = spark.createDataFrame(
                list(zip(offsets, lines)), "off long, line string"
            )
            parsed = parse_wal2json_v2(df, offset_col="off")
            feed = parsed.select(
                F.col("data")["id"].cast("bigint").alias("pk"),
                "ts",
                "xid",
                "change_idx",
                "op",
                F.col("data")["v"].alias("v"),
            )
            snap = snapshot_latest(
                feed,
                key_cols=("pk",),
                order_cols=("ts", "xid", "change_idx"),
            ).collect()
            assert len(snap) == 1
            assert snap[0]["v"] == winner, offsets


# --- ADVICE low: AMQP drain under slow content frames --------------------


class TestAmqpSlowContent:
    def test_content_slower_than_idle_timeout_still_lands(self):
        from tests.test_amqp import MAXWELL_BODIES, FakeBroker
        from greenplum_cdc_spark.sources.amqp import AmqpConsumer

        from greenplum_cdc_spark.sources.amqp import (
            FRAME_BODY,
            pack_content_header,
            pack_frame,
            pack_method_frame,
            pack_shortstr,
            BASIC_DELIVER,
        )

        class SlowBroker(FakeBroker):
            """Sleeps longer than the idle timeout between a delivery's
            method, header, and body frames — mid-MESSAGE slowness that
            must not end the batch (only mid-DELIVERY-GAP idleness may).
            """

            def _serve(self):  # override only the delivery loop
                conn, _ = self.srv.accept()
                try:
                    self._handshake(conn)
                    tag = self.declared["tag"]
                    for i, body in enumerate(self.bodies, start=1):
                        conn.sendall(
                            pack_method_frame(
                                1,
                                BASIC_DELIVER,
                                pack_shortstr(tag)
                                + struct.pack(">Q", i)
                                + b"\x00"
                                + pack_shortstr(self.declared["exchange"])
                                + pack_shortstr(self.declared["binding_key"]),
                            )
                        )
                        time.sleep(0.25)  # > idle_timeout=0.1
                        conn.sendall(pack_content_header(60, len(body), 1))
                        time.sleep(0.25)
                        conn.sendall(pack_frame(FRAME_BODY, 1, body))
                    from greenplum_cdc_spark.sources.amqp import (
                        BASIC_ACK,
                        CONNECTION_CLOSE,
                        CONNECTION_CLOSE_OK,
                    )

                    cur = self._expect(conn, BASIC_ACK)
                    self.acks.append((cur.longlong(), cur.octet() == 1))
                    self._expect(conn, CONNECTION_CLOSE)
                    conn.sendall(
                        pack_method_frame(0, CONNECTION_CLOSE_OK)
                    )
                except Exception as e:  # pragma: no cover
                    self.errors.append(repr(e))
                finally:
                    conn.close()
                    self.srv.close()

        broker = SlowBroker(MAXWELL_BODIES[:2]).start()
        c = AmqpConsumer(port=broker.port, connect_timeout=2.0)
        c.connect()
        c.declare()
        c.consume()
        bodies = c.drain(idle_timeout=0.1, content_timeout=5.0)
        c.close()
        broker.thread.join(timeout=5)
        assert bodies == MAXWELL_BODIES[:2]
        assert broker.acks == [(2, True)]
        assert not broker.errors

    def test_partial_frame_then_silence_is_a_loud_stall(self):
        from greenplum_cdc_spark.sources.amqp import (
            AmqpConsumer,
            AmqpProtocolError,
        )
        from tests.test_amqp import FakeBroker, MAXWELL_BODIES
        from greenplum_cdc_spark.sources.amqp import (
            BASIC_DELIVER,
            pack_method_frame,
            pack_shortstr,
        )

        class StallBroker(FakeBroker):
            """Sends HALF a Basic.Deliver method frame, then stalls."""

            def _serve(self):
                conn, _ = self.srv.accept()
                try:
                    self._handshake(conn)
                    frame = pack_method_frame(
                        1,
                        BASIC_DELIVER,
                        pack_shortstr(self.declared["tag"])
                        + struct.pack(">Q", 1)
                        + b"\x00"
                        + pack_shortstr(self.declared["exchange"])
                        + pack_shortstr(self.declared["binding_key"]),
                    )
                    conn.sendall(frame[: len(frame) // 2])
                    time.sleep(3.0)  # > content_timeout below
                except Exception as e:  # pragma: no cover
                    self.errors.append(repr(e))
                finally:
                    conn.close()
                    self.srv.close()

        broker = StallBroker(MAXWELL_BODIES[:1]).start()
        c = AmqpConsumer(port=broker.port, connect_timeout=2.0)
        c.connect()
        c.declare()
        c.consume()
        with pytest.raises(AmqpProtocolError, match="stalled|closed"):
            c.drain(idle_timeout=0.1, content_timeout=1.0)
        try:
            c.sock.close()
        except OSError:
            pass


# --- the shared streaming scaffold -----------------------------------


class TestStreamingScaffold:
    def test_write_mtime_batches_orders_and_partitions(self, spark, tmp_path):
        import os

        import pyspark.sql.functions as F

        from greenplum_cdc_spark.streaming.scaffold import (
            write_mtime_batches,
        )

        df = spark.range(300).select(
            F.col("id"), (F.col("id") % 3).alias("b3")
        )
        d = str(tmp_path / "feed")
        glob = write_mtime_batches(df, F.col("b3"), 3, d, drop=("b3",))
        assert glob == d + "/_b=*"
        # three dirs, strictly increasing mtimes, schema without the tag
        mtimes = []
        for i in range(3):
            p = os.path.join(d, f"_b={i}")
            files = [f for f in os.listdir(p) if f.endswith(".parquet")]
            assert files
            mtimes.append(os.path.getmtime(os.path.join(p, files[0])))
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
        back = spark.read.parquet(glob)
        assert back.columns == ["id"]
        assert back.count() == 300

    def test_write_mtime_batches_rejects_empty_batch(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.streaming.scaffold import (
            write_mtime_batches,
        )

        df = spark.range(10)
        with pytest.raises(ValueError, match="zero rows"):
            # batch 2 can never receive a row
            write_mtime_batches(
                df, F.lit(0), 3, str(tmp_path / "feed2")
            )

    def test_cached_feed_writes_once(self, tmp_path):
        from greenplum_cdc_spark.streaming.scaffold import cached_feed

        calls = []
        src = tmp_path / "events.parquet"
        src.write_bytes(b"v1")
        key = "test_cached_feed_writes_once"
        d1 = cached_feed(str(src), key, lambda d: calls.append(d))
        d2 = cached_feed(str(src), key, lambda d: calls.append(d))
        assert d1 == d2
        assert calls == [d1]
        src.write_bytes(b"v2, rewritten")  # a rewritten input writes again
        d3 = cached_feed(str(src), key, lambda d: calls.append(d))
        assert calls == [d1, d3] and d3 != d1
        # the rebuild removed the directory it replaced
        assert not os.path.exists(d1) and os.path.isdir(d3)


# --- item 4: the protobuf bridge that un-gated C48 -----------------------


class TestProtobufBridge:
    def test_bridge_loads_state_message_protocol(self):
        from greenplum_cdc_spark.vendor import ensure_protobuf

        if not ensure_protobuf():
            pytest.skip("no protobuf wheel and no Cloud SDK on this box")
        import pyspark.sql.streaming.proto.StateMessage_pb2 as m

        req = m.StateRequest(version=2)
        back = m.StateRequest()
        back.ParseFromString(req.SerializeToString())
        assert back.version == 2
        # nested message + enum round-trip (the shapes the TWS client
        # exchanges with the JVM state server)
        call = m.StatefulProcessorCall(
            setHandleState=m.SetHandleState(state=m.HandleState.CREATED)
        )
        back2 = m.StatefulProcessorCall()
        back2.ParseFromString(call.SerializeToString())
        assert back2.setHandleState.state == m.HandleState.CREATED

    def test_tws_ungated_on_this_box(self):
        from greenplum_cdc_spark.streaming import stateful

        if not stateful._HAS_TWS:
            pytest.skip("no protobuf runtime — gate correctly standing")
        # the operator constructs without the loud refusal; the LIVE
        # end-to-end run is pinned by test_round3's TWS test and the
        # stream_running_totals oracle row
        assert hasattr(stateful._RunningTotalProcessor, "handleInputRows")


# --- item 6: the demo storyline is CI-pinned -----------------------------


class TestDemoStoryline:
    def test_demo_main_parity(self, spark, capsys, monkeypatch):
        import demo

        monkeypatch.setattr(
            sys, "argv", ["demo.py", "/root/testdata/sf0.001"]
        )
        rc = demo.main()
        outp = capsys.readouterr().out
        assert rc == 0
        assert "[poll parity] MATCH" in outp
        assert "[olap] TPC-H Q1" in outp


# --- C93: dimension-ablation recall (matryoshka eval) --------------------


class TestEmbeddingDimAblation:
    def test_recall_monotone_and_exact(self, spark):
        from greenplum_cdc_spark.operators.similarity import (
            ABLATION_DIMS,
            DIM,
            N_QUERIES,
            TOPK,
            embedding_dim_ablation,
        )

        rows = embedding_dim_ablation(
            spark, "/root/testdata/sf0.01"
        ).collect()
        assert [r["dim_budget"] for r in rows] == list(ABLATION_DIMS)
        # more dims can only help a prefix-cosine ranking on average;
        # the synthetic corpus shows it strictly, and full-dim recall
        # is 1.0 by construction (not emitted — it's the truth set)
        hits = [r["n_hits"] for r in rows]
        assert hits == sorted(hits)
        for r in rows:
            assert 0 <= r["n_hits"] <= N_QUERIES * TOPK
            assert r["recall_bp"] == r["n_hits"] * 10000 // (N_QUERIES * TOPK)
        assert DIM not in {r["dim_budget"] for r in rows}

    def test_full_dim_budget_is_perfect_recall(self, spark):
        """Sanity on the machinery: running the SAME ranking at d=DIM
        must reproduce the truth set exactly (recall 1.0) — pins the
        tie-break and prefix-fold as identical to the truth pass."""
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.operators import similarity as S

        vecs = S.load_table(spark, "/root/testdata/sf0.001", "embeddings")
        base = vecs.select(
            "vec_id",
            "embedding",
            F.sqrt(S._dot_pfx("embedding", "embedding", S.DIM)).alias("n"),
        )
        q = base.filter(F.col("vec_id") < S.N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("n").alias("qn"),
        )
        from pyspark.sql import Window

        pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        cos_pfx = S._dot_pfx("qe", "embedding", S.DIM) / (
            F.col("qn") * F.col("n")
        )
        cos_full = S._dot("qe", "embedding") / (F.col("qn") * F.col("n"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("c"), F.asc("vec_id")
        )
        tops = []
        for c in (cos_pfx, cos_full):
            tops.append(
                {
                    (r["query_id"], r["vec_id"])
                    for r in pairs.withColumn("c", c)
                    .withColumn("rk", F.row_number().over(w))
                    .filter(F.col("rk") <= S.TOPK)
                    .select("query_id", "vec_id")
                    .collect()
                }
            )
        assert tops[0] == tops[1] and tops[0]


# --- C94: IVF recall-vs-nprobe sweep --------------------------------------


class TestIvfRecallSweep:
    def test_monotone_recall_and_cost(self, spark):
        from greenplum_cdc_spark.operators.similarity import (
            IVF_NPROBES,
            IVF_QUERIES,
            IVF_TOPK,
            ivf_recall_sweep,
        )

        rows = ivf_recall_sweep(spark, "/root/testdata/sf0.01").collect()
        assert [r["nprobe"] for r in rows] == list(IVF_NPROBES)
        # probing more cells can only add candidates: recall AND scan
        # cost are both monotone non-decreasing in nprobe
        hits = [r["n_hits"] for r in rows]
        scanned = [r["n_scanned"] for r in rows]
        assert hits == sorted(hits)
        assert scanned == sorted(scanned)
        for r in rows:
            assert 0 <= r["n_hits"] <= IVF_QUERIES * IVF_TOPK
            assert r["recall_bp"] == r["n_hits"] * 10000 // (
                IVF_QUERIES * IVF_TOPK
            )

    def test_nprobe1_matches_knn_ivf(self, spark):
        """nprobe=1 probes exactly the query's own cell — the sweep's
        first row must count hits over the SAME result set C25 (knn_ivf)
        emits, pinning the sweep machinery to the frozen-green operator."""
        from greenplum_cdc_spark.operators.similarity import (
            IVF_TOPK,
            knn_ivf,
            ivf_recall_sweep,
        )

        sweep = {
            r["nprobe"]: r["n_hits"]
            for r in ivf_recall_sweep(spark, "/root/testdata/sf0.001").collect()
        }
        ivf = knn_ivf(spark, "/root/testdata/sf0.001")
        # recompute hits from knn_ivf's emission joined to brute truth
        from greenplum_cdc_spark.operators.similarity import (
            N_QUERIES,
            knn_cosine_bruteforce,
        )
        import pyspark.sql.functions as F

        truth = knn_cosine_bruteforce(spark, "/root/testdata/sf0.001")
        # knn_cosine_bruteforce uses N_QUERIES/TOPK == IVF constants
        hits1 = (
            ivf.select("query_id", "neighbor_id")
            .join(
                truth.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .count()
        )
        assert sweep[1] == hits1


# --- C95: decontamination n-gram-width calibration ------------------------


class TestContaminationNgramSweep:
    def test_wider_grams_flag_less(self, spark):
        from greenplum_cdc_spark.operators.quality import (
            SWEEP_KS,
            contamination_ngram_sweep,
        )

        rows = contamination_ngram_sweep(
            spark, "/root/testdata/sf0.01"
        ).collect()
        assert [r["ngram_k"] for r in rows] == list(SWEEP_KS)
        # a k+1-gram hit implies two k-gram hits: overlap mass, hit-doc
        # count, and flag count are all monotone NON-INCREASING in k
        for col in ("n_docs_hit", "n_flagged", "hit_grams_total"):
            vals = [r[col] for r in rows]
            assert vals == sorted(vals, reverse=True), col
        n_docs = {r["n_docs"] for r in rows}
        assert len(n_docs) == 1  # denominator is k-independent
        for r in rows:
            assert r["flag_rate_bp"] == r["n_flagged"] * 10000 // r["n_docs"]

    def test_k3_flags_match_c24_integer_threshold(self, spark):
        """The sweep's k=3 row must count exactly the docs C24 flags
        under the integer form of its threshold (n_cont*10 >= n_ngrams)
        — pins the sweep to the frozen-green operator's semantics."""
        from greenplum_cdc_spark.operators.quality import (
            contamination_check,
            contamination_ngram_sweep,
        )

        sweep = {
            r["ngram_k"]: r
            for r in contamination_ngram_sweep(
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        c24 = contamination_check(spark, "/root/testdata/sf0.001").collect()
        flagged = sum(
            1 for r in c24 if r["n_contaminated"] * 10 >= r["n_ngrams"]
        )
        assert sweep[3]["n_flagged"] == flagged


# --- round-6 eval ops: pruned scans asserted -------------------------------


class TestRound6PlanShape:
    def _read_schemas(self, df):
        import re

        plan = df._jdf.queryExecution().executedPlan().toString()
        return set(re.findall(r"ReadSchema: struct<([^>]*)>", plan))

    def test_eval_ops_prune_columns(self, spark):
        from greenplum_cdc_spark.operators import quality, similarity

        sf = "/root/testdata/sf0.001"
        for fn, key, allowed in [
            (similarity.embedding_dim_ablation, "vec_id", {"vec_id", "embedding"}),
            (similarity.ivf_recall_sweep, "vec_id", {"vec_id", "embedding"}),
            (quality.contamination_ngram_sweep, "doc_id", {"doc_id", "text"}),
        ]:
            schemas = self._read_schemas(fn(spark, sf))
            assert schemas, fn.__name__
            for s in schemas:
                cols = {c.split(":")[0] for c in s.split(",") if ":" in c}
                assert s.startswith(key), (fn.__name__, s)
                assert cols <= allowed, (fn.__name__, s)


# --- A48: incremental streaming SCD2 ---------------------------------------


class TestStreamScd2:
    def test_cross_batch_version_closure(self, spark):
        """The incremental contract itself: at least one version row
        must have been OPENED by micro-batch 1 and CLOSED by micro-batch
        2 through the open-slice state (valid_from in batch-1's half of
        the time range, valid_to in batch-2's half) — the proof the
        merge stitches across the batch boundary rather than windowing
        one batch at a time."""
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.io import load_table
        from greenplum_cdc_spark.streaming.pipeline import (
            stream_scd2_pipeline,
        )

        sf = "/root/testdata/sf0.001"
        res = stream_scd2_pipeline(spark, sf)
        ev = load_table(spark, sf, "events")
        lo, hi = ev.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).collect()[0]
        step = (hi + 1 - lo) // 2 + 1
        split_us = lo + step
        crossers = res.filter(
            (F.unix_micros("valid_from") < split_us)
            & (F.unix_micros("valid_to") >= split_us)
        ).count()
        assert crossers > 0
        # SCD2 invariants: exactly one current row per live key; no
        # overlapping validity inside a key (valid_to == next
        # valid_from by construction of the lead window)
        from pyspark.sql import Window

        cur = res.filter("is_current").groupBy("pk").count()
        assert cur.filter("count > 1").count() == 0
        w = Window.partitionBy("pk").orderBy("valid_from", "version_seq")
        gaps = (
            res.withColumn("nxt", F.lead("valid_from").over(w))
            .filter(F.col("nxt").isNotNull())
            .filter(F.col("valid_to") > F.col("nxt"))
        )
        assert gaps.count() == 0

    def test_out_of_order_batch_fails_loudly(self, spark, tmp_path):
        """Per-key out-of-order replay must raise, not corrupt: an event
        older than its key's OPEN version may overlap closed history.
        Drives the REAL merge (scd2_merge_fn) against a fabricated
        store holding an open row at t=2000s, then delivers t=1000s."""
        import pyspark.sql.functions as F
        import pytest

        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            scd2_merge_fn,
        )

        store = ReplicaStore(spark, str(tmp_path / "replica"))
        merge = scd2_merge_fn(store)

        def ev(pk, us, seq, op="insert"):
            return spark.createDataFrame(
                [(pk, us, seq, op, 1.0, "view")],
                "pk long, us long, seq long, op string, value double,"
                " event_type string",
            ).select(
                "pk",
                F.timestamp_micros(F.col("us")).alias("ts"),
                "seq", "op", "value", "event_type",
            )

        merge(ev(1, 2_000_000_000, 5), 0)  # opens pk=1 @ t=2000s
        assert store.read().filter("is_current").count() == 1
        # in-order follow-up is fine
        merge(ev(1, 3_000_000_000, 6), 1)
        assert store.read().count() == 2
        # out-of-order: an event OLDER than the open row must raise
        with pytest.raises(ValueError, match="out-of-order"):
            merge(ev(1, 1_500_000_000, 7), 2)
        # and the store is untouched by the failed batch
        assert store.read().count() == 2

    def test_delete_closed_key_still_guarded_and_dup_dropped(self, spark, tmp_path):
        """The review-found hole: a key whose history ends in a DELETE
        has no open row, so an open-row-only guard would silently admit
        out-of-order events that overlap the closed history. The
        watermark form (max(coalesce(valid_to, valid_from))) carries
        the delete's ts and must still raise. Also: exact redelivery of
        the open row (at-least-once) is dropped idempotently instead of
        fabricating a zero-width version."""
        import pyspark.sql.functions as F
        import pytest

        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            scd2_merge_fn,
        )

        def ev(pk, us, seq, op="insert"):
            return spark.createDataFrame(
                [(pk, us, seq, op, 1.0, "view")],
                "pk long, us long, seq long, op string, value double,"
                " event_type string",
            ).select(
                "pk",
                F.timestamp_micros(F.col("us")).alias("ts"),
                "seq", "op", "value", "event_type",
            )

        # delete-closed key: insert @t100, delete @t200 -> one closed
        # version, no open row
        store = ReplicaStore(spark, str(tmp_path / "rep_del"))
        merge = scd2_merge_fn(store)
        merge(ev(1, 100_000_000, 1).unionByName(
            ev(1, 200_000_000, 2, "delete")), 0)
        snap = store.read()
        assert snap.count() == 1 and snap.filter("is_current").count() == 0
        with pytest.raises(ValueError, match="out-of-order"):
            merge(ev(1, 150_000_000, 3), 1)  # inside the closed [100,200)
        # and an in-order event after the delete opens cleanly
        merge(ev(1, 300_000_000, 4), 2)
        assert store.read().filter("is_current").count() == 1

        # at-least-once redelivery of the open row: dropped, no [T,T)
        store2 = ReplicaStore(spark, str(tmp_path / "rep_dup"))
        merge2 = scd2_merge_fn(store2)
        merge2(ev(2, 500_000_000, 9), 0)
        merge2(ev(2, 500_000_000, 9), 1)  # exact redelivery
        snap2 = store2.read()
        assert snap2.count() == 1
        assert snap2.filter("is_current").count() == 1
        # same-ts SMALLER-seq is out-of-order, not redelivery
        with pytest.raises(ValueError, match="out-of-order"):
            merge2(ev(2, 500_000_000, 8), 2)
