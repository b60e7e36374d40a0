"""Property-based tests (hypothesis) for the round-5 components: the
AMQP 0-9-1 wire codec, the ES-bulk external-version replay, the
wal2json↔Maxwell envelope equivalence, and the dup-span island merge.
"""

from __future__ import annotations

import json
import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from greenplum_cdc_spark.sources.amqp import (  # noqa: E402
    FRAME_END,
    FRAME_METHOD,
    pack_frame,
    pack_longstr,
    pack_method_frame,
    pack_shortstr,
    unpack_method,
    _Cursor,
)


class TestAmqpCodecProperties:
    @given(s=st.text(max_size=80))
    @settings(max_examples=200, deadline=None)
    def test_shortstr_roundtrip(self, s):
        encoded = pack_shortstr(s)
        cur = _Cursor(encoded)
        assert cur.shortstr() == s
        assert cur.pos == len(encoded)

    @given(b=st.binary(max_size=2000))
    @settings(max_examples=200, deadline=None)
    def test_longstr_roundtrip(self, b):
        encoded = pack_longstr(b)
        cur = _Cursor(encoded)
        assert cur.longstr() == b
        assert cur.pos == len(encoded)

    @given(
        channel=st.integers(0, 65535),
        class_id=st.integers(1, 100),
        method_id=st.integers(1, 100),
        args=st.binary(max_size=500),
    )
    @settings(max_examples=200, deadline=None)
    def test_method_frame_roundtrip(self, channel, class_id, method_id, args):
        frame = pack_method_frame(channel, (class_id, method_id), args)
        ftype, ch, size = struct.unpack(">BHI", frame[:7])
        assert ftype == FRAME_METHOD
        assert ch == channel
        assert size == len(frame) - 8  # head 7 + end 1
        assert frame[-1] == FRAME_END
        got, cur = unpack_method(frame[7:-1])
        assert got == (class_id, method_id)
        assert cur.buf[cur.pos :] == args

    @given(
        tag=st.integers(0, 2**63 - 1),
        body=st.binary(max_size=300),
    )
    @settings(max_examples=100, deadline=None)
    def test_content_framing_sizes(self, tag, body):
        from greenplum_cdc_spark.sources.amqp import pack_content_header

        hdr = pack_content_header(60, len(body), 1)
        cur = _Cursor(hdr[7:-1])
        assert cur.short() == 60  # class
        assert cur.short() == 0  # weight
        assert cur.longlong() == len(body)
        bframe = pack_frame(3, 1, body)
        assert bframe[7:-1] == body


class TestBulkReplayProperties:
    """The ES external-version replay must equal latest-wins over the
    flattened action log for ANY batch split and arrival order."""

    @given(
        events=st.lists(
            st.tuples(
                st.integers(1, 5),  # pk
                st.booleans(),  # is delete
                st.floats(0, 100, allow_nan=False),
            ),
            min_size=1,
            max_size=20,
        ),
        n_batches=st.integers(1, 4),
        order_seed=st.integers(0, 1000),
    )
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_replay_equals_latest_wins(
        self, spark, tmp_path_factory, events, n_batches, order_seed
    ):
        import datetime
        import random

        from greenplum_cdc_spark.streaming.pipeline import BulkIndexStore

        tmp = tmp_path_factory.mktemp("bulk_prop")
        t0 = datetime.datetime(2024, 1, 1)
        # seq = global event index (the external version)
        seq_events = [
            (pk, "delete" if is_del else "insert", seq + 1, val)
            for seq, (pk, is_del, val) in enumerate(events)
        ]
        # split into batches and shuffle ARRIVAL order of the batches
        rng = random.Random(order_seed)
        batches = [seq_events[i::n_batches] for i in range(n_batches)]
        batches = [b for b in batches if b]
        rng.shuffle(batches)
        store = BulkIndexStore(spark, str(tmp / "bulk"))
        for b in batches:
            # batch-final per pk (what the pipeline's delta computes)
            final = {}
            for pk, op, seq, val in b:
                if pk not in final or seq > final[pk][2]:
                    final[pk] = (pk, op, seq, val)
            store.commit(
                spark.createDataFrame(
                    [(pk, op, seq, t0, val) for pk, op, seq, val in final.values()],
                    "pk bigint, op string, seq bigint, ts timestamp,"
                    " value double",
                )
            )
        # truth: latest event per pk over the WHOLE log
        truth = {}
        for pk, op, seq, val in seq_events:
            truth[pk] = (op, seq, val)
        expect = {
            pk: (seq, val)
            for pk, (op, seq, val) in truth.items()
            if op != "delete"
        }
        replay = store.read_replay()
        got = (
            {}
            if replay is None
            else {r["pk"]: (r["seq"], r["value"]) for r in replay.collect()}
        )
        assert got == expect


class TestWal2JsonEquivalence:
    """Random event feeds: the wal2json adapter and the Maxwell parser
    must land the SAME typed rows (op, key, payload) for the same
    underlying changes — the interchangeability TODO #1 asks for."""

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 9),  # user_id
                st.floats(0, 500, allow_nan=False),
                st.sampled_from(["click", "view", "error"]),
            ),
            min_size=1,
            max_size=12,
        )
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_same_typed_rows(self, spark, rows):
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.sources.maxwell import parse_maxwell
        from greenplum_cdc_spark.sources.wal2json import parse_wal2json

        mx_lines, w2j_changes = [], []
        for i, (uid, val, et) in enumerate(rows):
            op = "delete" if et == "error" else "insert"
            mx_lines.append(
                json.dumps(
                    {
                        "database": "appdb",
                        "table": "events",
                        "type": op,
                        "ts": 1704067200,
                        "xid": i,
                        "data": {"user_id": str(uid), "value": repr(val)},
                    }
                )
            )
            if op == "delete":
                w2j_changes.append(
                    {
                        "kind": "delete",
                        "schema": "public",
                        "table": "events",
                        "oldkeys": {
                            "keynames": ["user_id"],
                            "keytypes": ["bigint"],
                            "keyvalues": [uid],
                        },
                    }
                )
            else:
                w2j_changes.append(
                    {
                        "kind": "insert",
                        "schema": "public",
                        "table": "events",
                        "columnnames": ["user_id", "value"],
                        "columntypes": ["bigint", "double precision"],
                        "columnvalues": [uid, float(repr(val))],
                    }
                )
        w2j_line = json.dumps(
            {
                "xid": 7,
                "timestamp": "2024-01-01 00:00:00.000000",
                "change": w2j_changes,
            }
        )
        mx = parse_maxwell(
            spark.createDataFrame([(ln,) for ln in mx_lines], "line string")
        ).select(
            "op",
            F.coalesce(F.col("data")["user_id"], F.col("old")["user_id"]).alias(
                "k"
            ),
            F.col("data")["value"].cast("double").alias("v"),
        )
        w2 = parse_wal2json(
            spark.createDataFrame([(w2j_line,)], "line string")
        ).select(
            "op",
            F.coalesce(F.col("data")["user_id"], F.col("old")["user_id"]).alias(
                "k"
            ),
            F.col("data")["value"].cast("double").alias("v"),
        )
        mx_rows = sorted(
            (r["op"], r["k"], None if r["op"] == "delete" else r["v"])
            for r in mx.collect()
        )
        w2_rows = sorted(
            (r["op"], r["k"], r["v"]) for r in w2.collect()
        )
        assert mx_rows == w2_rows


class TestDupSpanIslandProperties:
    @given(
        marks=st.lists(st.integers(1, 200), min_size=1, max_size=40, unique=True)
    )
    @settings(max_examples=200, deadline=None)
    def test_merge_covers_exactly_the_marked_grams(self, marks):
        """Pure-python mirror of the island rule: merged spans cover
        every marked gram's [p, p+K-1] range, never overlap, and every
        span is a union of marked ranges (no over-removal)."""
        K = 13
        marks = sorted(marks)
        spans = []
        for p in marks:
            if spans and p <= (spans[-1][1] - K + 1) + K:
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + K - 1))
            else:
                spans.append((p, p + K - 1))
        covered = set()
        for s, e in spans:
            assert e - s + 1 >= K
            covered |= set(range(s, e + 1))
        for p in marks:
            assert set(range(p, p + K)) <= covered
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1 + 1  # disjoint AND non-mergeable
        # no over-removal: every covered token is in some mark's range
        marked_cover = set()
        for p in marks:
            marked_cover |= set(range(p, p + K))
        assert covered == marked_cover


class TestWal2JsonV2Equivalence:
    """Same random feeds through BOTH wal2json wire formats: v1
    (per-transaction) and v2 (per-change) must land identical typed
    rows — the adapter pair is interchangeable."""

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 9),
                st.floats(0, 500, allow_nan=False),
                st.sampled_from(["click", "view", "error"]),
            ),
            min_size=1,
            max_size=10,
        )
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_v1_and_v2_land_same_rows(self, spark, rows):
        import pyspark.sql.functions as F

        from greenplum_cdc_spark.sources.wal2json import (
            parse_wal2json,
            parse_wal2json_v2,
        )

        ts = "2024-01-01 00:00:00.000000"
        v1_changes, v2_lines = [], []
        for i, (uid, val, et) in enumerate(rows):
            if et == "error":
                v1_changes.append(
                    {
                        "kind": "delete",
                        "schema": "public",
                        "table": "events",
                        "oldkeys": {
                            "keynames": ["user_id"],
                            "keytypes": ["bigint"],
                            "keyvalues": [uid],
                        },
                    }
                )
                v2_lines.append(
                    json.dumps(
                        {
                            "action": "D",
                            "xid": 7,
                            "timestamp": ts,
                            "schema": "public",
                            "table": "events",
                            "identity": [
                                {
                                    "name": "user_id",
                                    "type": "bigint",
                                    "value": str(uid),
                                }
                            ],
                        }
                    )
                )
            else:
                v1_changes.append(
                    {
                        "kind": "insert",
                        "schema": "public",
                        "table": "events",
                        "columnnames": ["user_id", "value"],
                        "columntypes": ["bigint", "double precision"],
                        "columnvalues": [uid, float(repr(val))],
                    }
                )
                v2_lines.append(
                    json.dumps(
                        {
                            "action": "I",
                            "xid": 7,
                            "timestamp": ts,
                            "schema": "public",
                            "table": "events",
                            "columns": [
                                {
                                    "name": "user_id",
                                    "type": "bigint",
                                    "value": str(uid),
                                },
                                {
                                    "name": "value",
                                    "type": "double precision",
                                    "value": repr(float(repr(val))),
                                },
                            ],
                        }
                    )
                )
        v1_line = json.dumps(
            {"xid": 7, "timestamp": ts, "change": v1_changes}
        )

        def _typed(df):
            return sorted(
                (
                    r["op"],
                    r["k"],
                    None if r["op"] == "delete" else r["v"],
                )
                for r in df.select(
                    "op",
                    F.coalesce(
                        F.col("data")["user_id"], F.col("old")["user_id"]
                    ).alias("k"),
                    F.col("data")["value"].cast("double").alias("v"),
                ).collect()
            )

        v1 = _typed(
            parse_wal2json(
                spark.createDataFrame([(v1_line,)], "line string")
            )
        )
        v2 = _typed(
            parse_wal2json_v2(
                spark.createDataFrame(
                    [(i, ln) for i, ln in enumerate(v2_lines)],
                    "off long, line string",
                ),
                offset_col="off",
            )
        )
        assert v1 == v2
