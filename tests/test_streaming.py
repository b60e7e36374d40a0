from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from greenplum_cdc_spark.streaming.pipeline import (
    CDCPipeline,
    ReplicaStore,
    stream_windowed_counts,
)

BATCH1 = [
    '{"database":"music","table":"album","type":"insert","ts":1700000001,"xid":1,"data":{"id":"1","title":"First"}}',
    '{"database":"music","table":"album","type":"insert","ts":1700000002,"xid":2,"data":{"id":"2","title":"Second"}}',
    '{"database":"music","table":"album","type":"update","ts":1700000003,"xid":3,"data":{"id":"1","title":"First v2"},"old":{"title":"First"}}',
]
BATCH2 = [
    '{"database":"music","table":"album","type":"delete","ts":1700000004,"xid":4,"data":{"id":"2","title":"Second"}}',
    '{"database":"music","table":"album","type":"insert","ts":1700000005,"xid":5,"data":{"id":"3","title":"Third"}}',
]


def _write_lines(path: str, name: str, lines):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_kafka_double_bus_matches_text_bus(spark, tmp_path):
    """The kafka-shaped factory path (binary value -> line) must decode
    to the same parsed events as the plain text transport, including the
    rabbitmq.go:39 sanitization applied downstream in parse_maxwell."""
    from greenplum_cdc_spark.sources.bus import read_bus_stream
    from greenplum_cdc_spark.sources.maxwell import parse_maxwell

    dirty = BATCH1 + [
        # literal tab BYTE in the payload (invalid JSON per spec) — the
        # rabbitmq.go:39 sanitize collapses it to a space so the parse
        # succeeds; a JSON \t ESCAPE would instead survive untouched
        '{"database":"music","table":"album","type":"insert","ts":1700000009,'
        '"xid":9,"data":{"id":"9","title":"Tab\there"}}'
    ]
    inbox = str(tmp_path / "inbox")
    _write_lines(inbox, "b1.json", dirty)

    results = {}
    for kind, opts in (
        ("text", {"path": inbox}),
        ("kafka-double", {"path": inbox, "topic": "maxwell"}),
    ):
        out = []
        stream = read_bus_stream(spark, kind, **opts)
        assert stream.columns == ["line"]  # uniform bus protocol
        q = (
            parse_maxwell(stream)
            .writeStream.foreachBatch(
                lambda b, _id, acc=out: acc.extend(
                    b.select("op", "ts", "xid", "data").collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{kind}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        results[kind] = sorted((r["xid"], r["op"], r["data"]["title"]) for r in out)

    assert results["text"] == results["kafka-double"]
    assert len(results["text"]) == 4
    by_xid = dict((x, t) for x, _, t in results["text"])
    assert by_xid[9] == "Tab here"  # sanitize collapsed the tab


def test_kafka_record_double_schema(spark):
    """The double reshapes to the exact Kafka source column set."""
    from greenplum_cdc_spark.sources.bus import kafka_record_double

    df = kafka_record_double(spark.createDataFrame([("x",)], "line string"))
    assert [f.name for f in df.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp", "timestampType",
    ]
    assert dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[
        "value"
    ] == "binary"


def test_pipeline_end_to_end(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    pipe = CDCPipeline(
        spark,
        replica_path=str(tmp_path / "replica"),
        archive_path=str(tmp_path / "archive"),
    )

    _write_lines(inbox, "b1.json", BATCH1)
    pipe.run_available(inbox, str(tmp_path / "ckpt1"))
    state = {r["pk"]: r["data"]["title"] for r in pipe.store.read().collect()}
    assert state == {1: "First v2", 2: "Second"}

    # second poll cycle: new file lands, same inbox, fresh checkpoint dir
    # is NOT used — the stream must only pick up the delta
    _write_lines(inbox, "b2.json", BATCH2)
    pipe.run_available(inbox, str(tmp_path / "ckpt1"))
    state = {r["pk"]: r["data"]["title"] for r in pipe.store.read().collect()}
    assert state == {1: "First v2", 3: "Third"}

    wm = pipe.watermark().collect()[0]
    assert wm["n_rows"] == 2
    assert wm["high_watermark_ts"].year == 2023

    # archive got every event, date-partitioned
    archived = spark.read.parquet(str(tmp_path / "archive"))
    assert archived.count() == 5
    assert "event_date" in archived.columns


def test_replica_store_versioning(spark, tmp_path):
    store = ReplicaStore(spark, str(tmp_path / "rep"))
    assert store.read() is None
    df = spark.createDataFrame([(1, "a")], "pk bigint, v string")
    assert store.commit(df) == 1
    assert store.commit(df.withColumn("v", F.lit("b"))) == 2
    assert store.current_version() == 2
    assert store.read().collect()[0]["v"] == "b"


@pytest.mark.slow
def test_stream_windowed_counts_matches_batch(spark, sf_dir):
    out = stream_windowed_counts(spark, sf_dir)
    got = {(r["hour_start"], r["event_type"]): r["n_events"] for r in out.collect()}
    from greenplum_cdc_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    exp = {
        (r["hour_start"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exp


def test_stream_cdc_pipeline_query_matches_snapshot(spark, sf_dir):
    """A10 e2e equals the batch latest-wins snapshot of the same feed."""
    from greenplum_cdc_spark.plans import cdc_queries
    from greenplum_cdc_spark.streaming import pipeline as sp

    e2e = sp.stream_cdc_pipeline(spark, sf_dir).collect()
    snap = cdc_queries.cdc_snapshot_latest(spark, sf_dir).collect()
    assert [r["pk"] for r in e2e] == [r["pk"] for r in snap]
    assert [r["last_seq"] for r in e2e] == [r["last_seq"] for r in snap]


def test_bus_source_text_kind(spark, tmp_path):
    """The transport factory yields the uniform one-column `line` frame."""
    from greenplum_cdc_spark.sources.bus import read_bus_stream

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.txt").write_text('{"database":"d","table":"t","type":"insert"}\n')
    stream = read_bus_stream(spark, "text", path=str(p))
    assert stream.isStreaming and stream.columns == ["line"]

    import pytest

    with pytest.raises(ValueError):
        read_bus_stream(spark, "carrier-pigeon")


def test_fanout_pipeline_sinks_identical(spark, tmp_path):
    """Reference TODO: fan-out to a second sink — both replicas equal."""
    import json

    from greenplum_cdc_spark.streaming.pipeline import FanoutCDCPipeline

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    lines = [
        {"database": "d", "table": "t", "type": "insert", "ts": 1700000000,
         "xid": i, "data": {"id": str(i % 3), "v": str(i)}}
        for i in range(9)
    ] + [
        {"database": "d", "table": "t", "type": "delete", "ts": 1700000900,
         "xid": 99, "data": {"id": "1"}}
    ]
    (in_dir / "feed.json").write_text("\n".join(json.dumps(x) for x in lines))

    pipe = FanoutCDCPipeline(
        spark,
        [str(tmp_path / "rep_a"), str(tmp_path / "rep_b")],
        key_cols=("pk",),
    )
    pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))

    a = sorted(pipe.stores[0].read().select("pk", "seq").collect())
    b = sorted(pipe.stores[1].read().select("pk", "seq").collect())
    assert a == b
    assert [r["pk"] for r in a] == [0, 2]  # pk=1 deleted last

    # the maxwell_ts analog is advanced beside the primary on every load
    wm_path = tmp_path / "rep_a" / "_watermark"
    assert wm_path.is_dir()
    wm = spark.read.parquet(str(wm_path)).collect()
    assert len(wm) == 1 and wm[0]["n_applied"] == len(a)


# (pk, op, value) per poll; the event's position in the whole feed is
# its replay order (ts and sequence both increase with it)
_TWO_POLLS = [
    [(1, "insert", 10), (2, "insert", 20), (1, "update", 11),
     (3, "insert", 30), (2, "delete", 20), (5, "insert", 50)],
    [(2, "insert", 21), (3, "update", 31), (1, "delete", 11),
     (4, "insert", 40)],
]


def _maxwell_line(i, pk, op, value):
    return {"database": "d", "table": "t", "type": op, "ts": 1700000000 + i,
            "xid": i, "data": {"id": str(pk), "value": str(value)}}


def _wal2json_line(i, pk, op, value):
    change = {"kind": op, "schema": "public", "table": "t"}
    if op == "delete":
        change["oldkeys"] = {"keynames": ["user_id"], "keytypes": ["bigint"],
                             "keyvalues": [pk]}
    else:
        change.update(columnnames=["user_id", "value"],
                      columntypes=["bigint", "bigint"],
                      columnvalues=[pk, value])
    return {"xid": i, "timestamp": f"2023-11-14 22:13:{i:02d}",
            "change": [change]}


def _debezium_line(i, pk, op, value):
    image = {"user_id": str(pk), "value": str(value)}
    return {"before": image if op != "insert" else None,
            "after": image if op != "delete" else None,
            "source": {"ts_ms": 1700000000000 + 1000 * i, "db": "d",
                       "table": "t", "lsn": i, "txId": i},
            "op": {"insert": "c", "update": "u", "delete": "d"}[op],
            "ts_ms": 1700000000000 + 1000 * i}


@pytest.mark.parametrize(
    "pipe_cls, encode",
    [("CDCPipeline", _maxwell_line), ("Wal2JsonPipeline", _wal2json_line),
     ("DebeziumPipeline", _debezium_line)],
)
def test_pipeline_incremental_polls_match_replay(spark, tmp_path, pipe_cls, encode):
    """Two availableNow polls over one checkpoint: the second merges
    into an existing replica (apply_incremental) — an update, deletes,
    a key deleted in poll 1 and re-inserted in poll 2, and a key only
    poll 1 wrote must leave exactly the latest-wins replay, with the
    watermark persisted."""
    import json

    from greenplum_cdc_spark.streaming import pipeline as sp

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rep = tmp_path / "rep"
    pipe = getattr(sp, pipe_cls)(spark, str(rep))
    replay: dict[int, int] = {}
    i = 0
    for n, poll in enumerate(_TWO_POLLS):
        lines = []
        for pk, op, value in poll:
            i += 1
            lines.append(json.dumps(encode(i, pk, op, value)))
            if op == "delete":
                replay.pop(pk, None)
            else:
                replay[pk] = value
        (in_dir / f"poll{n}.json").write_text("\n".join(lines) + "\n")
        pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))
        assert pipe.store.current_version() == n + 1  # one batch per poll

        got = {
            r["pk"]: int(r["value"])
            for r in pipe.store.read()
            .select("pk", F.col("data")["value"].alias("value"))
            .collect()
        }
        assert got == replay

        wm = spark.read.parquet(str(rep / "_watermark")).collect()
        assert len(wm) == 1 and wm[0]["n_applied"] == len(replay)
    assert replay == {2: 21, 3: 31, 4: 40, 5: 50}


def test_pipeline_pk_change_and_watermark(spark, tmp_path):
    """A Maxwell update that changes the PK moves the row (old key
    deleted), and the maxwell_ts-analog watermark is persisted."""
    import json
    import os

    from greenplum_cdc_spark.streaming.pipeline import CDCPipeline

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    lines = [
        {"database": "d", "table": "t", "type": "insert", "ts": 1700000000,
         "xid": 1, "data": {"id": "1", "v": "a"}},
        {"database": "d", "table": "t", "type": "update", "ts": 1700000100,
         "xid": 2, "data": {"id": "2", "v": "a"}, "old": {"id": "1"}},
    ]
    (in_dir / "feed.json").write_text("\n".join(json.dumps(x) for x in lines))

    pipe = CDCPipeline(spark, str(tmp_path / "rep"), key_cols=("pk",))
    pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))
    pks = [r["pk"] for r in pipe.store.read().select("pk").collect()]
    assert pks == [2]

    wm_path = os.path.join(str(tmp_path / "rep"), "_watermark")
    wm = spark.read.parquet(wm_path).collect()
    assert len(wm) == 1 and wm[0]["n_applied"] == 1


def test_poll_reads_each_input_line_once(spark, tmp_path):
    """The query progress of a poll over a 1,000-line file counts 1,000
    input rows: the micro-batch body scans its batch once, including
    when PK-changing updates expand into two rows."""
    import json

    from tools.fork_census import LastProgress

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # every seventh update moves its row to the next key
    lines = [
        {"database": "d", "table": "t", "type": "update", "ts": 1700000000 + i,
         "xid": i, "data": {"id": str(i % 50 + (i % 7 == 0))}, "old": {"id": str(i % 50)}}
        for i in range(1000)
    ]
    (in_dir / "feed.json").write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    listener = LastProgress()
    spark.streams.addListener(listener)
    try:
        CDCPipeline(spark, str(tmp_path / "rep")).run_available(
            str(in_dir), str(tmp_path / "ckpt")
        )
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.progress.numInputRows == 1000


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: a hash emits once EVER, across batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from greenplum_cdc_spark.streaming.stateful import run_stream_dedup

    in_dir = tmp_path / "docs"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def _drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            str(in_dir / name),
        )

    # batch 1: two distinct texts, one duplicated within the batch
    _drop("b1.parquet", [(1, "alpha"), (2, "beta"), (3, "alpha")])
    rows1 = {r["first_doc_id"]: r for r in run_stream_dedup(spark, str(in_dir), ckpt, out).collect()}
    assert set(rows1) == {1, 2}
    assert rows1[1]["n_new_in_batch"] == 2  # in-batch duplicate folded

    # batch 2: replay of alpha + one new text -> only the new one emits
    _drop("b2.parquet", [(4, "alpha"), (5, "gamma")])
    rows2 = {r["first_doc_id"]: r for r in run_stream_dedup(spark, str(in_dir), ckpt, out).collect()}
    assert set(rows2) == {1, 2, 5}  # alpha replay suppressed by state


def test_stream_sessionize_matches_batch_minus_open(spark, sf_dir):
    """Closed sessions from the stateful stream == batch sessionization
    minus each user's final (still-open) session — across 3 micro-batches,
    so sessions spanning batch boundaries must be stitched via state."""
    from greenplum_cdc_spark.operators import timeseries
    from greenplum_cdc_spark.streaming import stateful

    streamed = {
        (r["user_id"], r["sess_idx"], r["session_start"], r["session_end"], r["n_events"])
        for r in stateful.stream_sessionize_query(spark, sf_dir).collect()
    }
    batch = timeseries.events_sessionize(spark, sf_dir).collect()
    last = {}
    for r in batch:
        last[r["user_id"]] = max(last.get(r["user_id"], 0), r["session_idx"])
    expected = {
        (r["user_id"], r["session_idx"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch
        if r["session_idx"] < last[r["user_id"]]
    }
    assert streamed == expected


def test_stream_interval_join_bounds(spark, sf_dir):
    from greenplum_cdc_spark.streaming.pipeline import stream_interval_join

    rows = stream_interval_join(spark, sf_dir).collect()
    two_hours_us = 2 * 3600 * 1_000_000
    for r in rows:
        assert 0 < r["gap_us"] <= two_hours_us


def test_stream_interval_join_matches_batch(spark, sf_dir):
    import pyspark.sql.functions as F

    from greenplum_cdc_spark.io import load_table
    from greenplum_cdc_spark.streaming.pipeline import stream_interval_join

    got = {
        (r["view_event_id"], r["click_event_id"])
        for r in stream_interval_join(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("ve"), F.col("ts").alias("vt")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("ce"), F.col("ts").alias("ct")
    )
    want = {
        (r["ve"], r["ce"])
        for r in v.join(c, "u")
        .filter(
            (F.col("ct") > F.col("vt"))
            & (F.unix_micros("ct") - F.unix_micros("vt") <= 2 * 3600 * 1_000_000)
        )
        .collect()
    }
    assert got == want


def test_stream_late_data_drops_and_double_counts(spark, sf_dir):
    """Late echoes below the eviction horizon vanish; echoes of live
    windows double-count; every emitted window is closed (below the
    final watermark) and unique."""
    from greenplum_cdc_spark.streaming.pipeline import stream_late_data

    rows = stream_late_data(spark, sf_dir).collect()
    assert rows
    keys = [(r["hour_start"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys)), "append mode must emit each window once"


def test_stream_dedup_watermark_suppresses_replays(spark, sf_dir):
    import pyspark.sql.functions as F

    from greenplum_cdc_spark.io import load_table
    from greenplum_cdc_spark.streaming.stateful import stream_dedup_watermark

    out = stream_dedup_watermark(spark, sf_dir)
    n_out = out.count()
    n_src = load_table(spark, sf_dir, "events").count()
    assert n_out == n_src
    assert out.select(F.countDistinct("event_id")).first()[0] == n_src


def test_socket_transport_end_to_end(spark, tmp_path):
    """A REAL network transport through the production path: a local TCP
    server plays the broker (the rabbitmq.go consumer slot), Spark's
    socket source subscribes via `read_bus_stream('socket')`, and the
    live stream runs through the REAL `parse_maxwell` — the closest a
    no-external-network sandbox gets to the reference's RabbitMQ
    subscription, and the first test that exercises the bus factory's
    network kind against actual bytes on a wire."""
    import json
    import socket
    import threading
    import time

    from greenplum_cdc_spark.sources.bus import read_bus_stream
    from greenplum_cdc_spark.sources.maxwell import parse_maxwell

    envelopes = [
        json.dumps(
            {
                "database": "appdb",
                "table": "events",
                "type": "insert" if i % 2 == 0 else "delete",
                "ts": 1700000000 + i,
                "xid": 1000 + i,
                "data": {"user_id": i, "value": float(i), "event_type": "page"},
            }
        )
        for i in range(6)
    ]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    done = threading.Event()

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(("\n".join(envelopes) + "\n").encode())
            done.wait(timeout=90)  # keep the wire open until the test read it all
        finally:
            conn.close()
            server.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = read_bus_stream(spark, "socket", host="127.0.0.1", port=str(port))
    parsed = parse_maxwell(stream)
    got: list = []

    def sink(batch, _bid):
        got.extend(batch.collect())

    q = (
        parsed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(got) < len(envelopes):
            time.sleep(0.5)
    finally:
        done.set()
        q.stop()
    assert len(got) == len(envelopes)
    by_xid = {r["xid"]: r for r in got}
    assert sorted(by_xid) == [1000 + i for i in range(6)]
    for i in range(6):
        r = by_xid[1000 + i]
        assert r["op"] == ("insert" if i % 2 == 0 else "delete")
        assert r["database_name"] == "appdb" and r["table_name"] == "events"


# ---- replica reads plan without jobs; the watermark is observed ----


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _assert_read_is_plan_only(spark, store, version=None):
    """`store.read(version)` runs no Spark job and has the schema Spark's
    inference gives over the same directories (nested nullability
    included)."""
    v = store.current_version() if version is None else version
    j0 = _next_job(spark)
    got = store.read(version)
    assert _next_job(spark) == j0, "store.read() ran a Spark job"
    want = spark.read.parquet(os.path.join(store.path, f"v={v}"))
    segs = store._manifest(v)
    if segs:
        want = want.unionByName(
            spark.read.parquet(*[os.path.join(store.path, s) for s in segs])
        )
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    return got


def _poll_feeds(encode, polls):
    """JSON lines per poll; an event's position in the whole feed is its
    replay order."""
    import json

    out, i = [], 0
    for poll in polls:
        lines = []
        for pk, op, value in poll:
            i += 1
            lines.append(json.dumps(encode(i, pk, op, value)))
        out.append(lines)
    return out


# the two polls of _TWO_POLLS, then one deleting every live key
_THREE_POLLS = _TWO_POLLS + [
    [(2, "delete", 21), (3, "delete", 31), (4, "delete", 40),
     (5, "delete", 50)],
]


def _make_pipe(spark, tmp_path, pipe_cls):
    from greenplum_cdc_spark.streaming import pipeline as sp

    rep = str(tmp_path / "rep")
    if pipe_cls == "FanoutCDCPipeline":
        return sp.FanoutCDCPipeline(spark, [rep, str(tmp_path / "rep_b")])
    if pipe_cls == "HeterogeneousFanoutPipeline":
        return sp.HeterogeneousFanoutPipeline(spark, rep, str(tmp_path / "bulk"))
    return getattr(sp, pipe_cls)(spark, rep)


_PIPES = [
    ("CDCPipeline", _maxwell_line),
    ("Wal2JsonPipeline", _wal2json_line),
    ("DebeziumPipeline", _debezium_line),
    ("FanoutCDCPipeline", _maxwell_line),
    ("HeterogeneousFanoutPipeline", _maxwell_line),
]


@pytest.mark.parametrize("pipe_cls, encode", _PIPES)
def test_watermark_parity_and_plan_only_reads(spark, tmp_path, pipe_cls, encode):
    """After every poll — including one that deletes every key — the
    persisted `_watermark` is one parquet file whose row equals
    `watermark_state` over the committed replica to the microsecond and
    the row, with the schema a Spark-written watermark reads back with;
    and reading each store runs no Spark job."""
    from greenplum_cdc_spark.operators.cdc import watermark_state

    pipe = _make_pipe(spark, tmp_path, pipe_cls)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wm_dir = tmp_path / "rep" / "_watermark"

    def micros(df):
        return df.select(
            F.unix_micros("high_watermark_ts").alias("ts_us"), "n_applied"
        ).collect()

    for n, lines in enumerate(_poll_feeds(encode, _THREE_POLLS)):
        (in_dir / f"poll{n}.json").write_text("\n".join(lines) + "\n")
        pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))
        assert [f for f in os.listdir(wm_dir) if f.endswith(".parquet")] == [
            "part-0.parquet"
        ]
        for store in getattr(pipe, "stores", [pipe.store]):
            assert store.current_version() == n + 1
            _assert_read_is_plan_only(spark, store)
        want = watermark_state(pipe.store.read())
        spark_written = str(tmp_path / f"spark_wm{n}")
        want.write.parquet(spark_written)
        got = spark.read.parquet(str(wm_dir))
        assert got.schema == spark.read.parquet(spark_written).schema
        assert micros(got) == micros(want)
    if not pipe.keep_tombstones:
        assert micros(got) == [(None, 0)]  # the poll deleted every key


def test_watermark_write_is_atomic(spark, tmp_path, monkeypatch):
    """A crash inside poll 2's watermark write leaves poll 1's watermark
    readable and `_watermark` holding exactly one parquet file."""
    from pyspark.errors import StreamingQueryException

    from greenplum_cdc_spark.streaming import pipeline as sp

    pipe = sp.CDCPipeline(spark, str(tmp_path / "rep"))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wm_dir = tmp_path / "rep" / "_watermark"
    feeds = _poll_feeds(_maxwell_line, _TWO_POLLS)
    (in_dir / "poll0.json").write_text("\n".join(feeds[0]) + "\n")
    pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))
    before = spark.read.parquet(str(wm_dir)).collect()
    assert before[0]["n_applied"] == 3

    def torn_write(table, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")  # a half-written file, then the crash
        raise OSError("disk gone")

    monkeypatch.setattr(sp.pq, "write_table", torn_write)
    (in_dir / "poll1.json").write_text("\n".join(feeds[1]) + "\n")
    with pytest.raises(StreamingQueryException, match="disk gone"):
        pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))
    assert pipe.store.current_version() == 2  # the replica did commit
    assert [f for f in os.listdir(wm_dir) if f.endswith(".parquet")] == [
        "part-0.parquet"
    ]
    assert spark.read.parquet(str(wm_dir)).collect() == before


def test_commit_that_skips_the_write_raises_not_hangs(spark, tmp_path):
    """A `_commit` that never executes the observed merged frame makes
    `_commit_watermark` raise `WatermarkNotObserved` at once instead of
    waiting on an observation that can never complete."""
    import time

    from greenplum_cdc_spark.streaming import pipeline as sp

    class SkipsWrite(sp.CDCPipeline):
        def _commit(self, merged, feed):
            pass

    pipe = SkipsWrite(spark, str(tmp_path / "rep"))
    batch = spark.createDataFrame(
        [(ln,) for ln in _poll_feeds(_maxwell_line, _TWO_POLLS)[0]], "line string"
    )
    t0 = time.monotonic()
    with pytest.raises(sp.WatermarkNotObserved):
        pipe.process_batch(batch, 0)
    assert time.monotonic() - t0 < 60
    assert not (tmp_path / "rep" / "_watermark").exists()


def test_append_store_reads_across_compaction_fold(spark, tmp_path):
    """Append mode across a `compact_after` fold: every version's read
    (base ∪ linked segments) plans without a job and keeps the inferred
    schema, before and after the fold and after vacuum."""
    K = 3
    store = ReplicaStore(spark, str(tmp_path / "rep"), compact_after=K)
    for i in range(2 * K):
        store.commit(
            spark.createDataFrame([(1000 + i,)], "x int"),
            append=spark.createDataFrame([(2000 + i,)], "x int"),
        )
    assert any(
        d.startswith("c") for d in os.listdir(os.path.join(store.path, "seg"))
    )
    for v in range(1, 2 * K + 1):
        got = _assert_read_is_plan_only(spark, store, v)
        assert got.count() == 1 + v
    store.vacuum(keep_last=2)
    assert store.read(version=1) is None
    for v in (2 * K - 1, 2 * K):
        _assert_read_is_plan_only(spark, store, v)


def test_append_store_files_have_no_dictionary_pages(spark, tmp_path):
    """Bases, append segments and a compaction fold are all written
    without dictionary pages, even for a low-cardinality column."""
    import glob

    import pyarrow.parquet as pq

    store = ReplicaStore(spark, str(tmp_path / "rep"), compact_after=2)
    rows = spark.range(200).selectExpr("id AS pk", "IF(id % 2 = 0, 'a', 'b') AS s")
    for _ in range(3):
        store.commit(rows, append=rows)
    assert any(
        d.startswith("c") for d in os.listdir(os.path.join(store.path, "seg"))
    )
    paths = glob.glob(os.path.join(store.path, "**", "*.parquet"), recursive=True)
    assert paths
    for path in paths:
        meta = pq.ParquetFile(path).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                assert not meta.row_group(rg).column(c).has_dictionary_page, path


def test_time_travel_reads_each_version_with_its_own_schema(spark, tmp_path):
    """DDL evolution: v2 adds a column; reading v1 keeps v1's columns
    and nested nullability, v2 has the new column, neither runs a job."""
    nested = "pk bigint not null, s struct<a: int not null, b: string>"
    store = ReplicaStore(spark, str(tmp_path / "rep"))
    store.commit(spark.createDataFrame([(1, (1, "x"))], nested))
    store.commit(
        spark.createDataFrame(
            [(1, (1, "x"), [2.0]), (2, (2, None), None)],
            nested + ", added array<double>",
        )
    )
    v1 = _assert_read_is_plan_only(spark, store, 1)
    v2 = _assert_read_is_plan_only(spark, store, 2)
    assert v1.columns == ["pk", "s"]
    assert v2.columns == ["pk", "s", "added"]
    store.commit(store.read(version=1))  # restore = commit an old version
    store.vacuum(keep_last=1)
    assert _assert_read_is_plan_only(spark, store).columns == ["pk", "s"]


def test_version_without_spark_footer_raises(spark, tmp_path):
    """A version directory not written by Spark has no schema footer to
    plan from: the read raises `ReplicaSchemaMissing`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from greenplum_cdc_spark.io import ReplicaSchemaMissing

    store = ReplicaStore(spark, str(tmp_path / "rep"))
    os.makedirs(os.path.join(store.path, "v=1"))
    pq.write_table(
        pa.table({"pk": [1]}), os.path.join(store.path, "v=1", "part-0.parquet")
    )
    with open(os.path.join(store.path, "_LATEST"), "w") as f:
        f.write("1")
    with pytest.raises(ReplicaSchemaMissing):
        store.read()


# ---- versions are key-hash-distributed, key-sorted files ----


def _big_polls(n_keys, n_polls, per_poll, seed=7):
    """Maxwell JSON-line polls over `n_keys` keys — poll 0 inserts every
    key with a high-cardinality payload, later polls update, delete and
    re-insert random keys — and the latest-wins replay after each poll."""
    import json
    import random

    rnd = random.Random(seed)
    replay: dict[int, str] = {}
    polls, replays, i = [], [], 0
    for n in range(n_polls):
        lines = []
        events = (
            [(pk, "insert") for pk in range(n_keys)] if n == 0 else
            [(rnd.randrange(n_keys + 50), rnd.choice(["update", "delete", "insert"]))
             for _ in range(per_poll)]
        )
        for pk, op in events:
            i += 1
            value = f"{rnd.getrandbits(64):016x}"
            lines.append(json.dumps(_maxwell_line(i, pk, op, value)))
            if op == "delete":
                replay.pop(pk, None)
            else:
                replay[pk] = value
        polls.append(lines)
        replays.append(dict(replay))
    return polls, replays


def _version_files(store, v):
    d = os.path.join(store.path, f"v={v}")
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def _files_by_rule(spark, n_bytes):
    """Files the replica layout rule gives a version replacing `n_bytes`."""
    slots = spark.sparkContext.defaultParallelism
    return max(-(-n_bytes // (128 << 20)), min(slots, -(-n_bytes // (128 << 10))))


def _assert_layout(spark, store, v, replay):
    """Version `v`'s part files hold disjoint, ascending pk sets, carry no
    dictionary page, and read back as `replay`."""
    import pyarrow.parquet as pq

    seen: set[int] = set()
    for path in _version_files(store, v):
        f = pq.ParquetFile(path)
        pks = f.read(columns=["pk"]).column("pk").to_pylist()
        assert pks == sorted(pks) and len(set(pks)) == len(pks)
        assert seen.isdisjoint(pks)
        seen.update(pks)
        meta = f.metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                assert not meta.row_group(rg).column(c).has_dictionary_page, (
                    path, meta.row_group(rg).column(c).path_in_schema
                )
    got = {
        r["pk"]: r["value"]
        for r in store.read(version=v)
        .select("pk", F.col("data")["value"].alias("value"))
        .collect()
    }
    assert got == replay


def test_replica_versions_are_key_distributed_one_file_per_slot(spark, tmp_path):
    """Through several polls over a replica above the 128 KB floor, each
    version has the layout rule's file count (at most one per task
    slot), its files hold disjoint pk sets in ascending pk order with no
    dictionary pages, and its read equals the latest-wins replay."""
    polls, replays = _big_polls(n_keys=30000, n_polls=4, per_poll=1500)
    pipe = CDCPipeline(spark, str(tmp_path / "rep"))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    multi = 0
    for n, lines in enumerate(polls):
        prev_bytes = (
            sum(os.path.getsize(p) for p in _version_files(pipe.store, n))
            if n else None
        )
        (in_dir / f"poll{n}.json").write_text("\n".join(lines) + "\n")
        pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))
        assert pipe.store.current_version() == n + 1
        if prev_bytes is not None:
            assert prev_bytes > 128 << 10
            want = _files_by_rule(spark, prev_bytes)
            assert len(_version_files(pipe.store, n + 1)) == want
            assert want <= spark.sparkContext.defaultParallelism
            multi += want > 1
        _assert_layout(spark, pipe.store, n + 1, replays[n])
    assert multi == len(polls) - 1


def test_small_replica_stays_one_file(spark, tmp_path):
    """A replica under the 128 KB floor is rewritten as one file."""
    pipe = CDCPipeline(spark, str(tmp_path / "rep"))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for n, lines in enumerate(_poll_feeds(_maxwell_line, _TWO_POLLS)):
        (in_dir / f"poll{n}.json").write_text("\n".join(lines) + "\n")
        pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))
        assert pipe.store.next_partitions() == 1
        assert len(_version_files(pipe.store, n + 1)) == 1


def test_time_travel_across_the_layout_change(spark, tmp_path):
    """A version written as one dictionary-encoded file by a plain
    `df.write.parquet` and the distributed version a poll commits over
    it each read back as their own replay."""
    import pyarrow.parquet as pq

    polls, replays = _big_polls(n_keys=20000, n_polls=2, per_poll=1500, seed=11)
    seed_in = tmp_path / "seed_in"
    seed_in.mkdir()
    (seed_in / "poll0.json").write_text("\n".join(polls[0]) + "\n")
    seed = CDCPipeline(spark, str(tmp_path / "seed"))
    seed.run_available(str(seed_in), str(tmp_path / "seed_ckpt"))

    rep = tmp_path / "rep"
    seed.store.read().coalesce(1).write.parquet(str(rep / "v=1"))
    (rep / "_LATEST").write_text("1")
    pipe = CDCPipeline(spark, str(rep))
    [old] = _version_files(pipe.store, 1)
    meta = pq.ParquetFile(old).metadata
    assert any(
        meta.row_group(0).column(c).has_dictionary_page
        for c in range(meta.num_columns)
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "poll1.json").write_text("\n".join(polls[1]) + "\n")
    pipe.run_available(str(in_dir), str(tmp_path / "ckpt"))
    assert pipe.store.current_version() == 2
    assert len(_version_files(pipe.store, 2)) > 1
    _assert_layout(spark, pipe.store, 2, replays[1])
    got_v1 = {
        r["pk"]: r["value"]
        for r in pipe.store.read(version=1)
        .select("pk", F.col("data")["value"].alias("value"))
        .collect()
    }
    assert got_v1 == replays[0]
