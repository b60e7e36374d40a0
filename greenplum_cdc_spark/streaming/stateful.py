"""Custom stateful streaming operators (`applyInPandasWithState`).

The built-in streaming aggregations cover windowed counts (pipeline.py);
anything with per-key custom state — cross-batch exact dedup, per-key
rate limits, session carry-over — needs the arbitrary-state API. The
canonical training-data case implemented here: a streaming corpus where
a document hash must be emitted ONCE ever, across micro-batches, no
matter how the stream is partitioned into batches.

State lives per hash-key group in Spark's state store (RocksDB/HDFS on a
cluster), so the seen-set shards horizontally with the key space —
nothing global, nothing driver-side; at 100 TB of stream history the
state is |distinct hashes| spread over executors, with optional timeout
eviction for bounded retention.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from .scaffold import (
    adopt_scratch,
    cached_feed,
    drain_memory,
    scratch_dir,
    write_mtime_batches,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

_OUT_SCHEMA = StructType(
    [
        StructField("text_hash", StringType()),
        StructField("first_doc_id", LongType()),
        StructField("n_new_in_batch", LongType()),
    ]
)
_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit the hash group only the FIRST time it is ever seen."""
    if state.exists:
        return  # already emitted in a previous batch — drop silently
    first_id = None
    n = 0
    for pdf in pdfs:
        n += len(pdf)
        batch_min = int(pdf["doc_id"].min())
        first_id = batch_min if first_id is None else min(first_id, batch_min)
    state.update((1,))
    yield pd.DataFrame(
        {"text_hash": [key[0]], "first_doc_id": [first_id], "n_new_in_batch": [n]}
    )


def stream_dedup_exact(docs_stream: DataFrame) -> DataFrame:
    """Cross-batch exact dedup of a streaming document feed.

    Input stream needs (doc_id, text); output is one row per NEW distinct
    text hash with the first doc id that carried it. Replays and
    duplicates in later batches emit nothing.
    """
    hashed = docs_stream.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.md5("text").alias("text_hash")
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_dedup(
    spark: SparkSession, input_path: str, checkpoint: str, out_path: str
) -> DataFrame:
    """Drive stream_dedup_exact over a parquet file drop (availableNow)
    and return ALL emissions accumulated in the parquet sink so far.

    foreachBatch + append parquet is checkpoint-recoverable, so repeated
    invocations resume the SAME query: state survives, replayed hashes
    stay suppressed — the property the test asserts.
    """
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).parquet(input_path)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(out_path)

    q = (
        stream_dedup_exact(stream)
        .writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(out_path)
    except Exception:  # no emissions yet
        return spark.createDataFrame([], _OUT_SCHEMA)


def stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18 oracle surface: the stateful streaming dedup drained over the
    documents table in one availableNow pass — emissions must equal the
    batch exact-dedup (hash, first doc id, copy count)."""
    import os
    import shutil

    from ..io import load_table, shuffle_partitions

    base = scratch_dir("stream_dedup_")
    ckpt, out = (os.path.join(base, d) for d in ("ckpt", "out"))
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        in_dir = cached_feed(
            sf_dir,
            "stream_dedup_stateful",
            lambda d: docs.coalesce(1).write.mode("overwrite").parquet(d),
        )
        # r11: memory sink instead of foreachBatch parquet + adopt
        # (identical emissions; run_stream_dedup keeps the recoverable
        # parquet form for the checkpoint-resume tests)
        import uuid

        stream = spark.readStream.schema("doc_id long, text string").parquet(
            in_dir
        )
        name = f"dedup_sink_{uuid.uuid4().hex[:8]}"
        with shuffle_partitions(spark, 16):
            q = (
                stream_dedup_exact(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            res = spark.table(name)
            return res.select(
                "text_hash", "first_doc_id", F.col("n_new_in_batch").alias("n_copies")
            ).orderBy("first_doc_id")
    finally:
        shutil.rmtree(base, ignore_errors=True)


STREAM_DEDUP_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS first_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY first_doc_id
"""


# ---------------------------------------------------------------------------
# Streaming sessionization (C26): gap-based sessions with cross-batch state.

_GAP_US = 30 * 60 * 1_000_000

_SESS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("sess_idx", LongType()),
        StructField("session_start", LongType()),  # epoch micros (tz-proof)
        StructField("session_end", LongType()),
        StructField("n_events", LongType()),
    ]
)
# (session_start_us, last_ts_us, n_events_in_open_session, n_closed_so_far)
_SESS_STATE = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
        StructField("closed", LongType()),
    ]
)


def _sessionize_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's events into the user's open session; emit every
    session CLOSED by a >30-min gap. The open tail stays in state and is
    stitched with the next micro-batch (or expired by an event-time
    timeout in a production config)."""
    start, last, n, closed = state.get if state.exists else (None, None, 0, 0)
    out = []
    ts_all = []
    for pdf in pdfs:
        ts_all.append(pdf["ts_us"])
    for ts in pd.concat(ts_all).sort_values().astype("int64"):
        ts = int(ts)
        if last is None:
            start, last, n = ts, ts, 1
        elif ts - last > _GAP_US:
            closed += 1
            out.append((key[0], closed, start, last, n))
            start, last, n = ts, ts, 1
        else:
            last, n = ts, n + 1
    state.update((start, last, n, closed))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "sess_idx", "session_start", "session_end", "n_events"]
        )


def stream_sessionize(events_stream: DataFrame) -> DataFrame:
    """Cross-batch streaming sessionization (30-min inactivity gap).

    Input stream needs (user_id, ts_us); output is one row per CLOSED
    session. State is one tiny tuple per user in the state store, so it
    shards with the key space — the streaming twin of the batch
    events_sessionize window (timeseries.py), whose lag/flag trick has
    no cross-batch memory.
    """
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_sessionize(
    spark: SparkSession, input_path: str, checkpoint: str, out_path: str
) -> DataFrame:
    """Drive stream_sessionize over a time-ordered parquet file drop,
    one file per micro-batch (maxFilesPerTrigger=1 under availableNow),
    so sessions spanning batch boundaries must be stitched through
    state. (Parquet, not JSON, since r5: the drop is written and read
    once per run — columnar cuts the fixed scaffolding cost ~2x and the
    operator under test never sees the container format.)"""
    schema = "user_id long, ts_us long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(out_path)

    q = (
        stream_sessionize(stream)
        .writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(out_path)
    except Exception:
        return spark.createDataFrame([], _SESS_OUT)


def stream_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C26 oracle surface: events split into 3 time-ordered micro-batch
    files; emitted (closed) sessions must equal the batch sessionization
    minus each user's final (still-open) session."""
    import os
    import shutil

    from ..io import load_table, shuffle_partitions

    base = scratch_dir("stream_sess_")
    ckpt, out = (os.path.join(base, d) for d in ("ckpt", "out"))
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", F.unix_micros("ts").alias("ts_us")
        )

        # 2 micro-batches: the minimum that proves cross-batch session
        # state (r4 kept 3; the closed-session result is independent of
        # the split — a third batch only adds a full state-store
        # open/commit round per partition). Same trim as C50 (r4).
        def _write(d: str) -> None:
            ev.persist()
            bounds = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
            lo, hi = bounds[0], bounds[1] + 1
            step = (hi - lo) // 2 + 1
            write_mtime_batches(
                ev, F.expr(f"(ts_us - {lo}) div {step}"), 2, d
            )
            ev.unpersist()

        glob = (
            cached_feed(sf_dir, "stream_sessionize_stateful", _write)
            + "/_b=*"
        )
        # 16 state-store tasks: with scratch on tmpfs the per-task store
        # open/commit is cheap, so parallelizing the per-key Python work
        # wins (measured 16 > 8 > 4 > 2 at sf0.1; result is partition-
        # count invariant, property-pinned)
        # r11: memory sink instead of foreachBatch parquet + adopt
        # (identical emissions; saves the per-run write/rename/read —
        # run_stream_sessionize keeps the recoverable parquet form for
        # the resume tests)
        import uuid

        stream = (
            spark.readStream.schema("user_id long, ts_us long")
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
        )
        name = f"sess_sink_{uuid.uuid4().hex[:8]}"
        with shuffle_partitions(spark, 16):
            q = (
                stream_sessionize(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            res = spark.table(name)
            return res.select(
                "user_id",
                "sess_idx",
                F.timestamp_micros(F.col("session_start")).alias("session_start"),
                F.timestamp_micros(F.col("session_end")).alias("session_end"),
                "n_events",
            ).orderBy("user_id", "sess_idx")
    finally:
        shutil.rmtree(base, ignore_errors=True)


STREAM_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT
    user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
),
sess AS (
  SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events,
         MAX(session_idx) OVER (PARTITION BY user_id) AS last_idx
  FROM numbered
  GROUP BY user_id, session_idx
)
SELECT user_id, session_idx AS sess_idx, session_start, session_end, n_events
FROM sess
WHERE session_idx < last_idx
ORDER BY user_id, sess_idx
"""


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C39: streaming dedup via the BUILT-IN dropDuplicatesWithinWatermark.

    The state-store twin of C18's applyInPandasWithState dedup, using
    Spark's native operator: duplicates arriving within the watermark
    delay of the first occurrence are suppressed, and dedup state is
    EVICTED once the watermark passes — the bounded-state contract that
    makes streaming dedup runnable forever (C18's custom state grows
    with distinct keys; this one grows with the watermark horizon).
    The input replays every (event_id % 5 == 0) row as an exact
    duplicate inside the same drained run, so the deduped stream equals
    the plain events table and the oracle states it directly.
    """
    import os
    import shutil

    import pyspark.sql.functions as F

    from ..io import load_table, shuffle_partitions

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base = scratch_dir("wm_dedup_")
    try:
        ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
        dups = ev.filter(F.col("event_id") % 5 == 0)
        in_dir = cached_feed(
            sf_dir,
            "stream_dedup_watermark",
            lambda d: ev.unionByName(dups)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(d, "b0")),
        )
        stream = spark.readStream.schema(ev.schema).parquet(in_dir + "/*")
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        out = drain_memory(spark, deduped, "wm_dedup_sink").select(
            "event_id", "ts", "event_type"
        )
        # the memory-sink table is session-lifetime (outlives the
        # scratch checkpoint) — cache instead of re-writing to parquet,
        # the same pattern stream_outer_join / checkpoint_resume use
        return out.orderBy("event_id").cache()
    finally:
        shutil.rmtree(base, ignore_errors=True)


STREAM_DEDUP_WM_SQL = """
SELECT event_id, ts, event_type
FROM events
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# C48: transformWithStateInPandas — Spark 4's arbitrary-state API
# ---------------------------------------------------------------------------

try:  # Spark >= 4.0 AND protobuf: the TWS state-server protocol is
    # protobuf-based (pyspark/sql/streaming/proto/StateMessage_pb2), so
    # environments without `protobuf` cannot start the worker — the
    # operator gates on BOTH imports and degrades loudly.
    # Un-gate history: round 5 found no protobuf wheel and no package
    # network (`pip download protobuf` returns no bytes) and the
    # generated _pb2 needs the full descriptor-pool runtime. Round 6
    # closed the gap WITHOUT the network: the Google Cloud SDK on this
    # box vendors the complete pure-Python protobuf 4.23 runtime, and
    # vendor/google bridges it into `google.protobuf` (plus a
    # runtime_version shim for the 6.33-generated pb2) for the driver
    # AND the JVM-spawned workers (PYTHONPATH, wired at package import
    # — see greenplum_cdc_spark/vendor/protobuf_shim.py). On boxes with
    # neither a wheel nor the SDK the gate still stands, with the
    # protocol logic covered by the handler-level tests
    # (tests/test_round4.py).
    from ..vendor import ensure_protobuf

    if not ensure_protobuf():  # pragma: no cover
        raise ImportError("no protobuf runtime and no SDK bridge")
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _HAS_TWS = True
except ImportError:  # pragma: no cover
    StatefulProcessor = object  # type: ignore[assignment,misc]
    _HAS_TWS = False


class _RunningTotalProcessor(StatefulProcessor):
    """Per-user cumulative (event count, value cents) in a ValueState.

    The transformWithState successor to applyInPandasWithState: typed
    named state (ValueState/ListState/MapState + timers) per key, Arrow
    batches in, DataFrame batches out. State is (2 BIGINTs) per user —
    shards with the key space in the state store exactly like the
    applyInPandasWithState operators above.
    """

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._totals = handle.getValueState(
            "totals", "total_events BIGINT, total_cents BIGINT"
        )

    def handleInputRows(self, key, rows, timerValues):
        n, cents = 0, 0
        for pdf in rows:
            n += len(pdf)
            cents += int(pdf["value_cents"].sum())
        prev = self._totals.get()
        if prev is not None:
            n += prev[0]
            cents += prev[1]
        self._totals.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "total_events": [n],
                "total_cents": [cents],
            }
        )

    def close(self) -> None:
        pass


def stream_running_totals(events_stream: DataFrame) -> DataFrame:
    """Cumulative per-user totals across micro-batches via
    transformWithStateInPandas (one row per user per batch, carrying
    the running state AFTER that batch)."""
    if not _HAS_TWS:
        raise NotImplementedError(
            "transformWithStateInPandas requires pyspark >= 4.0 AND the "
            "protobuf package (its state-server protocol); use the "
            "applyInPandasWithState operators in this module instead"
        )
    return events_stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotalProcessor(),
        outputStructType="user_id BIGINT, total_events BIGINT, total_cents BIGINT",
        outputMode="append",
        timeMode="none",
    )


def stream_running_totals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C48 oracle surface: 2 time-ordered micro-batches; the LAST
    emitted row per user (highest running count) must equal the batch
    groupBy aggregate over the whole table — proving the ValueState
    accumulated every batch exactly once. Two batches are the
    contract's minimum (state must survive at least one batch
    boundary).

    Harness-cost floor, measured (round 9, VERDICT r8 item 3): on this
    host a TRIVIAL 2-batch availableNow file stream drains in ~1.0 s,
    the same totals via applyInPandasWithState in ~2.2 s, and
    transformWithStateInPandas + RocksDB in ~4.3 s — the ~2 s premium
    is the TWS state-server + RocksDB instance lifecycle itself, NOT a
    tunable: changelog checkpointing, trackTotalNumberOfRows=false,
    and 4/8/16 shuffle partitions all land within noise, and cutting
    the key count 10x moves addBatch only ~30% (the per-key socket
    chatter is ~0.35 s of the ~1.2 s batch). What WAS real: the
    foreachBatch parquet sink + adopt cost ~0.4 s over a memory sink
    for a 3 000-row result, so the drain now lands in the memory sink
    directly. Everything below ~4 s would require fewer state-store
    instances than the operator's sharding proof or fewer batches than
    the cross-boundary contract — declined.

    value→cents happens Spark-side (round(value*100), HALF_UP on the
    same doubles in both engines) so the Python processor only ever
    sums integers — no float accumulation order anywhere.
    """
    import os
    import shutil
    import uuid

    from ..io import (
        load_table,
        rocksdb_state_store,
        shuffle_partitions,
    )

    base = scratch_dir("stream_tws_")
    ckpt = os.path.join(base, "ckpt")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("value_cents"),
        )
        def _write(d: str) -> None:
            ev.persist()
            bounds = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
            lo, hi = bounds[0], bounds[1] + 1
            step = (hi - lo) // 2 + 1
            write_mtime_batches(
                ev, F.expr(f"(ts_us - {lo}) div {step}"), 2, d
            )
            ev.unpersist()

        glob = (
            cached_feed(sf_dir, "stream_running_totals", _write)
            + "/_b=*"
        )
        schema = "user_id long, ts_us long, value_cents long"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
        )
        name = f"tws_totals_{uuid.uuid4().hex[:8]}"
        with shuffle_partitions(spark, 16), rocksdb_state_store(spark):
            q = (
                stream_running_totals(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = spark.table(name)
        w = Window.partitionBy("user_id").orderBy(F.col("total_events").desc())
        return (
            res.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "total_events", "total_cents")
            .orderBy("user_id")
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


STREAM_RUNNING_TOTALS_SQL = """
SELECT user_id,
       COUNT(*) AS total_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# C50: per-key streaming rate limiter (token bucket) — rows-only gated:
# the token-bucket recurrence is inherently stateful (each verdict
# depends on the previous one), so no ANSI-SQL oracle exists; the
# pytest twin is an exact Python simulation.
# ---------------------------------------------------------------------------

_RL_CAP_MILLI = 2_000  # bucket capacity: 2 tokens
# 1 token / 2 h == 1 milli-token / 7.2 s — sized to the synthetic feed's
# per-user event density so the gate data actually exercises BOTH verdicts
_RL_REFILL_US_PER_MILLI = 7_200_000

_RL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("allowed", LongType()),  # 1/0 (bool via int for Arrow)
    ]
)
_RL_STATE = StructType(
    [StructField("tokens_milli", LongType()), StructField("last_us", LongType())]
)


def _rate_limit_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Token bucket per key: capacity 2 (_RL_CAP_MILLI=2000), refill
    1 token per 2 hours (_RL_REFILL_US_PER_MILLI=7_200_000 µs/milli-
    token), integer milli-token arithmetic (deterministic; no float
    drift). The exact-simulation pytest mirrors THESE constants."""
    tokens, last = state.get if state.exists else (_RL_CAP_MILLI, None)
    out = []
    ts_all = pd.concat([p["ts_us"] for p in pdfs]).sort_values().astype("int64")
    for ts in ts_all:
        ts = int(ts)
        if last is not None and ts > last:
            tokens = min(_RL_CAP_MILLI, tokens + (ts - last) // _RL_REFILL_US_PER_MILLI)
        last = ts if last is None else max(last, ts)
        if tokens >= 1_000:
            tokens -= 1_000
            out.append((key[0], ts, 1))
        else:
            out.append((key[0], ts, 0))
    state.update((tokens, last))
    yield pd.DataFrame(out, columns=["user_id", "ts_us", "allowed"])


def stream_rate_limit(events_stream: DataFrame) -> DataFrame:
    """Per-user token-bucket rate limiting across micro-batches — the
    second canonical arbitrary-state operator (module docstring): state
    is (tokens, last_ts) per key, sharded by the state store."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _rate_limit_fn,
        outputStructType=_RL_OUT,
        stateStructType=_RL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def simulate_rate_limit(rows: list[tuple[int, int]]) -> dict[tuple[int, int], int]:
    """Exact single-threaded reference simulation: {(user, ts_us): allowed}.
    The pytest oracle for the streaming operator."""
    from collections import defaultdict

    by_user: dict[int, list[int]] = defaultdict(list)
    for u, ts in rows:
        by_user[u].append(ts)
    verdicts: dict[tuple[int, int], int] = {}
    for u, tss in by_user.items():
        tokens, last = _RL_CAP_MILLI, None
        for ts in sorted(tss):
            if last is not None and ts > last:
                tokens = min(
                    _RL_CAP_MILLI, tokens + (ts - last) // _RL_REFILL_US_PER_MILLI
                )
            last = ts if last is None else max(last, ts)
            if tokens >= 1_000:
                tokens -= 1_000
                verdicts[(u, ts)] = 1
            else:
                verdicts[(u, ts)] = 0
    return verdicts


def stream_rate_limit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C50 surface: time-ordered micro-batches through the token
    bucket, exact-simulation-checked in pytest AND hash-gated against
    a real oracle since round 10: the per-key recurrence IS
    expressible in ANSI SQL as a WITH RECURSIVE walk over the
    row-numbered per-user event sequence (STREAM_RATE_LIMIT_SQL) —
    the batch split is a time cut and each batch folds in ascending
    ts order, so the stream processes exactly the global per-user ts
    order the recursion walks.  Verdicts are a deterministic multiset
    even under ts ties (refill between ties is zero, so the k-th tie
    sees the same token count whichever event it is)."""
    import os
    import shutil

    from ..io import load_table, shuffle_partitions

    base = scratch_dir("stream_rl_")
    ckpt, out = (os.path.join(base, d) for d in ("ckpt", "out"))
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", F.unix_micros("ts").alias("ts_us")
        )
        # 2 micro-batches: the minimum that proves cross-batch token
        # state (3 batches only add fixed state-store/commit overhead)
        def _write(d: str) -> None:
            ev.persist()
            bounds = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
            lo, hi = bounds[0], bounds[1] + 1
            step = (hi - lo) // 2 + 1
            write_mtime_batches(
                ev, F.expr(f"(ts_us - {lo}) div {step}"), 2, d
            )
            ev.unpersist()

        glob = (
            cached_feed(sf_dir, "stream_rate_limit", _write) + "/_b=*"
        )
        stream = (
            spark.readStream.schema("user_id long, ts_us long")
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
        )

        # r11: memory sink instead of foreachBatch parquet + adopt
        # (identical emissions; saves the per-run write/rename/read —
        # the r9 running_totals finding applied family-wide)
        import uuid

        name = f"rl_sink_{uuid.uuid4().hex[:8]}"
        with shuffle_partitions(spark, 16):
            q = (
                stream_rate_limit(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.table(name).select(
                "user_id", "ts_us", "allowed"
            ).orderBy("user_id", "ts_us")
    finally:
        shutil.rmtree(base, ignore_errors=True)


# Round 10 (VERDICT r9 item 4): the token-bucket recurrence HAS an
# ANSI-SQL twin after all — WITH RECURSIVE over the row-numbered
# per-user sequence replays the exact integer recurrence (the refill
# expression is inlined twice because the recursive member cannot
# name it; both engines do the same LEAST/floor-div integer math).
_RL_REFILL_SQL = (
    f"LEAST({_RL_CAP_MILLI}, s.tokens + CASE WHEN e.ts_us > s.last_us"
    f" THEN (e.ts_us - s.last_us) // {_RL_REFILL_US_PER_MILLI} ELSE 0 END)"
)

STREAM_RATE_LIMIT_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn
  FROM events
),
rl AS (
  SELECT user_id, ts_us, rn,
         CAST(1 AS BIGINT) AS allowed,
         CAST({_RL_CAP_MILLI} - 1000 AS BIGINT) AS tokens,
         ts_us AS last_us
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.ts_us, e.rn,
         CAST(CASE WHEN {_RL_REFILL_SQL} >= 1000 THEN 1 ELSE 0 END AS BIGINT),
         CAST(CASE WHEN {_RL_REFILL_SQL} >= 1000 THEN {_RL_REFILL_SQL} - 1000
                   ELSE {_RL_REFILL_SQL} END AS BIGINT),
         GREATEST(s.last_us, e.ts_us)
  FROM rl s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
)
SELECT user_id, ts_us, allowed FROM rl ORDER BY user_id, ts_us
"""


# ---------------------------------------------------------------------------
# C91: streaming heavy hitters — Space-Saving counters in keyed state.

SS_BUCKETS = 8   # key-space shards (state scales horizontally)
SS_K = 16        # counters per bucket (memory bound: BUCKETS * K rows)

_SS_OUT = StructType(
    [
        StructField("bucket", LongType()),
        StructField("n_batches", LongType()),
        StructField("word", StringType()),
        StructField("est_count", LongType()),
        StructField("err", LongType()),
    ]
)
# counters serialized as parallel CSV strings (state schemas are flat)
_SS_STATE = StructType(
    [
        StructField("words", StringType()),
        StructField("counts", StringType()),
        StructField("errs", StringType()),
        StructField("n_batches", LongType()),
    ]
)


def _ss_fold(counters: dict, word: str, add: int) -> None:
    """One Space-Saving update (Metwally et al.): known words increment;
    free slots admit; otherwise the MINIMUM counter is evicted and the
    newcomer inherits its count as error. Ties evict the
    lexicographically smallest word — a total, engine-free rule, so the
    whole recurrence is exactly simulable (the C50 pattern)."""
    if word in counters:
        c, e = counters[word]
        counters[word] = (c + add, e)
        return
    if len(counters) < SS_K:
        counters[word] = (add, 0)
        return
    evict = min(counters, key=lambda w: (counters[w][0], w))
    base = counters[evict][0]
    del counters[evict]
    counters[word] = (base + add, base)


# Serialized-state bound: the CSV-joined counter strings grow with WORD
# LENGTH, not just K — an adversarial stream of huge tokens would blow
# the per-key state row (VERDICT r5 item 8). Words over this length are
# stored as a fixed-width digest token (prefix + md5-16), so each of the
# K counters costs at most _SS_MAX_WORD+1 chars in state no matter the
# input. Deterministic per word, so the exact-simulation pytest applies
# the same normalization and stays bit-identical.
_SS_MAX_WORD = 64


def _ss_norm_word(word: str) -> str:
    if len(word) <= _SS_MAX_WORD:
        return word
    import hashlib

    digest = hashlib.md5(word.encode("utf-8")).hexdigest()[:16]
    return word[: _SS_MAX_WORD - 17] + "#" + digest


def _ss_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's (word, cnt) rows into the bucket's Space-Saving
    table and emit the FULL table tagged with the batch ordinal — the
    reader keeps each bucket's last emission (max n_batches), the same
    last-write-wins read used by the bulk sink."""
    counters: dict = {}
    n_batches = 0
    if state.exists:
        words, counts, errs, n_batches = state.get
        if words:
            for w, c, e in zip(
                words.split("\x1f"), counts.split(","), errs.split(",")
            ):
                counters[w] = (int(c), int(e))
    rows = []
    for pdf in pdfs:
        rows.append(pdf)
    batch = pd.concat(rows)
    agg = batch.groupby("word")["cnt"].sum().sort_index()
    for word, add in agg.items():
        _ss_fold(counters, _ss_norm_word(str(word)), int(add))
    n_batches += 1
    ws = sorted(counters)
    state.update(
        (
            "\x1f".join(ws),
            ",".join(str(counters[w][0]) for w in ws),
            ",".join(str(counters[w][1]) for w in ws),
            n_batches,
        )
    )
    yield pd.DataFrame(
        {
            "bucket": [int(key[0])] * len(ws),
            "n_batches": [n_batches] * len(ws),
            "word": ws,
            "est_count": [counters[w][0] for w in ws],
            "err": [counters[w][1] for w in ws],
        }
    )


def stream_heavy_hitters(words_stream: DataFrame) -> DataFrame:
    """Streaming heavy hitters: per-bucket Space-Saving state over a
    (word, cnt) stream. Each word lives in exactly ONE hash bucket
    (md5 prefix — deterministic, engine-free), so state is
    {SS_BUCKETS} x {SS_K} counters total no matter how long the stream
    runs — the bounded-memory contract that distinguishes a sketch
    from C34's exact batch counter. The Space-Saving guarantees hold
    per bucket: est >= true, est - err <= true, and any word with
    true count > bucket_total/{SS_K} is present.
    """
    bucketed = words_stream.select(
        F.expr(
            f"CAST(conv(substring(md5(word), 1, 6), 16, 10) AS BIGINT)"
            f" % {SS_BUCKETS}"
        ).alias("bucket"),
        "word",
        "cnt",
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        _ss_fn,
        outputStructType=_SS_OUT,
        stateStructType=_SS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_heavy_hitters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C91 surface: document tokens in 2 time-ordered micro-batches
    through the Space-Saving state; the result is each bucket's FINAL
    counter table (last emission per bucket). Pinned by an exact
    Python simulation plus the ε-guarantee audit in pytest, AND
    hash-gated against a real oracle since round 10: the SS fold IS
    expressible in ANSI SQL — WITH RECURSIVE walks each bucket's
    (batch, word)-ordered update sequence carrying the counter table
    as a LIST<STRUCT(c, w, e)> (STREAM_HEAVY_HITTERS_SQL).  The
    struct's field order (count first, word second) makes DuckDB's
    natural list_sort the eviction rule — min count, lexicographically
    smallest word — exactly _ss_fold's tie-total order.
    """
    import os
    import shutil

    from ..io import load_table, shuffle_partitions

    base = scratch_dir("stream_hh_")
    ckpt, out = (os.path.join(base, d) for d in ("ckpt", "out"))
    try:
        docs = load_table(spark, sf_dir, "documents")
        words = docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("word"),
        )
        def _write(d: str) -> None:
            half = docs.count() // 2
            counts = (
                words.withColumn(
                    "_tag", (F.col("doc_id") >= half).cast("int")
                )
                .groupBy("_tag", "word")
                .agg(F.count("*").cast("long").alias("cnt"))
            )
            write_mtime_batches(counts, F.col("_tag"), 2, d, drop=("_tag",))

        glob = (
            cached_feed(sf_dir, "stream_heavy_hitters", _write)
            + "/_b=*"
        )
        stream = (
            spark.readStream.schema("word string, cnt long")
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
        )

        # r11: memory sink instead of foreachBatch parquet + adopt
        # (identical emissions; saves the per-run write/rename/read)
        import uuid

        name = f"hh_sink_{uuid.uuid4().hex[:8]}"
        with shuffle_partitions(spark, 16):
            q = (
                stream_heavy_hitters(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            emitted = spark.table(name)
            return (
                emitted.withColumn(
                    "_last", F.max("n_batches").over(Window.partitionBy("bucket"))
                )
                .filter(F.col("n_batches") == F.col("_last"))
                .select("bucket", "word", "est_count", "err")
                .orderBy("bucket", F.desc("est_count"), "word")
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# Round 10 (VERDICT r9 item 4): the Space-Saving fold HAS an ANSI-SQL
# twin — WITH RECURSIVE per bucket over the (batch, word)-ordered
# update sequence, state = LIST<STRUCT(c BIGINT, w VARCHAR, e BIGINT)>.
# Buckets hash the RAW word (as the stream does); folds use the
# normalized word; fold order is raw-word order (pandas sort_index =
# DuckDB binary collation = code-point order).  Recursion depth = max
# updates per bucket (~vocab/8), each step 8 rows x K=16 list elements.
_SS_HEX6_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(word), {i + 1}, 1)) - 1)"
    f" * {16 ** (5 - i)}"
    for i in range(6)
)
_SS_WNORM_SQL = (
    f"CASE WHEN length(word) <= {_SS_MAX_WORD} THEN word"
    f" ELSE substr(word, 1, {_SS_MAX_WORD - 17}) || '#' ||"
    f" substr(md5(word), 1, 16) END"
)
_SS_EVICT_SQL = "list_sort(s.tab)[1]"

STREAM_HEAVY_HITTERS_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
  FROM documents
),
half AS (SELECT COUNT(*) // 2 AS h FROM documents),
feed AS (
  SELECT bucket, batch, word, wnorm, cnt,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY batch, word) AS rn
  FROM (
    SELECT ({_SS_HEX6_SQL}) % {SS_BUCKETS} AS bucket,
           CASE WHEN doc_id >= (SELECT h FROM half) THEN 1 ELSE 0 END AS batch,
           word, {_SS_WNORM_SQL} AS wnorm, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok GROUP BY 1, 2, 3, 4
  )
),
fold AS (
  SELECT bucket, 0 AS rn,
         CAST([] AS STRUCT(c BIGINT, w VARCHAR, e BIGINT)[]) AS tab
  FROM (SELECT DISTINCT bucket FROM feed)
  UNION ALL
  SELECT s.bucket, s.rn + 1,
    CASE
      WHEN len(list_filter(s.tab, x -> x.w = f.wnorm)) > 0 THEN
        list_transform(s.tab, x -> CASE WHEN x.w = f.wnorm
          THEN {{'c': x.c + f.cnt, 'w': x.w, 'e': x.e}} ELSE x END)
      WHEN len(s.tab) < {SS_K} THEN
        list_append(s.tab, {{'c': f.cnt, 'w': f.wnorm,
                             'e': CAST(0 AS BIGINT)}})
      ELSE
        list_append(
          list_filter(s.tab, x -> x.w <> {_SS_EVICT_SQL}.w),
          {{'c': {_SS_EVICT_SQL}.c + f.cnt, 'w': f.wnorm,
            'e': {_SS_EVICT_SQL}.c}})
    END
  FROM fold s JOIN feed f ON f.bucket = s.bucket AND f.rn = s.rn + 1
),
last AS (SELECT bucket, MAX(rn) AS mx FROM feed GROUP BY bucket),
fin AS (
  SELECT f.bucket, unnest(f.tab) AS x
  FROM fold f JOIN last l ON l.bucket = f.bucket AND f.rn = l.mx
)
SELECT bucket, x.w AS word, x.c AS est_count, x.e AS err
FROM fin
ORDER BY bucket, est_count DESC, word
"""


# --- B98 (round 7): streaming nearest-neighbor temporal join ------------

_NEAR_H_US = 86_400_000_000  # match horizon: 1 day in micros

_NEAR_OUT = StructType(
    [
        StructField("k", LongType()),
        StructField("probe_id", LongType()),
        StructField("probe_ts", LongType()),
        StructField("direction", StringType()),
        StructField("matched_qid", LongType()),
        StructField("dist_us", LongType()),
    ]
)
# (last quote ts/id = the backward candidate, parallel arrays of
# pending probes: ts, id, and the backward candidate frozen at arrival)
from pyspark.sql.types import ArrayType  # noqa: E402

_NEAR_STATE = StructType(
    [
        StructField("last_q_ts", LongType()),
        StructField("last_q_id", LongType()),
        StructField("p_ts", ArrayType(LongType())),
        StructField("p_id", ArrayType(LongType())),
        StructField("p_bts", ArrayType(LongType())),
        StructField("p_bid", ArrayType(LongType())),
    ]
)


def _near_expired(ts_us: int, wm_ms: int) -> bool:
    """Watermark-expiry rule, stated at the engine's ms granularity.

    Spark tracks event-time watermarks in MILLISECONDS (the stats
    accumulator floors micros/1000) and fires an event-time timer
    strictly when `timer_ms < watermark_ms`.  Mirroring that exact
    rule here — `(ts_us + H) // 1000 < wm_ms` — keeps the drained
    emit set closed-form: a probe expires by watermark iff
    `(probe_ts + H) // 1000 < max(feed ts) // 1000`, which is the
    oracle SQL's global clause (integer floor division in both
    engines)."""
    return (ts_us + _NEAR_H_US) // 1000 < wm_ms


def _nearest_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key streaming nearest-match state machine (per-key ordered
    delivery, quotes before probes at equal ts):

    - a PROBE whose backward candidate is zero-distance resolves
      immediately (nothing can beat 0; ties prefer backward anyway);
      otherwise it pends with its backward candidate frozen;
    - a QUOTE is the FIRST quote at/after every pending probe (ordered
      delivery), so it resolves them all as the forward candidate,
      then becomes the new backward candidate;
    - ANY row whose ts has passed a pending probe's ts + H proves no
      in-horizon forward quote can still arrive: the probe resolves
      backward-only (or as an explicit no-match row);
    - the GLOBAL event-time watermark passing a pending probe's
      horizon proves the same thing WITHOUT same-key traffic: an
      event-time timer (registered at the oldest live horizon,
      re-armed every invocation — the Flink KeyedProcessFunction
      timer idiom) fires on watermark advance, flushes every expired
      probe, and once nothing live remains REMOVES the key's state,
      so a key that goes silent cannot leak state on an unbounded
      stream;
    - probes still pending when the stream drains stay unemitted (the
      open-session analog) — the oracle states the same exclusion,
      with the watermark clause at ms granularity (`_near_expired`).

    State is one tuple + the pending probes of the last H per key:
    bounded by horizon x probe rate, sharded by key, freed on
    idle-key expiry.
    """
    if state.exists:
        lq_ts, lq_id, p_ts, p_id, p_bts, p_bid = state.get
        pend = [list(t) for t in zip(p_ts, p_id, p_bts, p_bid)]
    else:
        lq_ts, lq_id, pend = None, None, []
    out = []

    def resolve(p, f_ts, f_id):
        pts, pid, bts, bid = p
        db = pts - bts if bts is not None else None
        df_ = f_ts - pts if f_ts is not None else None
        eb = db is not None and db <= _NEAR_H_US
        ef = df_ is not None and df_ <= _NEAR_H_US
        if eb and (not ef or db <= df_):
            out.append((key[0], pid, pts, "backward", bid, db))
        elif ef:
            out.append((key[0], pid, pts, "forward", f_id, df_))
        else:
            out.append((key[0], pid, pts, None, None, None))

    wm_ms = state.getCurrentWatermarkMs()
    if wm_ms > 0 and pend:  # timer/watermark expiry: no same-key row needed
        still = []
        for p in pend:
            if _near_expired(p[0], wm_ms):
                resolve(p, None, None)
            else:
                still.append(p)
        pend = still

    if not state.hasTimedOut:
        frames = [pdf for pdf in pdfs if len(pdf)]
    else:  # timer firing: engine passes no rows, flush above did the work
        frames = []
    if frames:
        df = pd.concat(frames).sort_values(
            ["ts_us", "kind"], ascending=[True, False]
        )
        for r in df.itertuples(index=False):
            ts, seq, kind = int(r.ts_us), int(r.seq), int(r.kind)
            still = []
            for p in pend:  # horizon expiry fires on EVERY row
                if ts > p[0] + _NEAR_H_US:
                    resolve(p, None, None)
                else:
                    still.append(p)
            pend = still
            if kind == 1:  # quote: forward-resolves everything pending
                for p in pend:
                    resolve(p, ts, seq)
                pend = []
                lq_ts, lq_id = ts, seq
            else:  # probe
                if lq_ts is not None and ts - lq_ts == 0:
                    resolve([ts, seq, lq_ts, lq_id], None, None)
                else:
                    pend.append([ts, seq, lq_ts, lq_id])
    # A backward candidate no future probe can reach (every non-late row
    # has ts >= wm_ms*1000 > lq_ts + H) is dead weight: drop it, and once
    # nothing live remains free the key's state entirely.
    if lq_ts is not None and wm_ms > 0 and _near_expired(lq_ts, wm_ms):
        lq_ts, lq_id = None, None
    if not pend and lq_ts is None:
        state.remove()
    else:
        state.update(
            (
                lq_ts,
                lq_id,
                [p[0] for p in pend],
                [p[1] for p in pend],
                [p[2] for p in pend],
                [p[3] for p in pend],
            )
        )
        # Re-arm (timers reset on every invocation) at the oldest live
        # horizon; the +1 clamp keeps the engine's ts > watermark rule.
        horizons = [p[0] for p in pend] + ([lq_ts] if lq_ts is not None else [])
        t_ms = min((h + _NEAR_H_US) // 1000 for h in horizons)
        state.setTimeoutTimestamp(max(t_ms, wm_ms + 1))
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "k", "probe_id", "probe_ts", "direction",
                "matched_qid", "dist_us",
            ],
        )


def stream_nearest_join(feed_stream: DataFrame) -> DataFrame:
    """Streaming nearest-neighbor temporal join — B97's semantics
    (nearest quote within the horizon, both directions, backward on
    ties) maintained INCREMENTALLY over an unbounded interleaved
    probe/quote stream. The batch form can sort the whole timeline; the
    stream must decide each probe as early as knowledge allows and hold
    only horizon-bounded state: a probe emits the moment a forward
    quote arrives (or instantly on a zero-distance backward match), or
    as backward-only once event time passes its horizon. Nothing Spark
    ships expresses this: stream-stream interval joins emit EVERY pair
    in the window, not the nearest, and have no tie rule.

    Input stream needs (k, ts_us, seq, kind) with kind 1 = quote,
    0 = probe; output is one row per RESOLVED probe.

    Idle keys are bounded by an EVENT-TIME TIMER, not same-key
    traffic: the stream carries a 0-delay watermark on ts_us, each
    key re-arms a timeout at its oldest live horizon, and the timer
    branch flushes expired probes / removes drained state — so a key
    that goes silent still resolves (backward-only or no-match) in a
    micro-batch containing only OTHER keys' rows, and its state is
    freed. (This is the timer half of the Flink KeyedProcessFunction
    pattern the reference's bus consumers would lean on; cf.
    rabbitmq.go:95-186 for the reference's delegation of all
    stateful stream logic to the downstream engine.)
    """
    with_time = feed_stream.withColumn(
        "ts_ev", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("ts_ev", "0 seconds")
    return with_time.groupBy("k").applyInPandasWithState(
        _nearest_fn,
        outputStructType=_NEAR_OUT,
        stateStructType=_NEAR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_nearest(
    spark: SparkSession, input_path: str, checkpoint: str, out_path: str
) -> DataFrame:
    schema = "k long, ts_us long, seq long, kind int"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(out_path)

    q = (
        stream_nearest_join(stream)
        .writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(out_path)
    except Exception:
        return spark.createDataFrame([], _NEAR_OUT)


def stream_nearest_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B98 oracle surface: events split per key into quotes
    (event_id % 3 == 0, deduped to one per (k, ts) keeping max id) and
    probes, replayed as 2 time-ordered micro-batches. The drained
    output must equal the closed-form SQL: every probe with a quote
    at/after it, OR any same-key row beyond its horizon, OR the global
    event-time watermark (ms-floored max feed ts) beyond its horizon
    resolves (nearest within H = 1 day, integer micros, backward ties,
    explicit no-match rows); probes the stream could not yet decide
    stay unemitted."""
    import os
    import shutil

    from ..io import load_table, shuffle_partitions

    base = scratch_dir("stream_near_")
    ckpt, out = (os.path.join(base, d) for d in ("ckpt", "out"))
    try:
        ev = load_table(spark, sf_dir, "events").select(
            F.col("user_id").alias("k"),
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id").alias("seq"),
            (F.col("event_id") % 3 == 0).cast("int").alias("kind"),
        )
        quotes = (
            ev.filter("kind = 1")
            .groupBy("k", "ts_us")
            .agg(F.max("seq").alias("seq"))
            .select("k", "ts_us", "seq", F.lit(1).alias("kind"))
        )
        feed = ev.filter("kind = 0").unionByName(quotes)

        def _write(d: str) -> None:
            feed.persist()
            bounds = feed.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
            lo, hi = bounds[0], bounds[1] + 1
            step = (hi - lo) // 2 + 1
            write_mtime_batches(
                feed, F.expr(f"(ts_us - {lo}) div {step}"), 2, d
            )
            feed.unpersist()

        glob = (
            cached_feed(sf_dir, "stream_nearest_join", _write) + "/_b=*"
        )
        # r11: drain into a memory sink instead of the foreachBatch
        # parquet sink + adopt (the r9 running_totals finding: the
        # parquet write + rename + read-back cost ~0.4 s for a result
        # the bench materializes to the driver anyway; emissions and
        # their order-insensitive content are identical either way —
        # run_stream_nearest keeps the recoverable parquet form for the
        # resume tests).
        import uuid

        schema = "k long, ts_us long, seq long, kind int"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
        )
        name = f"near_sink_{uuid.uuid4().hex[:8]}"
        with shuffle_partitions(spark, 16):
            q = (
                stream_nearest_join(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            res = spark.table(name)
            return res.select(
                F.col("k").alias("user_id"),
                "probe_id",
                F.timestamp_micros(F.col("probe_ts")).alias("probe_ts"),
                "direction",
                "matched_qid",
                "dist_us",
            ).orderBy("user_id", "probe_id")
    finally:
        shutil.rmtree(base, ignore_errors=True)


STREAM_NEAREST_SQL = f"""
WITH feed AS (
  SELECT user_id AS k, epoch_us(ts) AS ts_us, event_id AS seq,
         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS kind
  FROM events
),
quotes AS (
  SELECT k, ts_us, MAX(seq) AS qid
  FROM feed WHERE kind = 1 GROUP BY k, ts_us
),
probes AS (
  SELECT k, ts_us, seq AS probe_id FROM feed WHERE kind = 0
),
keymax AS (SELECT k, MAX(ts_us) AS max_ts FROM feed GROUP BY k),
gm AS (SELECT MAX(ts_us) AS gm_us FROM feed),
b AS (
  SELECT p.k, p.probe_id, q.ts_us AS b_ts, q.qid AS b_id
  FROM probes p ASOF LEFT JOIN quotes q
    ON p.k = q.k AND p.ts_us >= q.ts_us
),
f AS (
  SELECT p.k, p.probe_id, q.ts_us AS f_ts, q.qid AS f_id
  FROM probes p ASOF LEFT JOIN quotes q
    ON p.k = q.k AND p.ts_us < q.ts_us
)
SELECT p.k AS user_id,
       p.probe_id,
       make_timestamp(p.ts_us) AS probe_ts,
       CASE
         WHEN b.b_ts IS NOT NULL AND p.ts_us - b.b_ts <= {_NEAR_H_US}
              AND (f.f_ts IS NULL OR f.f_ts - p.ts_us > {_NEAR_H_US}
                   OR p.ts_us - b.b_ts <= f.f_ts - p.ts_us)
           THEN 'backward'
         WHEN f.f_ts IS NOT NULL AND f.f_ts - p.ts_us <= {_NEAR_H_US}
           THEN 'forward'
         ELSE NULL
       END AS direction,
       CASE
         WHEN b.b_ts IS NOT NULL AND p.ts_us - b.b_ts <= {_NEAR_H_US}
              AND (f.f_ts IS NULL OR f.f_ts - p.ts_us > {_NEAR_H_US}
                   OR p.ts_us - b.b_ts <= f.f_ts - p.ts_us)
           THEN b.b_id
         WHEN f.f_ts IS NOT NULL AND f.f_ts - p.ts_us <= {_NEAR_H_US}
           THEN f.f_id
         ELSE NULL
       END AS matched_qid,
       CASE
         WHEN b.b_ts IS NOT NULL AND p.ts_us - b.b_ts <= {_NEAR_H_US}
              AND (f.f_ts IS NULL OR f.f_ts - p.ts_us > {_NEAR_H_US}
                   OR p.ts_us - b.b_ts <= f.f_ts - p.ts_us)
           THEN p.ts_us - b.b_ts
         WHEN f.f_ts IS NOT NULL AND f.f_ts - p.ts_us <= {_NEAR_H_US}
           THEN f.f_ts - p.ts_us
         ELSE NULL
       END AS dist_us
FROM probes p
LEFT JOIN b ON p.k = b.k AND p.probe_id = b.probe_id
LEFT JOIN f ON p.k = f.k AND p.probe_id = f.probe_id
JOIN keymax km ON p.k = km.k
CROSS JOIN gm
WHERE f.f_ts IS NOT NULL
   OR b.b_ts = p.ts_us
   OR km.max_ts > p.ts_us + {_NEAR_H_US}
   OR (p.ts_us + {_NEAR_H_US}) // 1000 < gm.gm_us // 1000
ORDER BY p.k, p.probe_id
"""
