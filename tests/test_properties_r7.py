"""Property tests for the round-7 components.

- crc32c_many (vectorized lanes + GF(2) combine) is pinned to the
  scalar reference on hypothesis-generated buffer lists — every length
  class crosses the chunk/pow-2 padding boundaries.
- encode_record_batches == per-batch encode_record_batch bytes on
  hypothesis-generated batch specs.
- The incremental SCD2 merge is equivalent to the one-shot lead window
  under RANDOM event histories and RANDOM batch boundaries (per-key
  order preserved — the contract the bus transports provide): closed
  rows final, open rows correct, whatever the batching.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from greenplum_cdc_spark.sources.kafka_wire import (  # noqa: E402
    crc32c,
    crc32c_many,
    encode_record_batch,
    encode_record_batches,
)


class TestCrc32cManyProperties:
    @given(
        bufs=st.lists(
            st.binary(min_size=0, max_size=1200), min_size=0, max_size=12
        )
    )
    @settings(max_examples=120, deadline=None)
    def test_matches_scalar(self, bufs):
        assert crc32c_many(bufs) == [crc32c(b) for b in bufs]

    @given(
        specs=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2**40),  # base_offset
                st.integers(min_value=0, max_value=2**41),  # base_ts
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=1000),
                        st.integers(min_value=-1000, max_value=1000),
                        st.one_of(st.none(), st.binary(max_size=20)),
                        st.one_of(st.none(), st.binary(max_size=60)),
                    ),
                    min_size=1,
                    max_size=6,
                ),
            ),
            min_size=1,
            max_size=5,
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_batched_encoder_matches_single(self, specs):
        assert encode_record_batches(specs) == [
            encode_record_batch(*s) for s in specs
        ]


@pytest.mark.parametrize("seed", [5, 17, 31])
def test_replica_store_random_lineage(spark, tmp_path, seed):
    """Randomized plain/append commit lineages with interleaved
    vacuums: read(v) must always equal the model reconstruction (plain
    commit resets to its df; append commit = prior state + appended
    rows beside the new base), and vacuumed versions return None while
    every retained one stays exact."""
    from greenplum_cdc_spark.streaming.pipeline import ReplicaStore

    rng = random.Random(seed)
    store = ReplicaStore(spark, str(tmp_path / "rep"))

    def df(vals):
        return spark.createDataFrame([(v,) for v in vals], "x int")

    nxt = iter(range(1, 10_000))
    model: dict[int, list[int]] = {}  # version -> full logical contents
    state: list[int] = []
    for step in range(8):
        base = [next(nxt) for _ in range(rng.randrange(1, 4))]
        if rng.random() < 0.5:
            appended = [next(nxt) for _ in range(rng.randrange(0, 3))]
            # model: new state = base + carried segment rows + appended
            prev_segs = getattr(store, "_test_segs", [])
            segs = prev_segs + appended
            v = store.commit(df(base), append=df(appended))
            store._test_segs = segs
            state = base + segs
        else:
            v = store.commit(df(base))
            store._test_segs = []
            state = list(base)
        model[v] = sorted(state)
        if step == 4:
            removed = store.vacuum(keep_last=2)
            for r in removed:
                model.pop(r, None)
                assert store.read(version=r) is None
        for ver, want in model.items():
            got = sorted(r["x"] for r in store.read(version=ver).collect())
            assert got == want, (seed, step, ver)


@pytest.mark.parametrize("seed,n_batches", [(7, 2), (13, 3)])
def test_stream_nearest_equals_brute_force(spark, tmp_path, seed, n_batches):
    """Random interleaved probe/quote feeds under random time-cut
    batching: the incremental state machine's emitted set must equal an
    INDEPENDENT brute-force model (per probe: max quote at-or-before,
    min quote after, emitted iff a quote at/after exists or any row
    passes the horizon, nearest within H, backward ties). Round 8
    added event-time timers: a probe ALSO emits once the global
    watermark (ms-floored max feed ts) passes its horizon, so the
    model carries the same clause."""
    import os

    from greenplum_cdc_spark.streaming.stateful import (
        _NEAR_H_US,
        run_stream_nearest,
    )

    H = _NEAR_H_US
    rng = random.Random(seed)
    rows = []
    seq = 0
    for k in range(6):
        t = 0
        for _ in range(40):
            # jumps up to 2.5 days so horizon expiry and no-match rows
            # actually occur
            t += rng.randrange(1, int(2.5 * H))
            seq += 1
            rows.append((k, t, seq, 1 if rng.random() < 0.4 else 0))
    # dedupe quotes per (k, ts) like the production feed prep (random
    # jumps make collisions near-impossible; keep the guard anyway)
    rows.sort(key=lambda r: (r[1], -r[3]))
    cuts = sorted(rng.sample(range(1, len(rows)), n_batches - 1))
    pieces, prev = [], 0
    for c in cuts + [len(rows)]:
        pieces.append(rows[prev:c])
        prev = c
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    for i, piece in enumerate(pieces):
        df = spark.createDataFrame(
            piece, "k long, ts_us long, seq long, kind int"
        )
        pdir = os.path.join(feed_dir, f"_b={i}")
        df.coalesce(1).write.parquet(pdir)
        for f in os.listdir(pdir):
            os.utime(
                os.path.join(pdir, f),
                (1_700_000_000 + i, 1_700_000_000 + i),
            )
    out = run_stream_nearest(
        spark,
        feed_dir + "/_b=*",
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    got = {
        r["probe_id"]: (r["direction"], r["matched_qid"], r["dist_us"])
        for r in out.collect()
    }
    # independent brute-force model
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r[0], []).append(r)
    gm = max(t for _, t, _s, _k in rows)
    want = {}
    for k, krows in by_key.items():
        quotes = [(t, s) for _, t, s, kind in krows if kind == 1]
        max_ts = max(t for _, t, _s, _k in krows)
        for _, pt, pid, kind in krows:
            if kind == 1:
                continue
            before = [q for q in quotes if q[0] <= pt]
            after = [q for q in quotes if q[0] > pt]
            b = max(before) if before else None
            f = min(after) if after else None
            emitted = (
                f is not None
                or (b is not None and b[0] == pt)
                or max_ts > pt + H
                or (pt + H) // 1000 < gm // 1000  # event-time timer
            )
            if not emitted:
                continue
            db = pt - b[0] if b else None
            df_ = f[0] - pt if f else None
            eb = db is not None and db <= H
            ef = df_ is not None and df_ <= H
            if eb and (not ef or db <= df_):
                want[pid] = ("backward", b[1], db)
            elif ef:
                want[pid] = ("forward", f[1], df_)
            else:
                want[pid] = (None, None, None)
    assert got == want


@pytest.mark.parametrize("seed,n_batches", [(11, 2), (23, 4), (47, 3)])
def test_scd2_incremental_equals_one_shot(spark, tmp_path, seed, n_batches):
    """Random history, random batch boundaries (cutting the globally
    time-sorted stream preserves per-key order): the streamed store
    must equal the one-shot per-key lead window over all events."""
    import pyspark.sql.functions as F

    from greenplum_cdc_spark.streaming.pipeline import (
        ReplicaStore,
        scd2_merge_fn,
    )

    rng = random.Random(seed)
    rows = []
    seq = 0
    for _ in range(200):
        seq += 1
        pk = rng.randrange(20)
        us = rng.randrange(1, 10**9) * 1000
        op = "delete" if rng.random() < 0.2 else "insert"
        rows.append((pk, us, seq, op, float(rng.randrange(100)), "view"))
    # unique (ts, seq) per key is guaranteed by globally unique seq
    rows.sort(key=lambda r: (r[1], r[2]))  # global time order
    cuts = sorted(rng.sample(range(1, len(rows)), n_batches - 1))
    pieces = []
    prev = 0
    for c in cuts + [len(rows)]:
        pieces.append(rows[prev:c])
        prev = c

    def to_df(chunk):
        return spark.createDataFrame(
            chunk,
            "pk long, us long, seq long, op string, value double,"
            " event_type string",
        ).select(
            "pk",
            F.timestamp_micros(F.col("us")).alias("ts"),
            "seq", "op", "value", "event_type",
        )

    store = ReplicaStore(spark, str(tmp_path / f"rep{seed}"))
    merge = scd2_merge_fn(store)
    for i, piece in enumerate(pieces):
        merge(to_df(piece), i)

    from pyspark.sql import Window

    w = Window.partitionBy("pk").orderBy("ts", "seq")
    expected = (
        to_df(rows)
        .withColumn("valid_to", F.lead("ts").over(w))
        .filter(F.col("op") != "delete")
        .select(
            "pk",
            F.col("seq").alias("version_seq"),
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            "value",
            "event_type",
        )
    )
    got = store.read()
    cols = expected.columns
    a = sorted(map(tuple, expected.select(*cols).collect()))
    b = sorted(map(tuple, got.select(*cols).collect()))
    assert a == b
