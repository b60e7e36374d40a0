"""Property-based tests (hypothesis) for the round-6 components: the
Kafka RecordBatch-v2 encoder/decoder pair (segment layout included) and
the streaming scaffold's adopt-rename helpers.
"""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from greenplum_cdc_spark.sources.kafka_wire import (  # noqa: E402
    KafkaWireError,
    decode_record_batch,
    decode_segment,
    encode_record_batch,
    encode_zigzag,
    read_zigzag,
    iter_record_batches,
)


class TestZigzagProperties:
    @given(n=st.integers(min_value=-(2**62), max_value=2**62))
    @settings(max_examples=300, deadline=None)
    def test_roundtrip(self, n):
        buf = encode_zigzag(n)
        val, pos = read_zigzag(buf, 0)
        assert val == n
        assert pos == len(buf)


_key = st.one_of(st.none(), st.binary(max_size=40))
_value = st.one_of(st.none(), st.binary(max_size=200))
_record = st.tuples(
    st.integers(min_value=0, max_value=10_000),  # offset_delta
    st.integers(min_value=-1_000_000, max_value=1_000_000),  # ts_delta
    _key,
    _value,
)


class TestRecordBatchProperties:
    @given(
        base_offset=st.integers(min_value=0, max_value=2**40),
        base_ts=st.integers(min_value=0, max_value=2**41),
        records=st.lists(_record, min_size=1, max_size=20),
    )
    @settings(max_examples=150, deadline=None)
    def test_batch_roundtrip(self, base_offset, base_ts, records):
        blob = encode_record_batch(base_offset, base_ts, records)
        out = decode_record_batch(blob)
        assert len(out) == len(records)
        for rec, (od, td, k, v) in zip(out, records):
            assert rec["offset"] == base_offset + od
            assert rec["timestamp"] == base_ts + td
            assert rec["key"] == k
            assert rec["value"] == v

    @given(
        base_offset=st.integers(min_value=0, max_value=2**30),
        records=st.lists(_record, min_size=1, max_size=8),
        flip=st.integers(min_value=0),
    )
    @settings(max_examples=150, deadline=None)
    def test_corruption_detected(self, base_offset, records, flip):
        """Any single bit flip in the CRC-covered region must raise —
        the per-byte integrity proof the segment replay relies on."""
        import pytest

        blob = bytearray(encode_record_batch(base_offset, 1000, records))
        # CRC-covered region starts after baseOffset(8) + length(4) +
        # partitionLeaderEpoch(4) + magic(1) + crc(4) = byte 21
        pos = 21 + (flip % (len(blob) - 21))
        blob[pos] ^= 0x01
        with pytest.raises(KafkaWireError):
            decode_record_batch(bytes(blob))

    @given(
        batches=st.lists(
            st.lists(_record, min_size=1, max_size=5), min_size=1, max_size=5
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_segment_concatenation_roundtrip(self, batches):
        seg = b""
        expected = []
        next_base = 0
        for recs in batches:
            seg += encode_record_batch(next_base, 500, recs)
            expected.extend(next_base + r[0] for r in recs)
            next_base += max(r[0] for r in recs) + 1
        assert len(list(iter_record_batches(seg))) == len(batches)
        out = decode_segment(seg)
        assert [r["offset"] for r in out] == expected


class TestAdoptScratch:
    def test_adopt_moves_and_outlives_scratch(self, spark, tmp_path):
        import shutil

        from greenplum_cdc_spark.streaming.scaffold import (
            adopt_scratch,
            scratch_dir,
        )

        base = scratch_dir("adopt_prop_")
        out = os.path.join(base, "out")
        spark.range(10).write.parquet(out)
        df = adopt_scratch(spark, out, "adopt_prop_kept_")
        shutil.rmtree(base)  # the per-run scratch dies...
        assert not os.path.exists(out)
        assert df.count() == 10  # ...and the adopted read still serves


class TestScd2MergeEquivalence:
    def test_incremental_merge_equals_batch_window(self, spark, tmp_path):
        """For ANY ordered batch split, replaying through the
        incremental merge must reproduce the one-shot batch window —
        the closed-rows-are-final induction, checked on several
        deterministic corpora (multiple events per key within and
        across batches, deletes interleaved, keys absent from some
        batches)."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from greenplum_cdc_spark.streaming.pipeline import (
            ReplicaStore,
            scd2_merge_fn,
        )

        import random

        for seed in (1, 7, 42):
            rng = random.Random(seed)
            rows = []
            seq = 0
            for ts_s in range(1, 61):
                for pk in range(1, 6):
                    if rng.random() < 0.4:
                        seq += 1
                        op = "delete" if rng.random() < 0.2 else "insert"
                        rows.append(
                            (pk, ts_s * 1_000_000, seq, op,
                             round(rng.random() * 100, 2), "view")
                        )
            feed = spark.createDataFrame(
                rows,
                "pk long, us long, seq long, op string, value double,"
                " event_type string",
            ).select(
                "pk",
                F.timestamp_micros(F.col("us")).alias("ts"),
                "seq", "op", "value", "event_type",
            )
            # one-shot truth
            w = Window.partitionBy("pk").orderBy("ts", "seq")
            truth = (
                feed.withColumn("valid_to", F.lead("ts").over(w))
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
            # incremental replay in 3 ordered slices
            store = ReplicaStore(spark, str(tmp_path / f"rep_{seed}"))
            merge = scd2_merge_fn(store)
            for i, (lo, hi) in enumerate([(0, 20), (20, 40), (40, 61)]):
                b = feed.filter(
                    (F.unix_micros("ts") >= lo * 1_000_000)
                    & (F.unix_micros("ts") < hi * 1_000_000)
                )
                merge(b, i)
            got = store.read()
            key = ["pk", "version_seq"]
            assert (
                got.select(truth.columns)
                .exceptAll(truth)
                .unionAll(truth.exceptAll(got.select(truth.columns)))
                .count()
                == 0
            ), f"seed {seed} diverged"


class TestSegmentLengthGuard:
    def test_nonpositive_batch_length_raises(self):
        """The batchLength prefix is outside the CRC-covered region;
        corrupted to -12 it would make the splitter yield forever
        without progress — must raise instead."""
        import struct

        import pytest

        from greenplum_cdc_spark.sources.kafka_wire import (
            KafkaWireError,
            encode_record_batch,
            iter_record_batches,
        )

        seg = bytearray(encode_record_batch(0, 0, [(0, 0, None, b"v")]))
        for bad in (-12, 0, -1):
            corrupted = bytes(seg[:8]) + struct.pack(">i", bad) + bytes(seg[12:])
            with pytest.raises(KafkaWireError):
                list(iter_record_batches(corrupted))


class TestAdoptEmptyStream:
    def test_empty_stream_returns_typed_frame(self, spark, tmp_path):
        """A stream that never emitted leaves no sink dir; adopt_scratch
        with empty_schema must hand back the typed empty frame the old
        read-with-fallback sites produced."""
        from greenplum_cdc_spark.streaming.scaffold import adopt_scratch

        missing = str(tmp_path / "never_written")
        df = adopt_scratch(
            spark, missing, "adopt_empty_",
            empty_schema="a long, b string",
        )
        assert df.count() == 0
        assert df.columns == ["a", "b"]
        import pytest

        with pytest.raises(FileNotFoundError):
            adopt_scratch(spark, missing, "adopt_empty_")
