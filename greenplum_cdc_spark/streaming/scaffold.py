"""Shared scratch scaffolding for the streaming test/bench harnesses.

Every streaming entry drives a REAL Structured Streaming query over a
file source built from the testdata tables: write N parquet "arrival
batches" with staggered mtimes, read them back with
``maxFilesPerTrigger=1`` so each batch is one micro-batch, drain with
``availableNow``. Two costs dominated that scaffold before round 6
(VERDICT r5 item 2):

- the feed was written with one Spark job PER batch (N scans of the
  source table); ``write_mtime_batches`` writes all N in ONE pass via
  ``partitionBy`` over a batch-index column, then staggers the mtimes;
- feeds and checkpoints went to /tmp (disk on this host);
  ``scratch_dir`` prefers /dev/shm (tmpfs) — streaming-harness feeds
  and checkpoints are process-lifetime scratch whose durability story
  is the SINK's, so the offset/commit-log fsyncs buy nothing on disk.

Neither helper changes query semantics: the same rows land in the same
micro-batch order, the checkpoint contents are identical — only the
I/O medium and the number of feed-write jobs change.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession

from .. import memo

# mtime base for arrival-order staggering: any fixed epoch works, the
# file source only compares mtimes against each other
_MTIME_BASE = 1_700_000_000


def scratch_dir(prefix: str) -> str:
    """mkdtemp for streaming-harness scratch, on tmpfs when available."""
    root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def adopt_path(path: str, prefix: str = "adopted_") -> str:
    """Rename `path` out of its per-run scratch tree into a
    process-lifetime temp dir (same tmpfs root — metadata-only) and
    return the new location. For non-plain-parquet layouts (versioned
    replica stores) that need their own reader over the moved tree."""
    keep = scratch_dir(prefix)
    atexit.register(shutil.rmtree, keep, ignore_errors=True)
    dst = os.path.join(keep, "data")
    shutil.move(path, dst)
    return dst


def adopt_scratch(
    spark: SparkSession,
    path: str,
    prefix: str = "adopted_",
    empty_schema: str | None = None,
):
    """Rename a finished parquet result dir OUT of its per-run scratch
    tree into a process-lifetime temp dir and return the lazy read.

    The cheap twin of ``io.materialize`` for results that already exist
    as files on scratch: materialize re-executes the plan into a second
    write + read-back, while adopt is a metadata-only rename (same
    tmpfs root, zero Spark jobs) that just transfers ownership of bytes
    already on disk. Callers must build any projection/sort ON TOP of
    the returned read — frames created over the old path hold dead file
    references after the move. (VERDICT r5 item 2: streaming-harness
    fixed costs.)

    A stream that never emitted leaves no sink dir at all (foreachBatch
    writes lazily); pass ``empty_schema`` to get a typed empty frame
    back in that case instead of a FileNotFoundError from the rename —
    the behavior the old read-with-fallback sites had."""
    if not os.path.exists(path):
        if empty_schema is not None:
            return spark.createDataFrame([], empty_schema)
        raise FileNotFoundError(
            f"adopt_scratch: {path} was never written (no emissions?) —"
            " pass empty_schema to tolerate empty streams"
        )
    return spark.read.parquet(adopt_path(path, prefix))


def cached_feed(source: str, key: str, write_fn) -> str:
    """The directory ``write_fn(dir)`` fills with entry ``key``'s feed
    from ``source`` (the entry's ``sf_dir``), written once per identity
    of ``source`` (``memo.get_or_build("feed", ...)``): a rewritten
    input writes the feed again and removes the directory it replaces.
    The current directory is removed at process exit.

    The feed is a pure function of the source tables, and bench's
    best-of-N reps and multi-entry gate runs re-invoke each streaming
    entry. Feeds MAY be shared across runs — a fresh checkpoint replays
    all files — while checkpoints and sink dirs must stay per-run (a
    reused checkpoint would make availableNow skip everything)."""

    def build() -> str:
        d = scratch_dir("feed_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        write_fn(d)
        return d

    return memo.get_or_build(
        "feed",
        [source],
        build,
        extra=(key,),
        release=lambda old: shutil.rmtree(old, ignore_errors=True),
    )


def drain_memory(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    mode: str = "append",
    parts: int = 2,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink via availableNow
    and return the sink table.

    Bundles the three scaffold decisions every memory-sink entry makes:
    ``shuffle_partitions(spark, parts)`` (state-store instance count ==
    shuffle partitions — 2 is plenty for the harness corpora; measured
    ~0.6 s/query cheaper than 4 with identical results, and the
    partition-count invariance property pins result-equality), an
    explicit checkpoint on tmpfs scratch (the engine's default temp
    checkpoint lands on /tmp = disk here), and checkpoint cleanup after
    the drain (the memory sink's table outlives it)."""
    from ..io import shuffle_partitions

    base = scratch_dir("ckpt_")
    try:
        with shuffle_partitions(spark, parts):
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", os.path.join(base, "c"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name)


def write_mtime_batches(
    df: DataFrame,
    batch_idx: Column,
    n: int,
    in_dir: str,
    drop: tuple = (),
) -> str:
    """Write ``df`` as ``n`` parquet arrival batches in ONE Spark job.

    ``batch_idx`` assigns each row its batch number (0..n-1); the rows
    land under ``in_dir/_b=<i>/`` with mtimes staggered so the file
    stream source (``latestFirst=false``) replays them in batch order,
    one batch per trigger with ``maxFilesPerTrigger=1``.

    Returns the glob (``in_dir + "/_b=*"``) to hand to
    ``spark.readStream...parquet(...)`` — pointing the glob INTO the
    partition dirs makes each dir's files plain leaves, so the declared
    schema (without ``_b``) is exactly what the stream sees.
    """
    (
        df.withColumn("_b", batch_idx)
        .drop(*drop)  # feed-construction tags the stream must not see
        .repartition(n, "_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(in_dir)
    )
    for i in range(n):
        p = os.path.join(in_dir, f"_b={i}")
        if not os.path.isdir(p):
            # an empty batch writes no dir — that silently changes the
            # micro-batch count the entry's contract depends on
            raise ValueError(
                f"write_mtime_batches: batch {i} of {n} got zero rows"
            )
        t = _MTIME_BASE + i * 10
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t, t))
    return in_dir + "/_b=*"
