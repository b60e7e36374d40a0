"""CDC apply operators — the Spark-first re-expression of
``process_events()`` (cdc_plpgsql_functions.sql:103-241).

The reference replays events one at a time in ts order, issuing dynamic
INSERT/UPDATE/DELETE per row. Semantically that is "for each primary
key, the latest event wins; a trailing delete removes the row". That
collapses to ONE window (or max_by) over the event set — a single
shuffle on the key, fully parallel, no driver-side loop. At 100 TB the
window shuffles each key's events to one task; a hot key can be salted
upstream, and AQE's skew-join handles moderate skew automatically.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def snapshot_latest(
    cdc: DataFrame,
    key_cols: Sequence[str] = ("pk",),
    order_cols: Sequence[str] = ("ts", "seq"),
    op_col: str = "op",
    delete_op: str = "delete",
    keep_tombstones: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Batch snapshot reconstruction: latest-wins per key, deletes drop.

    One shuffle on the key. With ``partitions`` the events are
    hash-repartitioned on ``key_cols`` into exactly that many partitions
    before the window, which reuses that exchange, so AQE cannot
    coalesce the merge into fewer tasks: each output partition holds a
    disjoint key set in ascending key order (the window's sort). Without
    it AQE sizes the shuffle.

    Equivalent to replaying cdc_plpgsql_functions.sql:122-232 from an
    empty replica: only each key's final event decides its presence and
    payload (intermediate updates are absorbed — same end state the
    reference reaches row-by-row).

    With ``keep_tombstones=True`` the winning delete row is RETAINED
    (marked by its op) instead of dropped, so a later out-of-order batch
    cannot resurrect the key — see `apply_incremental` for when that
    matters. Filter ``op != delete`` at read time for the live view.
    """
    if partitions is not None:
        cdc = cdc.repartition(partitions, *key_cols)
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    out = cdc.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    if not keep_tombstones:
        out = out.filter(F.col(op_col) != delete_op)
    return out.drop("_rn")


def apply_incremental(
    replica: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str] = ("pk",),
    order_cols: Sequence[str] = ("ts", "seq"),
    op_col: str = "op",
    delete_op: str = "delete",
    keep_tombstones: bool = False,
    watermark: DataFrame | None = None,
    enforce_watermark: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Merge a CDC micro-batch into an existing replica (foreachBatch body).

    The replica rows re-enter the latest-wins window as synthetic
    'insert' events ordered at their own (ts, seq), so
    `apply_incremental(snapshot(old), new) == snapshot(old ∪ new)`
    PROVIDED batches arrive in replay order past the replica's high
    watermark — exactly what the reference's `maxwell_ts` guarantees
    (cdc_plpgsql_functions.sql:233-238: only events newer than the
    stored watermark are ever applied). Out-of-order delivery has one
    divergence: a delete absorbed into the snapshot leaves no trace, so
    a LATE event older than that delete would resurrect the key where a
    full recompute would not.

    The ordering contract is ENFORCEABLE, not just documented: pass
    ``enforce_watermark=True`` to drop batch events at/below the
    replica's per-key high (order_cols) tuple before the merge — the
    reference's maxwell_ts guard, per key instead of global. Because a
    deleted key leaves no replica row to derive a watermark from, pass
    ``watermark=`` a per-key watermark table maintained over ALL
    APPLIED events (key_cols + order_cols columns, one row per key —
    e.g. ``applied.groupBy(key).agg(F.max(F.struct(*order_cols)))``
    unpacked); with it, late pre-delete events lose to the dead key's
    watermark and can never resurrect it. The guard is one extra join
    against a |keys|-row table, shuffled on the same key as the merge.

    Alternative: ``keep_tombstones=True`` (both here and in the initial
    `snapshot_latest`) retains winning deletes in the replica so late
    pre-delete events lose the window to the tombstone — same
    invariant, retained delete rows instead of a watermark table.
    One shuffle on the key either way, same as snapshot_latest; with
    ``partitions`` it has exactly that many partitions (see
    `snapshot_latest`).
    """
    if enforce_watermark or watermark is not None:
        if watermark is None:
            wm = replica.groupBy(*key_cols).agg(
                F.max(F.struct(*order_cols)).alias("_wm")
            )
        else:
            wm = watermark.select(
                *key_cols, F.struct(*order_cols).alias("_wm")
            )
        batch = (
            batch.join(wm, list(key_cols), "left")
            .filter(
                F.col("_wm").isNull() | (F.struct(*order_cols) > F.col("_wm"))
            )
            .drop("_wm")
        )
    base = replica.withColumn(op_col, F.lit("insert")) if op_col not in replica.columns else replica
    cols = [c for c in batch.columns]
    base = base.select(*[F.col(c) if c in base.columns else F.lit(None).alias(c) for c in cols])
    return snapshot_latest(
        base.unionByName(batch), key_cols, order_cols, op_col, delete_op,
        keep_tombstones=keep_tombstones, partitions=partitions,
    )


def undo_events(cdc: DataFrame, op_col: str = "op") -> DataFrame:
    """Generate the inverse operation stream (reference TODO README.md:157
    "Consider how an 'undo' would work, since we can reverse any action").

    insert → delete (by key); delete → insert (restore payload);
    update → update back to `old`. Replaying the result in reverse
    sequence order undoes the original stream.
    """
    return cdc.withColumn(
        "undo_op",
        F.when(F.col(op_col) == "insert", F.lit("delete"))
        .when(F.col(op_col) == "delete", F.lit("insert"))
        .otherwise(F.lit("update")),
    )


def watermark_state(
    applied: DataFrame,
    table_col: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Low-watermark bookkeeping — the `maxwell_ts` table analog
    (maxwell_gpdb.sql:34-36, updated at cdc_plpgsql_functions.sql:233-238).

    The reference keeps a single global ts; we track per-table (a strict
    superset — global = max over tables) plus applied-row counts, which
    is what a 1000-executor deployment needs to restart per-table
    backfills independently.
    """
    keys = [table_col] if table_col else []
    agg = applied.groupBy(*keys).agg(
        F.max(ts_col).alias("high_watermark_ts"),
        F.count("*").alias("n_applied"),
    )
    return agg


def op_stats(cdc: DataFrame, op_col: str = "op", ts_col: str = "ts") -> DataFrame:
    """Per-op observability counts (the demo's polling tabs,
    demo/04_mysql_poll.sh / 05_gpdb_poll.sh)."""
    return (
        cdc.groupBy(op_col)
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            F.countDistinct("pk").alias("n_keys"),
        )
        .orderBy(op_col)
    )


def archive_layout(cdc: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Partition layout of the event archive — the RANGE-by-month
    partitioning of `maxwell_event` (maxwell_gpdb.sql:25-31) re-expressed
    as parquet `partitionBy(event_date)` buckets. Returns the per-bucket
    manifest (what lands in each partition directory)."""
    return (
        cdc.withColumn("event_date", F.to_date(F.date_trunc("day", F.col(ts_col))))
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
        )
        .orderBy("event_date")
    )


def write_archive(cdc: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Append-only, date-partitioned, compressed event archive — the
    direct analog of maxwell_gpdb.sql:23-24 (APPENDONLY, zlib) with
    parquet+zstd and partition pruning instead of RANGE partitions."""
    (
        cdc.withColumn("event_date", F.to_date(F.date_trunc("day", F.col(ts_col))))
        .repartition("event_date")
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(path)
    )


def normalize_pk_changes(
    feed: DataFrame,
    pk_col: str = "pk",
    old_pk_col: str = "old_pk",
    op_col: str = "op",
) -> DataFrame:
    """Expand PK-changing UPDATEs into delete(old_pk) + upsert(new_pk).

    Maxwell updates carry the prior row in `old`, but the reference's
    UPDATE builds its WHERE clause from the NEW row's PK values
    (event_json->'data', cdc_plpgsql_functions.sql:150-155/162-190) — so
    a PK-changing update matches nothing there and the old row is left
    behind. The delete(old)+upsert(new) expansion here deliberately
    FIXES that reference limitation rather than mirroring it. The
    emitted delete shares the event's (ts, seq) with `subseq=0` ordering
    it just before the upsert (`subseq=1`), keeping the replay total
    order deterministic — pass order_cols=(ts, seq, subseq) to the
    snapshot/apply window.

    One pass over `feed`: each row becomes an array of one upsert, or
    of the delete and the upsert for a PK-changing update, and `inline`
    emits its elements, so the feed is scanned (and its JSON parsed)
    once. The rows are those of `feed ∪ deletes`; only their order
    differs, and every consumer windows over them.
    """
    has_change = (
        (F.col(op_col) == "update")
        & F.col(old_pk_col).isNotNull()
        & (F.col(old_pk_col) != F.col(pk_col))
    )
    cols = feed.columns
    upsert = F.struct(*[F.col(c) for c in cols], F.lit(1).alias("subseq"))
    delete = F.struct(
        *[
            F.col(old_pk_col).alias(c) if c == pk_col
            else F.lit("delete").alias(c) if c == op_col
            else F.col(c)
            for c in cols
        ],
        F.lit(0).alias("subseq"),
    )
    rows = F.when(has_change, F.array(delete, upsert)).otherwise(F.array(upsert))
    return feed.select(F.inline(rows))
