"""Oracle-gated CDC queries (SURVEY §2 A1-A9).

Each query derives a deterministic CDC feed from the synthetic `events`
table (sources.maxwell.events_as_cdc) so the DuckDB oracle sees the
identical input, then exercises a real CDC operator. `cdc_parse_events`
goes further: it serializes events into genuine Maxwell JSON envelopes
and runs them through the production parser — the oracle states the
expected round-trip output directly from the source columns, so any
parser defect (ts precision, payload typing, sanitization) breaks the
hash match.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..io import _footer_schema, load_table
from ..operators import cdc as cdc_ops
from ..sources import maxwell

_SPLIT_TS = "2024-01-16 00:00:00"


def _feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maxwell.events_as_cdc(load_table(spark, sf_dir, "events"))


def cdc_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: events → real Maxwell JSON lines → parse_maxwell → typed rows.

    Even seqs get 13-digit ms epochs, odd seqs 10-digit s epochs — the
    mixed precision cdc_periodic_load.sql:5 special-cases.
    """
    ev = load_table(spark, sf_dir, "events")
    epoch_ms = F.expr("unix_micros(ts) div 1000")
    epoch_s = F.expr("unix_micros(ts) div 1000000")
    line = F.to_json(
        F.struct(
            F.lit("appdb").alias("database"),
            F.lit("events").alias("table"),
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("insert"))
            .alias("type"),
            F.when(F.col("event_id") % 2 == 0, epoch_ms).otherwise(epoch_s).alias("ts"),
            F.col("event_id").alias("xid"),
            F.struct(
                F.col("user_id").alias("user_id"),
                F.col("value").alias("value"),
                F.col("event_type").alias("event_type"),
            ).alias("data"),
        )
    )
    parsed = maxwell.parse_maxwell(ev.select(line.alias("line")))
    return parsed.select(
        F.col("xid").alias("event_id"),
        "ts",
        "database_name",
        "table_name",
        "op",
        F.col("data")["user_id"].cast("bigint").alias("user_id"),
        F.col("data")["value"].cast("double").alias("value"),
        F.col("data")["event_type"].alias("event_type"),
    )


CDC_PARSE_SQL = """
SELECT
  event_id,
  CASE WHEN event_id % 2 = 0
       THEN make_timestamp((epoch_us(ts) // 1000) * 1000)
       ELSE make_timestamp((epoch_us(ts) // 1000000) * 1000000)
  END AS ts,
  'appdb' AS database_name,
  'events' AS table_name,
  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
  user_id,
  value,
  event_type
FROM events
"""


def cdc_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: latest-wins snapshot reconstruction of the replica."""
    snap = cdc_ops.snapshot_latest(_feed(spark, sf_dir))
    return snap.select(
        "pk",
        F.col("ts").alias("last_ts"),
        F.col("seq").alias("last_seq"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
    ).orderBy("pk")


_SNAPSHOT_SQL_BODY = """
WITH cdc AS ({feed}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc
)
SELECT pk, ts AS last_ts, seq AS last_seq, value AS last_value, event_type AS last_event_type
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""

CDC_SNAPSHOT_SQL = _SNAPSHOT_SQL_BODY.format(feed=maxwell.EVENTS_AS_CDC_SQL)


def cdc_tombstone_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: latest-wins snapshot with RETAINED delete tombstones.

    The out-of-order-safe replica mode (operators/cdc.py
    `keep_tombstones=True`): a key whose final event is a delete stays
    present, marked by `op='delete'`, so late pre-delete events cannot
    resurrect it. Downstream readers get the live view with one filter;
    the oracle states the per-key final event directly (no delete
    filter) — verifying the tombstone rows, not just the live ones.
    """
    snap = cdc_ops.snapshot_latest(_feed(spark, sf_dir), keep_tombstones=True)
    return snap.select(
        "pk",
        F.col("ts").alias("last_ts"),
        F.col("seq").alias("last_seq"),
        "op",
        F.col("value").alias("last_value"),
    ).orderBy("pk")


CDC_TOMBSTONE_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc
)
SELECT pk, ts AS last_ts, seq AS last_seq, op, value AS last_value
FROM ranked
WHERE rn = 1
ORDER BY pk
"""


def cdc_apply_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: incremental merge == full recompute invariant.

    Builds the replica from events before the split ts, then merges the
    remainder as a micro-batch; the oracle is the full-feed snapshot, so
    the hash match proves apply(snapshot(base), incr) == snapshot(all).
    """
    feed = _feed(spark, sf_dir)
    base = feed.filter(F.col("ts") < F.lit(_SPLIT_TS).cast("timestamp"))
    incr = feed.filter(F.col("ts") >= F.lit(_SPLIT_TS).cast("timestamp"))
    replica = cdc_ops.snapshot_latest(base)
    merged = cdc_ops.apply_incremental(replica, incr)
    return merged.select(
        "pk",
        F.col("ts").alias("last_ts"),
        F.col("seq").alias("last_seq"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
    ).orderBy("pk")


def cdc_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: maxwell_ts analog — high watermark + applied count."""
    return cdc_ops.watermark_state(_feed(spark, sf_dir))


CDC_WATERMARK_SQL = """
SELECT MAX(ts) AS high_watermark_ts, COUNT(*) AS n_applied FROM events
"""


def cdc_op_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-op observability (demo polling tabs)."""
    return cdc_ops.op_stats(_feed(spark, sf_dir))


CDC_OP_STATS_SQL = """
WITH cdc AS ({feed})
SELECT
  op,
  COUNT(*) AS n_events,
  MIN(ts) AS first_ts,
  MAX(ts) AS last_ts,
  COUNT(DISTINCT pk) AS n_keys
FROM cdc
GROUP BY op
ORDER BY op
""".format(feed=maxwell.EVENTS_AS_CDC_SQL)


def cdc_undo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: inverse-operation stream (reference TODO README.md:157)."""
    undone = cdc_ops.undo_events(_feed(spark, sf_dir))
    return undone.select("seq", "pk", "op", "undo_op").orderBy("seq")


CDC_UNDO_SQL = """
WITH cdc AS ({feed})
SELECT
  seq,
  pk,
  op,
  CASE op WHEN 'insert' THEN 'delete' WHEN 'delete' THEN 'insert' ELSE 'update' END AS undo_op
FROM cdc
ORDER BY seq
""".format(feed=maxwell.EVENTS_AS_CDC_SQL)


def cdc_archive_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: date-partition manifest of the event archive."""
    return cdc_ops.archive_layout(_feed(spark, sf_dir))


CDC_ARCHIVE_SQL = """
WITH cdc AS ({feed})
SELECT
  CAST(ts AS DATE) AS event_date,
  COUNT(*) AS n_events,
  MIN(ts) AS min_ts,
  MAX(ts) AS max_ts
FROM cdc
GROUP BY CAST(ts AS DATE)
ORDER BY event_date
""".format(feed=maxwell.EVENTS_AS_CDC_SQL)


_DDL_TEMPLATE = (
    "CREATE TABLE `{t}` (id BIGINT, created DATETIME, payload LONGBLOB, "
    "note LONGTEXT, flag TINYINT(1), val DOUBLE) ENGINE=InnoDB"
)


def cdc_ddl_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: MySQL→Spark-SQL DDL translation over a deterministic DDL feed.

    One synthetic MySQL CREATE TABLE per nation row runs through the REAL
    ``functions.ddl`` pipeline (translate_sql + add_schema_name, i.e.
    `translate_sql`/`add_schema_name` of cdc_plpgsql_functions.sql:8-57);
    the oracle re-states the rewrites with SQL string functions, so any
    drift in the type map / ENGINE-strip / backtick-strip breaks the
    hash. DDL streams are tiny (driver-side in the reference too), so a
    per-row Python UDF is fine here — this is NOT a fact-table hot path.
    """
    from ..functions import ddl as ddlmod

    @F.udf("string")
    def translate_udf(table):
        raw = _DDL_TEMPLATE.format(t=table)
        return ddlmod.add_schema_name("appdb", ddlmod.translate_sql(raw))

    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.select(
            F.col("n_name").alias("src_table"),
            translate_udf(F.col("n_name")).alias("translated_sql"),
        )
        .orderBy("src_table")
    )


CDC_DDL_SQL = f"""
WITH raw AS (
  SELECT n_name AS src_table,
         'CREATE TABLE `' || n_name || '` (id BIGINT, created DATETIME, payload LONGBLOB, note LONGTEXT, flag TINYINT(1), val DOUBLE) ENGINE=InnoDB' AS sql
  FROM nation
)
SELECT src_table,
       regexp_replace(
         replace(
           replace(
             replace(
               replace(
                 replace(regexp_replace(sql, 'ENGINE\\s*=\\s*\\S+', ''), '`', ''),
               'TINYINT(1)', 'SMALLINT'),
             'DATETIME', 'TIMESTAMP'),
           'LONGBLOB', 'BINARY'),
         'LONGTEXT', 'STRING'),
       '^CREATE TABLE ', 'CREATE TABLE appdb.') AS translated_sql
FROM raw
ORDER BY src_table
"""


def _demo_registry():
    """The replicated-table catalog the apply path consults (A8) — the
    Spring Music demo table (README.md:93-137) plus the CDC feed shape."""
    from ..catalog import SchemaRegistry, TableSpec

    reg = SchemaRegistry()
    reg.register(
        TableSpec(
            "music",
            "album",
            {
                "id": "BIGINT",
                "title": "TEXT",
                "artist": "TEXT",
                "release_year": "INT",
                "created": "TIMESTAMP",
            },
            ("id",),
        )
    )
    reg.register(
        TableSpec(
            "appdb",
            "events",
            {
                "event_id": "BIGINT",
                "ts": "TIMESTAMP",
                "user_id": "BIGINT",
                "event_type": "TEXT",
                "value": "DOUBLE",
            },
            ("event_id",),
        )
    )
    return reg


def cdc_schema_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the registry's answer surface — one row per column, with the
    resolved type (get_type) and PK membership (get_pk_cols).

    The rows are produced THROUGH the registry API, so a lookup bug
    changes the output; the oracle states the expected catalog literally.
    """
    reg = _demo_registry()
    rows = []
    for spec in reg.tables.values():
        for i, col in enumerate(spec.columns):
            rows.append(
                (
                    spec.database,
                    spec.table,
                    col,
                    reg.get_type(spec.database, spec.table, col),
                    int(col in reg.get_pk_cols(spec.database, spec.table)),
                    i + 1,
                )
            )
    return spark.createDataFrame(
        sorted(rows),
        "database_name string, table_name string, col_name string,"
        " col_type string, is_pk int, ordinal int",
    ).orderBy("database_name", "table_name", "ordinal")


def _registry_values_sql() -> str:
    reg = _demo_registry()
    rows = []
    for spec in reg.tables.values():
        for i, col in enumerate(spec.columns):
            rows.append(
                f"('{spec.database}', '{spec.table}', '{col}',"
                f" '{spec.columns[col]}', {int(col in spec.pk_cols)}, {i + 1})"
            )
    return (
        "SELECT * FROM (VALUES\n  "
        + ",\n  ".join(sorted(rows))
        + "\n) AS t(database_name, table_name, col_name, col_type, is_pk, ordinal)\n"
        "ORDER BY database_name, table_name, ordinal"
    )


CDC_REGISTRY_SQL = _registry_values_sql()


_REPLAY_TS = "2024-01-15 00:00:00"


def cdc_archive_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: point-in-time snapshot from the event archive.

    Replays the archived feed up to an as-of timestamp and rebuilds the
    replica state AT that moment — event-granular time travel (finer
    than the replica store's batch versions). The archive's event_date
    partitioning prunes the scan to days <= T at 100 TB.
    """
    feed = _feed(spark, sf_dir).filter(
        F.col("ts") <= F.lit(_REPLAY_TS).cast("timestamp")
    )
    snap = cdc_ops.snapshot_latest(feed)
    return snap.select(
        "pk",
        F.col("ts").alias("last_ts"),
        F.col("seq").alias("last_seq"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
    ).orderBy("pk")


CDC_REPLAY_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
upto AS (SELECT * FROM cdc WHERE ts <= TIMESTAMP '{_REPLAY_TS}'),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM upto
)
SELECT pk, ts AS last_ts, seq AS last_seq, value AS last_value, event_type AS last_event_type
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""


_DLQ_MOD = 17  # event_id % _DLQ_MOD == 0 -> envelope corrupted (truncated)


def cdc_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: dead-letter routing of malformed envelopes.

    The reference tolerates bad lines via Greenplum's SEGMENT REJECT
    LIMIT on the external web table (maxwell_gpdb.sql:5-11); here the
    equivalent is: parse EVERY line with the production parser
    (sources.maxwell.parse_maxwell), route rows whose envelope failed to
    decode (all-null struct from from_json) to a DLQ with a reason, and
    pass the rest. A deterministic corruption (truncating the last 5
    chars of every 17th envelope) exercises the path; the oracle states
    which offsets must land where, so a parser that silently drops OR
    silently accepts corrupt lines breaks the row set.

    Map-side only — the route decision is a projection on the scan, the
    same single-pass shape the consumer loop has at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    epoch_ms = F.expr("unix_micros(ts) div 1000")
    epoch_s = F.expr("unix_micros(ts) div 1000000")
    line = F.to_json(
        F.struct(
            F.lit("appdb").alias("database"),
            F.lit("events").alias("table"),
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("insert"))
            .alias("type"),
            F.when(F.col("event_id") % 2 == 0, epoch_ms).otherwise(epoch_s).alias("ts"),
            F.col("event_id").alias("xid"),
            F.struct(
                F.col("user_id").alias("user_id"),
                F.col("value").alias("value"),
                F.col("event_type").alias("event_type"),
            ).alias("data"),
        )
    )
    corrupted = F.when(
        F.col("offset") % _DLQ_MOD == 0,
        F.expr("substr(line, 1, length(line) - 5)"),
    ).otherwise(F.col("line"))
    raw = ev.select(F.col("event_id").alias("offset"), line.alias("line")).select(
        "offset", corrupted.alias("line")
    )
    parsed = maxwell.parse_maxwell(raw, keep=("offset",))
    return (
        parsed.select(
            "offset",
            F.when(F.col("database_name").isNull(), F.lit("dlq"))
            .otherwise(F.lit("ok"))
            .alias("route"),
            F.when(F.col("database_name").isNull(), F.lit("malformed_json"))
            .otherwise(F.lit("parsed"))
            .alias("reason"),
        )
        .orderBy("offset")
    )


CDC_DLQ_SQL = f"""
SELECT event_id AS offset,
       CASE WHEN event_id % {_DLQ_MOD} = 0 THEN 'dlq' ELSE 'ok' END AS route,
       CASE WHEN event_id % {_DLQ_MOD} = 0 THEN 'malformed_json' ELSE 'parsed' END AS reason
FROM events
ORDER BY event_id
"""


def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: mid-stream ADD COLUMN — snapshot across a schema boundary.

    Real Maxwell behavior when the source runs ``ALTER TABLE events ADD
    COLUMN event_type`` mid-stream: envelopes emitted BEFORE the DDL
    carry payload ``{user_id, value}``; envelopes after carry
    ``{user_id, value, event_type}``. Because the production parser
    (sources/maxwell.py) keeps ``data`` as ``map<string,string>`` and
    typing happens against the registry's CURRENT (post-DDL) schema —
    exactly where the reference consults information_schema
    (cdc_plpgsql_functions.sql:62-77) — old envelopes project NULL for
    the new column with no reparse and no backfill scan. Latest-wins
    apply then works unchanged across the boundary; a key whose final
    event predates the DDL surfaces with ``last_event_type`` NULL and
    ``pre_ddl`` 1.

    Scale note: schema evolution costs NOTHING at 100 TB — no data
    rewrite, the map-typed archive stays valid, and the projection is
    one whole-stage-codegen map lookup per row.
    """
    ev = load_table(spark, sf_dir, "events")
    pre = F.col("ts") < F.lit(_SPLIT_TS).cast("timestamp")
    epoch_ms = F.expr("unix_micros(ts) div 1000")
    head = [
        F.lit("appdb").alias("database"),
        F.lit("events").alias("table"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("insert"))
        .alias("type"),
        epoch_ms.alias("ts"),
        F.col("event_id").alias("xid"),
    ]
    data_pre = F.struct(F.col("user_id"), F.col("value")).alias("data")
    data_post = F.struct(
        F.col("user_id"), F.col("value"), F.col("event_type")
    ).alias("data")
    line = F.when(pre, F.to_json(F.struct(*head, data_pre))).otherwise(
        F.to_json(F.struct(*head, data_post))
    )
    parsed = maxwell.parse_maxwell(ev.select(line.alias("line")))
    typed = parsed.select(
        F.col("data")["user_id"].cast("bigint").alias("pk"),
        "ts",
        F.col("xid").alias("seq"),
        "op",
        F.col("data")["value"].cast("double").alias("value"),
        F.col("data")["event_type"].alias("event_type"),
    )
    snap = cdc_ops.snapshot_latest(typed)
    return snap.select(
        "pk",
        F.col("ts").alias("last_ts"),
        F.col("seq").alias("last_seq"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
        F.col("event_type").isNull().cast("int").alias("pre_ddl"),
    ).orderBy("pk")


CDC_SCHEMA_EVOLUTION_SQL = f"""
WITH typed AS (
  SELECT user_id AS pk,
         make_timestamp((epoch_us(ts) // 1000) * 1000) AS ts_ms,
         event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
         value,
         CASE WHEN ts < TIMESTAMP '{_SPLIT_TS}' THEN NULL ELSE event_type END
           AS event_type
  FROM events
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts_ms DESC, seq DESC) AS rn
  FROM typed
)
SELECT pk, ts_ms AS last_ts, seq AS last_seq, value AS last_value,
       event_type AS last_event_type,
       CAST(event_type IS NULL AS INT) AS pre_ddl
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""


def cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: log compaction of the CDC archive at a horizon.

    The Kafka-compacted-topic / Greenplum-VACUUM analog for the
    append-only archive (maxwell_gpdb.sql:14-31): every event at or
    below the horizon collapses to its key's latest pre-horizon event
    (delete-terminal keys drop entirely — tombstones past retention are
    removed, which is exactly `delete.retention.ms` semantics), while
    events after the horizon are preserved verbatim for replay. The
    compacted prefix + verbatim tail serves the same snapshots as the
    full log from the horizon forward.

    One window over the pre-horizon partition (shuffle by pk) + a
    partition-pruned tail scan — at 100 TB the tail never shuffles and
    the head's shuffle is the unavoidable per-key reduction.
    """
    feed = _feed(spark, sf_dir)
    head = feed.filter(F.col("ts") <= F.lit(_SPLIT_TS).cast("timestamp"))
    tail = feed.filter(F.col("ts") > F.lit(_SPLIT_TS).cast("timestamp"))
    return (
        cdc_ops.snapshot_latest(head)
        .withColumn("segment", F.lit("compacted"))
        .unionByName(tail.withColumn("segment", F.lit("tail")))
        .select("pk", "ts", "seq", "op", "value", "event_type", "segment")
        .orderBy("pk", "ts", "seq")
    )


CDC_COMPACTION_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
head AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc WHERE ts <= TIMESTAMP '{_SPLIT_TS}'
),
compacted AS (
  SELECT pk, ts, seq, op, value, event_type, 'compacted' AS segment
  FROM head WHERE rn = 1 AND op <> 'delete'
),
tail AS (
  SELECT pk, ts, seq, op, value, event_type, 'tail' AS segment
  FROM cdc WHERE ts > TIMESTAMP '{_SPLIT_TS}'
)
SELECT * FROM compacted
UNION ALL
SELECT * FROM tail
ORDER BY pk, ts, seq
"""


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: SCD Type-2 dimension history from the CDC feed.

    The warehouse-side consumer of `process_events` the reference
    replicates FOR (cdc_plpgsql_functions.sql:103-241 applies
    latest-wins precisely so Greenplum can serve historical queries):
    every upsert opens a version row with `valid_from = ts`; the next
    event on the key (upsert OR delete) closes it (`valid_to`), so
    deletes terminate validity without emitting a row; the open-tail
    version carries `is_current = true`.

    The lead window runs over the FULL per-key event sequence before
    deletes are filtered, so a closing delete still bounds the prior
    version. One shuffle on pk; sort-local window within each key —
    the partition width is one key's history, which holds at 100 TB.
    """
    from pyspark.sql import Window

    feed = _feed(spark, sf_dir)
    w = Window.partitionBy("pk").orderBy("ts", "seq")
    return (
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
        .orderBy("pk", "valid_from", "version_seq")
    )


CDC_SCD2_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
versioned AS (
  SELECT *, lead(ts) OVER (PARTITION BY pk ORDER BY ts, seq) AS valid_to
  FROM cdc
)
SELECT pk, seq AS version_seq, ts AS valid_from, valid_to,
       valid_to IS NULL AS is_current, value, event_type
FROM versioned
WHERE op <> 'delete'
ORDER BY pk, valid_from, version_seq
"""

_TXN_SIZE = 10


def cdc_txn_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: transaction-consistent apply — whole-xid atomicity at a cut.

    Maxwell envelopes carry `xid` + a `commit` marker on the last row
    of each MySQL transaction (the reference applies events one
    micro-batch at a time with no txn grouping — a mid-txn batch
    boundary leaves the replica transiently inconsistent). Here a
    transaction (xid = seq div 10, deterministic for the oracle) is
    applied ONLY if it committed at or before the watermark cut: a
    txn straddling the cut is held back IN FULL, so the replica is
    always transaction-consistent as of the cut.

    Plan: window MAX(ts) over the xid partition (shuffle 1) marks each
    event with its txn's commit ts — no join, no driver txn registry;
    then the standard latest-wins window on pk (shuffle 2). Both
    partition widths are bounded (txn size, key history), so the shape
    survives 100 TB.
    """
    feed = _feed(spark, sf_dir).withColumn("xid", F.expr(f"seq div {_TXN_SIZE}"))
    commit_ts = F.max("ts").over(Window.partitionBy("xid"))
    committed = feed.withColumn("commit_ts", commit_ts).filter(
        F.col("commit_ts") <= F.lit(_SPLIT_TS).cast("timestamp")
    )
    return (
        cdc_ops.snapshot_latest(committed)
        .select(
            "pk",
            F.col("ts").alias("last_ts"),
            F.col("seq").alias("last_seq"),
            F.col("xid").alias("last_xid"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_event_type"),
        )
        .orderBy("pk")
    )


CDC_TXN_APPLY_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
txn AS (
  SELECT *, seq // {_TXN_SIZE} AS xid,
         MAX(ts) OVER (PARTITION BY seq // {_TXN_SIZE}) AS commit_ts
  FROM cdc
),
committed AS (
  SELECT * FROM txn WHERE commit_ts <= TIMESTAMP '{_SPLIT_TS}'
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM committed
)
SELECT pk, ts AS last_ts, seq AS last_seq, xid AS last_xid,
       value AS last_value, event_type AS last_event_type
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""


def _hex15_to_bigint_sql(col: str) -> str:
    """DuckDB lacks conv(hex, 16, 10); positional-polynomial expansion
    of a 15-hex-digit prefix (16^14..16^0 are exact BIGINTs)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    ]
    return "(" + " + ".join(terms) + ")"


def replica_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: order-insensitive content checksum of the replica snapshot.

    The reference demo validates replication by polling MySQL and the
    Greenplum replica for equality; at 100 TB you cannot diff rows —
    you compare per-table digests. Each snapshot row canonicalizes to
    `pk|unix_micros|seq|value@2dp`, hashes to a 15-hex-digit bigint,
    and the per-event_type SUM of those hashes (exact DECIMAL, then
    folded mod 2^61−1 into BIGINT — commutative and
    partitioning-independent) is the digest: equal data ⇒ equal digest
    regardless of row order or partition count. One
    map-side hash + one groupBy shuffle over the already-built
    snapshot; digests from two clusters compare with a 20-row join.
    """
    snap = cdc_ops.snapshot_latest(_feed(spark, sf_dir))
    canon = F.concat_ws(
        "|",
        F.col("pk"),
        F.unix_micros("ts"),
        F.col("seq"),
        F.col("value").cast("decimal(12,2)").cast("string"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
    return (
        snap.withColumn("row_hash", h)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
            (F.sum("row_hash") % F.lit(2305843009213693951).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("content_digest"),
        )
        .orderBy("event_type")
    )


_CHECKSUM_CANON = (
    "pk || '|' || epoch_us(ts) || '|' || seq || '|' || "
    "CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)"
)

CDC_CHECKSUM_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc
),
snap AS (
  SELECT pk, ts, seq, value, event_type
  FROM ranked WHERE rn = 1 AND op <> 'delete'
),
hashed AS (
  SELECT event_type, pk,
         {_hex15_to_bigint_sql(f"md5({_CHECKSUM_CANON})")} AS row_hash
  FROM snap
)
SELECT event_type, COUNT(*) AS n_rows, MIN(pk) AS min_pk, MAX(pk) AS max_pk,
       CAST(SUM(row_hash) % 2305843009213693951 AS BIGINT) AS content_digest
FROM hashed
GROUP BY event_type
ORDER BY event_type
"""


def _routed_table():
    """The logical table an event routes to, derived from its
    event_type (the stand-in for the envelope's table field)."""
    return F.when(
        F.col("event_type").isin("purchase", "signup"), F.lit("accounts")
    ).otherwise(F.lit("activity"))


def cdc_table_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20: multi-table routing — one pass applies EVERY table's feed.

    Maxwell envelopes carry (database, table); the reference loops
    per-table dynamic SQL inside process_events (cdc_plpgsql_functions
    .sql:117-129 dispatches on evt.table_name row by row). Here routing
    is just a composite partition key: the latest-wins window partitions
    by (table_name, pk), so ONE shuffle applies all tables' events at
    once — no per-table loop, no per-table job, which is the difference
    between O(tables) passes and O(1) at a 500-table deployment.
    Table assignment derives deterministically from the event
    (event_type → logical table), standing in for the envelope field.
    """
    feed = _feed(spark, sf_dir).withColumn("table_name", _routed_table())
    return (
        cdc_ops.snapshot_latest(feed, key_cols=("table_name", "pk"))
        .select(
            "table_name",
            "pk",
            F.col("ts").alias("last_ts"),
            F.col("seq").alias("last_seq"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_event_type"),
        )
        .orderBy("table_name", "pk")
    )


CDC_TABLE_ROUTING_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
routed AS (
  SELECT *,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN 'accounts' ELSE 'activity' END AS table_name
  FROM cdc
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY table_name, pk ORDER BY ts DESC, seq DESC) AS rn
  FROM routed
)
SELECT table_name, pk, ts AS last_ts, seq AS last_seq,
       value AS last_value, event_type AS last_event_type
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY table_name, pk
"""


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21: replica diff between two watermark cuts (snapshot@T1 vs @T2).

    The reference validates replication by polling MySQL vs Greenplum
    for equality (demo/*poll*); the warehouse-native generalization is
    a DIFF between any two reconstructible states: every key is
    classified insert (absent@T1, present@T2), delete (present@T1,
    absent@T2) or update (present in both with a different winning
    event), with old/new payloads side by side. Unchanged keys are
    omitted — the diff is the minimal change set that upgrades T1 to
    T2, i.e. exactly the micro-batch a downstream incremental consumer
    would need.

    Plan: both snapshots are latest-wins windows partitioned by pk, so
    the full-outer join is co-partitioned on the same key — at 100 TB
    this is two window passes + one join, all on one shuffle key, with
    no driver state. (The reference's row-loop equivalent would replay
    the whole archive twice.)
    """
    feed = _feed(spark, sf_dir)
    cut = F.col("ts") < F.lit(_SPLIT_TS).cast("timestamp")
    old = cdc_ops.snapshot_latest(feed.filter(cut)).select(
        "pk",
        F.col("seq").alias("old_seq"),
        F.col("value").alias("old_value"),
    )
    new = cdc_ops.snapshot_latest(feed).select(
        "pk",
        F.col("seq").alias("new_seq"),
        F.col("value").alias("new_value"),
    )
    joined = old.join(new, "pk", "full_outer")
    return (
        joined.withColumn(
            "change_type",
            F.when(F.col("old_seq").isNull(), F.lit("insert"))
            .when(F.col("new_seq").isNull(), F.lit("delete"))
            .otherwise(F.lit("update")),
        )
        .filter(
            F.col("old_seq").isNull()
            | F.col("new_seq").isNull()
            | (F.col("old_seq") != F.col("new_seq"))
        )
        .select("pk", "change_type", "old_seq", "old_value", "new_seq", "new_value")
        .orderBy("pk")
    )


CDC_SNAPSHOT_DIFF_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
old_ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc WHERE ts < TIMESTAMP '{_SPLIT_TS}'
),
old_snap AS (
  SELECT pk, seq AS old_seq, value AS old_value
  FROM old_ranked WHERE rn = 1 AND op <> 'delete'
),
new_ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc
),
new_snap AS (
  SELECT pk, seq AS new_seq, value AS new_value
  FROM new_ranked WHERE rn = 1 AND op <> 'delete'
)
SELECT COALESCE(o.pk, n.pk) AS pk,
       CASE WHEN o.pk IS NULL THEN 'insert'
            WHEN n.pk IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       o.old_seq, o.old_value, n.new_seq, n.new_value
FROM old_snap o
FULL OUTER JOIN new_snap n ON o.pk = n.pk
WHERE o.pk IS NULL OR n.pk IS NULL OR o.old_seq <> n.new_seq
ORDER BY pk
"""


def cdc_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22: incremental materialized-view maintenance with retractions.

    The warehouse keeps an aggregate view over the replica —
    per-event_type key count + value sum. Recomputing it per
    micro-batch is O(replica); the incremental algebra is O(batch):
    from the snapshot diff, each change retracts the old row's
    contribution (-old_value, -1) and asserts the new one
    (+new_value, +1), and the deltas merge into the stored view by
    plain addition. The oracle recomputes the view from the FULL feed,
    so the hash match proves view(base) + delta(diff) == view(all) —
    the self-maintainability invariant (Gupta & Mumick, IEEE DE Bull.
    1995) that makes aggregate views cheap under CDC.

    Sums are exact DECIMAL — additive retractions would drift under
    float accumulation. One shuffle for the view groupBy; the diff
    reuses the co-partitioned pk join. Group cardinality (event types)
    is tiny, so the merged view join broadcasts.
    """
    feed = _feed(spark, sf_dir)
    cut = F.col("ts") < F.lit(_SPLIT_TS).cast("timestamp")
    dec = lambda c: F.col(c).cast("decimal(14,2)")  # noqa: E731
    base = cdc_ops.snapshot_latest(feed.filter(cut))
    view_base = base.groupBy(F.col("event_type").alias("last_event_type")).agg(
        F.count("*").alias("n_keys"),
        F.sum(dec("value")).alias("sum_value"),
    )
    old = cdc_ops.snapshot_latest(feed.filter(cut)).select(
        "pk", F.col("seq").alias("old_seq"),
        F.col("value").alias("old_value"), F.col("event_type").alias("old_type"),
    )
    new = cdc_ops.snapshot_latest(feed).select(
        "pk", F.col("seq").alias("new_seq"),
        F.col("value").alias("new_value"), F.col("event_type").alias("new_type"),
    )
    diff = old.join(new, "pk", "full_outer").filter(
        F.col("old_seq").isNull()
        | F.col("new_seq").isNull()
        | (F.col("old_seq") != F.col("new_seq"))
    )
    retract = diff.filter(F.col("old_seq").isNotNull()).select(
        F.col("old_type").alias("last_event_type"),
        F.lit(-1).cast("bigint").alias("dn"),
        (-dec("old_value")).alias("dv"),
    )
    assert_ = diff.filter(F.col("new_seq").isNotNull()).select(
        F.col("new_type").alias("last_event_type"),
        F.lit(1).cast("bigint").alias("dn"),
        dec("new_value").alias("dv"),
    )
    delta = (
        retract.unionByName(assert_)
        .groupBy("last_event_type")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    merged = (
        view_base.join(delta, "last_event_type", "full_outer")
        .select(
            "last_event_type",
            (F.coalesce(F.col("n_keys"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
            .alias("n_keys"),
            (
                F.coalesce(F.col("sum_value"), F.lit(0).cast("decimal(14,2)"))
                + F.coalesce(F.col("dv"), F.lit(0).cast("decimal(14,2)"))
            ).cast("decimal(14,2)").alias("sum_value"),
        )
        .filter(F.col("n_keys") > 0)
    )
    return merged.select(
        "last_event_type",
        "n_keys",
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("last_event_type")


CDC_INCREMENTAL_VIEW_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc
)
SELECT event_type AS last_event_type,
       COUNT(*) AS n_keys,
       CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS DOUBLE) AS sum_value
FROM ranked
WHERE rn = 1 AND op <> 'delete'
GROUP BY event_type
ORDER BY last_event_type
"""


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23: point-in-time (temporal) join — probe events against the
    SCD2 version that was valid when they happened.

    The reason warehouses keep SCD2 history at all: a fact row must
    join to the dimension AS OF its own timestamp, never the current
    row (that back-dates later changes onto old facts). Probes are the
    purchase events; versions come from `cdc_scd2_history` over the
    same feed; the match is valid_from <= ts < valid_to (open tail =
    +inf). An event before its key's first version, or inside a gap a
    delete opened, joins to nothing and is dropped (inner semantics).

    Plan (round-10 rewrite — the union-asof window this docstring
    previously only NAMED as the long-chain path): the pk-equi-join +
    range-filter form pays per-key (probes × versions) candidates,
    which the 100x probe measured at ratio 36.3 once chains grow 100x
    (probe corpus: same users, 100x events each — exactly what years
    of history do to a real dimension). Executed plan is now ONE
    union + ONE per-key sort window: version rows and probe rows
    interleave on (ts, is_probe, seq) — versions first at equal ts,
    so valid_from <= probe_ts stays inclusive — and each probe reads
    its containing version via last(..., ignorenulls) over the
    RUNNING frame (contiguous lead-built intervals mean at most one
    version contains any instant; a probe inside a delete-opened gap
    picks the closed version and the valid_to check drops it —
    identical inner semantics, verified against the unchanged
    join-form DuckDB oracle). Cost: O((P+V) log) sort on pk, NO
    per-key product; re-probed at 3.8 / 6.8 s absolute (was 36.3 /
    24.3 s — the union+window pays ~1 s more at 1x and wins 3.6x at
    100x, the right trade for a plan that must survive years of
    version history).
    """
    from pyspark.sql import Window

    feed = _feed(spark, sf_dir)
    w = Window.partitionBy("pk").orderBy("ts", "seq")
    versions = (
        feed.withColumn("valid_to", F.lead("ts").over(w))
        .filter(F.col("op") != "delete")
        .select(
            "pk",
            F.col("seq").alias("version_seq"),
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("value").alias("version_value"),
        )
    )
    probes = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("probe_seq"),
        F.col("user_id").alias("pk"),
        F.col("ts").alias("probe_ts"),
    )
    merged = versions.select(
        "pk",
        F.col("valid_from").alias("t"),
        F.lit(0).alias("is_probe"),
        F.col("version_seq").alias("seq"),
        "version_seq",
        "valid_from",
        "valid_to",
        "version_value",
        F.lit(None).cast("long").alias("probe_seq"),
    ).unionByName(
        probes.select(
            "pk",
            F.col("probe_ts").alias("t"),
            F.lit(1).alias("is_probe"),
            F.col("probe_seq").alias("seq"),
            F.lit(None).cast("long").alias("version_seq"),
            F.lit(None).cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(None).cast("double").alias("version_value"),
            "probe_seq",
        )
    )
    wm = (
        Window.partitionBy("pk")
        .orderBy("t", "is_probe", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the whole version travels as ONE struct so last(ignorenulls)
    # can never mix fields across version rows (valid_to is null on
    # the open tail — picked per-field it would leak an older row's)
    matched = merged.select(
        "pk",
        "is_probe",
        "probe_seq",
        F.col("t").alias("probe_ts"),
        F.last(
            F.when(
                F.col("is_probe") == 0,
                F.struct(
                    "version_seq", "valid_from", "valid_to", "version_value"
                ),
            ),
            ignorenulls=True,
        ).over(wm).alias("v"),
    )
    return (
        matched.filter(
            (F.col("is_probe") == 1)
            & F.col("v").isNotNull()
            & (
                F.col("v")["valid_to"].isNull()
                | (F.col("probe_ts") < F.col("v")["valid_to"])
            )
        )
        .select(
            "pk",
            "probe_seq",
            "probe_ts",
            F.col("v")["version_seq"].alias("version_seq"),
            F.col("v")["valid_from"].alias("valid_from"),
            F.col("v")["version_value"].alias("version_value"),
        )
        .orderBy("pk", "probe_seq")
    )


SCD2_PIT_JOIN_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
versioned AS (
  SELECT *, lead(ts) OVER (PARTITION BY pk ORDER BY ts, seq) AS valid_to
  FROM cdc
),
versions AS (
  SELECT pk, seq AS version_seq, ts AS valid_from, valid_to, value AS version_value
  FROM versioned WHERE op <> 'delete'
),
probes AS (
  SELECT user_id AS pk, event_id AS probe_seq, ts AS probe_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.pk, p.probe_seq, p.probe_ts, v.version_seq, v.valid_from, v.version_value
FROM probes p
JOIN versions v ON p.pk = v.pk
WHERE v.valid_from <= p.probe_ts
  AND (v.valid_to IS NULL OR p.probe_ts < v.valid_to)
ORDER BY p.pk, p.probe_seq
"""


def cdc_heartbeat_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24: replication-lag heartbeat — per routed table, how far the
    applied watermark trails the newest source event at a cut.

    The observability query behind the reference's demo polling loop
    (MySQL vs Greenplum side-by-side) and its `maxwell_ts` bookkeeping
    (maxwell_gpdb.sql:34-36): applied watermark = max applied ts at the
    cut; source head = max source ts overall; lag = head − watermark,
    plus the count of events still unapplied. Map-side aggregates per
    table — at 100 TB this is the always-on freshness dashboard, one
    partial-agg pass, no joins wider than the per-table scalar merge.
    """
    feed = _feed(spark, sf_dir).withColumn(
        "table_name",
        F.when(
            F.col("event_type").isin("purchase", "signup"), F.lit("accounts")
        ).otherwise(F.lit("activity")),
    )
    cut = F.lit(_SPLIT_TS).cast("timestamp")
    return (
        feed.groupBy("table_name")
        .agg(
            F.max(F.when(F.col("ts") < cut, F.col("ts"))).alias("applied_watermark"),
            F.max("ts").alias("source_head_ts"),
            F.sum((F.col("ts") >= cut).cast("bigint")).alias("n_unapplied"),
        )
        .select(
            "table_name",
            "applied_watermark",
            "source_head_ts",
            (
                F.unix_micros(F.col("source_head_ts"))
                - F.unix_micros(F.col("applied_watermark"))
            ).alias("lag_us"),
            "n_unapplied",
        )
        .orderBy("table_name")
    )


CDC_HEARTBEAT_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
routed AS (
  SELECT *,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN 'accounts' ELSE 'activity' END AS table_name
  FROM cdc
)
SELECT table_name,
       MAX(CASE WHEN ts < TIMESTAMP '{_SPLIT_TS}' THEN ts END) AS applied_watermark,
       MAX(ts) AS source_head_ts,
       epoch_us(MAX(ts)) - epoch_us(MAX(CASE WHEN ts < TIMESTAMP '{_SPLIT_TS}' THEN ts END)) AS lag_us,
       CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_SPLIT_TS}' THEN 1 ELSE 0 END) AS BIGINT) AS n_unapplied
FROM routed
GROUP BY table_name
ORDER BY table_name
"""


def source_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25: source-format plurality — the same event slice written to and
    read back from JSON, CSV and ORC must agree with the parquet source
    on count, value checksum and key span.

    The reference's bus delivers line-framed JSON (rabbitmq.go); real
    deployments also land CSV drops and columnar archives. The engine's
    contract is that the downstream pipeline is FORMAT-BLIND: the reader
    normalizes, everything after is identical. Per-format aggregate
    equality (vs the parquet-derived oracle) proves the normalization,
    not just a row count. Value travels as exact integer cents so text
    formats can't lose precision by double round-tripping.
    """
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("value_cents"),
    )
    base = tempfile.mkdtemp(prefix="fmt_roundtrip_")
    try:
        schema = "event_id bigint, user_id bigint, value_cents bigint"
        parts = []
        for fmt in ("json", "csv", "orc"):
            p = os.path.join(base, fmt)
            w = ev.coalesce(4).write.mode("overwrite")
            (w.option("header", "true") if fmt == "csv" else w).format(fmt).save(p)
            r = spark.read
            if fmt in ("json", "csv"):
                r = r.schema(schema)
            if fmt == "csv":
                r = r.option("header", "true")
            parts.append(
                r.format(fmt)
                .load(p)
                .groupBy(F.lit(fmt).alias("fmt"))
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum("value_cents").alias("sum_cents"),
                    F.countDistinct("user_id").alias("n_users"),
                    F.min("event_id").alias("min_id"),
                    F.max("event_id").alias("max_id"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # materialize before the temp dir disappears
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy("fmt")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SOURCE_FORMAT_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
         COUNT(DISTINCT user_id) AS n_users,
         MIN(event_id) AS min_id,
         MAX(event_id) AS max_id
  FROM events
)
SELECT fmt, n_rows, sum_cents, n_users, min_id, max_id
FROM agg, (VALUES ('csv'), ('json'), ('orc')) AS fmts(fmt)
ORDER BY fmt
"""


_GAP_DROP_MOD = 97


def cdc_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26: sequence-gap detection — the lost-message detector every
    production CDC pipeline runs against its bus.

    Maxwell/binlog positions are dense per stream; a gap in the applied
    sequence means the bus dropped or a consumer skipped (the failure
    the reference's ack-at-end framing in rabbitmq.go:39 exists to
    prevent). A deterministic fault (drop every 97th event) is injected
    so the detector must find EXACTLY those holes.

    The adjacency scan is DISTRIBUTED, not a global lag window:
    approxQuantile boundaries on seq become literal range buckets
    (monotone, so global adjacency = within-bucket adjacency plus one
    pair per adjacent non-empty bucket); each bucket runs its own
    parallel lag window, and the |buckets| cross-boundary pairs come
    from a tiny per-bucket (min, max) aggregate stitched on the driver.
    Exactly the holes the single-partition window would emit, at any
    data size.
    """
    from pyspark.sql import Window

    spark_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2)
    feed = _feed(spark, sf_dir).filter(F.col("seq") % _GAP_DROP_MOD != 0).select("seq")
    probs = [i / spark_parts for i in range(1, spark_parts)]
    bounds = sorted(set(feed.stat.approxQuantile("seq", probs, 1.0 / (4 * spark_parts))))
    if bounds:
        arms = " ".join(
            f"WHEN seq <= {int(b)} THEN {i}" for i, b in enumerate(bounds)
        )
        pid = F.expr(f"CASE {arms} ELSE {len(bounds)} END")
    else:
        pid = F.lit(0)
    part = feed.withColumn("_pid", pid)
    w = Window.partitionBy("_pid").orderBy("seq")
    intra = (
        part.withColumn("prev_seq", F.lag("seq").over(w))
        .filter(F.col("seq") - F.col("prev_seq") > 1)
        .select(
            "prev_seq",
            F.col("seq").alias("next_seq"),
            (F.col("seq") - F.col("prev_seq") - 1).alias("n_missing"),
        )
    )
    stats = sorted(
        part.groupBy("_pid").agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect(),
        key=lambda r: r["_pid"],
    )
    boundary = [
        (int(a["hi"]), int(b["lo"]), int(b["lo"] - a["hi"] - 1))
        for a, b in zip(stats, stats[1:])
        if b["lo"] - a["hi"] > 1
    ]
    if boundary:
        bdf = spark.createDataFrame(
            boundary, "prev_seq bigint, next_seq bigint, n_missing bigint"
        )
        intra = intra.unionByName(bdf)
    return intra.orderBy("prev_seq")


CDC_GAP_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
survived AS (
  SELECT * FROM cdc WHERE seq % {_GAP_DROP_MOD} <> 0
),
lagged AS (
  SELECT seq, lag(seq) OVER (ORDER BY seq) AS prev_seq FROM survived
)
SELECT prev_seq, seq AS next_seq, seq - prev_seq - 1 AS n_missing
FROM lagged
WHERE seq - prev_seq > 1
ORDER BY prev_seq
"""


def cdc_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27: change-data-feed BETWEEN two watermarks — CDC as a SOURCE
    (Delta CDF / Iceberg changelog semantics): every event in the
    window (T1, T2] emitted with its pre- and post-image and a change
    classification derived from the key's prior state.

    change_op: `insert` when the key had no live prior state (no
    earlier event, or the prior event was a delete), `update` when an
    upsert lands on a live key, `delete` when a delete lands. Pre-image
    = the previous event's payload via ONE lag window over the full
    per-key history — no join against a reconstructed snapshot, which
    is the point: the feed is derivable from the archive alone in one
    shuffle on pk, at any scale, and a downstream consumer can apply
    it incrementally without reading either endpoint snapshot.
    """
    from pyspark.sql import Window

    feed = _feed(spark, sf_dir)
    w = Window.partitionBy("pk").orderBy("ts", "seq")
    hist = (
        feed.withColumn("prev_op", F.lag("op").over(w))
        .withColumn("prev_value", F.lag("value").over(w))
        .withColumn("prev_seq", F.lag("seq").over(w))
    )
    t1, t2 = F.lit(_SPLIT_TS).cast("timestamp"), F.lit("2024-02-15 00:00:00").cast(
        "timestamp"
    )
    live_before = F.col("prev_seq").isNotNull() & (F.col("prev_op") != "delete")
    return (
        hist.filter((F.col("ts") > t1) & (F.col("ts") <= t2))
        .select(
            "pk",
            F.col("seq").alias("change_seq"),
            F.col("ts").alias("change_ts"),
            F.when(F.col("op") == "delete", F.lit("delete"))
            .when(live_before, F.lit("update"))
            .otherwise(F.lit("insert"))
            .alias("change_op"),
            F.when(live_before, F.col("prev_value")).alias("pre_value"),
            F.when(F.col("op") != "delete", F.col("value")).alias("post_value"),
        )
        .orderBy("change_seq")
    )


CDC_CHANGEFEED_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
hist AS (
  SELECT *,
         lag(op) OVER (PARTITION BY pk ORDER BY ts, seq) AS prev_op,
         lag(value) OVER (PARTITION BY pk ORDER BY ts, seq) AS prev_value,
         lag(seq) OVER (PARTITION BY pk ORDER BY ts, seq) AS prev_seq
  FROM cdc
)
SELECT pk,
       seq AS change_seq,
       ts AS change_ts,
       CASE WHEN op = 'delete' THEN 'delete'
            WHEN prev_seq IS NOT NULL AND prev_op <> 'delete' THEN 'update'
            ELSE 'insert' END AS change_op,
       CASE WHEN prev_seq IS NOT NULL AND prev_op <> 'delete'
            THEN prev_value END AS pre_value,
       CASE WHEN op <> 'delete' THEN value END AS post_value
FROM hist
WHERE ts > TIMESTAMP '{_SPLIT_TS}' AND ts <= TIMESTAMP '2024-02-15 00:00:00'
ORDER BY change_seq
"""


def late_arriving_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28: late-arriving-dimension handling — facts that reference a
    dimension key the replica hasn't seen yet park in a pending queue
    instead of silently dropping or poisoning the join.

    The CDC-warehouse race: fact stream (purchase events) and dimension
    stream (the replica) replicate independently, so a fact can arrive
    before its dimension row. Facts joining the CURRENT snapshot
    resolve with the dimension payload; unmatched facts emit
    status='pending' with NULL dimension columns and are retried next
    micro-batch (the retry is the same query over the queue — shown
    here as the classification pass). The dim snapshot is key-unique
    by construction so the left join broadcasts at dimension scale;
    one fact scan, no shuffle of the fact side at 100 TB.

    The dimension here is the latest-wins snapshot at the watermark
    cut; facts after the cut reference keys whose dim row may only
    exist post-cut — exactly the late-dim window the oracle pins.
    """
    feed = _feed(spark, sf_dir)
    cut = F.col("ts") < F.lit(_SPLIT_TS).cast("timestamp")
    dim = cdc_ops.snapshot_latest(feed.filter(cut)).select(
        "pk",
        F.col("value").alias("dim_value"),
        F.col("event_type").alias("dim_type"),
    )
    facts = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("fact_id"),
        F.col("user_id").alias("pk"),
        F.col("value").alias("fact_value"),
    )
    return (
        facts.join(F.broadcast(dim), "pk", "left")
        .select(
            "fact_id",
            "pk",
            "fact_value",
            "dim_value",
            "dim_type",
            F.when(F.col("dim_value").isNotNull(), F.lit("resolved"))
            .otherwise(F.lit("pending"))
            .alias("status"),
        )
        .orderBy("fact_id")
    )


LATE_DIM_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc WHERE ts < TIMESTAMP '{_SPLIT_TS}'
),
dim AS (
  SELECT pk, value AS dim_value, event_type AS dim_type
  FROM ranked WHERE rn = 1 AND op <> 'delete'
),
facts AS (
  SELECT event_id AS fact_id, user_id AS pk, value AS fact_value
  FROM events WHERE event_type = 'purchase'
)
SELECT f.fact_id, f.pk, f.fact_value, d.dim_value, d.dim_type,
       CASE WHEN d.dim_value IS NOT NULL THEN 'resolved' ELSE 'pending' END AS status
FROM facts f LEFT JOIN dim d ON f.pk = d.pk
ORDER BY f.fact_id
"""


def replica_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29: versioned-replica time travel, oracle-checked — three
    micro-batch commits through the REAL ReplicaStore, then every
    retained version read back via `read(version=n)` and summarized.

    The lakehouse-manifest surface (streaming/pipeline.py ReplicaStore:
    versioned parquet + atomic _LATEST pointer — the batch-level undo
    of the reference's TODO) has so far been pytest-only; here each
    version's (row count, high watermark, live-key checksum) must match
    the DuckDB snapshot AT THAT CUT, proving version N is exactly the
    replica state after batch N — not just that reads succeed.

    Batches split the feed at fixed timestamp thirds (deterministic for
    the oracle); apply is the standard incremental merge, so this also
    re-proves apply(apply(snap(b1), b2), b3) == snap(b1∪b2∪b3) at
    every intermediate cut, through the actual storage layer.
    """
    import shutil
    import tempfile

    from ..streaming.pipeline import ReplicaStore

    feed = _feed(spark, sf_dir)
    bounds = feed.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    lo, hi = bounds[0], bounds[1] + 1
    step = (hi - lo) // 3 + 1
    base = tempfile.mkdtemp(prefix="replica_hist_")
    try:
        store = ReplicaStore(spark, base)
        replica = None
        for i in range(3):
            batch = feed.filter(
                (F.unix_micros("ts") >= lo + i * step)
                & (F.unix_micros("ts") < lo + (i + 1) * step)
            )
            replica = (
                cdc_ops.snapshot_latest(batch)
                if replica is None
                else cdc_ops.apply_incremental(store.read(), batch)
            )
            store.commit(replica)
        rows = []
        for entry in store.history():
            v = entry["version"]
            snap = store.read(version=v)
            summary = snap.agg(
                F.count("*").alias("n_rows"),
                F.max("ts").alias("high_watermark"),
                F.sum(F.col("pk") * F.col("seq")).alias("content_key"),
            ).collect()[0]
            rows.append(
                (v, summary["n_rows"], summary["high_watermark"], summary["content_key"])
            )
        return spark.createDataFrame(
            rows, "version int, n_rows bigint, high_watermark timestamp, content_key bigint"
        ).orderBy("version")
    finally:
        shutil.rmtree(base, ignore_errors=True)


REPLICA_HISTORY_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
bounds AS (
  SELECT MIN(epoch_us(ts)) AS lo,
         (MAX(epoch_us(ts)) + 1 - MIN(epoch_us(ts))) // 3 + 1 AS step
  FROM cdc
),
ranked AS (
  SELECT c.*, b.lo, b.step,
         CASE WHEN epoch_us(c.ts) < b.lo + 1 * b.step THEN 1
              WHEN epoch_us(c.ts) < b.lo + 2 * b.step THEN 2
              ELSE 3 END AS min_version
  FROM cdc c, bounds b
),
versions(version) AS (VALUES (1), (2), (3)),
visible AS (
  SELECT v.version, r.*,
         ROW_NUMBER() OVER (PARTITION BY v.version, r.pk
                            ORDER BY r.ts DESC, r.seq DESC) AS rn
  FROM ranked r JOIN versions v ON r.min_version <= v.version
)
SELECT version,
       COUNT(*) AS n_rows,
       MAX(ts) AS high_watermark,
       CAST(SUM(pk * seq) AS BIGINT) AS content_key
FROM visible
WHERE rn = 1 AND op <> 'delete'
GROUP BY version
ORDER BY version
"""


def cdc_stale_replay_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A30: the ENFORCED ordering contract under at-least-once
    redelivery — a full stale-batch replay must leave the replica
    bit-identical.

    The reference's bus is at-least-once (rabbitmq.go acks only after
    the batch lands, so a crash between write and ack redelivers the
    whole batch); its guard is the global maxwell_ts watermark
    (maxwell_gpdb.sql:34-36). This query drives the per-key form
    (operators/cdc.py `enforce_watermark`): build the replica from the
    pre-split feed, keep the per-key high (ts, seq) watermark over ALL
    applied events — including the deletes the snapshot absorbed — then
    replay every pre-split INSERT as a stale batch. Without the guard,
    inserts older than an absorbed delete resurrect dead keys (the
    replica has no row to outrank them); with it, every stale event
    loses to the watermark. The oracle is the pre-split snapshot, so
    the hash match proves replay(replica, stale) == replica exactly.
    The guard costs one extra equi-join against a |keys|-row watermark
    table, shuffled on the same key as the merge itself.
    """
    feed = _feed(spark, sf_dir)
    batch1 = feed.filter(F.col("ts") < F.lit(_SPLIT_TS).cast("timestamp"))
    replica = cdc_ops.snapshot_latest(batch1)
    wm = (
        batch1.groupBy("pk")
        .agg(F.max(F.struct("ts", "seq")).alias("m"))
        .select("pk", F.col("m.ts").alias("ts"), F.col("m.seq").alias("seq"))
    )
    stale = batch1.filter(F.col("op") == "insert")
    merged = cdc_ops.apply_incremental(
        replica, stale, watermark=wm, enforce_watermark=True
    )
    return merged.select(
        "pk",
        F.col("ts").alias("last_ts"),
        F.col("seq").alias("last_seq"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
    ).orderBy("pk")


CDC_STALE_REPLAY_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
b1 AS (SELECT * FROM cdc WHERE ts < TIMESTAMP '{_SPLIT_TS}'),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM b1
)
SELECT pk, ts AS last_ts, seq AS last_seq, value AS last_value, event_type AS last_event_type
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""


def cdc_source_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31: dual-source reconciliation — two independent CDC feeds of
    the same logical table (a primary and a backfill/mirror consumer,
    each seeing only its half of the bus) compared key by key.

    The operational sibling of replica_checksum (A19, replica vs its
    own recompute): here the question is whether two INGEST PATHS agree
    — the check a team runs before cutting over from the reference's
    RabbitMQ consumer to a Kafka mirror (scripts/kafka_to_greenplum.sh
    exists precisely because both paths ran side by side). Sources are
    derived deterministically (even seq -> 'a', odd -> 'b'), each
    source's replica is its latest-wins snapshot, and a full outer join
    classifies every key: agree / disagree (both present, different
    latest value) / only_a / only_b. One row per class with the key
    count and span — the dashboard row, not a row-per-key dump.
    """
    feed = _feed(spark, sf_dir)
    src = feed.withColumn(
        "source", F.when(F.col("seq") % 2 == 0, "a").otherwise("b")
    )
    snaps = {}
    for s in ("a", "b"):
        snaps[s] = cdc_ops.snapshot_latest(src.filter(F.col("source") == s)).select(
            F.col("pk"),
            F.col("value").alias(f"value_{s}"),
            F.col("seq").alias(f"seq_{s}"),
        )
    joined = snaps["a"].join(snaps["b"], "pk", "full_outer")
    # presence is keyed on seq (never null for a surviving snapshot
    # row), so a legitimately-NULL payload value can't read as "absent"
    status = (
        F.when(F.col("seq_a").isNull(), F.lit("only_b"))
        .when(F.col("seq_b").isNull(), F.lit("only_a"))
        .when(F.col("value_a") == F.col("value_b"), F.lit("agree"))
        .otherwise(F.lit("disagree"))
    )
    return (
        joined.withColumn("status", status)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_keys"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
        .orderBy("status")
    )


CDC_SOURCE_RECONCILE_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
src AS (
  SELECT *, CASE WHEN seq % 2 = 0 THEN 'a' ELSE 'b' END AS source FROM cdc
),
snap_a AS (
  SELECT pk, value AS value_a, seq AS seq_a FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
    FROM src WHERE source = 'a'
  ) WHERE rn = 1 AND op <> 'delete'
),
snap_b AS (
  SELECT pk, value AS value_b, seq AS seq_b FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
    FROM src WHERE source = 'b'
  ) WHERE rn = 1 AND op <> 'delete'
),
joined AS (
  SELECT COALESCE(a.pk, b.pk) AS pk,
         CASE WHEN a.pk IS NULL THEN 'only_b'
              WHEN b.pk IS NULL THEN 'only_a'
              WHEN a.value_a = b.value_b THEN 'agree'
              ELSE 'disagree' END AS status
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.pk = b.pk
)
SELECT status, COUNT(*) AS n_keys, MIN(pk) AS min_pk, MAX(pk) AS max_pk
FROM joined
GROUP BY status
ORDER BY status
"""


_PRUNE_LO, _PRUNE_HI = "2024-01-10", "2024-01-20"


def archive_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32: partition-pruned archive scan over a REAL partitioned write —
    the read-side payoff of A2's date layout (maxwell_gpdb.sql:25-31
    RANGE-partitions maxwell_event by ts precisely so Greenplum's
    planner can skip months; this is the Spark twin, executed).

    The event feed lands as a genuine `partitionBy(event_date)` parquet
    tree in a scratch dir; the windowed query filters on the PARTITION
    column, so Catalyst resolves matching directories at plan time and
    non-matching dates are never opened (PartitionFilters — asserted on
    the live plan in pytest, alongside files-read < total). The oracle
    states the same window's per-day rollup straight from the source
    table: a pruning bug that drops or double-reads a day breaks the
    hash, not just a plan string.
    """
    import shutil
    import tempfile

    from ..io import materialize

    base = tempfile.mkdtemp(prefix="prune_")
    try:
        feed = _feed(spark, sf_dir).withColumn(
            "event_date", F.to_date(F.date_trunc("day", "ts"))
        )
        feed.write.mode("overwrite").partitionBy("event_date").parquet(base)
        archive = spark.read.parquet(base)
        windowed = (
            archive.filter(
                (F.col("event_date") >= F.lit(_PRUNE_LO).cast("date"))
                & (F.col("event_date") < F.lit(_PRUNE_HI).cast("date"))
            )
            .groupBy("event_date")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("pk").alias("n_keys"),
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                    "sum_value_cents"
                ),
            )
            .orderBy("event_date")
        )
        return materialize(windowed, "prune_out_").orderBy("event_date")
    finally:
        shutil.rmtree(base, ignore_errors=True)


ARCHIVE_PRUNE_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL})
SELECT CAST(ts AS DATE) AS event_date,
       COUNT(*) AS n_events,
       COUNT(DISTINCT pk) AS n_keys,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM cdc
WHERE CAST(ts AS DATE) >= DATE '{_PRUNE_LO}' AND CAST(ts AS DATE) < DATE '{_PRUNE_HI}'
GROUP BY CAST(ts AS DATE)
ORDER BY event_date
"""


_ERASE_MOD = 97  # deterministic erasure set: pk % 97 == 0


def cdc_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33: right-to-be-forgotten propagation plan — for a deterministic
    erasure key set (pk % {_ERASE_MOD} == 0), the impact across every
    surface the CDC pipeline maintains: live replica rows to delete,
    archive events to scrub (the append-only maxwell_event history is
    itself personal data), and the tombstone events to emit so
    DOWNSTREAM consumers of the feed erase too.

    This is the compliance pass a 100 TB lake runs as a batch job: each
    surface is one filtered aggregate over the existing frames (replica
    = latest-wins snapshot, archive = raw feed, downstream = one
    synthesized delete per live erased key), all sharing the map-side
    erasure predicate — no per-key loop, no driver-side key list; at
    real scale the key set arrives as a table and the predicate becomes
    a broadcast semi-join, same plan shape.
    """
    feed = _feed(spark, sf_dir)
    erase = F.col("pk") % _ERASE_MOD == 0
    replica = cdc_ops.snapshot_latest(feed)
    surfaces = [
        replica.filter(erase).agg(
            F.lit("1_replica_rows").alias("surface"),
            F.count("*").alias("n_affected"),
            F.countDistinct("pk").alias("n_keys"),
        ),
        feed.filter(erase).agg(
            F.lit("2_archive_events").alias("surface"),
            F.count("*").alias("n_affected"),
            F.countDistinct("pk").alias("n_keys"),
        ),
        # downstream tombstones: one delete per LIVE erased key
        replica.filter(erase).agg(
            F.lit("3_downstream_tombstones").alias("surface"),
            F.countDistinct("pk").alias("n_affected"),
            F.countDistinct("pk").alias("n_keys"),
        ),
        feed.filter(~erase).agg(
            F.lit("4_archive_remaining").alias("surface"),
            F.count("*").alias("n_affected"),
            F.countDistinct("pk").alias("n_keys"),
        ),
    ]
    out = surfaces[0]
    for s in surfaces[1:]:
        out = out.unionByName(s)
    return out.orderBy("surface")


CDC_GDPR_SQL = f"""
WITH cdc AS ({maxwell.EVENTS_AS_CDC_SQL}),
replica AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
    FROM cdc
  ) WHERE rn = 1 AND op <> 'delete'
)
SELECT '1_replica_rows' AS surface, COUNT(*) AS n_affected,
       COUNT(DISTINCT pk) AS n_keys
FROM replica WHERE pk % {_ERASE_MOD} = 0
UNION ALL
SELECT '2_archive_events', COUNT(*), COUNT(DISTINCT pk)
FROM cdc WHERE pk % {_ERASE_MOD} = 0
UNION ALL
SELECT '3_downstream_tombstones', COUNT(DISTINCT pk), COUNT(DISTINCT pk)
FROM replica WHERE pk % {_ERASE_MOD} = 0
UNION ALL
SELECT '4_archive_remaining', COUNT(*), COUNT(DISTINCT pk)
FROM cdc WHERE NOT (pk % {_ERASE_MOD} = 0)
ORDER BY surface
"""


# --- A34: cross-table consistent snapshot cut --------------------------

# simulated per-table apply lag (events held back from the applied set),
# deterministic stand-in for tables replicating at different speeds
_CUT_LAGS = {"accounts": 0, "activity": 50}


def cdc_consistent_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34: transactionally-consistent MULTI-table snapshot — every
    routed table snapshotted at the same global cut, the minimum of the
    per-table applied watermarks.

    A20 routes tables independently, so their applied watermarks drift
    (here: 'activity' lags 50 seq behind 'accounts', a deterministic
    stand-in for uneven consumer progress). Reading each table at its
    OWN watermark yields a cross-table inconsistency (an account row
    whose activity hasn't landed); the fix is the classic consistent
    cut: cut = MIN(table watermarks), snapshot every table at ts <=
    cut. One latest-wins window over the routed feed with the cut as a
    broadcast scalar — per-table output: its own watermark, the global
    cut, live keys and exact value cents at the cut.

    The reference's maxwell_ts watermark (maxwell_gpdb.sql:34-36) is
    global across tables for exactly this reason; this operator is the
    multi-speed generalization.
    """
    feed = _feed(spark, sf_dir).withColumn("table_name", _routed_table())
    lag_expr = F.when(F.col("table_name") == "accounts", F.lit(_CUT_LAGS["accounts"])).otherwise(
        F.lit(_CUT_LAGS["activity"])
    )
    applied = feed.withColumn("lag", lag_expr)
    wm = (
        applied.withColumn(
            "max_seq", F.max("seq").over(Window.partitionBy("table_name"))
        )
        .filter(F.col("seq") <= F.col("max_seq") - F.col("lag"))
        .groupBy("table_name")
        .agg(F.max(F.unix_micros(F.col("ts"))).alias("applied_wm_us"))
    )
    cut = wm.agg(F.min("applied_wm_us").alias("cut_us"))
    cut_feed = feed.crossJoin(F.broadcast(cut)).filter(
        F.unix_micros(F.col("ts")) <= F.col("cut_us")
    )
    snap = (
        cdc_ops.snapshot_latest(cut_feed, key_cols=("table_name", "pk"))
        .groupBy("table_name")
        .agg(
            F.count("*").alias("live_keys"),
            F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)")).alias(
                "value_cents"
            ),
        )
    )
    return (
        wm.join(snap, "table_name")
        .crossJoin(F.broadcast(cut))
        .select("table_name", "applied_wm_us", "cut_us", "live_keys", "value_cents")
        .orderBy("table_name")
    )


CDC_CONSISTENT_CUT_SQL = f"""
WITH cdc AS ({{events_as_cdc}}),
routed AS (
  SELECT *,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN 'accounts' ELSE 'activity' END AS table_name,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN {_CUT_LAGS['accounts']} ELSE {_CUT_LAGS['activity']} END AS lag
  FROM cdc
),
wm AS (
  SELECT table_name, MAX(epoch_us(ts)) AS applied_wm_us
  FROM (
    SELECT *, MAX(seq) OVER (PARTITION BY table_name) AS max_seq FROM routed
  )
  WHERE seq <= max_seq - lag
  GROUP BY table_name
),
cut AS (SELECT MIN(applied_wm_us) AS cut_us FROM wm),
ranked AS (
  SELECT r.*, c.cut_us, ROW_NUMBER() OVER (
    PARTITION BY r.table_name, r.pk ORDER BY r.ts DESC, r.seq DESC) AS rn
  FROM routed r, cut c
  WHERE epoch_us(r.ts) <= c.cut_us
),
snap AS (
  SELECT table_name, COUNT(*) AS live_keys,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
  FROM ranked
  WHERE rn = 1 AND op <> 'delete'
  GROUP BY table_name
)
SELECT w.table_name, w.applied_wm_us, c.cut_us, s.live_keys, s.value_cents
FROM wm w JOIN snap s USING (table_name), cut c
ORDER BY w.table_name
"""
CDC_CONSISTENT_CUT_SQL = CDC_CONSISTENT_CUT_SQL.replace(
    "{events_as_cdc}", maxwell.EVENTS_AS_CDC_SQL
)


# --- A35: merkle-style anti-entropy repair -----------------------------

_AE_BUCKETS = 64
_AE_DROP_MOD = 101   # replica B lost every 101st key
_AE_SKEW_MOD = 97    # replica B's value drifted +0.01 on every 97th key


def anti_entropy_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35: anti-entropy repair plan between two replicas — the
    Dynamo/Cassandra merkle-descent pattern on the CDC snapshot.

    Replica A is the latest-wins snapshot; replica B is A with
    deterministic divergence (every 101st key lost, every 97th key's
    value drifted one cent — the corruption classes an at-least-once
    pipeline actually produces). Repair never diffs whole replicas:

    1. each side reduces to {_AE_BUCKETS} per-bucket content digests
       (pk mod bucket; order-insensitive mod-2^61-1 hash sums — A19's
       digest, bucketed);
    2. ONLY buckets whose digests disagree rejoin row-level (full
       outer on pk) to emit repair ops: upsert (missing/drifted in B)
       or delete (extra in B).

    At 100 TB step 1 is one map-side hash + a 64-row exchange per
    side; step 2's row join is confined to the diverged key space —
    the network cost scales with the DAMAGE, not the table. Output:
    the repair operations, which the pytest replays onto B to prove
    convergence to A. Reference parity: the 100 TB form of the demo's
    row-by-row MySQL-vs-replica equality poll (same lineage as A19/
    A31, but emitting the fix, not just the verdict).
    """
    from pyspark.sql import Window

    snap = cdc_ops.snapshot_latest(_feed(spark, sf_dir)).select(
        "pk", F.col("value").cast("decimal(12,2)").alias("value")
    )
    rep_a = snap
    rep_b = snap.filter(F.col("pk") % _AE_DROP_MOD != 0).withColumn(
        "value",
        F.when(
            F.col("pk") % _AE_SKEW_MOD == 0,
            (F.col("value") + F.lit(0.01).cast("decimal(12,2)")).cast(
                "decimal(12,2)"
            ),
        ).otherwise(F.col("value")),
    )

    def digests(df: DataFrame) -> DataFrame:
        canon = F.concat_ws("|", F.col("pk"), F.col("value").cast("string"))
        h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
        return (
            df.withColumn("bucket", F.col("pk") % _AE_BUCKETS)
            .withColumn("h", h)
            .groupBy("bucket")
            .agg(
                (F.sum("h") % F.lit(2305843009213693951).cast("decimal(38,0)"))
                .cast("bigint")
                .alias("digest")
            )
        )
    da = digests(rep_a).select("bucket", F.col("digest").alias("digest_a"))
    db = digests(rep_b).select("bucket", F.col("digest").alias("digest_b"))
    bad = (
        da.join(db, "bucket", "full_outer")
        .filter(
            F.col("digest_a").isNull()
            | F.col("digest_b").isNull()
            | (F.col("digest_a") != F.col("digest_b"))
        )
        .select("bucket")
    )
    a_rows = rep_a.withColumn("bucket", F.col("pk") % _AE_BUCKETS).join(
        F.broadcast(bad), "bucket"
    )
    b_rows = rep_b.withColumn("bucket", F.col("pk") % _AE_BUCKETS).join(
        F.broadcast(bad), "bucket"
    )
    joined = a_rows.select(
        "bucket", "pk", F.col("value").alias("a_value")
    ).join(
        b_rows.select("pk", F.col("value").alias("b_value")), "pk", "full_outer"
    )
    return (
        joined.filter(
            F.col("a_value").isNull()
            | F.col("b_value").isNull()
            | (F.col("a_value") != F.col("b_value"))
        )
        .select(
            "pk",
            F.when(F.col("a_value").isNull(), "delete")
            .otherwise("upsert")
            .alias("repair_op"),
            F.col("a_value").cast("double").alias("a_value"),
            F.col("b_value").cast("double").alias("b_value"),
        )
        .orderBy("pk")
    )


ANTI_ENTROPY_SQL = f"""
WITH cdc AS ({{events_as_cdc}}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc
),
rep_a AS (
  SELECT pk, CAST(value AS DECIMAL(12,2)) AS value
  FROM ranked WHERE rn = 1 AND op <> 'delete'
),
rep_b AS (
  SELECT pk,
         CASE WHEN pk % {_AE_SKEW_MOD} = 0
              THEN CAST(value + 0.01 AS DECIMAL(12,2)) ELSE value END AS value
  FROM rep_a WHERE pk % {_AE_DROP_MOD} <> 0
),
joined AS (
  SELECT COALESCE(a.pk, b.pk) AS pk, a.value AS a_value, b.value AS b_value
  FROM rep_a a FULL OUTER JOIN rep_b b ON a.pk = b.pk
)
SELECT pk,
       CASE WHEN a_value IS NULL THEN 'delete' ELSE 'upsert' END AS repair_op,
       CAST(a_value AS DOUBLE) AS a_value,
       CAST(b_value AS DOUBLE) AS b_value
FROM joined
WHERE a_value IS NULL OR b_value IS NULL OR a_value <> b_value
ORDER BY pk
"""
ANTI_ENTROPY_SQL = ANTI_ENTROPY_SQL.replace(
    "{events_as_cdc}", maxwell.EVENTS_AS_CDC_SQL
)


# --- A36: bootstrap snapshot → incremental tail handoff ----------------

_BOOT_CUT = "2024-01-20 00:00:00"
_BOOT_OVERLAP = "2024-01-19 00:00:00"  # tail starts 1 day BEFORE the cut


def cdc_bootstrap_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A36: initial-load → streaming-tail handoff, with overlap: the
    bootstrap consistency problem every CDC deployment hits on day one.

    The reference bootstraps with a dump (mysqldump) and then starts
    Maxwell; the dump cut and the binlog start never align exactly, so
    the tail is started EARLY (here: one day before the cut) and the
    overlap region is REPLAYED onto the bootstrap. Replaying
    already-applied events is only safe if the replica is
    out-of-order-proof: the bootstrap keeps tombstones
    (keep_tombstones=True), so a delete absorbed before the cut cannot
    be resurrected by its own pre-delete events arriving again in the
    overlap. Construction: snapshot(events <= cut) tombstoned, then
    apply_incremental(tail = events > cut - 1d) — the oracle is the
    single-shot full snapshot, so the hash match PROVES
    bootstrap + overlapping tail == full history replay, per
    event_type (count, exact cents, content digest).

    At 100 TB: bootstrap is one keyed window over the dump, the tail is
    the ordinary incremental path; the overlap costs one extra day of
    events, not a second full pass. Reference parity: maxwell
    bootstrap + maxwell_ts watermark (maxwell_gpdb.sql:34-36) made
    per-key-safe.
    """
    feed = _feed(spark, sf_dir)
    cut = F.lit(_BOOT_CUT).cast("timestamp")
    bootstrap = cdc_ops.snapshot_latest(
        feed.filter(F.col("ts") <= cut), keep_tombstones=True
    )
    tail = feed.filter(F.col("ts") > F.lit(_BOOT_OVERLAP).cast("timestamp"))
    final = cdc_ops.apply_incremental(
        bootstrap, tail, keep_tombstones=True
    )
    live = final.filter(F.col("op") != "delete")
    canon = F.concat_ws(
        "|",
        F.col("pk"),
        F.unix_micros("ts"),
        F.col("seq"),
        F.col("value").cast("decimal(12,2)").cast("string"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
    return (
        live.withColumn("row_hash", h)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)")).alias(
                "value_cents"
            ),
            (F.sum("row_hash") % F.lit(2305843009213693951).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("content_digest"),
        )
        .orderBy("event_type")
    )


CDC_BOOTSTRAP_SQL = f"""
WITH cdc AS ({{events_as_cdc}}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
  FROM cdc
),
live AS (
  SELECT * FROM ranked WHERE rn = 1 AND op <> 'delete'
)
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(SUM(CAST({_hex15_to_bigint_sql(f"md5({_CHECKSUM_CANON})")} AS DECIMAL(38,0)))
            % 2305843009213693951 AS BIGINT) AS content_digest
FROM live
GROUP BY event_type
ORDER BY event_type
"""
CDC_BOOTSTRAP_SQL = CDC_BOOTSTRAP_SQL.replace(
    "{events_as_cdc}", maxwell.EVENTS_AS_CDC_SQL
)


# --- A37: payload schema drift monitor ---------------------------------


def schema_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37: schema drift observability — which payload keys does the
    live envelope stream actually carry, since when, and which ones
    appeared mid-stream?

    A14 proves apply survives ADD COLUMN; this is the monitoring half a
    platform team runs continuously: parse the REAL mixed-schema
    envelopes (pre-DDL payloads lack `event_type`), explode
    `map_keys(data)`, and roll up per key: envelope count, first/last
    seen date, and the drift verdict — 'added' when a key's first
    sighting postdates the stream start (the ALTER TABLE fingerprint),
    'stable' otherwise. One parse pass (shared shape with A1/A14), one
    |keys|-row rollup; at 100 TB this rides the existing archive scan.

    Oracle: key presence is a closed-form function of ts vs the DDL
    split, so DuckDB states the same rollup without JSON parsing —
    the hash match proves the parser-side key inventory.
    """
    ev = load_table(spark, sf_dir, "events")
    pre = F.col("ts") < F.lit(_SPLIT_TS).cast("timestamp")
    epoch_ms = F.expr("unix_micros(ts) div 1000")
    head = [
        F.lit("appdb").alias("database"),
        F.lit("events").alias("table"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("insert"))
        .alias("type"),
        epoch_ms.alias("ts"),
        F.col("event_id").alias("xid"),
    ]
    data_pre = F.struct(F.col("user_id"), F.col("value")).alias("data")
    data_post = F.struct(
        F.col("user_id"), F.col("value"), F.col("event_type")
    ).alias("data")
    line = F.when(pre, F.to_json(F.struct(*head, data_pre))).otherwise(
        F.to_json(F.struct(*head, data_post))
    )
    parsed = maxwell.parse_maxwell(ev.select(line.alias("line")))
    keyed = parsed.select(
        F.explode(F.map_keys(F.col("data"))).alias("key"),
        F.col("ts").cast("date").alias("d"),
    )
    # stream_start == min(d) over ALL keys == min(first_seen) over the
    # |keys|-row rollup — derive it with a window over the rollup
    # instead of a separate agg+collect, which re-executed the whole
    # synth+parse pipeline a second time (2x the operator's cost,
    # found in the round-6 profile pass)
    return (
        keyed.groupBy("key")
        .agg(
            F.count("*").alias("n_envelopes"),
            F.min("d").alias("first_seen"),
            F.max("d").alias("last_seen"),
        )
        .withColumn(
            "status",
            F.when(
                F.col("first_seen")
                > F.min("first_seen").over(Window.partitionBy()),
                "added",
            ).otherwise("stable"),
        )
        .orderBy("key")
    )


SCHEMA_DRIFT_SQL = f"""
WITH keyed AS (
  SELECT k.key, CAST(ts AS DATE) AS d
  FROM events,
       (SELECT UNNEST(['user_id', 'value']) AS key) k
  WHERE ts < TIMESTAMP '{_SPLIT_TS}'
  UNION ALL
  SELECT k.key, CAST(ts AS DATE) AS d
  FROM events,
       (SELECT UNNEST(['user_id', 'value', 'event_type']) AS key) k
  WHERE ts >= TIMESTAMP '{_SPLIT_TS}'
),
bounds AS (SELECT MIN(d) AS stream_start FROM keyed)
SELECT key, COUNT(*) AS n_envelopes,
       MIN(d) AS first_seen, MAX(d) AS last_seen,
       CASE WHEN MIN(d) > (SELECT stream_start FROM bounds)
            THEN 'added' ELSE 'stable' END AS status
FROM keyed
GROUP BY key
ORDER BY key
"""


# --- round 5: wal2json Postgres source (reference TODO #1) -------------

_W2J_TXN = 3  # events per synthetic transaction (event_id div 3)


def _synth_feed(
    entry: str, df: DataFrame, sf_dir: str, fmt: str = "text"
) -> DataFrame:
    """Materialize a synthesized feed to scratch once per identity of
    ``sf_dir`` (``cached_feed``), timed under ``phase(entry, "synth")``
    so bench charges the corpus generator separately from the operator
    (VERDICT r5 item 3: half of wal2json_v2_parse_events' bench line was
    feed synthesis). Reading the corpus back from disk is also the
    honest operator input — a real deployment parses a LANDED feed, not
    the generator's expression tree fused into the parse job. A parquet
    feed is read back with the schema in its own footer, so the read
    plans without a Spark job."""
    from ..phases import phase, reset
    from ..streaming.scaffold import cached_feed

    reset(entry)

    def write(out: str) -> None:
        with phase(entry, "synth"):
            # 8 files so the parse stage gets real parallelism (a lazy
            # single-file feed read throttled the operator to 1-2 tasks)
            w = df.repartition(8).write.mode("overwrite")
            if fmt == "text":
                w.text(out)
            else:
                w.parquet(out)

    out = cached_feed(sf_dir, entry, write)
    spark = df.sparkSession
    if fmt == "text":
        return spark.read.schema("line string").text(out)
    return spark.read.schema(_footer_schema([out])).parquet(out)


def _wal2json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize `events` into genuine wal2json v1 transaction lines.

    Faithful to the format the plugin emits (README TODO #1): one JSON
    document per transaction, `change` array in WAL order, mixed-type
    `columnvalues` (numbers unquoted — built with format_string, NOT
    to_json, which would stringify them), deletes carrying only
    `oldkeys`. Transactions batch _W2J_TXN consecutive events; the
    commit timestamp is the transaction's first event's ts rendered at
    microsecond precision (exact round-trip through to_timestamp).

    Plan shape: one map-side projection per event, one groupBy(xid)
    with array_sort(collect_list) — the only shuffle, keyed by txn.
    """
    ev = load_table(spark, sf_dir, "events")
    ins = F.format_string(
        '{"kind": "insert", "schema": "public", "table": "events",'
        ' "columnnames": ["user_id","value","event_type"],'
        ' "columntypes": ["bigint","double precision","text"],'
        ' "columnvalues": [%s, %s, "%s"]}',
        F.col("user_id").cast("string"),
        F.col("value").cast("string"),
        F.col("event_type"),
    )
    dele = F.format_string(
        '{"kind": "delete", "schema": "public", "table": "events",'
        ' "oldkeys": {"keynames": ["user_id"], "keytypes": ["bigint"],'
        ' "keyvalues": [%s]}}',
        F.col("user_id").cast("string"),
    )
    per_event = ev.select(
        F.expr(f"event_id div {_W2J_TXN}").alias("txn"),
        "event_id",
        "ts",
        F.when(F.col("event_type") == "error", dele).otherwise(ins).alias("ch"),
    )
    per_txn = per_event.groupBy("txn").agg(
        F.min("ts").alias("txn_ts"),
        F.array_sort(F.collect_list(F.struct("event_id", "ch"))).alias("chs"),
    )
    return per_txn.select(
        F.format_string(
            '{"xid": %s, "timestamp": "%s", "change": [%s]}',
            F.col("txn").cast("string"),
            F.date_format("txn_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            F.concat_ws(",", F.expr("transform(chs, x -> x.ch)")),
        ).alias("line")
    )


def wal2json_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38: events → genuine wal2json v1 transaction lines →
    parse_wal2json → typed row-level CDC events.

    The oracle states the expected round trip directly from the source
    columns, so any adapter defect (txn explode order, mixed-type
    coercion, oldkeys-only deletes, commit-ts precision) breaks the
    hash match. Reference parity: TODO #1 (README.md:155) — the
    wal2json feed lands in the same typed frame as the Maxwell feed.
    """
    from ..sources import wal2json as w2j

    lines = _synth_feed(
        "wal2json_parse_events", _wal2json_lines(spark, sf_dir), sf_dir
    )
    parsed = w2j.parse_wal2json(lines)
    return (
        parsed.select(
            "xid",
            "change_idx",
            "ts",
            "database_name",
            "table_name",
            "op",
            F.col("data")["user_id"].cast("bigint").alias("user_id"),
            F.col("data")["value"].cast("double").alias("value"),
            F.col("data")["event_type"].alias("event_type"),
            F.col("old")["user_id"].cast("bigint").alias("old_user_id"),
        )
        .orderBy("xid", "change_idx")
    )


WAL2JSON_PARSE_SQL = f"""
WITH base AS (
  SELECT event_id, event_id // {_W2J_TXN} AS xid, ts, user_id, value,
         event_type,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op
  FROM events
),
txn AS (SELECT xid, MIN(ts) AS txn_ts FROM base GROUP BY xid)
SELECT b.xid,
       CAST(ROW_NUMBER() OVER (PARTITION BY b.xid ORDER BY b.event_id) - 1
            AS INT) AS change_idx,
       t.txn_ts AS ts,
       'appdb' AS database_name,
       'events' AS table_name,
       b.op,
       CASE WHEN b.op <> 'delete' THEN b.user_id END AS user_id,
       CASE WHEN b.op <> 'delete' THEN b.value END AS value,
       CASE WHEN b.op <> 'delete' THEN b.event_type END AS event_type,
       CASE WHEN b.op = 'delete' THEN b.user_id END AS old_user_id
FROM base b JOIN txn t USING (xid)
ORDER BY xid, change_idx
"""


def wal2json_snapshot_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39: the wal2json feed replayed through the UNCHANGED downstream
    (snapshot_latest) — proving the adapter plugs into the Maxwell
    pipeline without touching it (the whole point of TODO #1).

    Replay order is wal2json's WAL order: (commit ts, xid, change_idx).
    On this feed ts is monotone in event_id, so the snapshot is
    bit-identical to the Maxwell feed's (A3) — the property the
    reference TODO asks for. pk comes from `data` for upserts and from
    `oldkeys` for deletes (coalesce), exercising both key paths.
    """
    from ..sources import wal2json as w2j

    lines = _synth_feed(
        "wal2json_snapshot_equivalence",
        _wal2json_lines(spark, sf_dir),
        sf_dir,
    )
    parsed = w2j.parse_wal2json(lines)
    feed = parsed.filter(F.col("op").isin(*maxwell.DML_OPS)).select(
        F.coalesce(F.col("data")["user_id"], F.col("old")["user_id"])
        .cast("bigint")
        .alias("pk"),
        "ts",
        "xid",
        "change_idx",
        "op",
        F.col("data")["value"].cast("double").alias("value"),
        F.col("data")["event_type"].alias("event_type"),
    )
    snap = cdc_ops.snapshot_latest(
        feed, key_cols=("pk",), order_cols=("ts", "xid", "change_idx")
    )
    return snap.select(
        "pk",
        F.col("ts").alias("last_ts"),
        F.col("xid").alias("last_xid"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
    ).orderBy("pk")


WAL2JSON_SNAPSHOT_SQL = f"""
WITH base AS (
  SELECT event_id, event_id // {_W2J_TXN} AS xid, ts, user_id AS pk, value,
         event_type,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op
  FROM events
),
txn AS (SELECT xid, MIN(ts) AS txn_ts FROM base GROUP BY xid),
chg AS (
  SELECT b.pk, b.op, b.value, b.event_type, b.xid, t.txn_ts,
         ROW_NUMBER() OVER (PARTITION BY b.xid ORDER BY b.event_id) - 1
           AS change_idx
  FROM base b JOIN txn t USING (xid)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY pk
           ORDER BY txn_ts DESC, xid DESC, change_idx DESC) AS rn
  FROM chg
)
SELECT pk, txn_ts AS last_ts, xid AS last_xid, value AS last_value,
       event_type AS last_event_type
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""


# --- round 5: replica retention maintenance (A42) ----------------------

_VAC_VERSIONS = 4
_VAC_KEEP = 2


def cdc_replica_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42: retention maintenance over the versioned replica store —
    the queries()-gated form of scripts/maintenance_gpdb.sh's VACUUM
    pass (previously pytest-only). Four micro-batch commits build four
    replica versions (each the latest-wins snapshot of a growing
    event-time prefix), vacuum(keep_last={_VAC_KEEP}) garbage-collects
    the old ones, and the audit reports every version's fate: retained
    versions re-read with their exact row counts (time travel still
    works), vacuumed versions report 0 (the read returns None — the
    pointer protocol guarantees readers can never see a half-removed
    version).

    Prefix boundaries are integer micro-epoch arithmetic from the
    driver-collected bounds — the identical expression the oracle
    states, so the per-version snapshot counts hash-match.
    """
    import shutil
    import tempfile

    from ..streaming.pipeline import ReplicaStore

    base = tempfile.mkdtemp(prefix="vac_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"
        )
        b = ev.agg(
            F.min(F.expr("unix_micros(ts)")).alias("lo"),
            F.max(F.expr("unix_micros(ts)")).alias("hi"),
        ).collect()[0]
        lo, hi = int(b["lo"]), int(b["hi"])
        step = (hi - lo) // _VAC_VERSIONS + 1
        store = ReplicaStore(spark, base)
        for v in range(1, _VAC_VERSIONS + 1):
            prefix = ev.filter(F.expr(f"unix_micros(ts) < {lo + v * step}"))
            snap = cdc_ops.snapshot_latest(
                prefix.select(
                    F.col("user_id").alias("pk"),
                    "ts",
                    F.col("event_id").alias("seq"),
                    F.when(
                        F.col("event_type") == "error", F.lit("delete")
                    )
                    .otherwise(F.lit("insert"))
                    .alias("op"),
                ),
                key_cols=("pk",),
                order_cols=("ts", "seq"),
            )
            store.commit(snap)
        store.vacuum(keep_last=_VAC_KEEP)
        rows = []
        current = store.current_version()
        for v in range(1, _VAC_VERSIONS + 1):
            replica = store.read(version=v)
            rows.append(
                (
                    v,
                    1 if replica is not None else 0,
                    1 if v == current else 0,
                    replica.count() if replica is not None else 0,
                )
            )
        return spark.createDataFrame(
            rows, "version int, retained int, is_current int, n_rows bigint"
        ).orderBy("version")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _vac_snap_count_sql(v: int) -> str:
    return f"""(
  SELECT COUNT(*) FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events, b
    WHERE epoch_us(ts) < b.lo + {v} * ((b.hi - b.lo) // {_VAC_VERSIONS} + 1)
  ) WHERE rn = 1 AND event_type <> 'error'
)"""


def _vac_sql() -> str:
    parts = []
    for v in range(1, _VAC_VERSIONS + 1):
        retained = 1 if v > _VAC_VERSIONS - _VAC_KEEP else 0
        current = 1 if v == _VAC_VERSIONS else 0
        n_expr = _vac_snap_count_sql(v) if retained else "0"
        parts.append(
            f"SELECT {v} AS version, {retained} AS retained,"
            f" {current} AS is_current, CAST({n_expr} AS BIGINT) AS n_rows"
        )
    body = " UNION ALL ".join(parts)
    return (
        "WITH b AS (SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi"
        " FROM events)\n" + body + "\nORDER BY version"
    )


CDC_REPLICA_VACUUM_SQL = _vac_sql()


def wal2json_v2_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43: events → genuine wal2json FORMAT-2 lines (one document per
    change, action-tagged, name/type/value column structs, B/C txn
    markers interleaved) → parse_wal2json_v2 → the same typed frame.

    Closes TODO #1 for BOTH wire formats the plugin ships. The feed
    interleaves a B(egin) and C(ommit) marker around every change so
    the parser's quarantine path (markers → NULL op) is exercised by
    the oracle too: the expected rows are exactly the I/D changes, and
    any marker leaking through as a data row breaks the row count.
    """
    from ..sources import wal2json as w2j

    ev = load_table(spark, sf_dir, "events")
    tsfmt = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    ins = F.format_string(
        '{"action": "I", "xid": %s, "timestamp": "%s", "schema": "public",'
        ' "table": "events", "columns": ['
        '{"name": "user_id", "type": "bigint", "value": %s},'
        ' {"name": "value", "type": "double precision", "value": %s},'
        ' {"name": "event_type", "type": "text", "value": "%s"}]}',
        F.col("event_id").cast("string"),
        tsfmt,
        F.col("user_id").cast("string"),
        F.col("value").cast("string"),
        F.col("event_type"),
    )
    dele = F.format_string(
        '{"action": "D", "xid": %s, "timestamp": "%s", "schema": "public",'
        ' "table": "events", "identity": ['
        '{"name": "user_id", "type": "bigint", "value": %s}]}',
        F.col("event_id").cast("string"),
        tsfmt,
        F.col("user_id").cast("string"),
    )
    # a second change on the SAME key inside the SAME transaction
    # (deterministic revision: value+1000, event_type 'revised') — only
    # line order can rank it against the I it follows, so the gated
    # row keeps the offset-derived change_idx under oracle pressure
    upd = F.format_string(
        '{"action": "U", "xid": %s, "timestamp": "%s", "schema": "public",'
        ' "table": "events", "columns": ['
        '{"name": "user_id", "type": "bigint", "value": %s},'
        ' {"name": "value", "type": "double precision", "value": %s},'
        ' {"name": "event_type", "type": "text", "value": "revised"}],'
        ' "identity": ['
        '{"name": "user_id", "type": "bigint", "value": %s}]}',
        F.col("event_id").cast("string"),
        tsfmt,
        F.col("user_id").cast("string"),
        (F.col("value") + 1000).cast("string"),
        F.col("user_id").cast("string"),
    )
    begin = F.format_string(
        '{"action": "B", "xid": %s, "timestamp": "%s"}',
        F.col("event_id").cast("string"),
        tsfmt,
    )
    commit = F.format_string(
        '{"action": "C", "xid": %s, "timestamp": "%s"}',
        F.col("event_id").cast("string"),
        tsfmt,
    )
    change = F.when(F.col("event_type") == "error", dele).otherwise(ins)
    # B/C markers on every 100th transaction: enough to keep the
    # quarantine path under oracle pressure without tripling the feed
    # (markers on EVERY event measured 6.0 s at sf0.1 vs 2.5 s).
    # Marked INSERT transactions additionally carry a second change on
    # the SAME key ([B, I, U, C]) so the gated row proves intra-txn
    # ordering end-to-end: only the offset-derived change_idx ranks the
    # U after its I (round 7, VERDICT r6 item 7 — the hash gate now
    # breaks if the v2 parser ever falls back to change_idx = 0).
    # posexplode (not explode): the position builds the per-line bus
    # offset (event_id*4 + pos, arrays are ≤4 long) the v2 parser
    # REQUIRES to order intra-transaction changes (ADVICE r5: a
    # change_idx pinned to 0 made multi-change same-key transactions
    # merge nondeterministically).
    lines = ev.select(
        F.col("event_id"),
        F.posexplode(
            F.when(
                (F.col("event_id") % 100 == 0)
                & (F.col("event_type") != "error"),
                F.array(begin, ins, upd, commit),
            )
            .when(
                F.col("event_id") % 100 == 0,
                F.array(begin, change, commit),
            )
            .otherwise(F.array(change))
        ).alias("pos", "line"),
    ).select(
        (F.col("event_id") * 4 + F.col("pos")).alias("_offset"), "line"
    )
    lines = _synth_feed(
        "wal2json_v2_parse_events", lines, sf_dir, fmt="parquet"
    )
    parsed = w2j.parse_wal2json_v2(lines, offset_col="_offset")
    return (
        parsed.filter(F.col("op").isNotNull())  # quarantine B/C markers
        .select(
            "xid",
            "change_idx",
            "ts",
            "database_name",
            "table_name",
            "op",
            F.col("data")["user_id"].cast("bigint").alias("user_id"),
            F.col("data")["value"].cast("double").alias("value"),
            F.col("data")["event_type"].alias("event_type"),
            F.col("old")["user_id"].cast("bigint").alias("old_user_id"),
        )
        .orderBy("xid", "change_idx")
    )


WAL2JSON_V2_PARSE_SQL = """
WITH base AS (
  SELECT event_id AS xid,
         event_id * 4
           + CASE WHEN event_id % 100 = 0 THEN 1 ELSE 0 END AS change_idx,
         ts,
         'appdb' AS database_name,
         'events' AS table_name,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
         CASE WHEN event_type <> 'error' THEN user_id END AS user_id,
         CASE WHEN event_type <> 'error' THEN value END AS value,
         CASE WHEN event_type <> 'error' THEN event_type END AS event_type,
         CASE WHEN event_type = 'error' THEN user_id END AS old_user_id
  FROM events
),
revisions AS (
  SELECT event_id AS xid,
         event_id * 4 + 2 AS change_idx,
         ts,
         'appdb' AS database_name,
         'events' AS table_name,
         'update' AS op,
         user_id,
         value + 1000 AS value,
         'revised' AS event_type,
         user_id AS old_user_id
  FROM events
  WHERE event_id % 100 = 0 AND event_type <> 'error'
)
SELECT * FROM base
UNION ALL
SELECT * FROM revisions
ORDER BY xid, change_idx
"""


def cdc_field_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44: FIELD-level last-writer-wins merge (the LWW-map CRDT) —
    the conflict-resolution mode row-level latest-wins (A3) cannot
    express: when different events update DIFFERENT fields of the same
    key, the merged row takes each field from the latest event that
    SET that field, not the latest event overall. The reference's
    process_events() is row-level (cdc_plpgsql_functions.sql:150-190);
    this is the multi-writer/partial-update generalization a
    Greenplum user hand-rolls with per-column CASE merges.

    Deterministic sparse setters on the insert feed: an event sets
    `value` when event_id % 2 == 0 and `etype` when event_id % 3 == 0
    (overlapping, so most keys take the two fields from DIFFERENT
    events). Presence is still row-level latest-wins over ALL events
    (a deleted key stays gone — field merge never resurrects, the
    CRDT tombstone rule). Plan: one conditional aggregation per field
    inside ONE groupBy(pk) — max_by over the field's setter subset —
    plus the row-level presence window; two shuffles total, both
    keyed by pk.
    """
    ev = load_table(spark, sf_dir, "events")
    feed = ev.select(
        F.col("user_id").alias("pk"),
        "ts",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("insert"))
        .alias("op"),
        "value",
        F.col("event_type").alias("etype"),
    )
    ins = feed.filter(F.col("op") == "insert")
    # max_by keyed by seq: ts is monotone non-decreasing in event_id on
    # this feed (verified corpus property, same assumption A39 states),
    # so seq IS the (ts, seq) total order — and a plain BIGINT key is
    # what DuckDB's max_by accepts (struct keys are Spark-only). NULL
    # key rows (non-setters) are skipped by max_by on both engines.
    merged = ins.groupBy("pk").agg(
        F.expr(
            "max_by(value, CASE WHEN seq % 2 = 0 THEN seq END)"
        ).alias("value_merged"),
        F.expr(
            "max_by(seq, CASE WHEN seq % 2 = 0 THEN seq END)"
        ).alias("value_set_by"),
        F.expr(
            "max_by(etype, CASE WHEN seq % 3 = 0 THEN seq END)"
        ).alias("etype_merged"),
        F.expr(
            "max_by(seq, CASE WHEN seq % 3 = 0 THEN seq END)"
        ).alias("etype_set_by"),
    )
    presence = cdc_ops.snapshot_latest(
        feed, key_cols=("pk",), order_cols=("ts", "seq")
    ).select("pk")
    return (
        presence.join(merged, "pk", "left")
        .select(
            "pk",
            "value_merged",
            "value_set_by",
            "etype_merged",
            "etype_set_by",
            (F.col("value_set_by") != F.col("etype_set_by"))
            .cast("int")
            .alias("fields_from_different_events"),
        )
        .orderBy("pk")
    )


CDC_FIELD_MERGE_SQL = """
WITH feed AS (
  SELECT user_id AS pk, ts, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
         value, event_type AS etype
  FROM events
),
merged AS (
  SELECT pk,
         max_by(value, CASE WHEN seq % 2 = 0 THEN seq END) AS value_merged,
         max_by(seq, CASE WHEN seq % 2 = 0 THEN seq END) AS value_set_by,
         max_by(etype, CASE WHEN seq % 3 = 0 THEN seq END) AS etype_merged,
         max_by(seq, CASE WHEN seq % 3 = 0 THEN seq END) AS etype_set_by
  FROM feed WHERE op = 'insert'
  GROUP BY pk
),
presence AS (
  SELECT pk FROM (
    SELECT pk, op,
           ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC)
             AS rn
    FROM feed
  ) WHERE rn = 1 AND op <> 'delete'
)
SELECT p.pk, m.value_merged, m.value_set_by, m.etype_merged, m.etype_set_by,
       CAST(m.value_set_by <> m.etype_set_by AS INT)
         AS fields_from_different_events
FROM presence p LEFT JOIN merged m ON p.pk = m.pk
ORDER BY p.pk
"""


_DDL_APPLY_DB = "cdc_ddl_apply_db"
_DDL_APPLY_MOD = 37  # every 37th event inserts an album row


def cdc_ddl_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45: the translated DDL EXECUTED live — process_events() doesn't
    just rewrite MySQL DDL, it runs the result (cdc_plpgsql_functions
    .sql:196-222 EXECUTEs the translated statement); A7 proved the
    rewrite, this proves the rewrite is runnable Spark SQL end-to-end:
    the Spring-Music album table's MySQL DDL (backticks, ENGINE=,
    LONGTEXT/DATETIME/TINYINT(1)) goes through translate_sql +
    add_schema_name, `spark.sql()` executes it, a deterministic replay
    feed INSERTs through the created table, and the read-back rows are
    the oracle's projection — any translation defect that produces
    invalid-but-plausible DDL (the failure mode a string-level check
    can't see) breaks this query loudly at CREATE time.

    The database name is uuid-suffixed per invocation and dropped
    CASCADE in the finally block (ADVICE r5: a fixed name raced
    concurrent runs against the same metastore — one run's insertInto
    could land in the other's table — and leaked the database).
    """
    import uuid

    from ..functions.ddl import add_schema_name, translate_sql
    from ..io import materialize

    db = f"{_DDL_APPLY_DB}_{uuid.uuid4().hex[:12]}"
    mysql_ddl = (
        "CREATE TABLE `album` (`id` BIGINT, `title` LONGTEXT,"
        " `release_year` INT, `price` DOUBLE, `created` DATETIME,"
        " `featured` TINYINT(1)) ENGINE=InnoDB"
    )
    spark_ddl = add_schema_name(db, translate_sql(mysql_ddl))
    spark.sql(f"CREATE DATABASE {db}")
    try:
        spark.sql(spark_ddl)  # the translated DDL must BE valid Spark SQL
        ev = load_table(spark, sf_dir, "events")
        feed = ev.filter(F.col("event_id") % _DDL_APPLY_MOD == 0).select(
            F.col("event_id").alias("id"),
            F.concat(F.lit("album_"), F.col("event_id")).alias("title"),
            (F.lit(2000) + F.col("user_id") % 25).cast("int").alias(
                "release_year"
            ),
            F.col("value").alias("price"),
            F.col("ts").alias("created"),
            (F.col("event_id") % 2 == 0).cast("smallint").alias("featured"),
        )
        feed.write.insertInto(f"{db}.album")
        out = spark.table(f"{db}.album").orderBy("id")
        return materialize(out, "ddl_apply_out_").orderBy("id")
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


CDC_DDL_APPLY_SQL = f"""
SELECT event_id AS id,
       'album_' || CAST(event_id AS VARCHAR) AS title,
       CAST(2000 + user_id % 25 AS INT) AS release_year,
       value AS price,
       ts AS created,
       CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS SMALLINT)
         AS featured
FROM events
WHERE event_id % {_DDL_APPLY_MOD} = 0
ORDER BY id
"""


_GC_HORIZON_DAYS = 7


def cdc_tombstone_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A46: tombstone garbage collection with a replay-horizon guard —
    the retention rule that keeps A15's keep-tombstones replica BOUNDED
    without re-opening the resurrection hole A30 closes. A tombstone
    may only be dropped once NO stale replay can still arrive for it,
    i.e. when it is older than the at-least-once redelivery horizon
    (here {_GC_HORIZON_DAYS} days behind the high watermark, derived
    from the data bounds in integer micros — the expression the oracle
    states verbatim). Live rows always survive; recent tombstones
    survive; only horizon-expired tombstones drop.

    Output: every surviving key with its op and whether it is a
    retained tombstone, plus the per-key expiry verdict — the exact
    state a bounded-retention replica holds. One latest-wins window +
    one map-side filter; GC cost is a scan, never a rewrite of live
    data. Reference parity: the practical completion of rabbitmq.go's
    ack-at-end redelivery + maxwell_ts watermark contract.
    """
    feed = _feed(spark, sf_dir)
    # high watermark: the feed's global max-ts row is necessarily its
    # own key's latest (nothing can supersede the global max under the
    # (ts, seq) order), and keep_tombstones retains deletes too — so
    # max(ts) over the SNAPSHOT equals max(ts) over the feed. The
    # snapshot is persisted so the watermark is a 1-row agg over the
    # cached relation (single feed scan), then broadcast back via
    # crossJoin — the B32/C34 scalar idiom. An unpartitioned
    # max().over(Window.partitionBy()) would give the same answer but
    # move EVERY live key to one task; at 100× scale that is a
    # single-partition shuffle of the whole replica (round-7 fix).
    snap = cdc_ops.snapshot_latest(
        feed, key_cols=("pk",), order_cols=("ts", "seq"), keep_tombstones=True
    ).persist()
    hi = snap.agg(F.max(F.expr("unix_micros(ts)")).alias("_hi"))
    return (
        snap.select(
            "pk",
            F.col("ts").alias("last_ts"),
            F.col("seq").alias("last_seq"),
            "op",
            (F.col("op") == "delete").cast("int").alias("is_tombstone"),
        )
        .crossJoin(F.broadcast(hi))
        .filter(
            (F.col("op") != "delete")
            | (
                F.expr("unix_micros(last_ts)")
                >= F.col("_hi") - _GC_HORIZON_DAYS * 86_400_000_000
            )
        )
        .drop("_hi")
        .orderBy("pk")
    )


CDC_TOMBSTONE_GC_SQL = f"""
WITH cdc AS ({{feed}}),
hi AS (SELECT MAX(epoch_us(ts)) AS hi FROM cdc),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC)
           AS rn
  FROM cdc
)
SELECT pk, ts AS last_ts, seq AS last_seq, op,
       CAST(op = 'delete' AS INT) AS is_tombstone
FROM ranked, hi
WHERE rn = 1
  AND (op <> 'delete'
       OR epoch_us(ts) >= hi.hi - {_GC_HORIZON_DAYS} * 86400000000)
ORDER BY pk
""".format(feed=maxwell.EVENTS_AS_CDC_SQL)


# --- round 6: broker-less Kafka log-segment replay (A47) ----------------

# full feed (round 7): the wire CRC32C is numpy-vectorized on both the
# producer and consumer side (kafka_wire.crc32c_many — slicing-by-8
# lanes + GF(2) combine tree), so the old 1/20 pure-Python sample bound
# is gone and every event rides the wire. _KSEG_MOD = 1 keeps the
# sampling MACHINERY (and its oracle twin) so a deployment CAN sample.
_KSEG_MOD = 1
_KSEG_BATCH = 512  # records per RecordBatch v2
_KSEG_SEGMENT = 4096  # records per segment blob


def kafka_segment_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A47 (round-6 bonus): Maxwell envelopes encoded into GENUINE Kafka
    RecordBatch-v2 wire bytes (sources/kafka_wire.py — CRC32C, zigzag
    varints, batch headers) grouped into on-disk-layout segments, then
    replayed WITHOUT a broker: segment blobs → wire decode
    (CRC-verified, per executor in mapInPandas) → the connector's
    record frame → the SAME ``_kafka_to_lines`` → ``parse_maxwell``
    path the production kafka source uses (bus.py:42-53).

    This closes the last testable inch of the kafka transport story in
    a broker-less sandbox: the record-shape double (bus.py) pins the
    FRAME contract, the golden-bytes tests pin the CODEC, and this
    entry proves the whole composition lands the typed CDC rows the
    oracle states — including the Kafka offset, carried through
    ``keep`` and required to equal the envelope xid by construction.

    Scale shape: encode and decode are both per-segment Arrow tasks
    (no shuffle until the final orderBy); segments are the unit of
    parallelism exactly as Kafka partitions are. Since round 7 the
    FULL feed rides the wire (_KSEG_MOD = 1): CRC32C on both sides is
    numpy-vectorized across each segment's batches
    (kafka_wire.crc32c_many), so the old 1/20 sample that bounded the
    pure-Python byte loop is no longer needed. A real deployment reads
    connector-decoded records (C CRC) and pays even less.
    """
    import pandas as pd

    from ..sources import bus
    from ..sources import kafka_wire as kw

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % _KSEG_MOD == 0
    )
    line = F.to_json(
        F.struct(
            F.lit("appdb").alias("database"),
            F.lit("events").alias("table"),
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("insert"))
            .alias("type"),
            F.expr("unix_micros(ts) div 1000").alias("ts"),
            F.col("event_id").alias("xid"),
            F.struct(
                F.col("user_id").alias("user_id"),
                F.col("value").alias("value"),
                F.col("event_type").alias("event_type"),
            ).alias("data"),
        )
    )
    feed = ev.select(
        F.col("event_id").alias("offset"),  # sparse offsets: compaction-legal
        F.expr("unix_micros(ts) div 1000").alias("ts_ms"),
        F.col("user_id").cast("string").alias("key"),
        line.alias("value"),
        F.expr(f"event_id div {_KSEG_MOD * _KSEG_SEGMENT}").alias(
            "segment_id"
        ),
    )

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("offset")
        specs = []
        for i in range(0, len(pdf), _KSEG_BATCH):
            chunk = pdf.iloc[i : i + _KSEG_BATCH]
            base_off = int(chunk["offset"].iloc[0])
            base_ts = int(chunk["ts_ms"].iloc[0])
            recs = [
                (
                    int(o) - base_off,
                    int(t) - base_ts,
                    str(k).encode(),
                    str(v).encode(),
                )
                for o, t, k, v in zip(
                    chunk["offset"],
                    chunk["ts_ms"],
                    chunk["key"],
                    chunk["value"],
                )
            ]
            specs.append((base_off, base_ts, recs))
        blobs = kw.encode_record_batches(specs)
        return pd.DataFrame(
            {
                "segment_id": [int(pdf["segment_id"].iloc[0])],
                "blob": [b"".join(blobs)],
            }
        )

    segments = feed.groupBy("segment_id").applyInPandas(
        _encode, schema="segment_id long, blob binary"
    )

    def _decode(batches):
        for pdf in batches:
            for blob in pdf["blob"]:
                rs = kw.decode_segment(bytes(blob))
                yield pd.DataFrame(
                    {
                        "offset": [r["offset"] for r in rs],
                        "key": [
                            r["key"].decode() if r["key"] else None
                            for r in rs
                        ],
                        "value": [
                            r["value"].decode() if r["value"] else None
                            for r in rs
                        ],
                    }
                )

    records = segments.mapInPandas(
        _decode, schema="offset long, key string, value string"
    )
    # the production record frame needs binary key/value — cast, then
    # run the UNCHANGED production projection + parse
    rec_frame = records.select(
        "offset", F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
    )
    parsed = maxwell.parse_maxwell(
        bus._kafka_to_lines(rec_frame, keep=("offset",)),
        keep=("offset",),
    )
    return (
        parsed.filter(F.col("op").isNotNull())
        .select(
            "offset",
            F.col("xid").alias("event_id"),
            "ts",
            "op",
            F.col("data")["user_id"].cast("bigint").alias("user_id"),
            F.col("data")["value"].cast("double").alias("value"),
            F.col("data")["event_type"].alias("event_type"),
        )
        .orderBy("offset")
    )


KAFKA_SEGMENT_REPLAY_SQL = f"""
SELECT event_id AS "offset",
       event_id,
       make_timestamp((epoch_us(ts) // 1000) * 1000) AS ts,
       CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
       user_id,
       value,
       event_type
FROM events
WHERE event_id % {_KSEG_MOD} = 0
ORDER BY "offset"
"""


# --- B100 (round-8 addition): bitemporal belief audit -------------------

_BT_NUM, _BT_DEN = 6, 10  # valid-time cut V at 60% of the event span


def bitemporal_belief_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B100 (round-8 addition): the bitemporal audit trail — for a
    fixed VALID-time cut V, replay arrivals in TRANSACTION-time order
    (event_id — the arrival sequence every bus transport preserves)
    and emit each point where the answer to "what is this key's state
    at valid time V?" CHANGED. Row k is the belief the system served
    between its arrival and the next correction — exactly what a
    bitemporal warehouse must reconstruct for "as known at T" audits
    (late/out-of-order data rewrites history; this op measures where
    and how often). The latest-wins replica (A10) keeps only the final
    row; SCD2 (A17) keeps valid-time history but not what was BELIEVED
    when — this is the missing transaction-time axis.

    Semantics, integer-exact: V = min_ts + (span * {n}) // {d} in
    micros (a data-derived scalar, broadcast back — the B32/C34
    idiom). The TRANSACTION axis is a deterministic hash permutation
    of event_id (md5-derived, the engines' shared hex idiom): the sf
    feed arrives valid-time-ordered, where the audit is vacuous, so
    the op replays the heavily out-of-order arrival schedule a real
    multi-partition bus produces — same rows, permuted arrival. Among
    events with ts_us <= V per key in that arrival order, a row is a
    belief change iff ts_us >= the running max over prior arrivals
    (equal valid time: the later ARRIVAL wins — the CDC latest-wins
    tie rule): the PREFIX MAXIMA of the (valid, txn) lattice via one
    RUNNING frame (unboundedPreceding, -1 — never the banned growing
    frame), a filter, and a row_number for the belief index. Expected
    changes per key ~ H(n): the audit output stays logarithmically
    small even under total reordering.
    """.format(n=_BT_NUM, d=_BT_DEN)
    from pyspark.sql import Window

    from ..io import load_table, materialize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
        F.expr(
            "cast(conv(substring(md5(cast(event_id as string)), 1, 8),"
            " 16, 10) as bigint)"
        ).alias("arr_key"),
    )
    ev = materialize(ev, "bitemporal_ev_")
    # integer floor division on both sides: double division + cast
    # diverges between engines (Spark truncates, DuckDB rounds)
    cut = ev.agg(
        F.expr(
            f"min(ts_us) + (max(ts_us) - min(ts_us)) * {_BT_NUM}"
            f" div {_BT_DEN}"
        ).alias("v_us")
    )
    known = ev.crossJoin(F.broadcast(cut)).filter(F.col("ts_us") <= F.col("v_us"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("arr_key", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    changes = known.withColumn(
        "prev_max", F.max("ts_us").over(w_prev)
    ).filter(F.col("prev_max").isNull() | (F.col("ts_us") >= F.col("prev_max")))
    w_idx = Window.partitionBy("user_id").orderBy("arr_key", "event_id")
    return (
        changes.withColumn("belief_idx", F.row_number().over(w_idx))
        .select(
            "user_id",
            "belief_idx",
            "event_id",
            F.timestamp_micros(F.col("ts_us")).alias("valid_ts"),
            "value_cents",
        )
        .orderBy("user_id", "belief_idx")
    )


BITEMPORAL_BELIEF_AUDIT_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * 100) AS BIGINT) AS value_cents,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS arr_key
  FROM events
),
cut AS (
  SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) * {_BT_NUM} // {_BT_DEN}
           AS v_us
  FROM ev
),
known AS (
  SELECT ev.* FROM ev, cut WHERE ev.ts_us <= cut.v_us
),
flagged AS (
  SELECT user_id, event_id, ts_us, value_cents, arr_key,
         MAX(ts_us) OVER (PARTITION BY user_id
                          ORDER BY arr_key, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_max
  FROM known
),
changes AS (
  SELECT user_id, event_id, ts_us, value_cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY arr_key, event_id) AS belief_idx
  FROM flagged
  WHERE prev_max IS NULL OR ts_us >= prev_max
)
SELECT user_id, CAST(belief_idx AS INT) AS belief_idx, event_id,
       make_timestamp(ts_us) AS valid_ts, value_cents
FROM changes
ORDER BY user_id, belief_idx
"""


_CONFLICT_W_US = 3_600_000_000  # multi-writer conflict window (1 hour)


def cdc_write_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B111 (round-8 addition): multi-writer conflict detection — the
    audit a dual-master / split-ingest deployment runs before trusting
    last-write-wins (the A31 cutover scenario, one step earlier: A31
    asks whether two paths' SNAPSHOTS agree; this asks WHERE the two
    writers actually raced). A conflict pair = one 'a'-source write
    and one 'b'-source write to the SAME pk within {w} s of each
    other (sources are the A31 seq-parity convention). Per conflicted
    pk: the pair count, both writers' write counts, the last conflict
    instant, and the write that WINS that final race under the
    engine's (ts, seq) total order — the row an operator inspects
    before declaring LWW safe.

    Plan: the banded time join (the B23 interval idiom — never a
    per-pk cross product): writes bucket by ts div W, the 'b' side
    fans out to its 3 adjacent buckets map-side, the join key is
    (pk, bucket), and |delta| <= W verifies — bucket width = W makes
    adjacency sufficient AND each qualifying pair match exactly once
    (a's bucket hits exactly one of b's three). Winner per pk by a
    ROW_NUMBER over (w_ts, w_seq) DESC — seq is globally unique, so
    the order is total in both engines.
    """.format(w=_CONFLICT_W_US // 1_000_000)
    feed = _feed(spark, sf_dir).select(
        "pk",
        F.unix_micros("ts").alias("t"),
        "seq",
        F.when(F.col("seq") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    w = _CONFLICT_W_US
    a = feed.filter(F.col("source") == "a").select(
        "pk", F.col("t").alias("ta"), F.col("seq").alias("seqa"),
        F.expr(f"t div {w}").alias("bkt"),
    )
    b = (
        feed.filter(F.col("source") == "b")
        .select(
            "pk", F.col("t").alias("tb"), F.col("seq").alias("seqb"),
            F.explode(
                F.expr(f"array(t div {w} - 1, t div {w}, t div {w} + 1)")
            ).alias("bkt"),
        )
    )
    pairs = (
        a.join(b, ["pk", "bkt"])
        .filter(F.abs(F.col("ta") - F.col("tb")) <= w)
        .select(
            "pk", "ta", "seqa", "tb", "seqb",
            F.expr(
                "CASE WHEN ta > tb OR (ta = tb AND seqa > seqb)"
                " THEN struct(ta AS w_ts, seqa AS w_seq, 'a' AS w_src)"
                " ELSE struct(tb AS w_ts, seqb AS w_seq, 'b' AS w_src) END"
            ).alias("win"),
        )
    )
    wr = Window.partitionBy("pk").orderBy(
        F.desc("win.w_ts"), F.desc("win.w_seq")
    )
    ranked = pairs.withColumn("rn", F.row_number().over(wr))
    agg = pairs.groupBy("pk").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("seqa").alias("n_a_writes"),
        F.countDistinct("seqb").alias("n_b_writes"),
        F.max(F.greatest("ta", "tb")).alias("last_conflict_us"),
    )
    winners = ranked.filter(F.col("rn") == 1).select(
        "pk",
        F.col("win.w_src").alias("winner_source"),
        F.col("win.w_seq").alias("winner_seq"),
    )
    return (
        agg.join(winners, "pk")
        .select(
            "pk", "n_pairs", "n_a_writes", "n_b_writes",
            "last_conflict_us", "winner_source", "winner_seq",
        )
        .orderBy("pk")
    )


CDC_WRITE_CONFLICTS_SQL = f"""
WITH cdc AS ({{feed}}),
writes AS (
  SELECT pk, epoch_us(ts) AS t, seq,
         CASE WHEN seq % 2 = 0 THEN 'a' ELSE 'b' END AS source
  FROM cdc
),
a AS (
  SELECT pk, t AS ta, seq AS seqa, t // {_CONFLICT_W_US} AS bkt
  FROM writes WHERE source = 'a'
),
b AS (
  SELECT pk, t AS tb, seq AS seqb,
         unnest([t // {_CONFLICT_W_US} - 1, t // {_CONFLICT_W_US},
                 t // {_CONFLICT_W_US} + 1]) AS bkt
  FROM writes WHERE source = 'b'
),
pairs AS (
  SELECT a.pk, a.ta, a.seqa, b.tb, b.seqb,
         CASE WHEN a.ta > b.tb OR (a.ta = b.tb AND a.seqa > b.seqb)
              THEN a.ta ELSE b.tb END AS w_ts,
         CASE WHEN a.ta > b.tb OR (a.ta = b.tb AND a.seqa > b.seqb)
              THEN a.seqa ELSE b.seqb END AS w_seq,
         CASE WHEN a.ta > b.tb OR (a.ta = b.tb AND a.seqa > b.seqb)
              THEN 'a' ELSE 'b' END AS w_src
  FROM a JOIN b ON a.pk = b.pk AND a.bkt = b.bkt
  WHERE ABS(a.ta - b.tb) <= {_CONFLICT_W_US}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk
                               ORDER BY w_ts DESC, w_seq DESC) AS rn
  FROM pairs
),
agg AS (
  SELECT pk, COUNT(*) AS n_pairs,
         COUNT(DISTINCT seqa) AS n_a_writes,
         COUNT(DISTINCT seqb) AS n_b_writes,
         MAX(GREATEST(ta, tb)) AS last_conflict_us
  FROM pairs GROUP BY pk
)
SELECT g.pk,
       CAST(g.n_pairs AS BIGINT) AS n_pairs,
       CAST(g.n_a_writes AS BIGINT) AS n_a_writes,
       CAST(g.n_b_writes AS BIGINT) AS n_b_writes,
       CAST(g.last_conflict_us AS BIGINT) AS last_conflict_us,
       r.w_src AS winner_source,
       CAST(r.w_seq AS BIGINT) AS winner_seq
FROM agg g JOIN ranked r ON r.pk = g.pk AND r.rn = 1
ORDER BY g.pk
"""
CDC_WRITE_CONFLICTS_SQL = CDC_WRITE_CONFLICTS_SQL.format(
    feed=maxwell.EVENTS_AS_CDC_SQL.strip()
)


_OOO_JITTER_MOD = 101  # bounded bus-reorder window (arrival skew model)


def cdc_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A49 (round-8 addition): commit-order vs arrival-order audit —
    the CDC health metric that decides watermark margins and
    stale-replay guards (A22's guard assumes a bound; this MEASURES
    it): how many events arrive AFTER an event with a later commit
    timestamp has already arrived, and by how much. The synthetic feed
    arrives commit-ordered (seq follows ts), where the audit is
    vacuous, so arrival is the B100 discipline: a deterministic keyed
    md5 jitter bounded by {j} positions models the multi-partition
    bus's bounded reorder window — arrival order = (seq + jitter,
    seq), a stated total order both engines construct identically.

    An event is LATE iff its commit ts is below the running maximum of
    commit ts over STRICTLY PRIOR arrivals. The running max is
    DISTRIBUTED, not a global window (the A26 construction):
    approxQuantile boundaries on the arrival key become literal range
    buckets (monotone placement suffices), per-bucket maxima collect to
    a |buckets|-row prefix-max table stitched on the driver, and each
    bucket runs its own parallel exclusive running-max window plus its
    prefix — bit-identical to the single-partition window at any data
    size. Emits ONE summary row: events, late events and bp, the max
    lateness (worst inversion, micros), the exact lateness sum
    (DECIMAL(38,0) — volume-proportional, so int64 is NOT enough when
    the bounded-reorder premise breaks; see the inline note), and
    the floor-div mean among late events.
    """.format(j=_OOO_JITTER_MOD)
    from pyspark.sql import Window

    feed = _feed(spark, sf_dir).select(
        "seq",
        F.unix_micros("ts").alias("us"),
        (
            F.col("seq")
            + F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit("ooo-v1"),
                                      F.col("seq").cast("string"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
            % _OOO_JITTER_MOD
        ).alias("arr"),
    )
    spark_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2)
    probs = [i / spark_parts for i in range(1, spark_parts)]
    bounds = sorted(
        set(feed.stat.approxQuantile("arr", probs, 1.0 / (4 * spark_parts)))
    )
    if bounds:
        arms = " ".join(
            f"WHEN arr <= {int(b)} THEN {i}" for i, b in enumerate(bounds)
        )
        pid = F.expr(f"CASE {arms} ELSE {len(bounds)} END")
    else:
        pid = F.lit(0)
    part = feed.withColumn("_pid", pid)
    # per-bucket max -> exclusive prefix maxima (driver-side, |buckets| rows)
    rows = (
        part.groupBy("_pid").agg(F.max("us").alias("mx")).collect()
    )
    prefix, acc = [], None
    for r in sorted(rows, key=lambda r: r["_pid"]):
        prefix.extend(
            [F.lit(r["_pid"]),
             F.lit(-(2**62)) if acc is None else F.lit(acc)]
        )
        acc = r["mx"] if acc is None else max(acc, r["mx"])
    pmax = F.create_map(*prefix)[F.col("_pid")]
    w = (
        Window.partitionBy("_pid")
        .orderBy("arr", "seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lated = part.select(
        "us",
        F.greatest(
            F.coalesce(F.max("us").over(w), F.lit(-(2**62))), pmax
        ).alias("prev_max"),
    ).select(
        "us",
        F.when(
            (F.col("prev_max") > -(2**61)) & (F.col("us") < F.col("prev_max")),
            F.col("prev_max") - F.col("us"),
        ).alias("lateness"),
    )
    # sum_lateness_us is summed at DECIMAL(38,0) exactness, not BIGINT
    # (round-10 fix): a feed whose disorder violates the
    # bounded-reorder premise (the 100x probe corpus interleaves 100
    # full-range copies; a real bootstrap replay can do the same)
    # pushes SUM(micros) past int64 — Spark's ANSI sum threw where
    # DuckDB silently summed in HUGEINT and then failed the BIGINT
    # cast. The DECLARED column is the decimal's digit string (round-11
    # fix): a decimal wider than 18 digits survives neither engine's
    # pandas conversion with a common dtype (DuckDB renders wide
    # decimals as float64/object, Spark as Decimal objects), so the
    # driver's pandas-based hash failed on representation while the
    # VALUES matched (VERDICT r10 item 1). Plain digits render
    # identically everywhere and keep the full 38-digit exactness.
    # max/mean stay BIGINT: each is bounded by the feed's time SPAN,
    # not its volume.
    return lated.agg(
        F.count("*").alias("n_events"),
        F.count("lateness").alias("late_events"),
        F.expr("count(lateness) * 10000 div count(*)").alias("late_bp"),
        F.max("lateness").alias("max_lateness_us"),
        F.coalesce(
            F.sum(F.col("lateness").cast("decimal(28,0)")),
            F.lit(0),
        ).cast("decimal(38,0)").cast("string").alias("sum_lateness_us"),
        F.expr(
            "CASE WHEN count(lateness) > 0 THEN "
            "CAST(sum(CAST(lateness AS DECIMAL(28,0))) div "
            "count(lateness) AS BIGINT) ELSE NULL END"
        ).alias("mean_lateness_us"),
    )


CDC_OUT_OF_ORDER_SQL = f"""
WITH feed AS ({{feed}}),
arrs AS (
  SELECT seq, epoch_us(ts) AS us,
         seq + CAST(('0x' || substr(md5('ooo-v1' || '|' ||
                     CAST(seq AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_OOO_JITTER_MOD} AS arr
  FROM feed
),
lated AS (
  SELECT us,
         MAX(us) OVER (ORDER BY arr, seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM arrs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(CASE WHEN us < prev_max THEN 1 END) AS BIGINT)
         AS late_events,
       CAST(COUNT(CASE WHEN us < prev_max THEN 1 END) * 10000 // COUNT(*)
            AS BIGINT) AS late_bp,
       CAST(MAX(CASE WHEN us < prev_max THEN prev_max - us END) AS BIGINT)
         AS max_lateness_us,
       CAST(CAST(COALESCE(SUM(CASE WHEN us < prev_max THEN prev_max - us END),
                          0) AS DECIMAL(38,0)) AS VARCHAR) AS sum_lateness_us,
       CAST(CASE WHEN COUNT(CASE WHEN us < prev_max THEN 1 END) > 0
            THEN SUM(CASE WHEN us < prev_max THEN prev_max - us END)
                 // COUNT(CASE WHEN us < prev_max THEN 1 END)
            ELSE NULL END AS BIGINT) AS mean_lateness_us
FROM lated
""".format(feed="__FEED__").replace("__FEED__", "SELECT user_id AS pk, ts, event_id AS seq, CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op, value, event_type FROM events")


# --- round 8: Debezium envelope source (A50/A51) -----------------------

_DBZ_TXN = 25  # events per synthesized transaction


def _debezium_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize `events` into genuine Debezium change-event envelopes
    (sources/debezium.py header): op letters c/u/d/r, deletes carrying
    the row image in `before` with `after` null, updates carrying BOTH
    images (the synthesized before-image is value - 1.0 — arbitrary but
    deterministic, so the oracle states it too), commit metadata in the
    nested `source` struct (lsn = event_id, the WAL total order; txId =
    event_id div 25; ts_ms = the commit clock at Debezium's ms
    precision). Numbers render unquoted via format_string (NOT to_json,
    which would stringify them). Every branch of the envelope grammar
    is exercised: error -> d, click -> u, event_id % 7 == 3 -> r (the
    initial-snapshot read op), else c.

    Map-side projection only — the feed synthesizer adds no shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    img = F.format_string(
        '{"user_id": %s, "value": %s, "event_type": "%s"}',
        F.col("user_id").cast("string"),
        F.col("value").cast("string"),
        F.col("event_type"),
    )
    before_img = F.format_string(
        '{"user_id": %s, "value": %s, "event_type": "%s"}',
        F.col("user_id").cast("string"),
        (F.col("value") - F.lit(1.0)).cast("string"),
        F.col("event_type"),
    )
    op_code = (
        F.when(F.col("event_type") == "error", F.lit("d"))
        .when(F.col("event_type") == "click", F.lit("u"))
        .when(F.col("event_id") % 7 == 3, F.lit("r"))
        .otherwise(F.lit("c"))
    )
    before = (
        F.when(op_code == "d", img)
        .when(op_code == "u", before_img)
        .otherwise(F.lit("null"))
    )
    after = F.when(op_code == "d", F.lit("null")).otherwise(img)
    ts_ms = F.expr("unix_micros(ts) div 1000")
    return ev.select(
        F.format_string(
            '{"before": %s, "after": %s,'
            ' "source": {"version": "2.5.0.Final",'
            ' "connector": "postgresql", "name": "app", "ts_ms": %s,'
            ' "db": "appdb", "schema": "public", "table": "events",'
            ' "lsn": %s, "txId": %s}, "op": "%s", "ts_ms": %s}',
            before,
            after,
            ts_ms.cast("string"),
            F.col("event_id").cast("string"),
            F.expr(f"event_id div {_DBZ_TXN}").cast("string"),
            op_code,
            ts_ms.cast("string"),
        ).alias("line")
    )


def debezium_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A50 (round-8 addition): events → genuine Debezium change-event
    envelopes → parse_debezium → typed row-level CDC events.

    The third wire format the pipeline ingests (Maxwell A1, wal2json
    v1/v2 A38/A43) and the de-facto public CDC standard; the adapter
    proves the plug-the-parser contract a third time: same typed
    frame, zero downstream changes. The oracle states the expected
    round trip directly from the source columns, so any parser defect
    (op-letter mapping, before/after image routing, ms commit clock,
    lsn/txId extraction) breaks the hash match.
    """
    from ..sources import debezium as dbz

    lines = _synth_feed(
        "debezium_parse_events", _debezium_lines(spark, sf_dir), sf_dir
    )
    parsed = dbz.parse_debezium(lines)
    return parsed.select(
        "lsn",
        "xid",
        "ts",
        "database_name",
        "table_name",
        "op_code",
        "op",
        F.col("data")["user_id"].cast("bigint").alias("user_id"),
        F.col("data")["value"].cast("double").alias("value"),
        F.col("data")["event_type"].alias("event_type"),
        F.col("old")["value"].cast("double").alias("old_value"),
    ).orderBy("lsn")


DEBEZIUM_PARSE_SQL = f"""
WITH base AS (
  SELECT event_id AS lsn, event_id // {_DBZ_TXN} AS xid,
         make_timestamp((epoch_us(ts) // 1000) * 1000) AS ts,
         user_id, value, event_type,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type = 'click' THEN 'u'
              WHEN event_id % 7 = 3 THEN 'r'
              ELSE 'c' END AS op_code
  FROM events
)
SELECT lsn, xid, ts,
       'appdb' AS database_name,
       'events' AS table_name,
       op_code,
       CASE op_code WHEN 'c' THEN 'insert' WHEN 'r' THEN 'insert'
                    WHEN 'u' THEN 'update' ELSE 'delete' END AS op,
       user_id,
       value,
       event_type,
       CASE WHEN op_code = 'u' THEN value - 1.0 END AS old_value
FROM base
ORDER BY lsn
"""


def debezium_snapshot_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A51 (round-8 addition): the Debezium feed replayed through the
    UNCHANGED downstream (snapshot_latest) — the same zero-touch
    equivalence proof as wal2json's A39, over the third wire format:
    replay order is the WAL total order (ts, lsn), deletes tombstone
    (their row image arrives in `before` and lands in `data` — the
    parser's routing keeps the key visible to the merge), and the
    surviving state per user is bit-identical to the Maxwell feed's
    latest-wins snapshot.
    """
    from ..sources import debezium as dbz

    lines = _synth_feed(
        "debezium_snapshot_equivalence", _debezium_lines(spark, sf_dir), sf_dir
    )
    parsed = dbz.parse_debezium(lines)
    feed = parsed.filter(F.col("op").isin(*maxwell.DML_OPS)).select(
        F.col("data")["user_id"].cast("bigint").alias("pk"),
        "ts",
        "lsn",
        "op",
        F.col("data")["value"].cast("double").alias("value"),
        F.col("data")["event_type"].alias("event_type"),
    )
    snap = cdc_ops.snapshot_latest(
        feed, key_cols=("pk",), order_cols=("ts", "lsn")
    )
    return snap.select(
        "pk",
        F.col("ts").alias("last_ts"),
        F.col("lsn").alias("last_lsn"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
    ).orderBy("pk")


DEBEZIUM_SNAPSHOT_SQL = """
WITH base AS (
  SELECT event_id AS lsn,
         make_timestamp((epoch_us(ts) // 1000) * 1000) AS ts,
         user_id AS pk, value, event_type,
         CASE WHEN event_type = 'error' THEN 'delete'
              WHEN event_type = 'click' THEN 'update'
              ELSE 'insert' END AS op
  FROM events
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY pk ORDER BY ts DESC, lsn DESC) AS rn
  FROM base
)
SELECT pk, ts AS last_ts, lsn AS last_lsn, value AS last_value,
       event_type AS last_event_type
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""


# --- round 8: allowed-lateness sizing audit (B132) ---------------------

_LATE_WINDOW_US = 3_600_000_000  # 1-hour tumbling windows
_LATE_ALLOWED_S = (0, 60, 600, 3600)  # candidate allowed-lateness knobs


def late_data_impact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B132 (round-8 addition): allowed-lateness sizing audit — A49
    measures HOW disordered the bus is; this turns that measurement
    into the decision every streaming job actually makes: at
    watermark delay W, which events would a 1-hour tumbling windowed
    aggregation DROP (arrive after the event-time watermark passed
    their window's end + W), and how many window results are touched.
    Emits one row per candidate W in {w}: events dropped, share in
    bp, distinct windows affected, and the worst overshoot — read it
    top-down and pick the smallest W with acceptable loss.

    Semantics (the engine rule, stated): the watermark at an event's
    arrival is the max event time over STRICTLY PRIOR arrivals
    (Spark's per-batch watermark is a coarsening of this per-event
    form — the per-event form upper-bounds the drop set of any
    batching). Arrival order is A49's deterministic keyed-md5 jitter
    (seed late-v1), a stated total order. The running max is the A26
    DISTRIBUTED construction: approxQuantile range buckets, a
    |buckets|-row driver-stitched prefix-max table, parallel
    within-bucket exclusive windows — never a single-partition global
    window. The 4-knob fan-out is a broadcast of a CONSTANT 4-row
    spine (whitelisted BNLJ class); one |knobs|-row rollup ends the
    plan. All arithmetic integer micros.
    """.format(w=_LATE_ALLOWED_S)
    from pyspark.sql import Window

    feed = _feed(spark, sf_dir).select(
        "seq",
        F.unix_micros("ts").alias("us"),
        (
            F.col("seq")
            + F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit("late-v1"),
                                      F.col("seq").cast("string"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
            % _OOO_JITTER_MOD
        ).alias("arr"),
    )
    spark_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2)
    probs = [i / spark_parts for i in range(1, spark_parts)]
    bounds = sorted(
        set(feed.stat.approxQuantile("arr", probs, 1.0 / (4 * spark_parts)))
    )
    if bounds:
        arms = " ".join(
            f"WHEN arr <= {int(b)} THEN {i}" for i, b in enumerate(bounds)
        )
        pid = F.expr(f"CASE {arms} ELSE {len(bounds)} END")
    else:
        pid = F.lit(0)
    part = feed.withColumn("_pid", pid)
    rows = part.groupBy("_pid").agg(F.max("us").alias("mx")).collect()
    prefix, acc = [], None
    for r in sorted(rows, key=lambda r: r["_pid"]):
        prefix.extend(
            [F.lit(r["_pid"]),
             F.lit(-(2**62)) if acc is None else F.lit(acc)]
        )
        acc = r["mx"] if acc is None else max(acc, r["mx"])
    pmax = F.create_map(*prefix)[F.col("_pid")]
    w = (
        Window.partitionBy("_pid")
        .orderBy("arr", "seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = part.select(
        "us",
        F.expr(
            f"(us div {_LATE_WINDOW_US} + 1) * {_LATE_WINDOW_US}"
        ).alias("we"),
        F.greatest(
            F.coalesce(F.max("us").over(w), F.lit(-(2**62))), pmax
        ).alias("wm"),
    )
    knobs = spark.createDataFrame(
        [(s,) for s in _LATE_ALLOWED_S], "allowed_lateness_s long"
    )
    fanned = marked.crossJoin(F.broadcast(knobs)).withColumn(
        "dropped",
        (F.col("wm") > F.col("we") + F.col("allowed_lateness_s") * 1_000_000)
        .cast("long"),
    )
    return (
        fanned.groupBy("allowed_lateness_s")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("dropped").alias("n_dropped"),
            F.expr("sum(dropped) * 10000 div count(*)").alias("dropped_bp"),
            F.countDistinct(
                F.when(F.col("dropped") == 1, F.col("we"))
            ).alias("n_windows_affected"),
            F.max(
                F.when(
                    F.col("dropped") == 1,
                    F.col("wm") - F.col("we")
                    - F.col("allowed_lateness_s") * 1_000_000,
                )
            ).alias("worst_overshoot_us"),
        )
        .orderBy("allowed_lateness_s")
    )


LATE_DATA_IMPACT_SQL = f"""
WITH arrs AS (
  SELECT event_id AS seq, epoch_us(ts) AS us,
         event_id + CAST(('0x' || substr(md5('late-v1' || '|' ||
                     CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_OOO_JITTER_MOD} AS arr
  FROM events
),
marked AS (
  SELECT us,
         (us // {_LATE_WINDOW_US} + 1) * {_LATE_WINDOW_US} AS we,
         COALESCE(MAX(us) OVER (ORDER BY arr, seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -4611686018427387904) AS wm
  FROM arrs
),
knobs AS (SELECT CAST(unnest(ARRAY{list(_LATE_ALLOWED_S)}) AS BIGINT)
            AS allowed_lateness_s),
fanned AS (
  SELECT k.allowed_lateness_s, m.us, m.we, m.wm,
         CASE WHEN m.wm > m.we + k.allowed_lateness_s * 1000000
              THEN 1 ELSE 0 END AS dropped
  FROM marked m CROSS JOIN knobs k
)
SELECT CAST(allowed_lateness_s AS BIGINT) AS allowed_lateness_s,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       CAST(SUM(dropped) * 10000 // COUNT(*) AS BIGINT) AS dropped_bp,
       CAST(COUNT(DISTINCT CASE WHEN dropped = 1 THEN we END) AS BIGINT)
         AS n_windows_affected,
       CAST(MAX(CASE WHEN dropped = 1
                THEN wm - we - allowed_lateness_s * 1000000 END) AS BIGINT)
         AS worst_overshoot_us
FROM fanned
GROUP BY allowed_lateness_s
ORDER BY allowed_lateness_s
"""


# --- round 8: DBLog-style chunked incremental snapshot (A52) -----------

_CHUNK_KEYS = 10  # pk-range width of one snapshot chunk


def cdc_snapshot_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A52 (round-8 addition): chunked incremental snapshot — the
    DBLog algorithm (Andreadakis et al., Netflix 2019; Debezium's
    incremental snapshot): bootstrapping a replica WITHOUT stopping
    the WAL stream by reading the table in key-range chunks
    interleaved with the stream, each chunk select bracketed by
    watermarks so later WAL events SUPERSEDE the (possibly stale)
    chunk image. The reference bootstraps with a blocking
    full-table load (Maxwell's bootstrap-* ops); this is the
    zero-downtime upgrade every production CDC deployment runs.

    Simulation (stated, both engines): chunk k covers pk range
    [k*{ck}, (k+1)*{ck}); its select runs at WAL position s_k =
    (k+1) * max_seq div (n_chunks) — the bootstrap PACED across the
    whole stream, finishing with it — so the image of key pk is the latest-wins state over
    events with seq <= s_k (what the DB held when the select ran —
    including absent-if-deleted), and every event with seq > s_k
    replays on top. Emits the converged replica with PROVENANCE: per
    live key the chunk, its watermark s_k, whether the surviving row
    came from the chunk image or the WAL tail, and the tail-event
    count — the columns an operator dashboards during a real
    bootstrap. The DBLog consistency theorem (image-then-tail ==
    latest-wins over everything) is pinned by the pytest; the oracle
    states the chunked construction itself.

    Plan: chunk/watermark assignment is a map-side expression; the
    image pass and the tail replay share ONE pk-partitioned shuffle
    (two window ranks over the same exchange); output |keys| rows.
    """.format(ck=_CHUNK_KEYS)
    marked = _feed(spark, sf_dir).withColumn(
        "chunk", F.expr(f"pk div {_CHUNK_KEYS}")
    )
    # chunk selects are PACED across the WAL: chunk k's select runs at
    # s_k = (k+1) * max_seq div (max_chunk + 1), so the last chunk
    # finishes exactly when the stream position does — one 1-row scalar
    # broadcast (the B32/C34 idiom; whitelisted)
    span = marked.agg(
        F.max("seq").alias("mx_seq"), F.max("chunk").alias("mx_chunk")
    )
    feed = marked.crossJoin(F.broadcast(span)).withColumn(
        "s_k", F.expr("((chunk + 1) * mx_seq) div (mx_chunk + 1)")
    )
    # chunk image: latest state at the select's WAL position, a delete
    # kept as the key's absence marker
    image = (
        cdc_ops.snapshot_latest(
            feed.filter(F.col("seq") <= F.col("s_k")), keep_tombstones=True
        )
        .select(
            "pk", "chunk", "s_k", "ts", "seq", "op", "value", "event_type",
            F.lit("chunk").alias("src"),
        )
    )
    tail = feed.filter(F.col("seq") > F.col("s_k")).select(
        "pk", "chunk", "s_k", "ts", "seq", "op", "value", "event_type",
        F.lit("wal").alias("src"),
    )
    tail_counts = tail.groupBy("pk").agg(F.count("*").alias("n_tail_events"))
    merged = cdc_ops.snapshot_latest(image.unionByName(tail))
    return (
        merged.join(tail_counts, "pk", "left")
        .select(
            "pk",
            "chunk",
            F.col("s_k").alias("watermark_seq"),
            "src",
            F.coalesce("n_tail_events", F.lit(0)).alias("n_tail_events"),
            F.col("ts").alias("last_ts"),
            F.col("seq").alias("last_seq"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_event_type"),
        )
        .orderBy("pk")
    )


CDC_SNAPSHOT_CHUNKED_SQL = f"""
WITH feed AS ({maxwell.EVENTS_AS_CDC_SQL.strip()}),
chunked AS (SELECT *, pk // {_CHUNK_KEYS} AS chunk FROM feed),
span AS (SELECT MAX(seq) AS mx_seq, MAX(chunk) AS mx_chunk FROM chunked),
marked AS (
  SELECT c.*,
         ((c.chunk + 1) * s.mx_seq) // (s.mx_chunk + 1) AS s_k
  FROM chunked c CROSS JOIN span s
),
image AS (
  SELECT * FROM (
    SELECT pk, chunk, s_k, ts, seq, op, value, event_type, 'chunk' AS src,
           ROW_NUMBER() OVER (PARTITION BY pk
                              ORDER BY ts DESC, seq DESC) AS rn
    FROM marked WHERE seq <= s_k) t
  WHERE rn = 1
),
tail AS (
  SELECT pk, chunk, s_k, ts, seq, op, value, event_type, 'wal' AS src
  FROM marked WHERE seq > s_k
),
tail_counts AS (
  SELECT pk, COUNT(*) AS n_tail_events FROM tail GROUP BY pk
),
merged AS (
  SELECT * FROM (
    SELECT u.*, ROW_NUMBER() OVER (PARTITION BY pk
                                   ORDER BY ts DESC, seq DESC) AS rn2
    FROM (
      SELECT pk, chunk, s_k, ts, seq, op, value, event_type, src
      FROM image
      UNION ALL
      SELECT pk, chunk, s_k, ts, seq, op, value, event_type, src
      FROM tail) u) t
  WHERE rn2 = 1 AND op <> 'delete'
)
SELECT m.pk, m.chunk,
       CAST(m.s_k AS BIGINT) AS watermark_seq,
       m.src,
       CAST(COALESCE(tc.n_tail_events, 0) AS BIGINT) AS n_tail_events,
       m.ts AS last_ts,
       m.seq AS last_seq,
       m.value AS last_value,
       m.event_type AS last_event_type
FROM merged m LEFT JOIN tail_counts tc ON tc.pk = m.pk
ORDER BY m.pk
"""


# --- round 8: in-flight masking transform (A54) ------------------------

_MASK_SEED = "mask-v1"  # rotating this seed re-keys every pseudonym
_MASK_BANDS = 10  # value -> decile band within the feed's observed range


def cdc_masking_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54 (round-8 addition): in-flight masking/pseudonymization —
    the single-message-transform every regulated CDC deployment bolts
    onto the bus (Debezium SMTs, Kafka Connect transforms) so the
    replica NEVER stores raw identifiers: A35's GDPR erasure removes
    a subject on request; this prevents the exposure up front, while
    A10's latest-wins merge keeps working downstream.

    Stated policy (both engines verbatim):
    - ``user_id`` -> keyed-md5 pseudonym (16 hex chars of
      md5(seed|id)): deterministic, so JOINABILITY and merge keys
      survive; non-invertible without the seed; rotating the seed
      re-keys the whole replica (the documented re-key path);
    - ``value`` -> coarse band index: floor of its position in the
      feed's observed [min, max] cents range cut into {b} equal-width
      bands (range from one 1-row scalar broadcast — the whitelisted
      B32/C34 idiom; the top edge clamps into the last band), plus
      the band's exact lower/upper cent bounds so analysts keep
      magnitudes without precise amounts;
    - ``event_type`` passes through (non-identifying dimension).

    The output is the masked latest-wins snapshot keyed by PSEUDONYM,
    with the proof columns an auditor checks: n_events merged per
    pseudonym and the band bounds. The oracle states the identical
    masked snapshot, and the pytest pins the two policy theorems —
    pseudonym count == raw key count (joinability/no-collision on
    this feed) and band recoverability bounds.

    Plan: masking is map-side expressions; ONE pseudonym-partitioned
    merge shuffle (the A3 shape); output |keys| rows.
    """.format(b=_MASK_BANDS)
    feed = _feed(spark, sf_dir).select(
        "pk",
        "ts",
        "seq",
        "op",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        "event_type",
    )
    rng = feed.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    masked = feed.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"substr(md5(concat('{_MASK_SEED}', '|', CAST(pk AS STRING))),"
            " 1, 16)"
        ).alias("pseudonym"),
        "ts",
        "seq",
        "op",
        F.expr(
            f"least(CAST({_MASK_BANDS} - 1 AS BIGINT),"
            f" (cents - lo) * {_MASK_BANDS} div (hi - lo + 1))"
        ).alias("value_band"),
        "event_type",
        "lo",
        "hi",
    )
    snap = cdc_ops.snapshot_latest(
        masked.withColumn(
            "n_events", F.count("*").over(Window.partitionBy("pseudonym"))
        ),
        key_cols=("pseudonym",),
    )
    return snap.select(
        "pseudonym",
        F.col("ts").alias("last_ts"),
        F.col("n_events"),
        "value_band",
        F.expr(
            f"lo + value_band * (hi - lo + 1) div {_MASK_BANDS}"
        ).alias("band_lo_cents"),
        F.expr(
            f"lo + (value_band + 1) * (hi - lo + 1) div {_MASK_BANDS} - 1"
        ).alias("band_hi_cents"),
        F.col("event_type").alias("last_event_type"),
    ).orderBy("pseudonym")


CDC_MASKING_SQL = f"""
WITH feed AS ({{feed}}),
cents AS (
  SELECT pk, ts, seq, op, CAST(floor(value * 100) AS BIGINT) AS cents,
         event_type
  FROM feed
),
rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM cents),
masked AS (
  SELECT substr(md5('{_MASK_SEED}' || '|' || CAST(pk AS VARCHAR)), 1, 16)
           AS pseudonym,
         ts, seq, op,
         LEAST(CAST({_MASK_BANDS} - 1 AS BIGINT),
               (c.cents - r.lo) * {_MASK_BANDS} // (r.hi - r.lo + 1))
           AS value_band,
         event_type, r.lo, r.hi
  FROM cents c CROSS JOIN rng r
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY pseudonym
                            ORDER BY ts DESC, seq DESC) AS rn,
         COUNT(*) OVER (PARTITION BY pseudonym) AS n_events
  FROM masked
)
SELECT pseudonym, ts AS last_ts,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(value_band AS BIGINT) AS value_band,
       CAST(lo + value_band * (hi - lo + 1) // {_MASK_BANDS} AS BIGINT)
         AS band_lo_cents,
       CAST(lo + (value_band + 1) * (hi - lo + 1) // {_MASK_BANDS} - 1
            AS BIGINT) AS band_hi_cents,
       event_type AS last_event_type
FROM ranked
WHERE rn = 1 AND op <> 'delete'
ORDER BY pseudonym
""".format(feed=maxwell.EVENTS_AS_CDC_SQL.strip())


def cdc_before_image_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A55 (round-9 addition): before-image consistency audit — the
    replication-integrity check every Maxwell/Debezium consumer with
    ``old``/``before`` images should run and the reference demo's
    row-poll never could: does each UPDATE's claimed before-image
    match the replica state the feed itself implies (the prior event
    on the key)? A drifted before-image means lost events, a
    double-applied batch, or an out-of-band write on the source — the
    failure classes A26 (gaps) and A49 (disorder) see only partially.

    Feed construction (stated, both engines): events_as_cdc classified
    by the prior event on the pk — first event per key or
    follows-a-delete → fresh insert (no old image); delete → delete;
    else UPDATE carrying old_claimed = previous value, with a
    DETERMINISTIC corruption planted on seq % 7 == 0 (old_claimed + 
    0.01 — an IEEE add both engines perform identically) so the audit
    has real positives to find.

    The audit recomputes the implied prior state with ONE lag window
    over (pk ORDER BY ts, seq) and compares exactly (double equality
    is sound here: both sides are the same stored double or that
    double plus 0.01). Output per event_type: event/update counts,
    consistent/inconsistent splits, and the inconsistency share in
    floor-div basis points — all integers.

    At 100 TB: one keyed window over the feed (the same shuffle the
    snapshot apply already pays); the rollup is |event_types| rows.
    """
    feed = _feed(spark, sf_dir)
    w = Window.partitionBy("pk").orderBy("ts", "seq")
    classified = feed.select(
        "pk",
        "ts",
        "seq",
        "op",
        "value",
        "event_type",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("op").over(w).alias("prev_op"),
    ).withColumn(
        "kind",
        F.when(F.col("op") == "delete", F.lit("delete"))
        .when(
            F.col("prev_op").isNull() | (F.col("prev_op") == "delete"),
            F.lit("insert"),
        )
        .otherwise(F.lit("update")),
    ).withColumn(
        "old_claimed",
        F.when(
            F.col("kind") == "update",
            F.when(
                F.col("seq") % 7 == 0, F.col("prev_value") + 0.01
            ).otherwise(F.col("prev_value")),
        ),
    )
    return (
        classified.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("kind") == "update").cast("long")).alias(
                "n_updates"
            ),
            F.sum(
                (
                    (F.col("kind") == "update")
                    & (F.col("old_claimed") == F.col("prev_value"))
                ).cast("long")
            ).alias("n_consistent"),
            F.sum(
                (
                    (F.col("kind") == "update")
                    & (F.col("old_claimed") != F.col("prev_value"))
                ).cast("long")
            ).alias("n_inconsistent"),
        )
        .select(
            "event_type",
            "n_events",
            "n_updates",
            "n_consistent",
            "n_inconsistent",
            F.expr(
                "CASE WHEN n_updates > 0"
                " THEN n_inconsistent * 10000 div n_updates"
                " ELSE 0 END"
            ).alias("inconsistent_bp"),
        )
        .orderBy("event_type")
    )


CDC_BEFORE_IMAGE_SQL = """
WITH cdc AS ({feed}),
classified AS (
  SELECT event_type, seq, op, value,
         lag(value) OVER w AS prev_value,
         lag(op) OVER w AS prev_op
  FROM cdc
  WINDOW w AS (PARTITION BY pk ORDER BY ts, seq)
),
kinds AS (
  SELECT event_type, seq, value, prev_value,
         CASE WHEN op = 'delete' THEN 'delete'
              WHEN prev_op IS NULL OR prev_op = 'delete' THEN 'insert'
              ELSE 'update' END AS kind
  FROM classified
),
audited AS (
  SELECT event_type, kind, prev_value,
         CASE WHEN kind = 'update' THEN
           CASE WHEN seq % 7 = 0 THEN prev_value + 0.01
                ELSE prev_value END
         END AS old_claimed
  FROM kinds
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN kind = 'update' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_updates,
       CAST(SUM(CASE WHEN kind = 'update' AND old_claimed = prev_value
                THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
       CAST(SUM(CASE WHEN kind = 'update' AND old_claimed <> prev_value
                THEN 1 ELSE 0 END) AS BIGINT) AS n_inconsistent,
       CAST(CASE WHEN SUM(CASE WHEN kind = 'update' THEN 1 ELSE 0 END) > 0
            THEN SUM(CASE WHEN kind = 'update' AND old_claimed <> prev_value
                     THEN 1 ELSE 0 END) * 10000
                 // SUM(CASE WHEN kind = 'update' THEN 1 ELSE 0 END)
            ELSE 0 END AS BIGINT) AS inconsistent_bp
FROM audited
GROUP BY event_type
ORDER BY event_type
""".format(feed=maxwell.EVENTS_AS_CDC_SQL)
