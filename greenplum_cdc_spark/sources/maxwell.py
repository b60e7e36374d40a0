"""Maxwell's Daemon CDC envelope source.

The reference consumes Maxwell JSON from RabbitMQ via an external web
table (`maxwell_gpdb.sql:5-11`) whose consumer (`rabbitmq.go:39,181`)
replaces ``[\\t\\r\\n]+`` with a space, then extracts envelope fields with
per-row JSON operators (`cdc_periodic_load.sql:1-10`), special-casing the
mixed epoch precision: 13-digit ms for DDL events vs 10-digit seconds for
DML.

Here the envelope is a declared schema and one ``from_json`` — a single
whole-stage-codegen projection instead of per-row JSON path calls, so the
parse runs JVM-side and scales linearly with input splits. The same
parser serves batch and ``readStream`` inputs unchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Maxwell envelope (maxwellreplication format): `data`/`old` are kept as
# map<string,string> because replicated tables have arbitrary columns;
# typing happens later against the SchemaRegistry (catalog.py), exactly
# where the reference consults information_schema (cdc_plpgsql_functions
# .sql:62-77).
MAXWELL_SCHEMA = (
    "database string, table string, type string, ts bigint, xid bigint,"
    " commit boolean, position string, primary_key array<string>,"
    " data map<string,string>, old map<string,string>, sql string"
)

# ops process_events() applies (cdc_plpgsql_functions.sql:125-225)
DML_OPS = ("insert", "update", "delete")
DDL_OPS = (
    "table-create",
    "table-alter",
    "table-drop",
    "database-create",
    "database-drop",
)


def sanitize_line(col: Column) -> Column:
    """rabbitmq.go:39 — collapse tab/CR/NL runs to one space."""
    return F.regexp_replace(col, "[\\t\\r\\n]+", " ")


def ts_to_timestamp(ts: Column) -> Column:
    """Normalize Maxwell's mixed epoch precision to a timestamp.

    cdc_periodic_load.sql:5 branches on string length 13 (ms, DDL events)
    vs 10 (s, DML). Magnitude >= 1e12 is the same predicate, robust until
    year 33658, without a cast to string.
    """
    return F.when(
        ts >= F.lit(1_000_000_000_000),
        F.timestamp_millis(ts),
    ).otherwise(F.timestamp_seconds(ts))


def parse_maxwell(
    raw: DataFrame, line_col: str = "line", keep: tuple = ()
) -> DataFrame:
    """Raw JSON lines → typed CDC event frame.

    Output columns mirror the `maxwell_event` archive table
    (`maxwell_gpdb.sql:14-31`): ts, database_name, table_name, op, plus
    the decoded payload (data/old/sql/xid) and the raw line for archival.
    Malformed lines yield NULL envelope fields and are quarantined by
    ``filter(op IS NULL)`` downstream (the analog of Greenplum's
    `SEGMENT REJECT LIMIT`). ``keep`` passes bus metadata columns
    (offset, partition) through the parse untouched.

    Two projections on purpose: parsing into a named struct column
    FIRST pins exactly one ``from_json`` evaluation; referencing the
    parse expression directly from each of the 8 output fields makes
    Catalyst duplicate the (expensive) JSON decode per field — measured
    3x slower on a 100k-line batch.
    """
    parsed = raw.select(
        *[F.col(c) for c in keep],
        F.from_json(sanitize_line(F.col(line_col)), MAXWELL_SCHEMA).alias("_j"),
        F.col(line_col).alias("event_json"),
    )
    return parsed.select(
        *[F.col(c) for c in keep],
        ts_to_timestamp(F.col("_j.ts")).alias("ts"),
        F.col("_j.database").alias("database_name"),
        F.col("_j.table").alias("table_name"),
        F.lower(F.col("_j.type")).alias("op"),
        F.col("_j.xid").alias("xid"),
        F.col("_j.data").alias("data"),
        F.col("_j.old").alias("old"),
        F.col("_j.sql").alias("sql"),
        "event_json",
    )


def events_as_cdc(events: DataFrame) -> DataFrame:
    """Adapt the synthetic `events` table into a deterministic CDC feed.

    Used by the oracle-gated CDC operators so Spark and DuckDB see the
    same input: key = user_id; op = delete when event_type='error' else
    insert (an upsert); payload = (value, event_type); sequence =
    (ts, event_id) — the total order process_events() replays
    (cdc_plpgsql_functions.sql:122 ORDER BY ts ASC).
    """
    return events.select(
        F.col("user_id").alias("pk"),
        F.col("ts"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("insert"))
        .alias("op"),
        F.col("value"),
        F.col("event_type"),
    )


def events_as_maxwell(events: DataFrame) -> DataFrame:
    """The ``events_as_cdc`` feed serialized as genuine Maxwell JSON
    envelopes, one per row in a single ``line`` column — what Maxwell's
    Daemon would publish for the table: ms-epoch ``ts``, event_id as
    ``xid``, user_id as the row's ``id``."""
    return events.select(
        F.to_json(
            F.struct(
                F.lit("appdb").alias("database"),
                F.lit("events").alias("table"),
                F.when(F.col("event_type") == "error", F.lit("delete"))
                .otherwise(F.lit("insert"))
                .alias("type"),
                F.expr("unix_micros(ts) div 1000").alias("ts"),
                F.col("event_id").alias("xid"),
                F.struct(
                    F.col("user_id").alias("id"),
                    F.col("value").alias("value"),
                    F.col("event_type").alias("event_type"),
                ).alias("data"),
            )
        ).alias("line")
    )


# SQL fragment duplicating events_as_cdc for DuckDB oracles.
EVENTS_AS_CDC_SQL = """
SELECT
  user_id AS pk,
  ts,
  event_id AS seq,
  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
  value,
  event_type
FROM events
"""
