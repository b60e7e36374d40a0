"""Table loading for the driver-generated parquet test data.

At cluster scale these reads hit object storage with the same API; the
load path is a plain ``spark.read.schema(...).parquet`` so predicate
pushdown, column pruning and partition pruning all apply untouched.

Planning a read runs no Spark job. `load_table` takes each table's
schema from Spark's own inference once per file identity (the one memo
layer, `memo.py`) and hands it to the reader, so only the first load of
a file, or of a rewritten one, pays the inference job — the way a
warehouse plans from its catalog rather than from its data files.
Frames this package writes and reads back (`materialize`, replica
versions) take the schema Spark stored in their own part-file footers
(`_footer_schema`).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


# footer key under which Spark stores the row schema in every part file
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class ReplicaSchemaMissing(RuntimeError):
    """A directory has no part file whose footer carries the Spark
    schema (it was not written by Spark)."""


def _footer_schema(dirs: list[str]) -> StructType:
    """The Spark schema stored in the footer of the part file Spark's own
    inference would open (the smallest path across `dirs`), read with
    pyarrow: the schema `spark.read.parquet(*dirs)` infers, without the
    Spark job that inference runs."""
    parts = sorted(
        os.path.join(d, f)
        for d in dirs
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    meta = (pq.read_metadata(parts[0]).metadata or {}) if parts else {}
    if _SPARK_SCHEMA_KEY not in meta:
        raise ReplicaSchemaMissing(f"no Spark schema footer in {dirs}")
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


# Session confs that change what parquet schema inference returns; a
# schema memoized under one setting is never handed to a read under
# another.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)


def table_path(sf_dir: str, name: str) -> str:
    """The file `load_table(spark, sf_dir, name)` reads."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def _infer_schema(spark: SparkSession, path: str) -> StructType:
    # A new identity of `path` may be a rewrite in place: relations
    # cached over its old contents (persisted frames, Spark's cache
    # registry) are refreshed, or a plan over the same path would
    # `sameResult` into the old rows.
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`<sf_dir>/<name>.parquet` as a lazy frame, with every timestamp
    column as TIMESTAMP (LTZ) at microsecond precision.

    The schema is Spark's own inference (`spark.read.parquet(path)
    .schema`), run once per file identity and session inference confs
    and memoized (`memo.get_or_build("parquet_schema", ...)`); the read
    itself passes that schema, so every later load of an unchanged file
    plans without a Spark job, and a file rewritten in place is
    inferred again, with the relations cached over its old contents
    refreshed."""
    path = table_path(sf_dir, name)
    # The driver may hand us a vanilla session; without this, parquet
    # TIMESTAMP(NANOS) columns (events.ts) abort the scan. Runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Tz-less parquet timestamps (timestamp[us], the current testdata
    # shape) must read as TIMESTAMP(LTZ), not TIMESTAMP_NTZ: the session
    # runs in UTC so the instants are identical to DuckDB's naive read,
    # and every time function (unix_micros, window, watermark) expects
    # the LTZ type.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = memo.get_or_build(
        "parquet_schema",
        [path],
        lambda: _infer_schema(spark, path),
        extra=tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    df = spark.read.schema(schema).parquet(path)
    for field in schema.fields:
        simple = field.dataType.simpleString()
        # events.ts as TIMESTAMP(NANOS): with nanosAsLong it reads as
        # bigint nanos. Truncate (integer div — ns epochs exceed 2^53,
        # so float division would corrupt) to micros, matching DuckDB.
        if name == "events" and field.name == "ts" and simple == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # Belt-and-braces for sessions where the NTZ conf is pinned.
        elif simple == "timestamp_ntz":
            df = df.withColumn(field.name, df[field.name].cast("timestamp"))
    return df


from contextlib import contextmanager


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily pin `spark.sql.shuffle.partitions`.

    Stateful streaming queries size their STATE STORE off this value at
    first start, and AQE never coalesces those tasks — so gate-scale
    streaming runs (sf0.01/0.1) pay 32 state-store tasks per micro-batch
    for a handful of rows unless pinned low. Production entry points
    (`stream_dedup_exact`, `stream_sessionize`) deliberately do NOT use
    this: at cluster scale the session default is the right size.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state"
    ".RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state_store(spark: SparkSession):
    """Temporarily select the RocksDB state store provider.

    transformWithState keeps each named state variable in its own
    COLUMN FAMILY; the default HDFSBackedStateStoreProvider supports
    only one and aborts with UNSUPPORTED_FEATURE — RocksDB (rocksdbjni
    ships inside the pyspark wheel) is the documented requirement. On a
    production cluster this is a session/global default; here it is
    scoped so the applyInPandasWithState entries keep exercising the
    default provider too."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)


def materialize(df: DataFrame, prefix: str = "gate_") -> DataFrame:
    """Write `df` to a session-lifetime temp parquet and return the lazy
    read.

    Gate-surface operators that build their result inside a scratch dir
    (streaming runs, replica stores) must hand back a frame that outlives
    that dir. Collecting to the driver and re-creating the DataFrame
    works but is driver-bound at scale; instead the result is spilled to
    a KEPT temp parquet (deleted at process exit, not at return) and
    read back lazily — executors stream it, the driver never holds rows.
    The read back takes the schema the write stored in its own footer,
    so it runs no inference job.
    """
    import atexit
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    df.write.mode("overwrite").parquet(out)
    return df.sparkSession.read.schema(_footer_schema([out])).parquet(out)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql(...) plans."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
