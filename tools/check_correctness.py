"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark AND its
``oracle_sql()`` on DuckDB at sf0.01, then compares row count, column
names, and order-insensitive values (columns sorted by name, rows sorted).
Exact equality is required for non-floats; floats must match to 1e-9
relative (we design queries to be bit-identical — see plans/tpch.py).

DuckDB runs in this process with a bounded memory budget and spills
into a temporary directory that is removed at exit: left at its
defaults it may take 80% of the host's RAM and spills into ``.tmp/``
under the working directory, which nothing removes. A watchdog
interrupts the running oracle once the spill passes its cap, so that
oracle FAILs instead of filling the disk.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import signal
import sys
import tempfile
import threading

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from greenplum_cdc_spark.io import TABLES  # noqa: E402
from greenplum_cdc_spark.session import get_spark  # noqa: E402

# DuckDB's budget: an oracle that needs more memory spills to disk, and
# one that spills more than the cap is interrupted, so it fails instead
# of exhausting the host's memory or disk (k-core's oracle at 10x scale
# did both). The cap is enforced here because DuckDB 1.0's own
# `max_temp_directory_size` let a sort capped at 300 MB spill past 1 GB.
DUCKDB_MEMORY_LIMIT = "2GB"
DUCKDB_SPILL_CAP_BYTES = 1 << 30


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return v
    return v


def _values_match(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if a == b:
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def compare(spark_rows, spark_cols, duck_rows, duck_cols, name,
            spark_kinds=None, duck_kinds=None):
    problems = []
    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count: spark={len(spark_rows)} duck={len(duck_rows)}")
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"columns: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
    # pandas-dtype kind check: the driver converts both sides to pandas
    # before hashing, and DuckDB HUGEINT (e.g. SUM(INTEGER)) becomes
    # float64 there while Spark BIGINT stays int64 — numerically equal
    # values then hash differently ("3.0" vs "3"). Catch that locally.
    if spark_kinds and duck_kinds:
        for c in spark_cols:
            sk, dk = spark_kinds.get(c), duck_kinds.get(c)
            if sk is None or dk is None:
                continue
            if (sk in "iu") != (dk in "iu") and {sk, dk} <= set("iuf"):
                problems.append(
                    f"pandas dtype kind mismatch on {c}: spark={sk} duck={dk}"
                    " (driver hash would fail; CAST the oracle column)"
                )
    if problems:
        return problems

    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])

    def keyify(rows, idx):
        return sorted(
            tuple(repr(_norm(r[i])) for i in idx) for r in rows
        )

    skeys = keyify(spark_rows, order)
    dkeys = keyify(duck_rows, dorder)
    exact = skeys == dkeys
    if exact:
        return []

    # Fall back to tolerant float compare to distinguish "bit mismatch"
    # from "real mismatch".
    srows = sorted(spark_rows, key=lambda r: tuple(repr(_norm(r[i])) for i in order))
    drows = sorted(duck_rows, key=lambda r: tuple(repr(_norm(r[i])) for i in dorder))
    n_bad = 0
    first_bad = None
    for sr, dr in zip(srows, drows):
        for i, j in zip(order, dorder):
            if not _values_match(sr[i], dr[j]):
                n_bad += 1
                if first_bad is None:
                    first_bad = (spark_cols[i], sr[i], dr[j])
                break
    if n_bad:
        problems.append(f"{n_bad} mismatched rows; first: col={first_bad[0]} spark={first_bad[1]!r} duck={first_bad[2]!r}")
    else:
        problems.append("values equal within 1e-9 but NOT bit-identical (driver hash may fail)")
    return problems


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)
    # `timeout` stops the gate with SIGTERM: exit through the finally
    # blocks so the spill directory is still removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with tempfile.TemporaryDirectory(prefix="duckdb-spill-") as spill:
        con = duckdb.connect(config={
            "memory_limit": DUCKDB_MEMORY_LIMIT,
            "temp_directory": spill,
        })
        stop = threading.Event()
        watchdog = threading.Thread(
            target=_cap_spill, args=(con, spill, stop), daemon=True
        )
        watchdog.start()
        try:
            return run_gate(con, sf_dir, only)
        finally:
            stop.set()
            watchdog.join()
            con.close()


def _spill_bytes(spill: str) -> int:
    total = 0
    for entry in os.scandir(spill):
        try:
            total += entry.stat().st_blocks * 512
        except FileNotFoundError:  # DuckDB removed it meanwhile
            pass
    return total


def _cap_spill(con, spill: str, stop: threading.Event) -> None:
    """Interrupt the running DuckDB query whenever `spill` holds more
    than DUCKDB_SPILL_CAP_BYTES."""
    while not stop.wait(0.05):
        if _spill_bytes(spill) > DUCKDB_SPILL_CAP_BYTES:
            print(
                f"duckdb spill passed {DUCKDB_SPILL_CAP_BYTES >> 20} MB: "
                "interrupting the running oracle", flush=True,
            )
            con.interrupt()
            while not stop.wait(0.05) and (
                _spill_bytes(spill) > DUCKDB_SPILL_CAP_BYTES
            ):
                pass


def run_gate(con, sf_dir: str, only: set[str]) -> int:
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark writes tables as part-file directories; DuckDB needs the glob
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    spark = get_spark("correctness-check")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            sp_pdf = sdf.toPandas()
            spark_kinds = {c: sp_pdf[c].dtype.kind for c in sp_pdf.columns}
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        # Wide decimals (precision > 18) do not survive either engine's
        # pandas conversion with a common dtype (DuckDB HUGEINT/decimal
        # -> float64 or object, Spark -> Decimal objects), so the
        # driver's pandas-based hash fails on REPRESENTATION even when
        # the values match — the exact blind spot that cost round 10
        # (VERDICT r10 item 1, cdc_out_of_order_audit). Flag them here
        # so they never reach the driver.
        from pyspark.sql.types import DecimalType  # noqa: PLC0415
        wide = [
            f.name for f in sdf.schema.fields
            if isinstance(f.dataType, DecimalType) and f.dataType.precision > 18
        ]
        if wide:
            print(
                f"FAIL {name}: output schema has DECIMAL(p>18) column(s) "
                f"{wide} — driver hash-unstable; declare digits as VARCHAR "
                "or split into BIGINTs in BOTH engines"
            )
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(spark_rows)} rows)")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
            duck_kinds = {c: duck_pdf[c].dtype.kind for c in duck_pdf.columns}
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(spark_rows, spark_cols, duck_rows, duck_cols, name,
                           spark_kinds, duck_kinds)
        if problems:
            n_fail += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            n_pass += 1
            print(f"PASS {name} ({len(spark_rows)} rows)")
    print(f"\n{n_pass} passed, {n_fail} failed, {len(queries)} total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
