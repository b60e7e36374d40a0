from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from greenplum_cdc_spark.io import TABLES
from greenplum_cdc_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def sf_copy(sf_dir, tmp_path):
    """A writable copy of the `sf_dir` tables under `tmp_path`, for
    tests that rewrite an input in place."""
    for t in TABLES:
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    return str(tmp_path)


@pytest.fixture(scope="session")
def oracle_problems():
    """`check(sf_dir, name, df)`: the correctness gate's comparison
    (`tools/check_correctness.compare`) of `df` against entry `name`'s
    DuckDB oracle over the tables in `sf_dir`; [] when they agree."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.check_correctness import compare

    oracles = entrymod.oracle_sql()

    def check(sf_dir: str, name: str, df) -> list[str]:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        finally:
            con.close()
        rows = [tuple(r) for r in df.collect()]
        return compare(rows, df.columns, duck_rows, duck_cols, name)

    return check
