"""Source lint: the package has one latest-wins window,
`operators/cdc.snapshot_latest`. A hand-written copy (a row_number over
the key ordered ``ts desc, seq desc``, keeping rank 1) is one more
place where the tie order, the tombstone rule or the partitioning has
to be kept in step by hand. Call `snapshot_latest` with ``key_cols``,
``keep_tombstones`` or extra columns instead."""

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "greenplum_cdc_spark",
)
_HOME = os.path.join(PKG, "operators", "cdc.py")

_LATEST_WINS = re.compile(
    r'Window\.partitionBy\([^)]*\)\s*\.orderBy\(\s*'
    r'F\.desc\("ts"\),\s*F\.desc\("seq"\)'
)


def test_one_latest_wins_window():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == _HOME:
                continue
            with open(path) as fh:
                src = fh.read()
            for m in _LATEST_WINS.finditer(src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{os.path.relpath(path, PKG)}:{line}")
    assert not offenders, (
        "hand-written latest-wins window (use operators/cdc.snapshot_latest): "
        f"{offenders}"
    )
