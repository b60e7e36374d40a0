"""Seeded inputs: Maxwell feeds, their latest-wins replay, TPC-H tables.

Nothing here imports Spark, so the generator and the replay oracle can be
tested on their own. The same seed always gives the same lines.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

# Maxwell ops the pipeline applies; anything else is rejected by
# `_typed_feed`'s `op IN (insert, update, delete)` filter.
DML = ("insert", "update", "delete")

# Order-insensitive row checksum, evaluated identically by Spark
# (`checksum_sql`) and by the Python replay (`row_checksum`).
_MOD = 2147483647

# Op mix of `FeedGen.events`, in order: update, insert, delete,
# pk-changing update, ddl, malformed.
MIX = np.array([0.78, 0.10, 0.08, 0.01, 0.015, 0.015])


def row_checksum(pk: int, seq: int, v: int, op: str) -> int:
    return (pk * 1000003 + seq * 7919 + v * 31 + len(op)) % _MOD


def checksum_sql() -> str:
    """Spark SQL twin of `row_checksum` over a replica row."""
    return (
        "pmod(pk * 1000003 + seq * 7919"
        " + cast(data['v'] as bigint) * 31 + length(op), 2147483647)"
    )


@dataclass
class Event:
    """One generated feed line; `kind` is a DML op, 'ddl' or 'bad'."""

    kind: str
    ts: int
    xid: int
    pk: int = -1
    v: int = 0
    old_pk: int | None = None


@dataclass
class FeedGen:
    """Stateful Maxwell feed generator.

    Keys follow a bounded zipf law (``zipf_s > 0``) or are uniform
    (``zipf_s == 0``) over the keys inserted so far. Each call to `lines`
    continues the same transaction-id and timestamp sequence, so
    successive files replay in order.
    """

    seed: int
    n_keys: int
    zipf_s: float = 0.0
    ts: int = field(init=False, default=1_700_000_000)
    xid: int = field(init=False, default=0)
    next_key: int = field(init=False)
    rng: np.random.Generator = field(init=False)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.next_key = self.n_keys
        if self.zipf_s > 0:
            w = 1.0 / np.arange(1, self.n_keys + 1) ** self.zipf_s
            self._cdf = np.cumsum(w) / w.sum()
            self._perm = self.rng.permutation(self.n_keys)

    def _keys(self, n: int) -> np.ndarray:
        if self.zipf_s > 0:
            ranks = np.searchsorted(self._cdf, self.rng.random(n))
            return self._perm[np.minimum(ranks, self.n_keys - 1)]
        return self.rng.integers(0, self.n_keys, n)

    def bootstrap(self, n_lines_per_file: int) -> list[list[Event]]:
        """Insert every key once, `n_lines_per_file` inserts per file."""
        vals = self.rng.integers(0, 10**6, self.n_keys).tolist()
        events = [
            Event("insert", self.ts, self.xid + k + 1, k, v) for k, v in enumerate(vals)
        ]
        self.xid += self.n_keys
        self.ts += 1
        return [
            events[i:i + n_lines_per_file]
            for i in range(0, len(events), n_lines_per_file)
        ]

    def events(self, n: int) -> list[Event]:
        """`n` lines drawn from `MIX`, all stamped with one second."""
        kinds = self.rng.choice(len(MIX), size=n, p=MIX)
        keys = self._keys(n)
        olds = self._keys(n)
        vals = self.rng.integers(0, 10**6, n)
        out = []
        for kind, k, old, v in zip(kinds.tolist(), keys.tolist(), olds.tolist(), vals.tolist()):
            self.xid += 1
            if kind == 0:
                out.append(Event("update", self.ts, self.xid, k, v))
            elif kind == 1:
                out.append(Event("insert", self.ts, self.xid, self.next_key, v))
                self.next_key += 1
            elif kind == 2:
                out.append(Event("delete", self.ts, self.xid, k, v))
            elif kind == 3:
                # PK change: the row keyed `old` is re-keyed to a fresh key
                out.append(Event("update", self.ts, self.xid, self.next_key, v, old_pk=old))
                self.next_key += 1
            elif kind == 4:
                out.append(Event("ddl", self.ts, self.xid))
            else:
                out.append(Event("bad", self.ts, self.xid))
        self.ts += 1
        return out


_DML_LINE = (
    '{"database":"app","table":"album","type":"%s","ts":%d,"xid":%d,'
    '"commit":true,"data":{"id":"%d","v":"%d","title":"t%d"}%s}'
)


def maxwell_line(e: Event) -> str:
    """Render one event as a Maxwell JSON line."""
    if e.kind in DML:
        old = "" if e.old_pk is None else ',"old":{"id":"%d"}' % e.old_pk
        return _DML_LINE % (e.kind, e.ts, e.xid, e.pk, e.v, e.v % 97, old)
    if e.kind == "ddl":
        # DDL events carry a 13-digit millisecond ts in Maxwell
        return (
            '{"database":"app","table":"album","type":"table-alter","ts":%d,'
            '"sql":"ALTER TABLE album ADD COLUMN c%d INT"}' % (e.ts * 1000, e.xid)
        )
    return '{"database":"app","table":"album","type":"upd'  # truncated line


def write_file(path: str, events: list[Event]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(maxwell_line(e) for e in events))
        f.write("\n")


class Replay:
    """Independent latest-wins replay of a Maxwell feed.

    Mirrors `process_events()` semantics: per key the event with the
    highest (ts, xid, subseq) wins and a winning delete removes the row.
    A PK-changing update deletes the old key (subseq 0) and upserts the
    new one (subseq 1). DDL and malformed lines change nothing.
    """

    def __init__(self) -> None:
        self.rows: dict[int, tuple[tuple[int, int, int], str, int]] = {}
        self.dead: dict[int, tuple[int, int, int]] = {}
        self.checksum = 0
        self.rejected = 0

    def _put(self, pk: int, order: tuple[int, int, int], op: str, v: int) -> None:
        cur = self.rows.get(pk)
        last = cur[0] if cur else self.dead.get(pk)
        if last is not None and last >= order:
            return
        if cur:
            self.checksum -= row_checksum(pk, cur[0][1], cur[2], cur[1])
        if op == "delete":
            self.rows.pop(pk, None)
            self.dead[pk] = order
        else:
            self.rows[pk] = (order, op, v)
            self.dead.pop(pk, None)
            self.checksum += row_checksum(pk, order[1], v, op)

    def apply(self, events: list[Event]) -> None:
        for e in events:
            if e.kind not in DML:
                self.rejected += 1
                continue
            if e.old_pk is not None and e.old_pk != e.pk:
                self._put(e.old_pk, (e.ts, e.xid, 0), "delete", e.v)
            self._put(e.pk, (e.ts, e.xid, 1), e.kind, e.v)

    def summary(self) -> dict:
        """Live row count, checksum and high watermark (epoch seconds)."""
        return {
            "rows": len(self.rows),
            "checksum": self.checksum,
            "max_ts": max((r[0][0] for r in self.rows.values()), default=None),
        }


# --- TPC-H-shaped tables -------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("small", "large", "red", "blue", "green", "hot", "old", "new")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")
_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _dates(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    d0 = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def tpch_tables(seed: int, scale: float) -> dict:
    """TPC-H-shaped tables with the column names, types and value domains
    the `plans.tpch` queries filter on. Returns name -> pyarrow.Table."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord, n_li = int(200_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    def pick(choices, n):
        return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)].tolist())

    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([
                f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
                    rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pick(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pick(_PRIOS, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li)}),
    }


def write_tpch(out_dir: str, seed: int, scale: float) -> None:
    """Write each table as `<out_dir>/<name>.parquet` (one file each)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tpch_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
