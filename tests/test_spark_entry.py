"""The entry table of `__spark_entry__`: `queries()` and `oracle_sql()`
are two views of one list of (key, function, oracle SQL) rows."""

import re

import pytest

import __spark_entry__ as entrymod


def test_queries_and_oracles_share_keys_and_order():
    assert list(entrymod.queries()) == list(entrymod.oracle_sql())


def test_repeated_key_raises():
    row = ("q1_pricing_summary", entrymod.tpch.q1_pricing_summary, "SELECT 1")
    assert entrymod._entry_table([row]) == [row]
    msg = re.escape("duplicate queries() key 'q1_pricing_summary'")
    with pytest.raises(ValueError, match=msg):
        entrymod._entry_table([row, ("other", row[1], "SELECT 2"), row])
