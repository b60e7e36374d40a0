from __future__ import annotations

import pyspark.sql.functions as F

from greenplum_cdc_spark.io import load_table
from greenplum_cdc_spark.plans import tpch


def test_q1_shape_and_totals(spark, sf_dir):
    out = tpch.q1_pricing_summary(spark, sf_dir)
    rows = out.collect()
    assert 1 <= len(rows) <= 6  # at most |returnflag| x |linestatus|
    assert out.columns == [
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "avg_qty",
        "avg_price",
        "count_order",
    ]
    total = sum(r["count_order"] for r in rows)
    li_count = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
        .count()
    )
    assert total == li_count
    for r in rows:
        # discounted price can never exceed base price
        assert r["sum_disc_price"] <= r["sum_base_price"]
        assert r["sum_charge"] >= r["sum_disc_price"]


def test_q3_topn_ordering(spark, sf_dir):
    rows = tpch.q3_shipping_priority(spark, sf_dir).collect()
    assert len(rows) <= 10
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_q5_broadcast_plan(spark, sf_dir):
    df = tpch.q5_supplier_volume(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "dims must broadcast, not shuffle"
    rows = df.collect()
    assert all(r["revenue"] > 0 for r in rows)


def test_topk_bounded_per_group(spark, sf_dir):
    rows = tpch.topk_per_group(spark, sf_dir).collect()
    from collections import Counter

    per = Counter(r["o_orderpriority"] for r in rows)
    assert all(v <= 3 for v in per.values())


def test_grouping_sets_grand_total(spark, sf_dir):
    rows = tpch.grouping_sets_agg(spark, sf_dir).collect()
    grand = [r for r in rows if r["l_returnflag"] is None and r["l_linestatus"] is None]
    assert len(grand) == 1
    assert grand[0]["n_rows"] == load_table(spark, sf_dir, "lineitem").count()


def test_json_extract(spark, sf_dir):
    rows = tpch.json_extract_props(spark, sf_dir).collect()
    assert {r["event_type"] for r in rows} <= {"click", "view", "error", "purchase", "signup"}
    for r in rows:
        assert r["min_k"] is not None and r["min_k"] <= r["max_k"]


def test_q6_single_row_revenue(spark, sf_dir):
    out = tpch.q6_forecast_revenue(spark, sf_dir).collect()
    assert len(out) == 1
    assert out[0]["revenue"] is None or out[0]["revenue"] >= 0


def test_q4_semi_join_counts_bounded_by_orders(spark, sf_dir):
    rows = tpch.q4_order_priority(spark, sf_dir).collect()
    n_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .count()
    )
    assert sum(r["order_count"] for r in rows) <= n_orders


def test_q13_distribution_counts_all_customers(spark, sf_dir):
    rows = tpch.q13_customer_distribution(spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r["custdist"] for r in rows) == n_cust


def test_q15_top_supplier_is_argmax(spark, sf_dir):
    rows = tpch.q15_top_supplier(spark, sf_dir).collect()
    assert len(rows) >= 1
    revs = {r["total_revenue"] for r in rows}
    assert len(revs) == 1  # all returned suppliers tie at the max


def test_q18_all_above_threshold(spark, sf_dir):
    rows = tpch.q18_large_volume(spark, sf_dir).collect()
    assert all(r["sum_qty"] > 300 for r in rows)


def test_q2_one_row_per_part(spark, sf_dir):
    rows = tpch.q2_min_cost_supplier(spark, sf_dir).collect()
    parts = [r["p_partkey"] for r in rows]
    assert len(parts) == len(set(parts))


_RESTART_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from greenplum_cdc_spark.plans.tpch import bucketed_colocated_join
from greenplum_cdc_spark.session import get_spark

runs = []
for _ in range(2):
    spark = get_spark("bucketed-restart", cpus=2)
    try:
        runs.append(sorted(tuple(r) for r in bucketed_colocated_join(spark, {sf!r}).collect()))
    finally:
        spark.stop()
print("RUNS", len(runs[0]), len(runs[1]), runs[0] == runs[1])
"""


def test_bucketed_join_survives_session_restart(tmp_path, sf_dir):
    """The bucketed tables live in a session's catalog: a new session in
    the same process must rebuild them, not trust a process-wide flag.
    Runs in a subprocess so the suite's shared session is never stopped."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"))
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_DRIVER.format(repo=repo, sf=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert any(
        ln.startswith("RUNS ") and ln.split()[1] != "0" and ln.split()[3] == "True"
        for ln in out.stdout.splitlines()
    ), out.stdout


def test_bucketed_join_follows_its_input_dir(spark, sf_dir, tmp_path):
    """Alternating sf_dirs in one session: each input set keeps its own
    bucketed tables, so going back to the first dir never reads the
    second one's layout."""
    import shutil

    small, other = sf_dir, tmp_path / "sf"
    other.mkdir()
    li = load_table(spark, small, "lineitem").limit(50)
    li.write.parquet(str(other / "lineitem.parquet"))
    shutil.copy(f"{small}/orders.parquet", other / "orders.parquet")
    first = sorted(tuple(r) for r in tpch.bucketed_colocated_join(spark, small).collect())
    second = sorted(tuple(r) for r in tpch.bucketed_colocated_join(spark, str(other)).collect())
    again = sorted(tuple(r) for r in tpch.bucketed_colocated_join(spark, small).collect())
    assert sum(r[1] for r in second) == 50
    assert first == again != second
