"""OLAP query layer — the Greenplum side of the reference.

The reference replicates MySQL into Greenplum precisely so queries like
these can run (README.md "Abstract": MySQL "not [optimized for] complex,
analytical queries or very large data sets ... Greenplum ... providing
that long-term, deep analytical platform").

Scale notes (SURVEY.md §6):
- dims (region/nation/customer/supplier/part) are broadcast — at 100 TB
  the fact tables shuffle only when the aggregation key demands it;
- every query filters/projects before joining so the parquet scan shows
  PushedFilters + a pruned ReadSchema;
- money aggregates are summed as DECIMAL (exact, order-insensitive) and
  cast to DOUBLE at the end, so results are bit-identical across engines
  and across partition orderings — at 1000 executors a double-sum would
  be run-to-run nondeterministic.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import memo
from ..io import load_table

# Exact-money / rate types. Widths are deliberately small so that the
# triple product price*(1-disc)*(1+tax) stays within DECIMAL(38) in BOTH
# Spark and DuckDB — overflow would trigger engine-specific precision
# loss and break bit-identical results.
_DEC = "decimal(12,4)"
_RATE = "decimal(6,4)"


def _money(col):
    return F.col(col).cast(_DEC)


def _rate(col):
    return F.col(col).cast(_RATE)


def _dsum(expr, alias):
    """Exact decimal sum surfaced as double (deterministic both engines).

    The sum is exact decimal math (order-insensitive); rounding to scale 4
    BEFORE the double cast keeps the scaled integer below 2^53, where the
    decimal->double conversion is exact in every engine (DuckDB's
    int128-scale-12 cast is not correctly rounded).
    """
    return F.round(F.sum(expr), 4).cast("double").alias(alias)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem (SURVEY §2 B1)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    charge = disc_price * (F.lit(1).cast(_RATE) + _rate("l_tax"))
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_money("l_quantity"), "sum_qty"),
            _dsum(_money("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            F.round(F.sum(_money("l_quantity")).cast("double") / F.count("*"), 4).alias("avg_qty"),
            F.round(F.sum(_money("l_extendedprice")).cast("double") / F.count("*"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 4) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 4) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: unshipped-order revenue by order (SURVEY §2 B2).

    customer is a dim → broadcast; orders⋈lineitem shuffles on o_orderkey
    only. Filters sit directly on the scans (pushdown).
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )
    return out


Q3_SQL = """
SELECT
  l_orderkey,
  o_orderdate,
  o_orderpriority,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: revenue by nation for one region (SURVEY §2 B3).

    Star join: all four dims broadcast; the only shuffle is the final
    groupBy(n_name). The customer-nation = supplier-nation equality is
    the TPC-H "local supplier" constraint.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )
    return out


Q5_SQL = """
SELECT
  n_name,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: lost revenue from returned items (SURVEY §2 B4)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )
    return out


Q10_SQL = """
SELECT
  c_custkey,
  c_name,
  c_acctbal,
  n_name,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price within each priority via window rank (B5)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    out = (
        orders.withColumn("rank_in_priority", F.row_number().over(w))
        .filter(F.col("rank_in_priority") <= 3)
        .select("o_orderpriority", "rank_in_priority", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rank_in_priority")
    )
    return out


TOPK_SQL = """
SELECT o_orderpriority, rank_in_priority, o_orderkey, o_totalprice
FROM (
  SELECT
    o_orderpriority,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_priority,
    o_orderkey,
    o_totalprice
  FROM orders
) t
WHERE rank_in_priority <= 3
ORDER BY o_orderpriority, rank_in_priority
"""


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (returnflag, linestatus) multi-level aggregate (B8)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_money("l_quantity"), "sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )
    return out


GROUPING_SETS_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from events.props — the Maxwell-payload
    analog of `events->>'...'` in cdc_periodic_load.sql:5-9 (B10)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )
    return out


JSON_EXTRACT_SQL = """
SELECT
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- extended TPC-H-adapted coverage (SURVEY §2 B11-B24) -------------------
# The testdata schema is a reduced TPC-H (no partsupp, no commit/receipt
# dates, no shipmode/phone/comment columns), so the classic queries are
# adapted to the available columns while keeping their *plan shapes*:
# semi/anti joins, scalar subqueries, OR-of-ANDs predicates, correlated
# aggregates, distinct-count aggs, and argmin-per-group windows.


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-scan predicate revenue forecast (B11).

    Pure scan-filter-agg: every predicate pushes to parquet; zero joins,
    one partial+final agg — the cheapest possible plan at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(_dsum(_money("l_extendedprice") * _rate("l_discount"), "revenue"))
    return out


Q6_SQL = """
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(6,4))), 4) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: order-priority checking via EXISTS semi-join (B12).

    LEFT SEMI join — Spark never materializes the matching lineitems,
    and at scale the semi-join degenerates to a broadcast of the
    (filtered) order keys or an AQE-planned shuffled semi.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )
    return out


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year (B13)."""
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dsum(revenue, "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )
    return out


Q7_SQL = """
SELECT
  supp_nation, cust_nation, l_year,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's market share inside a region by year (B14)."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    n_cust = nation.select("n_nationkey", "n_regionkey")
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    nat_rev = F.when(F.col("supp_nation") == "NATION_2", revenue).otherwise(
        F.lit(0).cast(_DEC)
    )
    out = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            _dsum(nat_rev, "nation_revenue"),
            _dsum(revenue, "total_revenue"),
        )
        .withColumn(
            "mkt_share",
            F.round(F.col("nation_revenue") / F.col("total_revenue"), 6),
        )
        .select("o_year", "nation_revenue", "total_revenue", "mkt_share")
        .orderBy("o_year")
    )
    return out


Q8_SQL = """
WITH t AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(ROUND(SUM(CASE WHEN n2.n_name = 'NATION_2'
               THEN CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
               ELSE CAST(0 AS DECIMAL(12,4)) END), 4) AS DOUBLE) AS nation_revenue,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
  GROUP BY CAST(year(o_orderdate) AS INT)
)
SELECT o_year, nation_revenue, total_revenue,
       ROUND(nation_revenue / total_revenue, 6) AS mkt_share
FROM t
ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit by supplier nation and year (B15).

    No partsupp table in the reduced schema, so supply cost is modeled
    as 50% of p_retailprice — the plan shape (part-name LIKE filter,
    5-way join, two-level agg) is the point.
    """
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    amount = _money("l_extendedprice") * (
        F.lit(1).cast(_RATE) - _rate("l_discount")
    ) - F.lit(0.5).cast(_RATE) * _money("p_retailprice") * _money("l_quantity")
    out = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(_dsum(amount, "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )
    return out


Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
                - CAST(0.5 AS DECIMAL(6,4)) * CAST(p_retailprice AS DECIMAL(12,4)) * CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, CAST(year(o_orderdate) AS INT)
ORDER BY nation, o_year DESC
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of order counts per customer (B16).

    LEFT OUTER join keeps zero-order customers; two cascaded aggs.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    out = (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )
    return out


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month (B17)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast(_DEC))
    out = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            _dsum(promo, "promo_revenue"),
            _dsum(revenue, "total_revenue"),
        )
        .withColumn(
            "promo_pct",
            F.round(F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 6),
        )
    )
    return out


Q14_SQL = """
WITH t AS (
  SELECT
    CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
          THEN CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
          ELSE CAST(0 AS DECIMAL(12,4)) END), 4) AS DOUBLE) AS promo_revenue,
    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
)
SELECT promo_revenue, total_revenue,
       ROUND(100.0 * promo_revenue / total_revenue, 6) AS promo_pct
FROM t
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue (B18).

    Scalar-subquery max implemented as a broadcast join against the
    1-row max — no second scan of lineitem.
    """
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    revs = li.groupBy("l_suppkey").agg(_dsum(revenue, "total_revenue"))
    mx = revs.agg(F.max("total_revenue").alias("max_rev"))
    out = (
        revs.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue")
        )
        .orderBy("s_suppkey")
    )
    return out


Q15_SQL = """
WITH revs AS (
  SELECT l_suppkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revs JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revs)
ORDER BY s_suppkey
"""


def q16_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted via lineitem — no partsupp): distinct supplier
    count per part attribute group (B19)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )
    return out


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from below-avg-quantity orders (B20).

    The correlated per-part AVG subquery becomes an aggregate + re-join
    (broadcast, since the filtered part list is small).
    """
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf_dir, "lineitem")
    li_part = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    avg_qty = (
        li_part.groupBy("l_partkey")
        .agg(
            (
                F.round(F.sum(_money("l_quantity")), 4).cast("double") / F.count("*")
            ).alias("avg_qty")
        )
        .withColumnRenamed("l_partkey", "ap_partkey")
    )
    out = (
        li_part.join(
            F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_partkey")
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.round(F.sum(_money("l_extendedprice")), 4).cast("double") / 7.0, 4
            ).alias("avg_yearly")
        )
    )
    return out


Q17_SQL = """
WITH li_part AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
),
avg_qty AS (
  SELECT l_partkey AS ap_partkey,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM li_part GROUP BY l_partkey
)
SELECT ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 4) AS DOUBLE) / 7.0, 4) AS avg_yearly
FROM li_part JOIN avg_qty ON l_partkey = ap_partkey
WHERE l_quantity < 0.2 * avg_qty
"""


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders (HAVING over join) (B21)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(_money("l_quantity"), "sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    out = (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )
    return out


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) > 300
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs predicate revenue (B22).

    The disjunctive predicate cannot push below the join, but part is a
    broadcast dim so the fact table still streams through one stage.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    pred = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    out = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(pred)
        .agg(_dsum(revenue, "revenue"))
    )
    return out


Q19_SQL = """
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: rich customers with no orders, by country code (B23).

    Scalar AVG subquery (broadcast 1-row join) + LEFT ANTI join against
    orders — neither side materializes the cross product.
    """
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 5).cast("int")
    )
    # "no recent orders" (the dense synthetic data gives every customer
    # SOME order, so the classic no-orders-ever variant is vacuous)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.round(F.sum(_money("c_acctbal")), 4).cast("double") / F.count("*")
        ).alias("avg_bal")
    )
    out = (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            _dsum(_money("c_acctbal"), "totacctbal"),
        )
        .orderBy("cntrycode")
    )
    return out


Q22_SQL = """
SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
       COUNT(*) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))), 4) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))), 4) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY CAST(c_nationkey % 5 AS INT)
ORDER BY cntrycode
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted — no partsupp): cheapest observed unit price per
    part from European suppliers, argmin via per-part window rank (B24)."""
    from pyspark.sql import Window

    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    li = load_table(spark, sf_dir, "lineitem")
    # unit price at exact 4-dp scale via integer floor division: cents
    # (price is 2-dp; *100 rounds to the same integer in both engines)
    # then (cents*100) div qty. ROUND(double,4) is deliberately avoided:
    # the engines disagree at shortest-repr .5 boundaries (sf0.001 gate
    # caught spark=26.2412 vs duck=26.2413 for a true 26.24125).
    unit_x4 = F.expr(
        "(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 100)"
        " div CAST(l_quantity AS BIGINT)"
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("unit_x4"), F.asc("s_suppkey"))
    out = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn("unit_x4", unit_x4)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("supp_nation"),
            (F.col("unit_x4").cast("double") / 10000).alias("best_unit_price"),
        )
        .orderBy("p_partkey")
    )
    return out


Q2_SQL = """
SELECT p_partkey, p_name, s_name, supp_nation,
       CAST(unit_x4 AS DOUBLE) / 10000 AS best_unit_price
FROM (
  SELECT p_partkey, p_name, s_name, n_name AS supp_nation,
         (CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 100)
           // CAST(l_quantity AS BIGINT) AS unit_x4,
         ROW_NUMBER() OVER (PARTITION BY p_partkey
                            ORDER BY (CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 100)
                                       // CAST(l_quantity AS BIGINT) ASC, s_suppkey ASC) AS rn
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND r_name = 'EUROPE'
) t
WHERE rn = 1
ORDER BY p_partkey
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted — no partsupp): parts whose shipped value
    exceeds a fixed fraction of total shipped value (B33).

    The classic scalar-subquery HAVING: the 1-row global total broadcast
    against the per-part aggregate — both aggregates share one scan
    lineage, no second pass at scale.

    The total re-sums PER-PART aggregates, so its cast is
    DECIMAL(28,4), not the raw-money DECIMAL(12,4) (round-10
    found-and-fixed: at 100x a single part's shipped value reaches
    1.7e8 and the narrow cast threw NUMERIC_VALUE_OUT_OF_RANGE —
    aggregated values grow with volume, raw money columns do not;
    28 digits covers a 10^20-unit corpus exactly).
    """
    li = load_table(spark, sf_dir, "lineitem")
    val = _money("l_extendedprice")
    per_part = li.groupBy("l_partkey").agg(_dsum(val, "part_value"))
    total = per_part.agg(
        F.round(F.sum(F.col("part_value").cast("decimal(28,4)")), 4)
        .cast("double")
        .alias("total_value")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > 0.0008 * F.col("total_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 4) AS DOUBLE) AS part_value
  FROM lineitem
  GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > 0.0008 * (
  SELECT CAST(ROUND(SUM(CAST(part_value AS DECIMAL(28,4))), 4) AS DOUBLE) FROM per_part
)
ORDER BY part_value DESC, l_partkey
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted — no shipmode): per linestatus, counts of
    critical vs normal order priorities in a ship-date year (B34)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


BASKET_MIN_SUP = 3


def _basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, part) basket feed — the shared index of the
    market-basket family (B38 pairs, B68 rules, B114 triples).

    Persisted via the dedup-family swap-slot idiom (one cached copy per
    session, `sameResult` dedupes identical plans): every basket op
    re-derived this distinct independently — and consumed it 2-4x
    inside ONE query, so the lineitem scan + distinct exchange ran up
    to 6x per bench pass (guide §2.4: two operations keyed the same
    way should share one exchange; here they share the materialized
    result outright). At 100 TB this is exactly the materialized
    basket projection a warehouse would maintain."""
    from ..operators.dedup import _swap_persist

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    return _swap_persist("basket_items", li)


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B38: market-basket part-pair affinity (co-purchase counts).

    Distinct (order, part) first, then a self-equi-join on the order key
    with part_a < part_b halving the pair space, then count per pair.
    The self-join is co-partitioned on l_orderkey (one shuffle shared by
    both sides); pair fan-out is sum over orders of C(parts,2), bounded
    by basket size — never |parts|^2. Min-support prunes the long tail
    before the final order.
    """
    li = _basket_items(spark, sf_dir)
    pairs = li.alias("a").join(
        li.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    )
    return (
        pairs.groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= BASKET_MIN_SUP)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
    )


BASKET_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, COUNT(*) AS n_orders
FROM pairs
GROUP BY part_a, part_b
HAVING COUNT(*) >= {BASKET_MIN_SUP}
ORDER BY n_orders DESC, part_a, part_b
"""


_Q21_LATE_DAYS = 180
_Q20_SHARE_NUM, _Q20_SHARE_DEN = 3, 10  # dominant share > 3/10


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted — no commit/receipt dates): suppliers who were
    the SOLE late shipper on finalized multi-supplier orders (B39).

    The classic double-correlation shape is intact: the late-lineitem
    set semi-joins against "another supplier touched this order" and
    anti-joins against "another supplier was ALSO late"; lateness is
    adapted to ship-lag > 180 days (the schema keeps l_shipdate and
    o_orderdate). EXISTS/NOT EXISTS become one left-semi + one
    left-anti join on the order key — each a single shuffle keyed by
    l_orderkey; the supplier/nation dims broadcast.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late3 = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    sole_late = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            late3,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        sole_late.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "n_name", "s_name")
    )


Q21_SQL = f"""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY
)
SELECT n_name, s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY n_name, s_name
ORDER BY numwait DESC, n_name, s_name
"""


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted — no partsupp): suppliers holding a dominant
    share of a part's shipped volume (B40).

    The classic nested-aggregate + semi-join shape without the missing
    availability table: per-(part, supplier) shipped quantity in the
    target year vs the part's total across suppliers; a supplier
    "dominates" a part above a 30% share. Quantities sum as DECIMAL and
    the share test is integer-scaled decimal comparison
    (qty_ps * 10 > qty_p * 3) — exact, no float drift in either engine.
    One shuffle on (part, supplier), a map-side-combined rollup to the
    part total, and broadcast part/supplier dims.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty_ps")
    )
    tot = shipped.groupBy("l_partkey").agg(F.sum("qty_ps").alias("qty_p"))
    dom = shipped.join(tot, "l_partkey").filter(
        F.col("qty_ps") * _Q20_SHARE_DEN > F.col("qty_p") * _Q20_SHARE_NUM
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        dom.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_dominated"))
        .orderBy("s_suppkey")
    )


Q20_SQL = f"""
WITH shipped AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_ps
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
),
tot AS (SELECT l_partkey, SUM(qty_ps) AS qty_p FROM shipped GROUP BY l_partkey),
dom AS (
  SELECT s.l_partkey, s.l_suppkey
  FROM shipped s JOIN tot t ON s.l_partkey = t.l_partkey
  WHERE s.qty_ps * {_Q20_SHARE_DEN} > t.qty_p * {_Q20_SHARE_NUM}
)
SELECT s_suppkey, s_name, COUNT(*) AS n_dominated
FROM dom
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE p_name LIKE 'red%'
GROUP BY s_suppkey, s_name
ORDER BY s_suppkey
"""


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B48: CUBE (o_orderstatus, o_orderpriority) — all 4 grouping sets
    in ONE pass, disambiguated by GROUPING() markers.

    Complements B8's ROLLUP: CUBE is the cross of all subsets, the
    dashboard-materialization idiom Greenplum serves from the replica.
    Spark expands the cube map-side and aggregates every set in a
    single shuffle (partial aggregation applies per set), so the cost
    is one pass over orders, not 4 — at 100 TB that 4× matters.
    GROUPING() markers distinguish a real NULL key from a rolled-up
    one, which is what makes the result join-safe downstream.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(_money("o_totalprice"), "sum_price"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        )
        .orderBy(
            "g_status",
            "g_priority",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


CUBE_AGG_SQL = """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 4) AS DOUBLE) AS sum_price,
  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY g_status, g_priority,
         o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """lineitem and orders stored `bucketBy(8, key)` as catalog tables
    of this session, written once per session and input file identity:
    the layout's whole value proposition is write-once/join-many, so
    repeat passes pay only the join. The tables live in the session's
    catalog, so the memo key carries the session too; each sf_dir gets
    its own table names, so alternating inputs never read each other's
    layout."""
    import atexit
    import shutil
    import tempfile
    import zlib

    db = "bucketdemo"
    lineitem = os.path.join(sf_dir, "lineitem.parquet")
    orders = os.path.join(sf_dir, "orders.parquet")
    tag = zlib.crc32(os.path.realpath(sf_dir).encode())
    names = (f"{db}.lineitem_b_{tag:08x}", f"{db}.orders_b_{tag:08x}")

    def build() -> tuple[str, str]:
        if not spark.catalog.databaseExists(db):
            loc = tempfile.mkdtemp(prefix="bucket_db_")
            atexit.register(shutil.rmtree, loc, ignore_errors=True)
            spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        od = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        for frame, key, table in ((li, "l_orderkey", names[0]), (od, "o_orderkey", names[1])):
            (
                frame.write.mode("overwrite")
                .format("parquet")
                .bucketBy(_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(table)
            )
        return names

    lb, ob = memo.get_or_build("bucketed_tables", [lineitem, orders], build, session=spark)
    return spark.table(lb), spark.table(ob)


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B51: shuffle-free fact-fact join via bucketed layout.

    At 100 TB the lineitem ⋈ orders shuffle IS the job cost; the classic
    fix is to store both facts bucketed by the join key so the join
    becomes bucket-local: each task reads matching bucket files from
    both sides and sort-merge-joins them with NO Exchange. This
    operator materializes that layout for real — both sides written
    `bucketBy(8, key)` sorted within buckets (`_bucketed_tables`) — runs
    the join, and the pytest asserts the executed plan contains zero
    Exchange operators before the join. The write cost amortizes across
    every subsequent co-keyed join/aggregate, which is why warehouses
    bucket their biggest facts (Greenplum's DISTRIBUTED BY (o_orderkey)
    is exactly this layout, maxwell_gpdb.sql's analog on its replica
    tables).

    The oracle states the plain join — layout must never change results.
    """
    from ..io import materialize

    lb, ob = _bucketed_tables(spark, sf_dir)
    out = (
        ob.hint("merge")
        .join(lb.hint("merge"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            _dsum(
                _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount")),
                "revenue",
            ),
        )
        .orderBy("o_orderpriority")
    )
    return materialize(out, "bucketed_join_")


BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE)
         AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def bucketed_join_plan(spark: SparkSession, sf_dir: str) -> str:
    """Executed-plan text of the bucket-local join itself (pre-agg), for
    the no-Exchange plan assertion in tests."""
    lb, ob = _bucketed_tables(spark, sf_dir)
    j = ob.hint("merge").join(lb.hint("merge"), F.col("o_orderkey") == F.col("l_orderkey"))
    return j._jdf.queryExecution().executedPlan().toString()


def set_ops_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B62: set-operator reconciliation — the customer base of 1997 vs
    1998 classified via INTERSECT / EXCEPT (retained / churned / new).

    Exercises Spark's set-operator physical plans (INTERSECT compiles
    to a left-semi hash join on the distinct sets, EXCEPT to left-anti)
    rather than re-deriving the classes from a manual outer join. Both
    inputs are distinct custkey projections off the same fact scan —
    one shuffle each; the three branches union map-side. At 100 TB
    the distinct sets are the aggregated form (|customers|, not
    |orders|), so the semi/anti joins are cheap and broadcastable if
    one year is small.
    """
    orders = load_table(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
        )

    a, b = year_keys(1997), year_keys(1998)
    # subtract = EXCEPT DISTINCT: on these already-distinct inputs it is
    # set-equal to exceptAll but compiles to a LeftAnti hash join
    # (exceptAll rewrites to replication counting — a wider plan for
    # multiset semantics these inputs never need)
    retained = a.intersect(b).withColumn("segment", F.lit("retained"))
    churned = a.subtract(b).withColumn("segment", F.lit("churned"))
    new = b.subtract(a).withColumn("segment", F.lit("new"))
    return (
        retained.unionByName(churned)
        .unionByName(new)
        .select("o_custkey", "segment")
        .orderBy("o_custkey", "segment")
    )


SET_OPS_SQL = """
WITH y97 AS (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
),
y98 AS (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998
)
SELECT o_custkey, 'retained' AS segment FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)
UNION ALL
SELECT o_custkey, 'churned' AS segment FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98)
UNION ALL
SELECT o_custkey, 'new' AS segment FROM (SELECT * FROM y98 EXCEPT SELECT * FROM y97)
ORDER BY o_custkey, segment
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B63: RFM customer segmentation — quintile scores for recency /
    frequency / monetary and the composite segment code.

    The classic warehouse marketing query over the replicated orders.
    Per-customer aggregates (one groupBy shuffle: days since last
    order, order count, DECIMAL revenue), then EXACT quintiles per
    metric — but never through a single-partition ntile window: each
    metric's global rank is the distributed range-bucket construction
    (`_global_row_number`, operators/stats.py — per-customer frame
    persisted once for its six consumers) and the quintile is the
    closed-form ntile over (rank, n), bit-identical to the oracle's
    ntile(5) windows at any partition count (the equi_depth_histogram
    B56 treatment applied to all three metrics; customers are the
    REDUCED cardinality but still hundreds of millions at 100 TB).
    """
    from ..operators.dedup import _swap_persist

    orders = load_table(spark, sf_dir, "orders")
    head = orders.agg(F.max("o_orderdate").alias("head_date"))
    per_cust = (
        orders.crossJoin(F.broadcast(head))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("head_date"), F.col("o_orderdate"))).alias(
                "recency_days"
            ),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
        # recency ranks DESCENDING (fewer days = better): negate so all
        # three ranks share the ascending helper. monetary is cents-
        # exact in double (decimal(18,2) < 2^53 scaled), so the double
        # rank order equals the decimal order.
        .withColumn("neg_recency", -F.col("recency_days"))
        .withColumn("monetary_d", F.col("monetary").cast("double"))
    )
    per_cust = _swap_persist("rfm_per_cust", per_cust)

    # r11: the three per-metric `_global_row_number` calls each ran TWO
    # eager driver jobs at plan-build (approxQuantile + per-bucket
    # counts) and came back as a join — 6 jobs + 3 joins per
    # invocation. The same exact-rank construction now shares ONE
    # multi-column approxQuantile job and ONE combined (pid_r, pid_f,
    # pid_m) count rollup (≤ parts³ cells; each metric's marginal is a
    # driver-side sum), and the three ranks/scores are computed in
    # place on the per-customer frame — no joins. Rank equivalence is
    # boundary-INDEPENDENT (the bucket construction only needs
    # monotonicity — stats.py:_global_row_number), so sharing the
    # quantile job cannot change a single rank.
    from collections import defaultdict

    metrics = [
        ("neg_recency", "r_score"),
        ("frequency", "f_score"),
        ("monetary_d", "m_score"),
    ]
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2)
    probs = [i / n_parts for i in range(1, n_parts)]
    bounds_all = per_cust.stat.approxQuantile(
        [m for m, _ in metrics], probs, 1.0 / (4 * n_parts)
    )
    part = per_cust
    for (m, _), bounds in zip(metrics, bounds_all):
        bounds = sorted(set(bounds))
        if bounds:
            arms = " ".join(
                f"WHEN CAST({m} AS DOUBLE) <= CAST({b!r} AS DOUBLE) THEN {i}"
                for i, b in enumerate(bounds)
            )
            pid = F.expr(f"CASE {arms} ELSE {len(bounds)} END")
        else:
            pid = F.lit(0)
        part = part.withColumn(f"_pid_{m}", pid)
    cells = (
        part.groupBy(*[f"_pid_{m}" for m, _ in metrics])
        .agg(F.count("*").alias("c"))
        .collect()
    )
    n = sum(r["c"] for r in cells)
    scored = part
    for m, out in metrics:
        counts: dict = defaultdict(int)
        for r_ in cells:
            counts[r_[f"_pid_{m}"]] += r_["c"]
        offsets, acc = [], 0
        for b in sorted(counts):
            offsets.extend([F.lit(b), F.lit(acc)])
            acc += counts[b]
        off = F.create_map(*offsets)[F.col(f"_pid_{m}")]
        w = Window.partitionBy(f"_pid_{m}").orderBy(m, "o_custkey")
        scored = scored.withColumn(
            f"_rk_{m}", (F.row_number().over(w) + off).cast("bigint")
        )
        q, r = divmod(n, 5)
        scored = scored.withColumn(
            out,
            F.expr(
                f"CASE WHEN _rk_{m} <= {(q + 1) * r} THEN"
                f" 1 + (_rk_{m} - 1) div {q + 1} "
                f"ELSE {r} + 1 + (_rk_{m} - 1 - {r * (q + 1)})"
                f" div {max(q, 1)} END"
            ).cast("int"),
        )
    return (
        scored.select(
            "o_custkey",
            "recency_days",
            "frequency",
            F.col("monetary").cast("double").alias("monetary"),
            "r_score",
            "f_score",
            "m_score",
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            ).alias("rfm_segment"),
        )
        .orderBy("o_custkey")
    )


RFM_SQL = """
WITH head AS (SELECT MAX(o_orderdate) AS head_date FROM orders),
per_cust AS (
  SELECT o_custkey,
         MIN(date_diff('day', o_orderdate, head_date)) AS recency_days,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders, head
  GROUP BY o_custkey
),
scored AS (
  SELECT *,
         ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
  FROM per_cust
)
SELECT o_custkey, recency_days, frequency,
       CAST(monetary AS DOUBLE) AS monetary,
       r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS rfm_segment
FROM scored
ORDER BY o_custkey
"""


def sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B64: the raw `spark.sql` entry point — the engine must serve SQL
    text users (the way Greenplum serves psql), not only the DataFrame
    API. Registers the tables as temp views and runs a multi-CTE ANSI
    query (revenue + share-of-nation per (nation, year)) through the
    SQL parser; Catalyst compiles it to the SAME physical plans the
    DataFrame form gets (broadcast dims, pushed filters), which the
    identical-oracle hash match indirectly proves.
    """
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        WITH rev AS (
          SELECT n.n_name AS nation,
                 year(o.o_orderdate) AS order_year,
                 SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name, year(o.o_orderdate)
        ),
        tot AS (
          SELECT order_year, SUM(revenue) AS year_total FROM rev GROUP BY order_year
        )
        SELECT r.nation, r.order_year,
               CAST(r.revenue AS DOUBLE) AS revenue,
               CAST((CAST(r.revenue * 100 AS BIGINT) * 1000000)
                    div CAST(t.year_total * 100 AS BIGINT) AS DOUBLE) / 1000000
                 AS nation_share
        FROM rev r JOIN tot t ON r.order_year = t.order_year
        ORDER BY r.nation, r.order_year
        """
    )


SQL_INTERFACE_SQL = """
WITH rev AS (
  SELECT n.n_name AS nation,
         year(o.o_orderdate) AS order_year,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, year(o.o_orderdate)
),
tot AS (
  SELECT order_year, SUM(revenue) AS year_total FROM rev GROUP BY order_year
)
SELECT r.nation, r.order_year,
       CAST(r.revenue AS DOUBLE) AS revenue,
       CAST((CAST(r.revenue * 100 AS BIGINT) * 1000000)
            // CAST(t.year_total * 100 AS BIGINT) AS DOUBLE) / 1000000
         AS nation_share
FROM rev r JOIN tot t ON r.order_year = t.order_year
ORDER BY r.nation, r.order_year
"""


def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B68: association rules over the co-purchase pairs — support,
    confidence and lift for part_a → part_b (completing B38's
    support-only pass into the full Agrawal-Srikant rule metrics).

    confidence = P(b|a) = pairs/cnt_a; lift = P(a,b)/(P(a)·P(b)) =
    N·pairs/(cnt_a·cnt_b). Both emitted as scaled integers ((x·10⁴) div
    denominator — exact floor arithmetic, engine-identical) so the rule
    ranking is bit-stable. Per-item counts broadcast against the pair
    table; the basket total is a one-row scalar cross join. Everything
    downstream of B38's bounded self-join is dimension-sized.
    """
    li = _basket_items(spark, sf_dir)
    n_baskets = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    item_cnt = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= BASKET_MIN_SUP)
    )
    ca = item_cnt.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            "cnt_a",
            "cnt_b",
            F.expr("(n_pair * 10000) div cnt_a").alias("conf_ab_x4"),
            F.expr("(n_pair * 10000) div cnt_b").alias("conf_ba_x4"),
            F.expr("(n_pair * n_baskets * 10000) div (cnt_a * cnt_b)").alias("lift_x4"),
        )
        .orderBy(F.desc("lift_x4"), "part_a", "part_b")
    )


ASSOCIATION_RULES_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li),
item_cnt AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {BASKET_MIN_SUP}
)
SELECT p.part_a, p.part_b, p.n_pair, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
       (p.n_pair * 10000) // ca.cnt AS conf_ab_x4,
       (p.n_pair * 10000) // cb.cnt AS conf_ba_x4,
       (p.n_pair * n.n_baskets * 10000) // (ca.cnt * cb.cnt) AS lift_x4
FROM pairs p
JOIN item_cnt ca ON ca.l_partkey = p.part_a
JOIN item_cnt cb ON cb.l_partkey = p.part_b
CROSS JOIN n
ORDER BY lift_x4 DESC, part_a, part_b
"""


_IAM_SPLIT = "1997-06-01 00:00:00"


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B73: incremental materialized-rollup maintenance — merge a stored
    monthly rollup with a delta batch and land on exactly the full
    recompute.

    The refresh pattern behind every warehouse summary table: the base
    rollup (orders before the split date) is what a nightly job stored;
    the delta (orders at/after it) is today's new partition. Both sides
    keep the EXACT decimal partial sum (order-insensitive), so merging
    is a union + re-aggregate over |groups| rows, and only the final
    merged sum is rounded and surfaced as double — the same commutative
    partial-aggregate contract Spark's own map-side combine relies on.
    At 100 TB the delta is the only side that scans new data; the base
    is |groups| pre-aggregated rows. The oracle is the full-table
    rollup, so the hash match proves merge(base, delta) == recompute.
    """
    orders = load_table(spark, sf_dir, "orders")
    month = F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    split = F.lit(_IAM_SPLIT).cast("timestamp")

    def partial(side: DataFrame) -> DataFrame:
        return side.groupBy(month, "o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum(_money("o_totalprice")).alias("sum_total_dec"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < split))
    delta = partial(orders.filter(F.col("o_orderdate") >= split))
    return (
        base.unionByName(delta)
        .groupBy("month", "o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.round(F.sum("sum_total_dec"), 4).cast("double").alias("sum_total"),
        )
        .orderBy("month", "o_orderstatus")
    )


INCREMENTAL_AGG_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 4) AS DOUBLE) AS sum_total
FROM orders
GROUP BY 1, 2
ORDER BY month, o_orderstatus
"""


TOP_PCT = 100  # top 1% = rank <= ceil(n / TOP_PCT)


def top_percent_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B74: exact top-1%-by-revenue per group — the percentile-threshold
    report (pricing outliers, whale orders) done with EXACT counts, not
    an approximate quantile.

    rank <= ceil(n/100) over the unique order (revenue DESC, l_orderkey,
    l_linenumber) inside each l_returnflag; the threshold is integer
    math ((n + 99) div 100) so both engines cut at the same row.

    Scale shape: a plain per-group window funnels each group through
    ONE task — with few huge groups (3 return flags here) that is the
    single-partition cliff at 100 TB. The executed plan is two-phase
    top-K instead: every input partition keeps only its LOCAL top
    K_g = ceil(n_g/100) per group (window keyed by (group,
    spark_partition_id) — fully parallel, and provably a superset of
    the global top-K_g since no partition can contribute more than K_g
    winners), then the exact per-group rank runs over the <= K_g * P
    surviving rows. n_g comes from one count aggregate inlined as a
    literal CASE (3 groups). Same two-phase shape as
    salted_hot_key_rollup; output identical to the naive window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = (_money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))).alias(
        "revenue"
    )
    from pyspark.sql import Window

    sel = li.select("l_returnflag", "l_orderkey", "l_linenumber", rev)
    counts = {
        r["l_returnflag"]: r["n"]
        for r in sel.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    # the collect→CASE-literal plan is only valid for a tiny, bounded
    # group domain (3 return flags); reusing it on a high-cardinality
    # key would silently build a megabyte CASE and bottleneck the
    # driver — fail loudly instead (r4 verdict #2 / advice item 6)
    if len(counts) > 64:
        raise ValueError(
            f"top_percent_per_group: {len(counts)} distinct group keys; "
            "the inlined CASE-literal count table is bounded at 64 — "
            "broadcast-join the count aggregate instead for wide domains"
        )
    n_arms = " ".join(
        f"WHEN l_returnflag = '{flag}' THEN CAST({n} AS BIGINT)"
        for flag, n in sorted(counts.items())
    )
    n_group = F.expr(f"CASE {n_arms} END")
    w_local = Window.partitionBy("l_returnflag", "_pid").orderBy(
        F.desc("revenue"), "l_orderkey", "l_linenumber"
    )
    pruned = (
        sel.withColumn("_pid", F.spark_partition_id())
        .withColumn("_n", n_group)
        .withColumn("_lrk", F.row_number().over(w_local))
        .filter(F.expr(f"_lrk <= (_n + {TOP_PCT - 1}) div {TOP_PCT}"))
        .drop("_pid", "_lrk")
    )
    w_rank = Window.partitionBy("l_returnflag").orderBy(
        F.desc("revenue"), "l_orderkey", "l_linenumber"
    )
    ranked = pruned.withColumn("rk", F.row_number().over(w_rank)).withColumnRenamed(
        "_n", "n_group"
    )
    return (
        ranked.filter(F.expr(f"rk <= (n_group + {TOP_PCT - 1}) div {TOP_PCT}"))
        .groupBy("l_returnflag")
        .agg(
            F.max("n_group").alias("n_group"),
            F.count("*").alias("n_top"),
            F.round(F.sum("revenue"), 4).cast("double").alias("sum_top_revenue"),
            F.round(F.min("revenue"), 4).cast("double").alias("min_top_revenue"),
            F.round(F.max("revenue"), 4).cast("double").alias("max_top_revenue"),
        )
        .orderBy("l_returnflag")
    )


TOP_PERCENT_SQL = f"""
WITH ranked AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(12,4))
           * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) AS revenue,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY CAST(l_extendedprice AS DECIMAL(12,4))
                                     * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) DESC,
                                     l_orderkey, l_linenumber) AS rk,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n_group
  FROM lineitem
)
SELECT l_returnflag,
       CAST(MAX(n_group) AS BIGINT) AS n_group,
       COUNT(*) AS n_top,
       CAST(ROUND(SUM(revenue), 4) AS DOUBLE) AS sum_top_revenue,
       CAST(ROUND(MIN(revenue), 4) AS DOUBLE) AS min_top_revenue,
       CAST(ROUND(MAX(revenue), 4) AS DOUBLE) AS max_top_revenue
FROM ranked
WHERE rk <= (n_group + {TOP_PCT - 1}) // {TOP_PCT}
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


COMPACT_FRAG_FILES = 64          # fragmented-ingest file count
COMPACT_TARGET_BYTES = 1 << 20   # 1 MiB target output file size


def archive_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B76: small-file compaction — the lakehouse maintenance job that
    keeps a streamed-in archive scannable (every micro-batch commit
    writes a file; a day of 1-minute triggers is 1440 tiny files whose
    open/footer overhead dominates the scan at 100 TB).

    This is a REAL write path, not a simulation (the replica_history
    A29 pattern): events land as {COMPACT_FRAG_FILES} fragment files in
    a scratch dir, the compactor sizes its output from the MEASURED
    fragment bytes (ceil(bytes / {COMPACT_TARGET_BYTES}) files via
    repartition), and both generations are read back and summarized.
    The oracle states the invariant that makes compaction safe to run
    online: both generations carry byte-identical content (row count,
    key span, exact value-cents sum) equal to the source table; the
    file-count collapse itself is engine-private (a filesystem fact),
    so it is asserted in pytest, not hashed.
    """
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="compact_")
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "compact")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        ev.repartition(COMPACT_FRAG_FILES).write.mode("overwrite").parquet(frag)
        frag_bytes = sum(
            os.path.getsize(os.path.join(frag, f))
            for f in os.listdir(frag)
            if f.endswith(".parquet")
        )
        n_out = max(1, -(-frag_bytes // COMPACT_TARGET_BYTES))
        spark.read.parquet(frag).repartition(n_out).write.mode(
            "overwrite"
        ).parquet(compact)

        def summary(path: str, stage: str) -> DataFrame:
            df = spark.read.parquet(path)
            return df.agg(
                F.lit(stage).alias("stage"),
                F.count("*").alias("n_rows"),
                F.countDistinct("user_id").alias("n_users"),
                F.min("event_id").alias("min_event_id"),
                F.max("event_id").alias("max_event_id"),
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                    "sum_value_cents"
                ),
            )

        from ..io import materialize

        out = summary(frag, "1_fragmented").unionByName(
            summary(compact, "2_compacted")
        )
        return materialize(out, "compact_out_").orderBy("stage")
    finally:
        shutil.rmtree(base, ignore_errors=True)


ARCHIVE_COMPACT_SQL = """
WITH s AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(DISTINCT user_id) AS n_users,
         MIN(event_id) AS min_event_id,
         MAX(event_id) AS max_event_id,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_value_cents
  FROM events
)
SELECT '1_fragmented' AS stage, n_rows, n_users, min_event_id, max_event_id, sum_value_cents FROM s
UNION ALL
SELECT '2_compacted', n_rows, n_users, min_event_id, max_event_id, sum_value_cents FROM s
ORDER BY stage
"""


# --- B77: hierarchy (BOM-style) subtree rollup -------------------------

# 13 division levels cover every BIGINT key (10^12 > any custkey here;
# extra levels collapse to duplicate zeros removed by array_distinct).
_HIER_LEVELS = 12


def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B77: recursive-CTE-class hierarchy rollup, Spark-first.

    The decade tree over customer keys (parent(k) = k div 10, root 0)
    stands in for any BOM / org / category hierarchy: for EVERY node,
    aggregate its entire subtree (customers, orders, exact revenue
    cents). Warehouses write this as WITH RECURSIVE — Spark has no
    recursive CTE, and the naive port is an iterative self-join loop.

    This plan has ZERO iterations and ZERO joins: a node's ancestor set
    is closed-form (k div 10^i), so each customer emits its ancestor
    chain map-side (transform over a literal sequence + array_distinct)
    and one explode + one groupBy computes every subtree total in a
    single shuffle. Depth is log10(maxkey) ~= 12 for any BIGINT key, so
    the fan-out is a constant ~13x — at 100 TB this is one wide
    aggregation, not a 12-round join loop with growing lineage.

    Oracle: DuckDB's real WITH RECURSIVE walks the same tree, proving
    the closed form == the recursion.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
        ).alias("rev_cents"),
    )
    ancestors = F.expr(
        f"array_distinct(transform(sequence(0, {_HIER_LEVELS}), "
        "i -> o_custkey div CAST(pow(10, i) AS BIGINT)))"
    )
    return (
        per_cust.withColumn("anc", F.explode(ancestors))
        .groupBy(F.col("anc").alias("node"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev_cents").alias("rev_cents"),
        )
        .orderBy("node")
    )


HIERARCHY_ROLLUP_SQL = """
WITH RECURSIVE per_cust AS (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY o_custkey
),
walk(leaf, node) AS (
  SELECT o_custkey, o_custkey FROM per_cust
  UNION
  SELECT leaf, node // 10 FROM walk WHERE node > 0
),
pairs AS (SELECT DISTINCT leaf, node FROM walk)
SELECT p.node,
       COUNT(*) AS n_customers,
       CAST(SUM(c.n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(c.rev_cents) AS BIGINT) AS rev_cents
FROM pairs p JOIN per_cust c ON c.o_custkey = p.leaf
GROUP BY p.node
ORDER BY p.node
"""


# --- B80: PageRank over the co-purchase graph --------------------------

_PR_MIN_SUP = 2       # co-purchase support for a graph edge
_PR_ITERS = 3         # fixed power iterations
_PR_SCALE = 1_000_000  # integer PageRank unit


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized co-purchase edge list at support >= 2 (_PR_MIN_SUP
    == _KCORE_MIN_SUP) — the ONE graph B80 (PageRank), C126 (k-core) and B141
    (assortativity) all walk. Each op used to re-run the basket
    self-join + support rollup itself (B80/C126 even persisted the
    identical result under two different swap slots); one shared slot
    builds it once per session and `sameResult` serves all three
    (guide §2.4 — plus the B38 self-join is the widest stage of each
    of these queries, so deduping it is the whole win)."""
    from ..operators.dedup import _swap_persist

    # the slot serves B80 (threshold _PR_MIN_SUP) AND C126/B141 (whose
    # DuckDB oracles state _KCORE_MIN_SUP, defined separately below) —
    # sharing is only correct while the two constants agree, so a
    # future edit to either must fail HERE, not at the gate (ADVICE r10)
    assert _PR_MIN_SUP == _KCORE_MIN_SUP

    li = _basket_items(spark, sf_dir)
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= _PR_MIN_SUP)
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    return _swap_persist("copurchase_edges", edges)


PR_TOPN = 50


def pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B80: PageRank (3 power iterations, damping 0.85) over the
    co-purchase part graph — "which parts anchor the catalog".

    Edges are B38's basket pairs at support >= 2, symmetrized; each
    iteration is one equi-join (edges x ranks) + one aggregate — the
    textbook distributed PageRank plan, no driver-side graph. All
    arithmetic is scaled-integer and order-insensitive: contribution =
    pr div deg (floor), next pr = 0.15*SCALE + (85 * sum) div 100 —
    bit-identical across engines and partitionings, no doubles. The
    undirected graph has no dangling nodes (every node owns an edge),
    so no dangling-mass correction term is needed.

    At 100 TB: iterations are bounded (3), each a shuffle on the node
    key; the rank table is |nodes| rows — the same join shape GraphX /
    Pregel lowers to, expressed declaratively so AQE handles skewed
    hubs. Output: top-50 parts by final rank.

    Oracle: the same three iterations as chained CTEs in DuckDB.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = deg.select("src", F.lit(_PR_SCALE).cast("bigint").alias("pr"), "deg")
    for _ in range(_PR_ITERS):
        contribs = (
            edges.join(ranks, "src")
            .select("dst", F.expr("pr div deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            deg.join(contribs, deg["src"] == contribs["dst"])
            .select(
                "src",
                F.expr(f"{int(0.15 * _PR_SCALE)} + (85 * s) div 100").alias("pr"),
                "deg",
            )
        )
    return (
        ranks.select(F.col("src").alias("part"), "pr", "deg")
        .orderBy(F.desc("pr"), F.asc("part"))
        .limit(PR_TOPN)
    )


PAGERANK_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS sup
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb
  HAVING COUNT(*) >= {_PR_MIN_SUP}
),
edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL
  SELECT pb, pa FROM pairs
),
deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
),
it0 AS (
  SELECT src, CAST({_PR_SCALE} AS BIGINT) AS pr, deg FROM deg
),
it1 AS (
  SELECT d.src, {int(0.15 * _PR_SCALE)} + (85 * CAST(SUM(r.pr // r.deg) AS BIGINT)) // 100 AS pr, d.deg
  FROM edges e JOIN it0 r ON r.src = e.src JOIN deg d ON d.src = e.dst
  GROUP BY d.src, d.deg
),
it2 AS (
  SELECT d.src, {int(0.15 * _PR_SCALE)} + (85 * CAST(SUM(r.pr // r.deg) AS BIGINT)) // 100 AS pr, d.deg
  FROM edges e JOIN it1 r ON r.src = e.src JOIN deg d ON d.src = e.dst
  GROUP BY d.src, d.deg
),
it3 AS (
  SELECT d.src, {int(0.15 * _PR_SCALE)} + (85 * CAST(SUM(r.pr // r.deg) AS BIGINT)) // 100 AS pr, d.deg
  FROM edges e JOIN it2 r ON r.src = e.src JOIN deg d ON d.src = e.dst
  GROUP BY d.src, d.deg
)
SELECT src AS part, CAST(pr AS BIGINT) AS pr, deg
FROM it3
ORDER BY pr DESC, part ASC
LIMIT {PR_TOPN}
"""


def mv_rewrite_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B95: materialized-view REWRITE correctness — the warehouse
    contract behind Greenplum's MV query rewrite: a coarser aggregate
    answered FROM the maintained rollup must equal the same aggregate
    computed from the fact table. B73 maintains the rollup
    incrementally; this proves the other half — that reading it is
    safe. The MV is the (returnflag, ship month... day)-grain revenue
    rollup; the query is the (returnflag, month) grain, answered both
    ways in exact CENTS (re-aggregation over DECIMAL-derived integers
    is order-insensitive, so equality is bit-exact, not approximate).
    The per-row `rewrite_ok` flag makes any divergence a visible value,
    not a silent wrong answer. At 100 TB the MV path scans |days| rows
    instead of the fact table — the entire point of the rewrite.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.expr(
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
    )
    base = li.select(
        "l_returnflag",
        F.date_trunc("day", F.col("l_shipdate").cast("timestamp")).alias("d"),
        cents.alias("cents"),
    )
    mv = base.groupBy("l_returnflag", "d").agg(
        F.sum("cents").alias("day_cents")
    )
    via_mv = mv.groupBy(
        "l_returnflag", F.date_trunc("month", "d").alias("month")
    ).agg(F.sum("day_cents").alias("revenue_mv_cents"))
    via_fact = base.groupBy(
        "l_returnflag", F.date_trunc("month", "d").alias("month")
    ).agg(F.sum("cents").alias("revenue_fact_cents"))
    return (
        via_fact.join(via_mv, ["l_returnflag", "month"], "full_outer")
        .select(
            "l_returnflag",
            "month",
            "revenue_fact_cents",
            "revenue_mv_cents",
            (
                F.col("revenue_fact_cents") == F.col("revenue_mv_cents")
            ).cast("int").alias("rewrite_ok"),
        )
        .orderBy("l_returnflag", "month")
    )


MV_REWRITE_SQL = """
WITH base AS (
  SELECT l_returnflag,
         date_trunc('day', CAST(l_shipdate AS TIMESTAMP)) AS d,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem
),
mv AS (
  SELECT l_returnflag, d, CAST(SUM(cents) AS BIGINT) AS day_cents
  FROM base GROUP BY l_returnflag, d
),
via_mv AS (
  SELECT l_returnflag, CAST(date_trunc('month', d) AS TIMESTAMP) AS month,
         CAST(SUM(day_cents) AS BIGINT) AS revenue_mv_cents
  FROM mv GROUP BY l_returnflag, CAST(date_trunc('month', d) AS TIMESTAMP)
),
via_fact AS (
  SELECT l_returnflag, CAST(date_trunc('month', d) AS TIMESTAMP) AS month,
         CAST(SUM(cents) AS BIGINT) AS revenue_fact_cents
  FROM base GROUP BY l_returnflag, CAST(date_trunc('month', d) AS TIMESTAMP)
)
SELECT COALESCE(f.l_returnflag, m.l_returnflag) AS l_returnflag,
       COALESCE(f.month, m.month) AS month,
       f.revenue_fact_cents, m.revenue_mv_cents,
       CAST(f.revenue_fact_cents = m.revenue_mv_cents AS INT) AS rewrite_ok
FROM via_fact f FULL OUTER JOIN via_mv m
  ON f.l_returnflag = m.l_returnflag AND f.month = m.month
ORDER BY l_returnflag, month
"""


def revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B112 (round-8 addition): revenue waterfall — the accounting
    decomposition a finance dashboard reads before any margin
    discussion: per order year, gross extended price, the discount
    give-back, net after discount, the tax collected on the net, and
    the final charge — each an EXACT decimal sum (the B1 `_dsum`
    discipline: order-insensitive decimal math, rounded to scale 4
    BEFORE the double cast), plus the discount and tax loads in
    integer basis points of gross (floor division on the scale-4
    integers, so the shares carry no float at all). The waterfall
    identities (gross - discount = net; net + tax = charge) hold
    exactly in the decimal domain — pinned by pytest, not assumed.

    Plan: lineitem joins orders only for the year (broadcast is wrong
    here — orders is fact-sized; the join shuffles on l_orderkey once,
    the house bucketed-join candidate), then one year rollup of four
    decimal sums. Output is |years| rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.year("o_orderdate").alias("order_year"),
    )
    gross = _money("l_extendedprice")
    disc_amt = _money("l_extendedprice") * _rate("l_discount")
    net = _money("l_extendedprice") * (F.lit(1).cast(_RATE) - _rate("l_discount"))
    tax_amt = net * _rate("l_tax")
    j = li.join(orders, "l_orderkey")
    out = (
        j.groupBy("order_year")
        .agg(
            _dsum(gross, "gross"),
            _dsum(disc_amt, "discount_amount"),
            _dsum(net, "net_after_discount"),
            _dsum(tax_amt, "tax_amount"),
            _dsum(net * (F.lit(1).cast(_RATE) + _rate("l_tax")), "final_charge"),
            # bp shares via the B1 discipline: round the exact decimal
            # sums to scale 4 (below 2^53 -> the double cast is exact in
            # both engines), then ONE double division + floor — decimal
            # `div`/`//` quotient scales differ between engines by 1 at
            # bp boundaries (measured: 489 vs 490), doubles do not.
            F.expr(
                "CAST(floor(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))"
                " * CAST(l_discount AS DECIMAL(6,4))), 4) AS DOUBLE) * 10000"
                " / CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))), 4)"
                " AS DOUBLE)) AS BIGINT)"
            ).alias("discount_load_bp"),
            F.expr(
                "CAST(floor(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))"
                " * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
                " * CAST(l_tax AS DECIMAL(6,4))), 4) AS DOUBLE) * 10000"
                " / CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))), 4)"
                " AS DOUBLE)) AS BIGINT)"
            ).alias("tax_load_bp"),
        )
        .orderBy("order_year")
    )
    return out


REVENUE_WATERFALL_SQL = """
WITH j AS (
  SELECT year(o.o_orderdate) AS order_year,
         CAST(l.l_extendedprice AS DECIMAL(12,4)) AS px,
         CAST(l.l_discount AS DECIMAL(6,4)) AS disc,
         CAST(l.l_tax AS DECIMAL(6,4)) AS tax
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT order_year,
       CAST(ROUND(SUM(px), 4) AS DOUBLE) AS gross,
       CAST(ROUND(SUM(px * disc), 4) AS DOUBLE) AS discount_amount,
       CAST(ROUND(SUM(px * (CAST(1 AS DECIMAL(6,4)) - disc)), 4) AS DOUBLE)
         AS net_after_discount,
       CAST(ROUND(SUM(px * (CAST(1 AS DECIMAL(6,4)) - disc) * tax), 4) AS DOUBLE)
         AS tax_amount,
       CAST(ROUND(SUM(px * (CAST(1 AS DECIMAL(6,4)) - disc)
                     * (CAST(1 AS DECIMAL(6,4)) + tax)), 4) AS DOUBLE)
         AS final_charge,
       CAST(FLOOR(CAST(ROUND(SUM(px * disc), 4) AS DOUBLE) * 10000
              / CAST(ROUND(SUM(px), 4) AS DOUBLE)) AS BIGINT)
         AS discount_load_bp,
       CAST(FLOOR(CAST(ROUND(SUM(px * (CAST(1 AS DECIMAL(6,4)) - disc) * tax),
                             4) AS DOUBLE) * 10000
              / CAST(ROUND(SUM(px), 4) AS DOUBLE)) AS BIGINT)
         AS tax_load_bp
FROM j
GROUP BY order_year
ORDER BY order_year
"""


_SLA_BREACH_DAYS = 90


def shipping_delay_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B113 (round-8 addition): fulfillment-latency SLA readout — the
    operations dashboard behind every priority tier: per order
    priority, the exact nearest-rank median and p90 of the
    order-to-ship delay in whole days, the worst delay, the integer
    mean, and the share of line items breaching the stated
    {d}-day SLA in basis points. Percentiles are selected order
    statistics (the B105/B110 ceil-rank discipline — no float
    interpolation); day deltas are integer epoch-micros division, so
    nothing floats anywhere.

    Plan: the lineitem-orders key join shuffles once (fact-to-fact),
    delays are map-side, one per-priority sort window ranks them
    (partitions = priority tiers, never global), conditional-agg
    cutoff collapse plus the breach share in the same rollup.
    """.format(d=_SLA_BREACH_DAYS)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority", "o_orderdate"
    )
    from pyspark.sql import Window

    j = li.join(orders, "l_orderkey").select(
        "o_orderpriority",
        F.expr(
            "(unix_micros(l_shipdate) - unix_micros(o_orderdate))"
            " div 86400000000"
        ).alias("delay_days"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("delay_days")
    w_n = Window.partitionBy("o_orderpriority")
    ranked = j.select(
        "o_orderpriority", "delay_days",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.min(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("delay_days"))
            ).alias("p50_days"),
            F.min(
                F.when(F.col("rn") == F.expr("(n * 9 + 9) div 10"), F.col("delay_days"))
            ).alias("p90_days"),
            F.max("delay_days").alias("max_days"),
            F.expr("sum(delay_days) div count(*)").alias("mean_days"),
            F.expr(
                f"sum(CAST(delay_days > {_SLA_BREACH_DAYS} AS BIGINT))"
                " * 10000 div count(*)"
            ).alias("breach_bp"),
        )
        .orderBy("o_orderpriority")
    )


SHIPPING_DELAY_SLA_SQL = f"""
WITH j AS (
  SELECT o.o_orderpriority,
         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) // 86400000000
           AS delay_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
ranked AS (
  SELECT o_orderpriority, delay_days,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY delay_days) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM j
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN delay_days END) AS BIGINT)
         AS p50_days,
       CAST(MIN(CASE WHEN rn = (n * 9 + 9) // 10 THEN delay_days END) AS BIGINT)
         AS p90_days,
       CAST(MAX(delay_days) AS BIGINT) AS max_days,
       CAST(SUM(delay_days) // COUNT(*) AS BIGINT) AS mean_days,
       CAST(SUM(CASE WHEN delay_days > {_SLA_BREACH_DAYS} THEN 1 ELSE 0 END)
              * 10000 // COUNT(*) AS BIGINT) AS breach_bp
FROM ranked
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


_TRIPLE_MIN_SUP = 2  # one support floor at EVERY Apriori level (see below)


def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B114 (round-8 addition): frequent 3-itemsets over the order
    baskets — the Apriori level the pair passes (B38/B68) stop short
    of, and the level where anti-monotone pruning starts to matter:
    the raw triple space is sum over baskets of C(|basket|,3), but a
    triple can only be frequent if all three items and all three
    sub-pairs are (Agrawal-Srikant), so candidate generation never
    touches a triple whose cheapest witness is already below floor.
    Per frequent triple: the three parts, the basket count, and the
    support in basis points of ALL baskets (integer floor division).

    The SAME floor ({s}) is applied at every level — a HIGHER
    item/pair floor would violate anti-monotonicity and silently drop
    true triples, the classic hand-rolled-Apriori bug (pinned by the
    brute-force equivalence pytest).

    Plan: distinct (order, part) once; frequent items collapse to a
    broadcast dimension that prunes the basket feed map-side; the
    pair instances come from ONE orderkey-co-partitioned self-join
    (both sides share the shuffle); frequent pairs are dimension-sized
    and broadcast back as semi-joins on ALL THREE sub-pairs before the
    triple rollup — the only feed-wide shuffles are the distinct, the
    self-join exchange, and the final triple groupBy. Basket total is
    a 1-row scalar crossJoin (the whitelisted B32/C34 idiom). At 100
    TB basket size is bounded by order width, so per-basket fan-out is
    constant-bounded and the candidate space is governed by the floor,
    not the corpus.
    """.format(s=_TRIPLE_MIN_SUP)
    li = _basket_items(spark, sf_dir)
    n_baskets = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    freq_items = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= _TRIPLE_MIN_SUP)
        .select("l_partkey")
    )
    bf = li.join(F.broadcast(freq_items), "l_partkey").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    pair_inst = (
        bf.alias("a")
        .join(
            bf.alias("b"),
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .select(F.col("a.o").alias("o"), F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
    )
    # pair_inst feeds BOTH the frequent-pair rollup and the triple
    # candidate join: unpersisted, the orderkey self-join (the widest
    # stage of the query) executes twice — swap-persist it like the
    # dedup family's rarity index (one cached copy per session).
    from ..operators.dedup import _swap_persist

    pair_inst = _swap_persist("triples_pair_inst", pair_inst)
    freq_pairs = (
        pair_inst.groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= _TRIPLE_MIN_SUP)
        .select("pa", "pb")
    )
    cand_inst = (
        pair_inst.join(F.broadcast(freq_pairs), ["pa", "pb"], "left_semi")
        .alias("pi")
        .join(
            bf.alias("c3"),
            (F.col("pi.o") == F.col("c3.o")) & (F.col("pi.pb") < F.col("c3.p")),
        )
        .select("pi.o", "pi.pa", "pi.pb", F.col("c3.p").alias("pc"))
        # Apriori: the other two sub-pairs must be frequent too
        .join(
            F.broadcast(freq_pairs.select(F.col("pa"), F.col("pb").alias("pc"))),
            ["pa", "pc"],
            "left_semi",
        )
        .join(
            F.broadcast(
                freq_pairs.select(F.col("pa").alias("pb"), F.col("pb").alias("pc"))
            ),
            ["pb", "pc"],
            "left_semi",
        )
    )
    return (
        cand_inst.groupBy("pa", "pb", "pc")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= _TRIPLE_MIN_SUP)
        .crossJoin(F.broadcast(n_baskets))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("pc").alias("part_c"),
            "n_orders",
            F.expr("n_orders * 10000 div n_baskets").alias("support_bp"),
        )
        .orderBy(F.desc("n_orders"), "part_a", "part_b", "part_c")
    )


FREQUENT_TRIPLES_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
tot AS (SELECT COUNT(DISTINCT o) AS n_baskets FROM li),
trip AS (
  -- the NAIVE sequential truth: enumerate every in-basket triple and
  -- filter by support. The Spark plan's Apriori pruning is provably
  -- equivalent (anti-monotonicity; pinned by the brute-force pytest);
  -- stating the unpruned form keeps the oracle independent of the
  -- optimization under test, and keeps DuckDB's join-order optimizer
  -- away from the quadratic fpairs-x-fpairs shape the pruned SQL
  -- tempted it into at the 10x gate (36 GB spill, found-and-fixed).
  -- every join pair carries the basket equi-key (a.o=c.o AND b.o=c.o):
  -- over a stats-less parquet scan DuckDB may start from ANY pair, and
  -- a pair whose only condition is the p-inequality is a quadratic
  -- nested loop (measured: >110 s at the 10x gate vs 0.2 s saturated).
  SELECT a.p AS pa, b.p AS pb, c.p AS pc, COUNT(*) AS n_orders
  FROM li a
  JOIN li b ON a.o = b.o AND a.p < b.p
  JOIN li c ON b.o = c.o AND a.o = c.o AND b.p < c.p
  GROUP BY a.p, b.p, c.p
)
SELECT pa AS part_a, pb AS part_b, pc AS part_c,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_orders * 10000 // (SELECT n_baskets FROM tot) AS BIGINT)
         AS support_bp
FROM trip
WHERE n_orders >= {_TRIPLE_MIN_SUP}
ORDER BY n_orders DESC, part_a, part_b, part_c
"""


def customer_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B115 (round-8 addition): cohort lifetime-value curve — the
    finance/growth staple that neither the retention matrix (B35
    counts users) nor month-over-month growth (B60 sums one month)
    answers: for each acquisition cohort (calendar month of a
    customer's FIRST order) and each age in months since acquisition,
    the active-customer count, the month's revenue, the cohort's
    cumulative revenue to that age, and the cumulative LTV per
    acquired customer (floor division — integer cents end to end, so
    the curve is engine-exact; a double cumulative sum would be
    partition-order-dependent at 1000 executors).

    Ages are observed months only (a cohort with a silent month shows
    no row at that age — stated; the cumulative sum still carries, by
    summing over rows, not a gap-filled spine). Month arithmetic is
    the integer index year*12 + month - 1, so age = m - cohort_m needs
    no interval types.

    Plan: one per-customer rollup (min month) — customers are the
    reduced cardinality; the feed joins back on the SAME custkey
    partitioning (one exchange reused), collapses to (cohort, age)
    — months-squared-bounded, tiny — and the running cumulative is a
    streaming O(1)/row frame over ages within a cohort (the allowed
    running class, never a growing unbounded-FOLLOWING frame).
    Cohort sizes ride the same rollup; no scalar crossJoin needed.
    """
    from pyspark.sql import Window

    ord_ = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cohort = ord_.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    cohort_size = cohort.groupBy("cohort_m").agg(
        F.count("*").alias("n_customers")
    )
    cells = (
        ord_.join(cohort, "o_custkey")
        .groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias("age_months"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.withColumn("cum_revenue_cents", F.sum("revenue_cents").over(w))
        .join(F.broadcast(cohort_size), "cohort_m")
        .select(
            F.expr("cohort_m div 12").alias("cohort_year"),
            (F.col("cohort_m") % 12 + 1).alias("cohort_month"),
            "age_months",
            "n_active",
            "n_customers",
            "revenue_cents",
            "cum_revenue_cents",
            F.expr("cum_revenue_cents div n_customers").alias(
                "ltv_cents_per_customer"
            ),
        )
        .orderBy("cohort_year", "cohort_month", "age_months")
    )


CUSTOMER_LTV_COHORT_SQL = """
WITH ord AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cohort AS (
  SELECT o_custkey, MIN(m) AS cohort_m FROM ord GROUP BY o_custkey
),
csize AS (
  SELECT cohort_m, COUNT(*) AS n_customers FROM cohort GROUP BY cohort_m
),
cells AS (
  SELECT c.cohort_m, o.m - c.cohort_m AS age_months,
         COUNT(DISTINCT o.o_custkey) AS n_active,
         SUM(o.cents) AS revenue_cents
  FROM ord o JOIN cohort c ON c.o_custkey = o.o_custkey
  GROUP BY c.cohort_m, o.m - c.cohort_m
)
SELECT CAST(cells.cohort_m // 12 AS BIGINT) AS cohort_year,
       CAST(cells.cohort_m % 12 + 1 AS BIGINT) AS cohort_month,
       CAST(age_months AS BIGINT) AS age_months,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(n_customers AS BIGINT) AS n_customers,
       CAST(revenue_cents AS BIGINT) AS revenue_cents,
       CAST(SUM(revenue_cents) OVER (
              PARTITION BY cells.cohort_m ORDER BY age_months
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS cum_revenue_cents,
       CAST(SUM(revenue_cents) OVER (
              PARTITION BY cells.cohort_m ORDER BY age_months
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) // n_customers AS BIGINT) AS ltv_cents_per_customer
FROM cells JOIN csize ON csize.cohort_m = cells.cohort_m
ORDER BY cohort_year, cohort_month, age_months
"""


_ABC_A_PCT, _ABC_B_PCT = 80, 95  # cumulative-revenue class cuts


def abc_pareto_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B119 (round-8 addition): ABC (Pareto) inventory classification —
    the warehouse-operations classic: parts ranked by gross revenue,
    class A while the running revenue share is within {a}%, B to {b}%,
    C after; per class the part count, exact revenue, share in basis
    points, and the rank span. Gross line revenue is integer cents
    (floor per line, summed exact — order-insensitive), so the
    classification is engine-exact.

    The running share needs an EXACT global cumulative over parts in
    (revenue DESC, partkey) order — computed WITHOUT the
    single-partition global window (the banned scale-killer) via the
    C67/_global_row_number construction extended to a running sum:
    approxQuantile boundaries become literal bucket constants
    (monotone placement is all that matters), one |buckets|-row
    collect yields each bucket's starting rank AND starting revenue
    offset, and a parallel within-bucket running frame adds the local
    prefix. Parts are the reduced cardinality (still hundreds of
    millions at 100 TB — exactly why the global window is banned).

    Plan: one partkey rollup of the feed (the only feed-wide
    shuffle), a bounded boundary/offsets collect, one bucket-keyed
    sort window, a 3-row class rollup.
    """.format(a=_ABC_A_PCT, b=_ABC_B_PCT)
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    rev = li.groupBy("l_partkey").agg(F.sum("cents").alias("rev"))
    spark_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2)
    probs = [i / spark_parts for i in range(1, spark_parts)]
    bounds = sorted(set(rev.stat.approxQuantile("rev", probs, 0.01)))
    if bounds:
        # DESC buckets: bucket 0 holds the richest parts
        arms = " ".join(
            f"WHEN rev > {int(b)} THEN {len(bounds) - 1 - i}"
            for i, b in reversed(list(enumerate(bounds)))
        )
        pid = F.expr(f"CASE {arms} ELSE {len(bounds)} END")
    else:
        pid = F.lit(0)
    part = rev.withColumn("_pid", pid)
    rows = (
        part.groupBy("_pid")
        .agg(F.sum("rev").alias("s"), F.count("*").alias("c"))
        .collect()
    )
    total_rev = sum(r["s"] for r in rows)
    rev_off, cnt_off, acc_s, acc_c = [], [], 0, 0
    for r in sorted(rows, key=lambda r: r["_pid"]):
        rev_off.extend([F.lit(r["_pid"]), F.lit(acc_s)])
        cnt_off.extend([F.lit(r["_pid"]), F.lit(acc_c)])
        acc_s += r["s"]
        acc_c += r["c"]
    w = Window.partitionBy("_pid").orderBy(
        F.desc("rev"), F.asc("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = part.select(
        "l_partkey",
        "rev",
        (F.sum("rev").over(w) + F.create_map(*rev_off)[F.col("_pid")]).alias(
            "cum_rev"
        ),
        (
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(
                    F.desc("rev"), F.asc("l_partkey")
                )
            )
            + F.create_map(*cnt_off)[F.col("_pid")]
        ).cast("long").alias("rank"),
    ).withColumn(
        "abc_class",
        F.expr(
            f"CASE WHEN cum_rev * 100 <= {_ABC_A_PCT} * {total_rev}L THEN 'A' "
            f"WHEN cum_rev * 100 <= {_ABC_B_PCT} * {total_rev}L THEN 'B' "
            "ELSE 'C' END"
        ),
    )
    return (
        ranked.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").alias("revenue_cents"),
            F.expr(f"sum(rev) * 10000 div {total_rev}L").alias(
                "revenue_share_bp"
            ),
            F.min("rank").alias("min_rank"),
            F.max("rank").alias("max_rank"),
        )
        .orderBy("abc_class")
    )


ABC_PARETO_CLASS_SQL = f"""
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS rev
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(rev) AS total_rev FROM rev),
ranked AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum_rev,
         ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rank
  FROM rev
),
classed AS (
  SELECT l_partkey, rev, rank,
         CASE WHEN cum_rev * 100 <= {_ABC_A_PCT} * (SELECT total_rev FROM tot)
              THEN 'A'
              WHEN cum_rev * 100 <= {_ABC_B_PCT} * (SELECT total_rev FROM tot)
              THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents,
       CAST(SUM(rev) * 10000 // (SELECT total_rev FROM tot) AS BIGINT)
         AS revenue_share_bp,
       CAST(MIN(rank) AS BIGINT) AS min_rank,
       CAST(MAX(rank) AS BIGINT) AS max_rank
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""


# DOJ/FTC horizontal-merger guideline thresholds, in HHI basis points
_HHI_MODERATE_BP, _HHI_HIGH_BP = 1500, 2500


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B122 (round-8 addition): supply-concentration audit — the
    Herfindahl-Hirschman index per part brand, the antitrust/
    supply-chain-risk number (DOJ merger guidelines) that B109's Gini
    does not give (HHI is share-of-squares: ONE dominant supplier
    moves it; Gini measures the whole curve): per brand the supplier
    count, total supplied quantity, the dominant supplier's share in
    basis points, the HHI in basis points, and the stated DOJ band
    (low < {m}, moderate < {h}, high) — a brand sourced from one
    supplier reads 10000.

    Exactness: quantities are exact integers (floor of the double),
    per-(brand, supplier) volumes exact BIGINT sums; HHI = sum(vol^2)
    * 10000 div total^2 needs the squares — vol^2 sums stay within
    int64 through the 100x probe (documented bound: vol ~ 6*10^5 per
    supplier-brand at 100x -> sum_sq ~ 4*10^13, and sum_sq * 10^4 ~
    4*10^17 < 2^63 with ~20x headroom; total^2 ~ 4*10^15), and the
    final ratio is integer floor division of two exact BIGINTs, no
    doubles anywhere.

    Plan: part's (partkey -> brand) is a broadcast dim; one
    (brand, supplier) rollup of the feed (the only feed-wide
    shuffle), one brand rollup; output |brands| rows.
    """.format(m=_HHI_MODERATE_BP, h=_HHI_HIGH_BP)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        F.floor("l_quantity").cast("long").alias("qty"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    vols = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum("qty").alias("vol"))
    )
    return (
        vols.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("vol").alias("total_qty"),
            F.max("vol").alias("top_vol"),
            F.sum(F.col("vol") * F.col("vol")).alias("sum_sq"),
        )
        .select(
            "p_brand",
            "n_suppliers",
            "total_qty",
            F.expr("top_vol * 10000 div total_qty").alias("top_share_bp"),
            F.expr("sum_sq * 10000 div (total_qty * total_qty)").alias(
                "hhi_bp"
            ),
            F.expr(
                f"CASE WHEN sum_sq * 10000 div (total_qty * total_qty)"
                f" >= {_HHI_HIGH_BP} THEN 'high' "
                f"WHEN sum_sq * 10000 div (total_qty * total_qty)"
                f" >= {_HHI_MODERATE_BP} THEN 'moderate' "
                "ELSE 'low' END"
            ).alias("doj_band"),
        )
        .orderBy("p_brand")
    )


SUPPLIER_HHI_SQL = f"""
WITH vols AS (
  SELECT p.p_brand, l.l_suppkey,
         SUM(CAST(floor(l.l_quantity) AS BIGINT)) AS vol
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand, l.l_suppkey
),
agg AS (
  SELECT p_brand,
         COUNT(*) AS n_suppliers,
         SUM(vol) AS total_qty,
         MAX(vol) AS top_vol,
         SUM(vol * vol) AS sum_sq
  FROM vols GROUP BY p_brand
)
SELECT p_brand,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(total_qty AS BIGINT) AS total_qty,
       CAST(top_vol * 10000 // total_qty AS BIGINT) AS top_share_bp,
       CAST(sum_sq * 10000 // (total_qty * total_qty) AS BIGINT) AS hhi_bp,
       CASE WHEN sum_sq * 10000 // (total_qty * total_qty)
                 >= {_HHI_HIGH_BP} THEN 'high'
            WHEN sum_sq * 10000 // (total_qty * total_qty)
                 >= {_HHI_MODERATE_BP} THEN 'moderate'
            ELSE 'low' END AS doj_band
FROM agg
ORDER BY p_brand
"""


def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B123 (round-8 addition): daily order-backlog (cumulative-flow)
    series — the work-in-progress accounting an operations dashboard
    is built around and that no per-event rollup gives: an order opens
    on its order date and closes when its LAST line item ships, so
    backlog(t) = orders opened on or before t minus orders fully
    shipped on or before t. Emits one row per calendar day of the
    span: opened, closed, and the running backlog — day grain keeps
    the spine bounded (~10^3-10^4 rows at ANY corpus size), which is
    what makes the two running frames over it free. Orders with no
    line items (none in this schema's integrity contract, but stated)
    would never close and simply stay in the backlog.

    Day indexes are integer epoch-micros division; the spine is a
    sequence() explode between the feed's min/max day (two 1-row
    scalars broadcast — the B32/C34 idiom). Plan: one orderkey rollup
    of lineitem for close days (the only feed-wide shuffle), a
    |days|-sized rollup each for opens and closes, spine left joins,
    two running frames over the singleton-partition-SAFE day spine
    (|spine| rows total — the whitelisted constant-size case, not a
    data-wide global window).
    """
    from pyspark.sql import Window

    day = "86400000000"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(f"unix_micros(o_orderdate) div {day}").alias("open_day"),
    )
    closes = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.expr(f"unix_micros(l_shipdate) div {day}").alias("ship_day"),
        )
        .groupBy("l_orderkey")
        .agg(F.max("ship_day").alias("close_day"))
    )
    opened = orders.groupBy("open_day").agg(F.count("*").alias("opened"))
    closed = closes.groupBy("close_day").agg(F.count("*").alias("closed"))
    bounds = orders.join(
        closes, orders["o_orderkey"] == closes["l_orderkey"], "left"
    ).agg(
        F.min("open_day").alias("d0"),
        F.greatest(F.max("open_day"), F.max("close_day")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day")
    )
    # unpartitioned running frame over the DAY SPINE only — calendar-
    # bounded (whitelisted in test_plan_smells._UNPART_WINDOW_OK), never
    # the data-proportional relation
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(opened, spine["day"] == opened["open_day"], "left")
        .join(closed, spine["day"] == closed["close_day"], "left")
        .select(
            "day",
            F.coalesce("opened", F.lit(0)).alias("opened"),
            F.coalesce("closed", F.lit(0)).alias("closed"),
        )
        .withColumn(
            "backlog",
            F.sum(F.col("opened") - F.col("closed")).over(w),
        )
        .orderBy("day")
    )


ORDER_BACKLOG_DAILY_SQL = """
WITH orders_d AS (
  SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000 AS open_day
  FROM orders
),
closes AS (
  SELECT l_orderkey,
         MAX(epoch_us(l_shipdate) // 86400000000) AS close_day
  FROM lineitem GROUP BY l_orderkey
),
opened AS (SELECT open_day, COUNT(*) AS opened FROM orders_d GROUP BY open_day),
closed AS (SELECT close_day, COUNT(*) AS closed FROM closes GROUP BY close_day),
bounds AS (
  SELECT MIN(o.open_day) AS d0,
         GREATEST(MAX(o.open_day), MAX(c.close_day)) AS d1
  FROM orders_d o LEFT JOIN closes c ON c.l_orderkey = o.o_orderkey
),
spine AS (
  SELECT unnest(generate_series((SELECT d0 FROM bounds),
                                (SELECT d1 FROM bounds))) AS day
)
SELECT s.day,
       CAST(COALESCE(o.opened, 0) AS BIGINT) AS opened,
       CAST(COALESCE(c.closed, 0) AS BIGINT) AS closed,
       CAST(SUM(COALESCE(o.opened, 0) - COALESCE(c.closed, 0))
              OVER (ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS backlog
FROM spine s
LEFT JOIN opened o ON o.open_day = s.day
LEFT JOIN closed c ON c.close_day = s.day
ORDER BY s.day
"""


def return_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B125 (round-8 addition): return-rate trend per part brand — the
    retail quality dashboard behind every "returns are spiking on
    brand X" alert (Q10 bills returned revenue to customers; this
    tracks the RATE per product line over time): per (brand, ship
    month) the line items, returned line items (l_returnflag = 'R'),
    returned and gross extended-price cents (exact integers), the
    return rate in basis points, and the month-over-month rate delta
    (lag over the brand's month series — a |brands x months|-bounded
    partition window, never global). Month = integer index
    year*12+month-1 (B115's discipline).

    Plan: part's (partkey -> brand) broadcasts; ONE (brand, month)
    rollup of the feed is the only feed-wide shuffle; the trend lag
    runs over the calendar-bounded rollup.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_returnflag",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cells = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "m")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias(
                "n_returned"
            ),
            F.sum("cents").alias("gross_cents"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", F.col("cents")).otherwise(0)
            ).alias("returned_cents"),
        )
        .withColumn(
            "return_rate_bp", F.expr("n_returned * 10000 div n_lines")
        )
    )
    w = Window.partitionBy("p_brand").orderBy("m")
    return (
        cells.withColumn(
            "rate_delta_bp",
            F.col("return_rate_bp") - F.lag("return_rate_bp").over(w),
        )
        .select(
            "p_brand",
            F.expr("m div 12").alias("year"),
            (F.col("m") % 12 + 1).alias("month"),
            "n_lines",
            "n_returned",
            "gross_cents",
            "returned_cents",
            "return_rate_bp",
            "rate_delta_bp",
        )
        .orderBy("p_brand", "year", "month")
    )


RETURN_RATE_TREND_SQL = """
WITH cells AS (
  SELECT p.p_brand,
         year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1 AS m,
         COUNT(*) AS n_lines,
         SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returned,
         SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS gross_cents,
         SUM(CASE WHEN l.l_returnflag = 'R'
                  THEN CAST(floor(l.l_extendedprice * 100) AS BIGINT)
                  ELSE 0 END) AS returned_cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand, year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1
),
rated AS (
  SELECT *, n_returned * 10000 // n_lines AS return_rate_bp FROM cells
)
SELECT p_brand,
       CAST(m // 12 AS BIGINT) AS year,
       CAST(m % 12 + 1 AS BIGINT) AS month,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_returned AS BIGINT) AS n_returned,
       CAST(gross_cents AS BIGINT) AS gross_cents,
       CAST(returned_cents AS BIGINT) AS returned_cents,
       CAST(return_rate_bp AS BIGINT) AS return_rate_bp,
       CAST(return_rate_bp - LAG(return_rate_bp) OVER (
              PARTITION BY p_brand ORDER BY m) AS BIGINT) AS rate_delta_bp
FROM rated
ORDER BY p_brand, year, month
"""


def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B126 (round-8 addition): discount elasticity of demand per part
    brand — the pricing-analytics readout behind every promo decision
    (Q19 prices a FIXED discount band; this measures how quantity
    RESPONDS to discount): per brand an OLS regression of line
    quantity on discount depth over all its line items, reported as
    the slope in micro-units of quantity per discount basis point,
    the intercept (the zero-discount baseline demand), and the r^2
    variance-explained — the number that says whether discounting
    moves volume for that brand at all.

    Determinism discipline (the B117 CUPED precedent): x = discount
    in basis points via the DECIMAL(6,4) cast (exact — the engines'
    shared reading of the double 0.05 is 0.0500), y = floor(quantity)
    BIGINT; every sufficient statistic (n, Sx, Sy, Sxy, Sxx, Syy) is
    an exact BIGINT sum (bounds at 100x: per-brand n ~ 2.4e6 lines,
    x <= 1000, y <= 50 -> Sxx <= 2.4e12, Sxy <= 1.2e11 — int64 with
    >10^6 headroom); doubles appear only in the FINAL stated slope /
    intercept / r^2 expressions with casts BEFORE any int64-overflow
    product (Sx*Sy ~ 1.4e17 at 100x), floored to ppm — bit-identical
    IEEE evaluation in both engines. Degenerate var(x) = 0 (a brand
    discounted at one depth only) reports NULL slope/intercept/r2.

    Plan: broadcast part dim (brand lookup); ONE (brand) rollup of
    sufficient statistics — map-side combined, the only feed-wide
    shuffle; output |brands| rows. Nothing wider than |brands| ever
    leaves an executor; survives 100 TB by construction.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)")
        .alias("x"),
        F.floor("l_quantity").cast("long").alias("y"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    stats = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    cov = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
           " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
    varx = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
    vary = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")
    slope = f"(CASE WHEN {varx} > 0 THEN {cov} / {varx} ELSE NULL END)"
    intercept = (
        f"(CASE WHEN {varx} > 0 THEN (CAST(sy AS DOUBLE)"
        f" - {slope} * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
        " ELSE NULL END)"
    )
    r2 = (f"(CASE WHEN {varx} > 0 AND {vary} > 0 THEN"
          f" ({cov} * {cov}) / ({varx} * {vary}) ELSE NULL END)")
    return stats.select(
        "p_brand",
        F.col("n").alias("n_lines"),
        F.expr("sy * 1000000 div n").alias("mean_qty_ppm"),
        F.expr("sx * 1000000 div n").alias("mean_disc_bp_ppm"),
        F.expr(f"CAST(floor(1000000 * {slope}) AS BIGINT)").alias(
            "slope_qty_per_bp_ppm"
        ),
        F.expr(f"CAST(floor(1000000 * {intercept}) AS BIGINT)").alias(
            "intercept_qty_ppm"
        ),
        F.expr(f"CAST(floor(1000000 * {r2}) AS BIGINT)").alias("r2_ppm"),
    ).orderBy("p_brand")


def _discount_elasticity_sql() -> str:
    cov = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
           " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
    varx = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
    vary = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")
    slope = f"(CASE WHEN {varx} > 0 THEN {cov} / {varx} ELSE NULL END)"
    intercept = (
        f"(CASE WHEN {varx} > 0 THEN (CAST(sy AS DOUBLE)"
        f" - {slope} * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
        " ELSE NULL END)"
    )
    r2 = (f"(CASE WHEN {varx} > 0 AND {vary} > 0 THEN"
          f" ({cov} * {cov}) / ({varx} * {vary}) ELSE NULL END)")
    return f"""
WITH li AS (
  SELECT l.l_partkey,
         CAST(CAST(l.l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT) AS x,
         CAST(floor(l.l_quantity) AS BIGINT) AS y
  FROM lineitem l
),
stats AS (
  SELECT p.p_brand, COUNT(*) AS n, SUM(li.x) AS sx, SUM(li.y) AS sy,
         SUM(li.x * li.y) AS sxy, SUM(li.x * li.x) AS sxx,
         SUM(li.y * li.y) AS syy
  FROM li JOIN part p ON p.p_partkey = li.l_partkey
  GROUP BY p.p_brand
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n_lines,
       CAST(sy * 1000000 // n AS BIGINT) AS mean_qty_ppm,
       CAST(sx * 1000000 // n AS BIGINT) AS mean_disc_bp_ppm,
       CAST(floor(1000000 * {slope}) AS BIGINT) AS slope_qty_per_bp_ppm,
       CAST(floor(1000000 * {intercept}) AS BIGINT) AS intercept_qty_ppm,
       CAST(floor(1000000 * {r2}) AS BIGINT) AS r2_ppm
FROM stats
ORDER BY p_brand
"""


DISCOUNT_ELASTICITY_SQL = _discount_elasticity_sql()


def price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B131 (round-8 addition): monthly Laspeyres and Paasche price
    indexes over the part catalog — the inflation/price-tracking
    readout (CPI methodology) no single-month rollup gives: how the
    price LEVEL moved against the feed's first calendar month, holding
    the basket fixed at base-month quantities (Laspeyres) or at
    current-month quantities (Paasche). Only parts traded in BOTH
    months enter (the matched-model rule, stated).

    Exactness: per (part, month) the exact BIGINT cents and quantity
    sums; the unit price is the STATED floor division cents div qty
    (both engines); index = sum(up_m * q_weight) * 10000 div
    sum(up_b * q_weight) — all-integer, no doubles anywhere.
    Headroom at 100x: up ~ 1e7 cents, q ~ 1e5 per part-month,
    sum over ~2e5 parts ~ 1e7*1e5*2e5 = 2e17 < 2^63.

    Plan: ONE (part, month) rollup is the only feed-wide shuffle; the
    base-month slice re-joins it co-partitioned on partkey (same
    exchange reused); per-month rollup is months-bounded. Output
    |months| rows.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("year(l_shipdate) * 12 + month(l_shipdate) - 1").alias("m"),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.floor("l_quantity").cast("long").alias("qty"),
    )
    pm = li.groupBy("l_partkey", "m").agg(
        F.sum("cents").alias("cents"), F.sum("qty").alias("qty")
    ).withColumn("up", F.expr("cents div qty"))
    base_m = pm.agg(F.min("m").alias("mb"))
    base = (
        pm.crossJoin(F.broadcast(base_m))
        .filter(F.col("m") == F.col("mb"))
        .select(
            "l_partkey",
            F.col("up").alias("up_b"),
            F.col("qty").alias("q_b"),
        )
    )
    joined = pm.join(base, "l_partkey")
    out = joined.groupBy("m").agg(
        F.count("*").alias("parts_matched"),
        F.sum(F.col("up") * F.col("q_b")).alias("lx"),
        F.sum(F.col("up_b") * F.col("q_b")).alias("lb"),
        F.sum(F.col("up") * F.col("qty")).alias("px"),
        F.sum(F.col("up_b") * F.col("qty")).alias("pb"),
    )
    return out.select(
        F.expr("m div 12").alias("year"),
        F.expr("m % 12 + 1").alias("month"),
        "parts_matched",
        F.expr("lx * 10000 div lb").alias("laspeyres_bp"),
        F.expr("px * 10000 div pb").alias("paasche_bp"),
    ).orderBy("year", "month")


PRICE_INDEX_SQL = """
WITH li AS (
  SELECT l_partkey,
         year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(floor(l_quantity) AS BIGINT) AS qty
  FROM lineitem
),
pm AS (
  SELECT l_partkey, m, SUM(cents) AS cents, SUM(qty) AS qty,
         SUM(cents) // SUM(qty) AS up
  FROM li GROUP BY l_partkey, m
),
mb AS (SELECT MIN(m) AS mb FROM pm),
base AS (
  SELECT l_partkey, up AS up_b, qty AS q_b
  FROM pm WHERE m = (SELECT mb FROM mb)
),
joined AS (
  SELECT p.m, p.up, p.qty, b.up_b, b.q_b
  FROM pm p JOIN base b USING (l_partkey)
)
SELECT CAST(m // 12 AS BIGINT) AS year,
       CAST(m % 12 + 1 AS BIGINT) AS month,
       CAST(COUNT(*) AS BIGINT) AS parts_matched,
       CAST(SUM(up * q_b) * 10000 // SUM(up_b * q_b) AS BIGINT)
         AS laspeyres_bp,
       CAST(SUM(up * qty) * 10000 // SUM(up_b * qty) AS BIGINT)
         AS paasche_bp
FROM joined
GROUP BY m
ORDER BY year, month
"""


def net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B135 (round-8 addition): net revenue retention by month — the
    SaaS/growth-finance headline metric neither B115's cohort LTV
    (acquisition-cohort cumulative) nor B60's MoM growth (total
    revenue, mixing new and old customers) answers: of the revenue
    from customers who paid LAST month, how much shows up THIS month
    — split into the expansion (customers who grew), contraction
    (shrank but stayed), and churn (disappeared) components every
    board deck shows. NRR > 10000 bp means the existing base grows
    without any new logos.

    Exactness: per (customer, month) exact BIGINT cents rollup; the
    month pairing is the integer index m = year*12+month-1 joined on
    m_prev + 1 (calendar-adjacent, stated); every component an exact
    conditional sum, shares floor-div bp of the prior-month base —
    no doubles anywhere.

    Plan: ONE (custkey, month) rollup of the feed (the only
    feed-wide shuffle), a custkey-co-partitioned self-join pairing
    adjacent months (LEFT join keeps churned customers visible), a
    months-bounded rollup. Output |months|-1 rows.
    """
    om = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.expr(
                "year(o_orderdate) * 12 + month(o_orderdate) - 1"
            ).alias("m"),
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("o_custkey", "m")
        .agg(F.sum("cents").alias("cents"))
    )
    # only report months the feed actually observed: prev rows shifted
    # to m+1 would otherwise extend one month past the last data month
    # and report every final-month customer as churned (phantom row)
    months = om.select("m").distinct()
    prev = om.select(
        "o_custkey",
        (F.col("m") + 1).alias("m"),
        F.col("cents").alias("prev_cents"),
    ).join(months, "m", "left_semi")
    cur = om.select("o_custkey", "m", F.col("cents").alias("cur_cents"))
    paired = prev.join(cur, ["o_custkey", "m"], "left").select(
        "m",
        "prev_cents",
        F.coalesce("cur_cents", F.lit(0)).alias("cur_cents"),
    )
    return (
        paired.groupBy("m")
        .agg(
            F.count("*").alias("prior_customers"),
            F.sum(F.expr("CASE WHEN cur_cents > 0 THEN 1 ELSE 0 END")).alias(
                "retained_customers"
            ),
            F.sum("prev_cents").alias("prior_cents"),
            F.sum(
                F.expr(
                    "CASE WHEN cur_cents > prev_cents"
                    " THEN cur_cents - prev_cents ELSE 0 END"
                )
            ).alias("expansion_cents"),
            F.sum(
                F.expr(
                    "CASE WHEN cur_cents = 0 THEN prev_cents ELSE 0 END"
                )
            ).alias("churned_cents"),
            F.sum(
                F.expr(
                    "CASE WHEN cur_cents > 0 AND cur_cents < prev_cents"
                    " THEN prev_cents - cur_cents ELSE 0 END"
                )
            ).alias("contraction_cents"),
            F.sum("cur_cents").alias("retained_rev_cents"),
        )
        .select(
            F.expr("m div 12").alias("year"),
            F.expr("m % 12 + 1").alias("month"),
            "prior_customers",
            "retained_customers",
            "prior_cents",
            "retained_rev_cents",
            "expansion_cents",
            "contraction_cents",
            "churned_cents",
            F.expr("retained_rev_cents * 10000 div prior_cents").alias(
                "nrr_bp"
            ),
            F.expr(
                "(prior_cents - churned_cents - contraction_cents)"
                " * 10000 div prior_cents"
            ).alias("grr_bp"),
        )
        .orderBy("year", "month")
    )


NET_REVENUE_RETENTION_SQL = """
WITH om AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
         SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
),
paired AS (
  SELECT p.m + 1 AS m, p.cents AS prev_cents,
         COALESCE(c.cents, 0) AS cur_cents
  FROM om p LEFT JOIN om c
    ON c.o_custkey = p.o_custkey AND c.m = p.m + 1
  WHERE p.m + 1 IN (SELECT DISTINCT m FROM om)
)
SELECT CAST(m // 12 AS BIGINT) AS year,
       CAST(m % 12 + 1 AS BIGINT) AS month,
       CAST(COUNT(*) AS BIGINT) AS prior_customers,
       CAST(SUM(CASE WHEN cur_cents > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS retained_customers,
       CAST(SUM(prev_cents) AS BIGINT) AS prior_cents,
       CAST(SUM(cur_cents) AS BIGINT) AS retained_rev_cents,
       CAST(SUM(CASE WHEN cur_cents > prev_cents
                THEN cur_cents - prev_cents ELSE 0 END) AS BIGINT)
         AS expansion_cents,
       CAST(SUM(CASE WHEN cur_cents > 0 AND cur_cents < prev_cents
                THEN prev_cents - cur_cents ELSE 0 END) AS BIGINT)
         AS contraction_cents,
       CAST(SUM(CASE WHEN cur_cents = 0 THEN prev_cents ELSE 0 END)
            AS BIGINT) AS churned_cents,
       CAST(SUM(cur_cents) * 10000 // SUM(prev_cents) AS BIGINT) AS nrr_bp,
       CAST((SUM(prev_cents)
             - SUM(CASE WHEN cur_cents = 0 THEN prev_cents ELSE 0 END)
             - SUM(CASE WHEN cur_cents > 0 AND cur_cents < prev_cents
                   THEN prev_cents - cur_cents ELSE 0 END))
            * 10000 // SUM(prev_cents) AS BIGINT) AS grr_bp
FROM paired
GROUP BY m
ORDER BY year, month
"""


_KCORE_MIN_SUP = 2  # co-purchase support threshold (B38/B80 edge rule)
_KCORE_MAX_ROUNDS = 30  # loud cap; peeling depth on these graphs <= ~12


def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C126 (round-8 addition): k-core of the co-purchase part graph —
    the density-based community backbone the graph trio (B79
    triangles, B80 PageRank, B99 connected components) doesn't give:
    the maximal subgraph where EVERY member keeps >= k co-purchase
    partners, the standard definition of a graph's cohesive core
    (Seidman 1983; the warm-up of every graph-mining pipeline).
    k is data-derived and stated: greatest(2, median initial degree
    div 2) — the ceil-rank median over the degree HISTOGRAM, which is
    VALUE-bounded (degrees, not nodes), collected and walked on the
    driver exactly like B118's histogram bisection.

    Algorithm: synchronous peeling — drop every node with in-core
    degree < k, recompute, repeat to the EXACT fixpoint (each round
    is two semi-joins + one count rollup, all co-partitioned on the
    node key). Convergence is checked (count unchanged), with a loud
    error past {mx} rounds rather than a silent truncation — the B99
    exact-termination discipline; peeling depth here is <= ~12. The
    oracle states the SAME stage recurrence as {mx} unrolled chained
    CTEs (idempotent after the fixpoint, so equality is exact), never
    a quadratic list-membership recursion.

    Output: every core member with its initial and in-core degree —
    the columns a community/recommendation stage consumes.

    At 100 TB: edges are B38's support-thresholded pairs (one
    order-co-partitioned self-join); each peel round shuffles only
    the |nodes| degree table; rounds = peeling depth, not corpus
    size.
    """.format(mx=_KCORE_MAX_ROUNDS)
    edges = _copurchase_edges(spark, sf_dir)
    deg0 = edges.groupBy("src").agg(F.count("*").alias("deg0"))
    # ceil-rank median from the VALUE-bounded degree histogram
    hist = sorted(
        (r["deg0"], r["n"])
        for r in deg0.groupBy("deg0").agg(F.count("*").alias("n")).collect()
    )
    if not hist:
        # degenerate input: the support threshold left no edges at all
        # (e.g. tiny scale factors) — the oracle's unrolled CTEs return
        # empty here too, so mirror that instead of hist[-1] crashing
        return spark.createDataFrame(
            [],
            "part_id long, initial_degree long, core_degree long, k long",
        )
    n_nodes = sum(n for _, n in hist)
    rank, med = (n_nodes + 1) // 2, hist[-1][0]
    acc = 0
    for d, n in hist:
        acc += n
        if acc >= rank:
            med = d
            break
    k = max(2, med // 2)
    # r11, scale-ADAPTIVE loop parallelism (guide §2.2/§2.6): every
    # peel round shuffles only the |edges|-bounded degree table, so its
    # partition count should track the DATA, not the core count — at
    # sf0.1 the graph is 7k edge rows and 32-way shuffles made the
    # ~12-round loop pure task-scheduling overhead (measured 5.2 s at
    # 32 partitions vs 2.5 s at 2, and the driver's 8-vs-32-core ratio
    # of 0.65 said the same). The edge-row count is already known from
    # the degree histogram (sum d*n — no extra job); one partition per
    # ~50k edge rows, floored at 2, never above the session default so
    # a real cluster run keeps its configured width.
    from ..io import shuffle_partitions

    n_edge_rows = sum(d * n for d, n in hist)
    cur_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(2, min(cur_parts, -(-n_edge_rows // 50_000)))
    with shuffle_partitions(spark, loop_parts):
        alive = deg0.select("src")
        n_alive = n_nodes
        for _ in range(_KCORE_MAX_ROUNDS):
            deg = (
                edges.join(alive, "src")
                .join(alive.withColumnRenamed("src", "dst"), "dst")
                .groupBy("src")
                .agg(F.count("*").alias("deg"))
            )
            # truncate lineage AND the logical plan each round (the B99
            # connected-components idiom): alive appears twice per round, so
            # without this the logical tree doubles per round and Catalyst
            # ANALYSIS alone goes exponential — measured 0.9 s -> 37 s by
            # round 6 with a mere persist (which caches data but not plans)
            deg = deg.localCheckpoint()
            nxt = deg.filter(F.col("deg") >= k).select("src")
            n_next = nxt.count()
            if n_next == n_alive:
                core_deg = deg.filter(F.col("deg") >= k)
                return (
                    core_deg.join(deg0, "src")
                    .select(
                        F.col("src").alias("part_id"),
                        F.col("deg0").alias("initial_degree"),
                        F.col("deg").alias("core_degree"),
                        F.lit(k).cast("long").alias("k"),
                    )
                    .orderBy("part_id")
                )
            alive, n_alive = nxt, n_next
            if n_alive == 0:
                return spark.createDataFrame(
                    [],
                    "part_id long, initial_degree long, core_degree long,"
                    " k long",
                )
    raise RuntimeError(
        f"kcore_decomposition: no fixpoint in {_KCORE_MAX_ROUNDS} rounds "
        "(peeling depth exceeded the documented cap; raise "
        "_KCORE_MAX_ROUNDS deliberately rather than truncating)"
    )


def _kcore_sql() -> str:
    stages = []
    prev = "a0"
    for i in range(1, _KCORE_MAX_ROUNDS + 1):
        stages.append(f"""
a{i} AS MATERIALIZED (
  SELECT e.src FROM edges e
  JOIN {prev} x ON x.src = e.src
  JOIN {prev} y ON y.src = e.dst
  GROUP BY e.src
  HAVING COUNT(*) >= (SELECT k FROM kk)
)""")
        prev = f"a{i}"
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SUP}
),
edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg0 AS (SELECT src, COUNT(*) AS deg0 FROM edges GROUP BY src),
medk AS (
  SELECT deg0 AS med FROM (
    SELECT deg0, ROW_NUMBER() OVER (ORDER BY deg0) AS rn,
           COUNT(*) OVER () AS n
    FROM deg0) t
  WHERE rn = (n + 1) // 2
),
kk AS (SELECT GREATEST(2, med // 2) AS k FROM medk),
a0 AS (SELECT src FROM deg0),{",".join(stages)}
SELECT f.src AS part_id,
       CAST(d.deg0 AS BIGINT) AS initial_degree,
       CAST(cd.core_degree AS BIGINT) AS core_degree,
       CAST((SELECT k FROM kk) AS BIGINT) AS k
FROM {prev} f
JOIN deg0 d ON d.src = f.src
JOIN (
  SELECT e.src, COUNT(*) AS core_degree FROM edges e
  JOIN {prev} x ON x.src = e.src
  JOIN {prev} y ON y.src = e.dst
  GROUP BY e.src
) cd ON cd.src = f.src
ORDER BY part_id
"""


KCORE_SQL = _kcore_sql()


_SLS_SERVICE_PCT = 95  # target cycle service level


def service_level_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B140 (round-8 addition): service-level stocking advisor — the
    newsvendor/base-stock answer an inventory planner actually sets:
    per part brand, the daily stock level that covers {p}% of demand
    days (the critical-fractile rule with the fractile stated as a
    cycle service level). B122's HHI says who supplies; B123's
    backlog says what's queued; this says how much to HOLD. All
    EXACT: the stock level is the ceil-rank {p}th-percentile order
    statistic of the brand's daily demand (B105/B113 discipline — a
    real observed day, never an interpolation), demand is exact
    integer units, and the readout carries the exact consequences of
    that choice: days short (demand above stock), their share in bp,
    the exact unmet units over the horizon, and the unmet share of
    total demand in bp — the fill-rate / cycle-service distinction
    every textbook makes, here as two exact columns.

    Plan: broadcast part dim; one (brand, day) rollup of the feed
    (map-side combined, the only feed-wide shuffle — the series is
    calendar-bounded per brand after it), ONE per-brand sort window
    for the rank statistic, one brand rollup of the consequences.
    Output |brands| rows.
    """.format(p=_SLS_SERVICE_PCT)
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("day", F.col("l_shipdate")).alias("day"),
        F.floor("l_quantity").cast("long").alias("qty"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "day")
        .agg(F.sum("qty").alias("demand"))
    )
    w = Window.partitionBy("p_brand").orderBy("demand", "day")
    ranked = daily.select(
        "p_brand",
        "demand",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("p_brand")).alias("n_days"),
    )
    stock = ranked.filter(
        F.col("rn")
        == F.expr(f"(n_days * {_SLS_SERVICE_PCT} + 99) div 100")
    ).select(
        "p_brand", F.col("demand").alias("stock_level"), "n_days"
    )
    return (
        daily.join(stock, "p_brand")
        .groupBy("p_brand")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("stock_level").alias("stock_level"),
            F.sum("demand").alias("total_demand"),
            F.sum((F.col("demand") > F.col("stock_level")).cast("long"))
            .alias("days_short"),
            F.sum(
                F.greatest(
                    F.col("demand") - F.col("stock_level"), F.lit(0)
                )
            ).alias("unmet_units"),
        )
        .select(
            "p_brand",
            "n_days",
            "stock_level",
            "total_demand",
            "days_short",
            F.expr("days_short * 10000 div n_days").alias(
                "days_short_bp"
            ),
            "unmet_units",
            F.expr("unmet_units * 10000 div total_demand").alias(
                "unmet_demand_bp"
            ),
        )
        .orderBy("p_brand")
    )


SERVICE_LEVEL_STOCK_SQL = f"""
WITH daily AS (
  SELECT p.p_brand, CAST(date_trunc('day', l.l_shipdate) AS TIMESTAMP)
           AS day,
         SUM(CAST(floor(l.l_quantity) AS BIGINT)) AS demand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT p_brand, demand,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY demand, day) AS rn,
         COUNT(*) OVER (PARTITION BY p_brand) AS n_days
  FROM daily
),
stock AS (
  SELECT p_brand, demand AS stock_level, n_days
  FROM ranked
  WHERE rn = (n_days * {_SLS_SERVICE_PCT} + 99) // 100
)
SELECT d.p_brand,
       CAST(MAX(s.n_days) AS BIGINT) AS n_days,
       CAST(MAX(s.stock_level) AS BIGINT) AS stock_level,
       CAST(SUM(d.demand) AS BIGINT) AS total_demand,
       CAST(SUM(CASE WHEN d.demand > s.stock_level THEN 1 ELSE 0 END)
            AS BIGINT) AS days_short,
       CAST(SUM(CASE WHEN d.demand > s.stock_level THEN 1 ELSE 0 END)
            * 10000 // MAX(s.n_days) AS BIGINT) AS days_short_bp,
       CAST(SUM(GREATEST(d.demand - s.stock_level, 0)) AS BIGINT)
         AS unmet_units,
       CAST(SUM(GREATEST(d.demand - s.stock_level, 0)) * 10000
            // SUM(d.demand) AS BIGINT) AS unmet_demand_bp
FROM daily d JOIN stock s ON s.p_brand = d.p_brand
GROUP BY d.p_brand
ORDER BY d.p_brand
"""


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B141 (round-9 addition): degree assortativity of the
    co-purchase part graph — the one summary statistic the graph trio
    (B79 triangles, B80 PageRank, B99 components, C126 k-core) leaves
    unanswered: do well-connected parts co-occur with other
    well-connected parts (r > 0, assortative hubs — bundle-able
    catalogs) or with peripherals (r < 0, hub-and-spoke)? Newman 2002
    eq. 4, computed over the SAME support-thresholded edge rule as
    C126/B80 so the statistic describes the graph the other operators
    analyze.

    Exactness: degrees are integers; over the symmetric directed edge
    list the Pearson moments (n, Σx, Σxy, Σx² with x the source
    degree; marginals equal by symmetry) are exact BIGINT sums — at
    this graph's bounds (deg ≤ ~10³, edges ≤ ~10⁶) n·Σxy ≤ ~10¹⁷,
    inside int64. The coefficient r = (nΣxy − (Σx)²)/(nΣx² − (Σx)²)
    is the ONLY double, derived per ROUND(·,6) from identical
    integers in both engines — no float accumulation anywhere.
    A degenerate graph (regular after thresholding: every surviving
    vertex the same degree, e.g. one surviving pair) makes the
    denominator 0; Spark's x/0 yields NULL where DuckDB's IEEE
    division yields NaN, so both engines state the guard explicitly:
    denominator = 0 → NULL (r is undefined on a regular graph).  The
    int64 bound above (n·Σxy ≤ ~10¹⁷) is an UNCHECKED precondition of
    the stated graph bounds — Spark wraps and DuckDB errors past it,
    so breaching it is loud in the oracle, silent here (ADVICE r9).

    Plan: B38's one order-co-partitioned self-join builds edges, one
    count rollup the degrees, one degree-join + single-row aggregate
    the moments. At 100 TB every stage is the k-core preamble the
    cluster already runs.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = (
        edges.join(deg, "src")
        .withColumnRenamed("deg", "dx")
        .join(deg.withColumnRenamed("src", "dst").withColumnRenamed("deg", "dy"), "dst")
    )
    m = ed.agg(
        F.count("*").alias("n_edges_directed"),
        F.sum("dx").alias("sum_deg"),
        F.sum(F.col("dx") * F.col("dy")).alias("sum_prod"),
        F.sum(F.col("dx") * F.col("dx")).alias("sum_sq"),
    )
    return m.select(
        "n_edges_directed",
        "sum_deg",
        "sum_prod",
        "sum_sq",
        F.when(
            F.col("n_edges_directed") * F.col("sum_sq")
            == F.col("sum_deg") * F.col("sum_deg"),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (
                    F.col("n_edges_directed") * F.col("sum_prod")
                    - F.col("sum_deg") * F.col("sum_deg")
                )
                / (
                    F.col("n_edges_directed") * F.col("sum_sq")
                    - F.col("sum_deg") * F.col("sum_deg")
                ),
                6,
            )
        )
        .alias("assortativity"),
    )


DEGREE_ASSORTATIVITY_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SUP}
),
edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
m AS (
  SELECT COUNT(*) AS n_edges_directed,
         SUM(dx.deg) AS sum_deg,
         SUM(dx.deg * dy.deg) AS sum_prod,
         SUM(dx.deg * dx.deg) AS sum_sq
  FROM edges e
  JOIN deg dx ON dx.src = e.src
  JOIN deg dy ON dy.src = e.dst
)
SELECT CAST(n_edges_directed AS BIGINT) AS n_edges_directed,
       CAST(sum_deg AS BIGINT) AS sum_deg,
       CAST(sum_prod AS BIGINT) AS sum_prod,
       CAST(sum_sq AS BIGINT) AS sum_sq,
       CASE WHEN n_edges_directed * sum_sq - sum_deg * sum_deg = 0
            THEN NULL
            ELSE ROUND(
              CAST(n_edges_directed * sum_prod - sum_deg * sum_deg AS DOUBLE)
              / CAST(n_edges_directed * sum_sq - sum_deg * sum_deg AS DOUBLE),
              6)
       END AS assortativity
FROM m
"""


def repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B142 (round-9 addition): repeat-purchase cadence per market
    segment — the retention metric B115's cohort LTV (revenue) and
    B63's RFM (latest state) both skip: for customers with >= 2
    orders, the day gaps between CONSECUTIVE orders, rolled up per
    segment as exact count / mean / median / p90. The purchasing-team
    question it answers: how long until a live customer reorders, and
    does that differ by segment (replenishment sizing, win-back
    timer placement).

    Exactness: gaps are integer datediffs over the per-customer
    (o_orderdate, o_orderkey) order; mean is exact milli-days by
    floor division; median and p90 are ceil-rank order statistics
    computed from a (segment, gap_days) HISTOGRAM — VALUE-bounded
    (≤ |segments| × ~2500 distinct gaps), so the rank walk is a
    cumulative-sum window over the histogram (the C126/B118 idiom),
    never a row-level global sort.

    Plan: one (custkey) rollup-free window over orders (the only
    customer-wide shuffle), one histogram rollup, one |histogram|-row
    window. Output |segments| rows.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            F.lag("o_orderdate").over(w).alias("prev_date"),
        )
        .filter(F.col("prev_date").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "prev_date").alias("gap_days"),
        )
        .join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
                )
            ),
            "o_custkey",
        )
    )
    hist = gaps.groupBy("c_mktsegment", "gap_days").agg(
        F.count("*").alias("cnt")
    )
    hw = Window.partitionBy("c_mktsegment").orderBy("gap_days")
    seg_w = Window.partitionBy("c_mktsegment")
    ranked = hist.select(
        "c_mktsegment",
        "gap_days",
        "cnt",
        F.sum("cnt").over(hw).alias("cum"),
        F.sum("cnt").over(seg_w).alias("n"),
        F.sum(F.col("cnt") * F.col("gap_days")).over(seg_w).alias(
            "total_days"
        ),
    )
    # ceil-rank order statistics via integer cross-multiplication:
    # median = smallest gap with cum*2 >= n, p90 with cum*10 >= 9n
    med = (
        ranked.filter((F.col("cum") - F.col("cnt")) * 2 < F.col("n"))
        .filter(F.col("cum") * 2 >= F.col("n"))
        .select("c_mktsegment", F.col("gap_days").alias("median_gap_days"))
    )
    p90 = (
        ranked.filter(
            (F.col("cum") - F.col("cnt")) * 10 < F.col("n") * 9
        )
        .filter(F.col("cum") * 10 >= F.col("n") * 9)
        .select("c_mktsegment", F.col("gap_days").alias("p90_gap_days"))
    )
    base = ranked.groupBy("c_mktsegment").agg(
        F.first("n").alias("n_gaps"),
        F.expr("first(total_days) * 1000 div first(n)").alias(
            "mean_gap_millidays"
        ),
    )
    return (
        base.join(med, "c_mktsegment")
        .join(p90, "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_gaps",
            "mean_gap_millidays",
            "median_gap_days",
            "p90_gap_days",
        )
        .orderBy("c_mktsegment")
    )


REPEAT_PURCHASE_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders
),
seg AS (
  SELECT c.c_mktsegment, g.gap_days
  FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
  WHERE g.gap_days IS NOT NULL
),
hist AS (
  SELECT c_mktsegment, gap_days, COUNT(*) AS cnt
  FROM seg GROUP BY 1, 2
),
ranked AS (
  SELECT c_mktsegment, gap_days, cnt,
         SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY gap_days) AS cum,
         SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n,
         SUM(cnt * gap_days) OVER (PARTITION BY c_mktsegment) AS total_days
  FROM hist
)
SELECT r.c_mktsegment,
       CAST(ANY_VALUE(r.n) AS BIGINT) AS n_gaps,
       CAST(ANY_VALUE(r.total_days) * 1000 // ANY_VALUE(r.n) AS BIGINT)
         AS mean_gap_millidays,
       CAST(ANY_VALUE(m.gap_days) AS BIGINT) AS median_gap_days,
       CAST(ANY_VALUE(p.gap_days) AS BIGINT) AS p90_gap_days
FROM ranked r
JOIN ranked m ON m.c_mktsegment = r.c_mktsegment
   AND (m.cum - m.cnt) * 2 < m.n AND m.cum * 2 >= m.n
JOIN ranked p ON p.c_mktsegment = r.c_mktsegment
   AND (p.cum - p.cnt) * 10 < p.n * 9 AND p.cum * 10 >= p.n * 9
GROUP BY r.c_mktsegment
ORDER BY r.c_mktsegment
"""
