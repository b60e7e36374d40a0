"""Scaling probe: run the `queries()` entries at 1x and 10x data and
report the wall-time ratio. A linear-ish operator shows ratio ~10 (or
less, when fixed overheads dominate at 1x); a quadratic one shows ~100
and breaks the 100 TB design rules.

Synthesizes the 10x inputs by unioning shifted copies of the sf0.1
tables into /tmp (never touches /root/testdata). Usage:

    python tools/scale_probe.py [sf_dir] [op ...] [--warm] [--keep]

With no op it probes every `__spark_entry__.queries()` entry (all 322),
in gate order; name ops to probe only those. --keep leaves the
synthesized corpus in place for the next invocation.

COLD-vs-COLD is the default (round 8, VERDICT r7 item 5): the
_swap_persist slots, the one memo layer (`memo.py`) and the Spark
cache are cleared before EVERY timed run, so the 1x
denominator can never ride a memoized index that the bigger run must
rebuild.  The round-7 sweep produced two false super-linear alarms
exactly this way (lsh_band_tuning "222x", hard_negative_mining "137x"
— both ~50x once decomposed cold-vs-cold).  One un-timed warm-up run
still precedes the measurements to absorb JVM/py4j/codegen start-up;
its caches are then dropped.  Pass --warm for the legacy behavior
(useful to measure the memoized steady-state itself).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from greenplum_cdc_spark.io import load_table  # noqa: E402
from greenplum_cdc_spark.session import get_spark  # noqa: E402

MULT = int(os.environ.get("SCALE_PROBE_MULT", "10"))


def synthesize(spark, sf_dir: str, out_dir: str) -> None:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    copies = None
    for i in range(MULT):
        # shift ids; salt the text of non-first copies so dedup sees
        # mostly-distinct docs (pure duplication would be trivially easy)
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_docs))
        if i:
            # salt EVERY token so copies are distinct documents: the
            # probe must measure corpus-size scaling at a constant
            # duplicate rate, not an answer-size explosion (10 mutual
            # near-dups per doc makes the true pair count itself ~100x).
            c = c.withColumn("text", F.regexp_replace("text", " ", f"{i} "))
        copies = c if copies is None else copies.unionByName(c)
    copies.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    ev = load_table(spark, sf_dir, "events")
    n_ev = ev.count()
    stack = None
    for i in range(MULT):
        c = ev.withColumn("event_id", F.col("event_id") + F.lit(i * n_ev))
        stack = c if stack is None else stack.unionByName(c)
    stack.write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))

    vecs = load_table(spark, sf_dir, "embeddings")
    n_vec = vecs.count()
    vstack = None
    for i in range(MULT):
        c = vecs.withColumn("vec_id", F.col("vec_id") + F.lit(i * n_vec))
        if i:
            # rotate one dim so copies are distinct vectors
            c = c.withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, j) -> CASE WHEN j = {i % 64} "
                    "THEN CAST(-x AS FLOAT) ELSE x END)"
                ),
            )
        vstack = c if vstack is None else vstack.unionByName(c)
    vstack.write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))

    orders = load_table(spark, sf_dir, "orders")
    max_ord = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    ostack = None
    for i in range(MULT):
        c = orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * max_ord))
        ostack = c if ostack is None else ostack.unionByName(c)
    ostack.write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))

    li = load_table(spark, sf_dir, "lineitem")
    max_ok = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    lstack = None
    for i in range(MULT):
        # shift order keys: 10x the orders at constant basket size, so a
        # linear-in-orders operator should show ~10x, not a pair blowup
        c = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok))
        lstack = c if lstack is None else lstack.unionByName(c)
    lstack.write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))

    cust = load_table(spark, sf_dir, "customer")
    max_ck = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    cstack = None
    for i in range(MULT):
        c = cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * max_ck))
        cstack = c if cstack is None else cstack.unionByName(c)
    cstack.write.mode("overwrite").parquet(os.path.join(out_dir, "customer.parquet"))

    part = load_table(spark, sf_dir, "part")
    max_pk = part.agg(F.max("p_partkey")).collect()[0][0] + 1
    pstack = None
    for i in range(MULT):
        # names deliberately unchanged: fuzzy matching must show its
        # distinct-entity collapse (10x rows, constant name set)
        c = part.withColumn("p_partkey", F.col("p_partkey") + F.lit(i * max_pk))
        pstack = c if pstack is None else pstack.unionByName(c)
    pstack.write.mode("overwrite").parquet(os.path.join(out_dir, "part.parquet"))

    # dimension tables stay 1x (that is their 100 TB reality too)
    for t in ("region", "nation", "supplier"):
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet")
        )


def timed(fn, spark, d) -> float:
    t0 = time.perf_counter()
    fn(spark, d).write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 2)


def reset_caches(spark) -> None:
    """Drop every library-level memo a previous run may have left:
    the _swap_persist slots (cached index relations), every value of
    the one memo layer (`memo.py`: inferred table schemas, bucketed
    tables, cluster labels, quantizer training, query sides and the
    scratch feeds, which the next run writes again), and Spark's own
    cache registry."""
    from greenplum_cdc_spark import memo
    from greenplum_cdc_spark.operators import dedup

    for df in list(dedup._PERSIST_CACHE.values()):
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — best-effort teardown
            pass
    dedup._PERSIST_CACHE.clear()
    memo.clear()
    spark.catalog.clearCache()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    warm = "--warm" in sys.argv[1:]
    keep = "--keep" in sys.argv[1:]  # keep the synthesized corpus for
    # the next invocation (multi-batch probe sessions re-use it)
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    big_dir = f"/tmp/scale_probe_{MULT}x"
    spark = get_spark("scale-probe")
    if not (os.path.isdir(big_dir) and len(os.listdir(big_dir)) >= 10):
        synthesize(spark, sf_dir, big_dir)
    only = set(args[1:])
    mode = "warm" if warm else "cold"
    print(f"op,t_1x_s,t_{MULT}x_s,ratio  # mode={mode}")
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        timed(fn, spark, sf_dir)  # warm plan/code paths
        if not warm:
            reset_caches(spark)
        t1 = timed(fn, spark, sf_dir)
        if not warm:
            reset_caches(spark)
        t10 = timed(fn, spark, big_dir)
        print(f"{name},{t1},{t10},{round(t10 / max(t1, 0.01), 1)}")
    if not keep:
        shutil.rmtree(big_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
