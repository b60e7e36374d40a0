"""`olap_tpch`: one client runs whole passes over the TPC-H `q*` plans
of `plans.tpch` on seeded TPC-H-shaped tables, and checks each result
against its DuckDB oracle."""

from __future__ import annotations

import decimal
import math
import os
import time

import pyspark.sql.functions as F

from greenplum_cdc_spark.io import load_table
from greenplum_cdc_spark.plans import tpch

from . import gen, host
from .cdc import Mismatch
from .stats import TAIL_PCT, median, pct, quiet
from .trace import Tracer, children


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime().replace(tzinfo=None)
    return v


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, repr(x)) for x in r))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def compare(spark_pdf, duck_pdf) -> str | None:
    """None when equal up to row order and 1e-9 relative float error."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} != {len(duck_pdf)}"
    for r1, r2 in zip(_rows(spark_pdf), _rows(duck_pdf)):
        if not all(_same(a, b) for a, b in zip(r1, r2)):
            return f"first differing row {r1} != {r2}"
    return None


class Olap:
    """Closed loop, one client, whole passes over the TPC-H plans."""

    SCALE = 0.01
    WARM_PASSES = 4
    READS = 3  # lineitem aggregates after each pass
    # Five of the 22 plans, so that a warm pass fits twice in a 10 s run:
    # an aggregation, a 3-way join with top-k, a 6-way join over broadcast
    # dimensions, an outer join under a nested group-by, an IN-subquery.
    QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "q5_supplier_volume",
               "q13_customer_distribution", "q18_large_volume")

    def __init__(self, spark, work: str, seed: int, jobs):
        self.spark, self.jobs = spark, jobs
        self.data = os.path.join(work, "tpch")
        gen.write_tpch(self.data, seed, self.SCALE)
        self.attempted = self.failed = 0
        self.results: dict = {}

    def _read(self) -> tuple[float, float]:
        """The fixed analyst aggregate over lineitem: (wall, steal %)."""
        a = host.cpu_ticks()
        t0 = time.perf_counter()
        row = load_table(self.spark, self.data, "lineitem").agg(
            F.count("*"), F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        ).collect()[0]
        dt = time.perf_counter() - t0
        self.read_result = (row[0], float(row[1]))
        return dt, host.steal_pct(a, host.cpu_ticks())

    def _pass(self, tracer: Tracer | None) -> dict:
        out = {"construct": [], "exec": [], "query": [], "steal": []}
        for name in self.QUERIES:
            fn = getattr(tpch, name)
            self.attempted += 1
            a = host.cpu_ticks()
            t0 = time.perf_counter()
            if tracer is None:
                df = fn(self.spark, self.data)
                t1 = time.perf_counter()
                pdf = df.toPandas()
            else:
                with tracer.span(f"tpch.{name}"):
                    with tracer.span("construct"):
                        df = fn(self.spark, self.data)
                    t1 = time.perf_counter()
                    with tracer.span("exec"):
                        pdf = df.toPandas()
            t2 = time.perf_counter()
            self.results[name] = pdf
            out["construct"].append(t1 - t0)
            out["exec"].append(t2 - t1)
            out["query"].append(t2 - t0)
            out["steal"].append(host.steal_pct(a, host.cpu_ticks()))
        return out

    def setup(self) -> None:
        for _ in range(self.WARM_PASSES):
            self._pass(None)
            self._read()

    def measure(self, seconds: float, tracer: Tracer | None = None) -> dict:
        passes, walls, reads, read_steal, steal, traced = [], [], [], [], [], []
        st0, cpu0 = host.cpu_ticks(), host.tree_cpu_s(host.tree_pids())
        t_end = time.perf_counter() + seconds
        min_ops = 1 if tracer is None else 2
        while len(walls) < min_ops or time.perf_counter() + walls[-1] + sum(
                reads[-self.READS:]) <= t_end:
            a = host.cpu_ticks()
            t0 = time.perf_counter()
            trace_this = tracer is not None and len(passes) % 2 == 1
            traced.append(trace_this)
            if not trace_this:
                p = self._pass(None)
            else:
                tracer.op = len(passes)
                with tracer.span("pass"):
                    p = self._pass(tracer)
            walls.append(time.perf_counter() - t0)
            steal.append(host.steal_pct(a, host.cpu_ticks()))
            passes.append(p)
            for _ in range(self.READS):
                dt, dt_steal = self._read()
                reads.append(dt)
                read_steal.append(dt_steal)
        cpu1, st1 = host.tree_cpu_s(host.tree_pids()), host.cpu_ticks()
        return {
            "passes": passes, "pass_walls": walls, "queries": reads,
            "query_steal_pct": read_steal, "sample_steal_pct": steal, "traced": traced,
            "cpu_s": cpu1 - cpu0, "steal_pct": host.steal_pct(st0, st1),
        }

    def verify(self) -> None:
        """The last pass's results and the read query against DuckDB."""
        import duckdb
        import __spark_entry__

        oracle = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data, t)}.parquet'")
            for name in self.QUERIES:
                problem = compare(self.results[name], con.execute(oracle[name]).fetchdf())
                if problem:
                    raise Mismatch(f"{name}: {problem}")
            n, s = con.execute(
                "SELECT count(*), sum(CAST(l_extendedprice AS DECIMAL(12,2))) FROM lineitem"
            ).fetchone()
            if (n, float(s)) != self.read_result:
                raise Mismatch(f"lineitem read {self.read_result} != {(n, float(s))}")
        finally:
            con.close()

    @staticmethod
    def end_to_end(m: dict) -> dict:
        """Query latency, queries per second of pass wall and read time,
        each over the samples `stats.quiet` keeps."""
        q = quiet([t for p in m["passes"] for t in p["query"]],
                  [s for p in m["passes"] for s in p["steal"]])
        rate = quiet([len(p["query"]) / w for p, w in zip(m["passes"], m["pass_walls"])],
                     m["sample_steal_pct"])
        return {
            "latency_p50_s": median(q),
            "latency_tail_s": pct(q, TAIL_PCT),
            "throughput_per_s": median(rate),
            "read_p50_s": median(quiet(m["queries"], m["query_steal_pct"])),
        }

    def per_layer(self, untraced: dict, traced: dict, tracer: Tracer) -> dict:
        spans = tracer.spans
        rows = []
        for p in (s for s in spans if s.name == "pass"):
            qs = children(spans, p)
            cons = [c for q in qs for c in children(spans, q, "construct")]
            rows.append({
                "construct_s": sum(c.dur for c in cons),
                "construct_jobs": sum(c.job1 - c.job0 for c in cons),
                "exec_s": sum(e.dur for q in qs for e in children(spans, q, "exec")),
                "engine": self.jobs.jobs(p.job0, p.job1),
                "wall_s": p.dur,
            })

        def med(key):
            return median([r[key] for r in rows])

        def med_engine(key):
            return median([r["engine"][key] for r in rows])

        plain = [w for w, t in zip(traced["pass_walls"], traced["traced"]) if not t]
        return {
            "plans.tpch.construct_s": med("construct_s"),
            "plans.tpch.construct_jobs": med("construct_jobs"),
            "plans.tpch.exec_s": med("exec_s"),
            "plans.tpch.shuffle_bytes": med_engine("shuffle_bytes"),
            "plans.tpch.pass_wall_s": med("wall_s"),
            "engine.tasks": med_engine("tasks"),
            "engine.executor_cpu_s": med_engine("executor_cpu_s"),
            "engine.gc_s": med_engine("gc_s"),
            "trace.overhead_pct": 100.0 * (med("wall_s") / median(plain) - 1.0),
        }
