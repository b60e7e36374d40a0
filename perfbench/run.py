"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Prints a detail line, then, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. Exits non-zero on a correctness mismatch (after printing
the result) or on any other failure (without printing one).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# span names the CDC workloads record (see cdc.instrument)
CDC_SPANS = {"poll", "process_batch", "probe.parse", "probe.merge", "probe.rejected",
             "store.read", "store.commit", "watermark"}


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    from perfbench import host

    kids = [p for p in host.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.05)


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, int]:
    from perfbench import engine, host
    from perfbench.cdc import Backfill, Mismatch, Trickle
    from perfbench.olap import Olap
    from perfbench.trace import Tracer

    spec = _load_spec()
    classes = {"cdc_trickle": Trickle, "cdc_backfill": Backfill, "olap_tpch": Olap}
    work = os.path.join(ROOT, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = wl = None
    detail: dict = {"workload": workload, "seed": seed, "seconds": seconds}
    try:
        st0 = host.cpu_ticks()
        t0 = time.perf_counter()
        spark, session_s = engine.start_session(ROOT, work)
        jobs = engine.JobStats(spark)
        wl = classes[workload](spark, work, seed, jobs)
        wl.setup()
        setup_s = time.perf_counter() - t0
        detail["setup_steal_pct"] = host.steal_pct(st0, host.cpu_ticks())
        untraced = wl.measure(seconds)
        wl.verify()
        detail["untraced"] = untraced
        if trace:
            tracer = Tracer(jobs.next_job)
            traced = wl.measure(seconds, tracer)
            wl.verify()
            detail["traced"] = {k: v for k, v in traced.items() if k != "passes"}
            layers = {m["name"]: 0 for m in spec["per_layer"]}
            layers.update(wl.per_layer(untraced, traced, tracer))
            layers.update({
                "session.start_s": session_s,
                "host.steal_pct": untraced["steal_pct"],
                "trace.cdc_spans": sum(s.name in CDC_SPANS for s in tracer.spans),
            })
            metrics = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            e2e = wl.end_to_end(untraced)
            e2e["setup_s"] = setup_s
            e2e["peak_rss_mb"] = host.tree_peak_rss_mb(host.tree_pids())
            metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        correct, code = True, 0
    except Mismatch as e:
        print(f"correctness mismatch: {e}", file=sys.stderr)
        wl.failed += 1
        metrics, units, correct, code = {}, {}, False, 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps({"detail": detail}, default=float))
    return result, code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_trickle", "cdc_backfill", "olap_tpch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import greenplum_cdc_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    try:
        result, code = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 - report any crash as a failed run
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
