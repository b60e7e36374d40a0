"""Steadiness check: run one or more workloads over several seeds and
report, per end-to-end metric, the quartile spread (Q3 - Q1) / median
together with each run's hypervisor steal.

    python3 perfbench/steady.py --workloads cdc_trickle olap_tpch \\
        --seeds 1 2 3 4 5 --out perfbench/results/set_a.json

Compare two such sets of the same code: each metric's spread in both
sets, the change of the median from the first to the second, and the
correlation of each run's latency with its steal.

    python3 perfbench/steady.py --compare set_a.json set_b.json --out summary.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    return {
        "seed": seed,
        "wall_s": time.perf_counter() - t0,
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "correct": result["correct"],
        "setup_steal_pct": detail["setup_steal_pct"],
        "run_steal_pct": detail["untraced"]["steal_pct"],
        "sample_steal_pct": detail["untraced"]["sample_steal_pct"],
    }


def compare(path_a: str, path_b: str) -> dict:
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    out = {}
    for w in a["workloads"]:
        runs = a["workloads"][w]["runs"] + b["workloads"][w]["runs"]
        steal = [r["run_steal_pct"] for r in runs]
        rows = {}
        for name, sa in a["workloads"][w]["summary"].items():
            sb = b["workloads"][w]["summary"][name]
            worse = sb["median"] / sa["median"] - 1.0
            if name == "throughput_per_s":
                worse = sa["median"] / sb["median"] - 1.0
            rows[name] = {
                "spread_a": sa["spread"], "spread_b": sb["spread"],
                "median_a": sa["median"], "median_b": sb["median"],
                "b_worse_by": worse, "bound": sa["bound"],
                "steal_corr": statistics.correlation(
                    steal, [r["metrics"][name] for r in runs]),
            }
            print(f"{w} {name}: spread {sa['spread']:.3f} / {sb['spread']:.3f},"
                  f" median {sa['median']:.4g} -> {sb['median']:.4g} ({worse:+.3f}),"
                  f" bound {sa['bound']}, steal corr {rows[name]['steal_corr']:+.2f}")
        out[w] = {"run_steal_pct": {"min": min(steal), "median": statistics.median(steal),
                                    "max": max(steal)}, "metrics": rows}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", nargs="+", type=int)
    ap.add_argument("--compare", nargs=2, metavar=("SET_A", "SET_B"))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.compare:
        with open(args.out, "w") as f:
            json.dump(compare(*args.compare), f, indent=1)
        return 0
    if not (args.workloads and args.seeds):
        ap.error("--workloads and --seeds are required unless --compare is given")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"seconds": seconds, "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            runs.append(run_once(w, seed, seconds))
            print(w, seed, json.dumps(runs[-1]["metrics"]), flush=True)
        summary = {}
        for name in bounds:
            vals = [r["metrics"][name] for r in runs]
            summary[name] = {
                "median": statistics.median(vals),
                "spread": spread(vals),
                "bound": bounds[name],
            }
            print(f"  {name}: median {summary[name]['median']:.4g}"
                  f" spread {summary[name]['spread']:.3f} (bound {bounds[name]})", flush=True)
        report["workloads"][w] = {"summary": summary, "runs": runs}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
