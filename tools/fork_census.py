"""Fork census of CDC polls: the processes the driver JVM starts per
micro-batch, by command and by the first Spark frame that asked.

Without Hadoop's native library, local file operations such as
`readlink` and `chmod` run as child processes. Each one is a fork and
an exec on the poll's critical path. This tool drives a `CDCPipeline`
over generated Maxwell files, one file per poll, while a JFR recording
(`jcmd <pid> JFR.start`, on this tool's own driver JVM) captures every
`jdk.ProcessStart` event. It prints:

- forks per poll, by command and by the first `org.apache.spark` frame
  on the forking stack;
- the `durationMs` phases and `numInputRows` of the last poll;
- the median poll wall.

A bootstrap poll loads `--keys` inserts and `--warmup` polls run before
the recording starts; everything lives in a temporary directory that is
removed at the end.

Usage:
    python tools/fork_census.py [--polls 30] [--events 1000] [--keys 50000]
                                [--warmup 5] [--cpus N] [--seed 1]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from greenplum_cdc_spark.session import get_spark  # noqa: E402
from greenplum_cdc_spark.streaming.pipeline import CDCPipeline  # noqa: E402


def maxwell_file(
    path: str, rng: random.Random, n: int, keys: int, seq0: int, inserts: bool = False
) -> None:
    """`n` Maxwell DML lines over keys [0, keys): all inserts when
    `inserts`, else 80% updates, 10% inserts, 8% deletes and 2%
    PK-changing updates to a fresh key."""
    ts0 = 1_700_000_000 + seq0
    lines = []
    for i in range(n):
        seq = seq0 + i
        pk = i if inserts else rng.randrange(keys)
        r = rng.random()
        typ, data, old = "update", {"id": pk, "v": seq}, {"v": seq - 1}
        if inserts or 0.80 <= r < 0.90:
            typ, old = "insert", None
        elif 0.90 <= r < 0.98:
            typ, old = "delete", None
        elif r >= 0.98:
            data, old = {"id": keys + seq, "v": seq}, {"id": pk}
        ev = {"database": "shop", "table": "album", "type": typ, "ts": ts0 + i // 100,
              "xid": seq, "data": data}
        if old is not None:
            ev["old"] = old
        lines.append(json.dumps(ev))
    # written beside the input directory, then renamed into it: the
    # file source never lists a half-written file
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), os.path.basename(path))
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


class LastProgress(StreamingQueryListener):
    """Keeps the progress of the most recent micro-batch."""

    progress = None

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress = event.progress

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def spark_caller(frames: list[dict]) -> str:
    """`Class.method` of the innermost `org.apache.spark` frame that is
    not a lambda."""
    for f in frames:
        cls = f["method"]["type"]["name"].replace("/", ".")
        if cls.startswith("org.apache.spark") and "$$Lambda" not in cls:
            return f"{cls.rsplit('.', 1)[-1]}.{f['method']['name']}"
    return "(no Spark frame)"


def process_starts(jfr_file: str) -> list[dict]:
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart",
         jfr_file],
        check=True, capture_output=True, text=True,
    ).stdout
    return [e["values"] for e in json.loads(out)["recording"]["events"]]


def census(polls: int, events: int, keys: int, warmup: int, cpus: int, seed: int) -> None:
    spark = get_spark("fork_census", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    listener = LastProgress()
    spark.streams.addListener(listener)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    rng = random.Random(seed)
    work = tempfile.mkdtemp(prefix="fork_census_")
    try:
        in_dir = os.path.join(work, "stage", "in")
        os.makedirs(in_dir)
        pipe = CDCPipeline(spark, os.path.join(work, "replica"))
        ckpt = os.path.join(work, "ckpt")
        seq = 0

        def poll(inserts: bool = False) -> float:
            nonlocal seq
            n = keys if inserts else events
            maxwell_file(os.path.join(in_dir, f"f{seq:012d}.json"), rng, n, keys, seq, inserts)
            seq += n
            t0 = time.perf_counter()
            pipe.run_available(in_dir, ckpt)
            return time.perf_counter() - t0

        poll(inserts=True)
        for _ in range(warmup):
            poll()
        jfr_file = os.path.join(work, "census.jfr")
        subprocess.run(["jcmd", str(pid), "JFR.start", "name=fork_census"],
                       check=True, capture_output=True)
        try:
            walls = [poll() for _ in range(polls)]
        finally:
            subprocess.run(["jcmd", str(pid), "JFR.stop", "name=fork_census",
                            f"filename={jfr_file}"], check=True, capture_output=True)
        bus.waitUntilEmpty()
        starts = process_starts(jfr_file)
        last = listener.progress
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    by_cmd = Counter(os.path.basename(s["command"].split()[0]) for s in starts)
    by_caller = Counter(spark_caller(s["stackTrace"]["frames"]) for s in starts)
    print(f"polls {polls} x {events} events into {keys} keys, cpus {cpus}")
    print(f"median poll wall {statistics.median(walls):.3f} s")
    print(f"forks per poll {len(starts) / polls:.2f} (total {len(starts)})")
    print("by command:")
    for cmd, n in by_cmd.most_common():
        print(f"  {n / polls:7.2f}  {cmd}")
    print("by first Spark caller:")
    for caller, n in by_caller.most_common():
        print(f"  {n / polls:7.2f}  {caller}")
    if last is not None:
        print(f"last poll: numInputRows {last.numInputRows}")
        print("  durationMs " + json.dumps(dict(sorted(last.durationMs.items()))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--polls", type=int, default=30)
    ap.add_argument("--events", type=int, default=1000)
    ap.add_argument("--keys", type=int, default=50_000)
    ap.add_argument("--warmup", type=int, default=5)
    # half the CPUs, as perfbench sizes `local[N]`: the file count of a
    # replica version, and so its forks, follows the task slots
    ap.add_argument("--cpus", type=int, default=max(1, len(os.sched_getaffinity(0)) // 2))
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    census(a.polls, a.events, a.keys, a.warmup, a.cpus, a.seed)


if __name__ == "__main__":
    main()
