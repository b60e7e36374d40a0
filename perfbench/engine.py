"""Spark session set-up for the benchmark and job metrics from the
status store (which Spark keeps with the UI turned off)."""

from __future__ import annotations

import os
import shlex
import time

_HEAP = "1g"

# retain every job and stage of a run so spans can be resolved at the end
_SUBMIT_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.showConsoleProgress": "false",
}


def task_threads() -> int:
    """Task threads for `local[N]`: half the CPUs this process may run on.

    The other half is left to the JVM's JIT and GC threads and to the
    Python driver. On a 4-vCPU host, four interleaved `cdc_backfill`
    runs each read 3.20-3.35 s with `local[2]` and 2.48-3.23 s with
    `local[4]`: a little slower, five times steadier.
    """
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(root: str, work: str):
    """Start the package's tuned session with every scratch path inside
    `work` and `task_threads()` task threads. Returns (spark, seconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = dict(_SUBMIT_CONF)
    # a fixed-size heap keeps the JVM's peak RSS from following GC timing
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{_HEAP}"
    )
    conf["spark.local.dir"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _HEAP
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from greenplum_cdc_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=task_threads())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


class JobStats:
    """Reads Spark's next job id and per-job stage metrics."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def jobs(self, job0: int, job1: int, skip: list[tuple[int, int]] = ()) -> dict:
        """Summed stage metrics of jobs job0 <= id < job1, leaving out the
        id ranges in `skip` (probe re-executions nested in the span)."""
        out = {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_bytes": 0}
        for j in range(job0, job1):
            if any(a <= j < b for a, b in skip):
                continue
            out["jobs"] += 1
            stages = self._store.job(j).stageIds().mkString(",")
            for sid in (int(x) for x in stages.split(",") if x):
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += st.numTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        return out
