"""The two CDC workloads: `cdc_trickle` (open loop, small files into a
large replica) and `cdc_backfill` (closed loop, one large backlog into an
empty replica). Both drive `CDCPipeline.run_available` and check the
replica against `gen.Replay`."""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from collections.abc import Callable

import pyspark.sql.functions as F

from greenplum_cdc_spark.operators.cdc import apply_incremental, snapshot_latest
from greenplum_cdc_spark.sources.maxwell import DML_OPS, parse_maxwell
from greenplum_cdc_spark.streaming.pipeline import CDCPipeline, ReplicaStore

from . import gen, host
from .stats import TAIL_PCT, count_files, dir_bytes, median, pct, quiet
from .trace import Tracer, children, descendants, self_times


class Mismatch(Exception):
    """The replica disagrees with the replay oracle."""


def replica_query(store: ReplicaStore) -> dict:
    """The analyst's fixed aggregate over the live replica; its result is
    also the correctness check (row count, checksum, high watermark)."""
    row = store.read().agg(
        F.count("*").alias("rows"),
        F.sum(F.expr(gen.checksum_sql())).alias("checksum"),
        F.max("ts").cast("long").alias("max_ts"),
    ).collect()[0]
    return row.asDict()


def check(replay: gen.Replay, got: dict) -> None:
    want = replay.summary()
    if got != want:
        raise Mismatch(f"replica {got} != replay {want}")


def check_watermark(store: ReplicaStore, replay: gen.Replay) -> None:
    """The persisted `maxwell_ts` analog must match the replay."""
    spark = store.spark
    row = spark.read.parquet(os.path.join(store.path, "_watermark")).agg(
        F.max("high_watermark_ts").cast("long").alias("max_ts"),
        F.sum("n_applied").alias("rows"),
    ).collect()[0]
    want = replay.summary()
    if (row["max_ts"], row["rows"]) != (want["max_ts"], want["rows"]):
        raise Mismatch(f"watermark {row.asDict()} != replay {want}")


def applied_files(ckpt: str) -> set[str]:
    """Basenames of every file the stream's file source has committed."""
    log = os.path.join(ckpt, "sources", "0")
    out: set[str] = set()
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    out.add(os.path.basename(json.loads(line)["path"]))
    return out


def instrument(pipe: CDCPipeline, tracer: Tracer) -> Callable[[], None]:
    """Bind span wrappers on this pipeline and store instance; returns
    the function that unbinds them. Each batch first re-runs its parse
    and its merge into a `noop` sink so the fused Spark job can be split
    into self times."""
    store = pipe.store
    raw_read = store.read
    store.read = tracer.wrap("store.read", raw_read)
    store.commit = tracer.wrap("store.commit", store.commit)
    pipe._commit_watermark = tracer.wrap("watermark", pipe._commit_watermark)
    process = pipe.process_batch

    def traced_batch(batch, batch_id):
        with tracer.span("process_batch"):
            with tracer.span("probe.parse"):
                parse_maxwell(batch).write.format("noop").mode("overwrite").save()
            with tracer.span("probe.merge"):
                feed = pipe._typed_feed(parse_maxwell(batch))
                replica = raw_read()
                merged = (
                    snapshot_latest(feed, key_cols=pipe.key_cols, order_cols=pipe.order_cols)
                    if replica is None
                    else apply_incremental(
                        replica, feed, key_cols=pipe.key_cols, order_cols=pipe.order_cols)
                )
                merged.write.format("noop").mode("overwrite").save()
            with tracer.span("probe.rejected") as s:
                s.value = parse_maxwell(batch).filter(
                    F.col("op").isNull() | ~F.col("op").isin(*DML_OPS)).count()
            process(batch, batch_id)

    pipe.process_batch = traced_batch

    def restore() -> None:
        for obj, name in ((store, "read"), (store, "commit"),
                          (pipe, "_commit_watermark"), (pipe, "process_batch")):
            delattr(obj, name)

    return restore


def poll_breakdown(tracer: Tracer, jobs, events: dict[int, int]) -> list[dict]:
    """One record per traced `poll` span: the untraced-equivalent wall
    (poll minus probe re-executions) split into layer self times, plus
    the engine counters of the poll's own jobs and of its merge probe."""
    spans = tracer.spans
    selft = self_times(spans)
    out = []
    for poll in (s for s in spans if s.name == "poll"):
        batches = children(spans, poll, "process_batch")
        under = [d for b in batches for d in descendants(spans, b)]
        probes = [s for s in under if s.name.startswith("probe.")]
        probe_s = sum(s.dur for s in probes)

        def total(name):
            return sum(s.dur for b in batches for s in children(spans, b, name))

        parse = sum(s.dur for s in probes if s.name == "probe.parse")
        merge = sum(s.dur for s in probes if s.name == "probe.merge")
        read, commit = total("store.read"), total("store.commit")
        batch_s = sum(b.dur for b in batches)
        merge_jobs = [(s.job0, s.job1) for s in probes if s.name == "probe.merge"]
        n = max(events.get(poll.op, 0), 1)
        shuffle = sum(jobs.jobs(a, b)["shuffle_bytes"] for a, b in merge_jobs)
        out.append({
            "op": poll.op,
            "events": n,
            "wall_s": poll.dur - probe_s,
            "poll_overhead_s": selft[poll.sid],
            "parse_s": parse,
            "merge_s": merge,
            "merge_self_s": merge - parse,
            "read_s": read,
            "commit_self_s": commit - merge,
            "watermark_s": batch_s - probe_s - read - commit,
            "rejected": sum(s.value for s in probes if s.name == "probe.rejected"),
            "merge_shuffle_bytes": shuffle,
            "engine": jobs.jobs(poll.job0, poll.job1, skip=[(s.job0, s.job1) for s in probes]),
        })
    return out


def layer_metrics(polls: list[dict], untraced_wall: list[float], rejected: int) -> dict:
    """Per-layer medians over traced polls (or drains). `rejected` is the
    number of DDL and malformed lines the generator put in those polls."""
    seen = sum(p["rejected"] for p in polls)
    if seen != rejected:
        raise Mismatch(f"parser rejected {seen} lines, generator made {rejected}")

    def med(key):
        return median([p[key] for p in polls])

    def med_engine(key):
        return median([p["engine"][key] for p in polls])

    wall = med("wall_s")
    return {
        "sources.maxwell.parse_s_per_kevent": median([1000 * p["parse_s"] / p["events"] for p in polls]),
        "sources.maxwell.rejected_lines": seen,
        "operators.cdc.merge_self_s": med("merge_self_s"),
        "operators.cdc.shuffle_bytes_per_event": median([p["merge_shuffle_bytes"] / p["events"] for p in polls]),
        "streaming.pipeline.poll_wall_s": wall,
        "streaming.pipeline.poll_overhead_s": med("poll_overhead_s"),
        "streaming.pipeline.commit_self_s": med("commit_self_s"),
        "streaming.pipeline.watermark_s": med("watermark_s"),
        "engine.tasks": med_engine("tasks"),
        "engine.executor_cpu_s": med_engine("executor_cpu_s"),
        "engine.gc_s": med_engine("gc_s"),
        "trace.parse_share": median([p["parse_s"] / p["wall_s"] for p in polls]),
        "trace.overhead_commit_share": median(
            [(p["poll_overhead_s"] + p["commit_self_s"]) / p["wall_s"] for p in polls]),
        "trace.overhead_pct": 100.0 * (wall / median(untraced_wall) - 1.0) if untraced_wall else 0.0,
    }


class Trickle:
    """Open loop: every PERIOD_S a file of FILE_EVENTS zipf-keyed events
    is released, by atomic rename, into the pipeline's input directory
    over an N_KEYS-row replica. The poller drains whatever is pending,
    then runs the replica query.

    PERIOD_S is twice the poller's measured cycle, so polls have idle
    time between files: at 50k keys and 1,000-event files, one file per
    poll, `run_available` took 1.36 s and the replica query 0.21 s at the
    median on a 4-vCPU host (perfbench/README.md, Sizes).
    """

    N_KEYS = 50_000
    FILE_EVENTS = 1000
    PERIOD_S = 3.0
    WARM_POLLS = 6

    def __init__(self, spark, work: str, seed: int, jobs):
        self.spark, self.work, self.jobs = spark, work, jobs
        self.gen = gen.FeedGen(seed, self.N_KEYS, zipf_s=1.1)
        self.replay = gen.Replay()
        self.inp = os.path.join(work, "in")
        self.stage = os.path.join(work, "stage")
        self.ckpt = os.path.join(work, "ckpt")
        for d in (self.inp, self.stage):
            os.makedirs(d, exist_ok=True)
        self.pipe = CDCPipeline(spark, os.path.join(work, "replica"))
        self.events: dict[str, list[gen.Event]] = {}
        self.seen: set[str] = set()
        self.n_files = 0
        self.attempted = self.failed = 0

    def _stage(self, events: list[gen.Event]) -> str:
        name = f"f{self.n_files:06d}.json"
        self.n_files += 1
        gen.write_file(os.path.join(self.stage, name), events)
        self.events[name] = events
        return name

    def _release(self, name: str) -> None:
        os.rename(os.path.join(self.stage, name), os.path.join(self.inp, name))

    def _poll(self, tracer: Tracer | None) -> list[str]:
        """One `run_available`, traced when `tracer` is given; returns the
        files it applied, in order."""
        if tracer is None:
            self.pipe.run_available(self.inp, self.ckpt)
        else:
            restore = instrument(self.pipe, tracer)
            try:
                with tracer.span("poll"):
                    self.pipe.run_available(self.inp, self.ckpt)
            finally:
                restore()
        done = applied_files(self.ckpt)
        new = sorted(done - self.seen)
        self.seen = done
        for name in new:
            self.replay.apply(self.events[name])
        return new

    def _query(self) -> tuple[float, float]:
        """The checked replica query: (wall, steal % over it)."""
        a = host.cpu_ticks()
        t0 = time.perf_counter()
        got = replica_query(self.pipe.store)
        dt = time.perf_counter() - t0
        steal = host.steal_pct(a, host.cpu_ticks())
        self.attempted += 1
        check(self.replay, got)
        return dt, steal

    def setup(self) -> None:
        for events in self.gen.bootstrap(self.N_KEYS // 4):
            self._release(self._stage(events))
        self.attempted += 1
        self._poll(None)
        self._query()
        for _ in range(self.WARM_POLLS):
            self._release(self._stage(self.gen.events(self.FILE_EVENTS)))
            self.attempted += 1
            self._poll(None)
            self._query()

    def measure(self, seconds: float, tracer: Tracer | None = None) -> dict:
        """One window. With `tracer`, every second poll is traced, so the
        untraced polls in between give the tracing overhead."""
        n = math.ceil(seconds / self.PERIOD_S)
        names = [self._stage(self.gen.events(self.FILE_EVENTS)) for _ in range(n)]
        t_start = time.perf_counter() + 0.05
        due = {name: t_start + i * self.PERIOD_S for i, name in enumerate(names)}
        late: list[float] = []
        released = [0]

        def release_all():
            for i, name in enumerate(names):
                d = due[name]
                while (w := d - time.perf_counter()) > 0:
                    time.sleep(w)
                self._release(name)
                late.append(time.perf_counter() - d)
                released[0] = i + 1

        releaser = threading.Thread(target=release_all, name="perfbench-release")
        st0, cpu0 = host.cpu_ticks(), host.tree_cpu_s(host.tree_pids())
        fresh, fresh_steal, polls, steal, backlog, traced = [], [], [], [], [], []
        queries, query_steal, ev, rejected = [], [], {}, {}
        applied = 0
        releaser.start()
        try:
            while applied < n:
                pending = released[0] - applied
                if pending == 0:
                    time.sleep(0.002)
                    continue
                backlog.append(pending)
                trace_this = tracer is not None and len(polls) % 2 == 1
                if trace_this:
                    tracer.op = len(polls)
                traced.append(trace_this)
                a = host.cpu_ticks()
                t0 = time.perf_counter()
                self.attempted += 1
                new = self._poll(tracer if trace_this else None)
                t1 = time.perf_counter()
                steal.append(host.steal_pct(a, host.cpu_ticks()))
                polls.append(t1 - t0)
                applied += len(new)
                fresh += [t1 - due[name] for name in new]
                fresh_steal += [steal[-1]] * len(new)
                ev[len(polls) - 1] = sum(len(self.events[name]) for name in new)
                rejected[len(polls) - 1] = sum(
                    e.kind not in gen.DML for name in new for e in self.events[name])
                q, q_steal = self._query()
                queries.append(q)
                query_steal.append(q_steal)
        finally:
            releaser.join()
        cpu1, st1 = host.tree_cpu_s(host.tree_pids()), host.cpu_ticks()
        n_events = sum(ev.values())
        return {
            "fresh": fresh, "fresh_steal_pct": fresh_steal, "polls": polls,
            "queries": queries, "query_steal_pct": query_steal, "backlog": backlog,
            "late": late, "events": ev, "n_events": n_events, "sample_steal_pct": steal,
            "rejected": rejected, "traced": traced,
            "cpu_s": cpu1 - cpu0, "steal_pct": host.steal_pct(st0, st1),
        }

    def verify(self) -> None:
        check_watermark(self.pipe.store, self.replay)

    @staticmethod
    def end_to_end(m: dict) -> dict:
        """Freshness, events applied per second of poll wall and replica
        query time, each over the samples `stats.quiet` keeps."""
        fresh = quiet(m["fresh"], m["fresh_steal_pct"])
        rate = [m["events"][i] / w for i, w in enumerate(m["polls"])]
        return {
            "latency_p50_s": median(fresh),
            "latency_tail_s": pct(fresh, TAIL_PCT),
            "throughput_per_s": median(quiet(rate, m["sample_steal_pct"])),
            "read_p50_s": median(quiet(m["queries"], m["query_steal_pct"])),
        }

    def per_layer(self, untraced: dict, traced: dict, tracer: Tracer) -> dict:
        polls = poll_breakdown(tracer, self.jobs, traced["events"])
        store = self.pipe.store
        cur = os.path.join(store.path, f"v={store.current_version()}")
        plain = [w for w, t in zip(traced["polls"], traced["traced"]) if not t]
        out = layer_metrics(polls, plain, sum(traced["rejected"][p["op"]] for p in polls))
        rows = replica_query(store)["rows"]
        out.update({
            "operators.cdc.rows_out_per_event": rows / median(list(traced["events"].values())),
            "streaming.pipeline.commit_bytes_per_event":
                dir_bytes(cur, ".parquet") / median(list(traced["events"].values())),
            "streaming.pipeline.read_files": count_files(cur, ".parquet"),
            "streaming.pipeline.backlog_files_p90": pct(traced["backlog"], 90),
            "streaming.pipeline.stored_bytes_per_live_byte":
                dir_bytes(store.path) / dir_bytes(cur, ".parquet"),
            "generator.lateness_p90_s": pct(traced["late"], 90),
            "host.cpu_s_per_kevent": 1000 * untraced["cpu_s"] / untraced["n_events"],
        })
        return out


class Backfill:
    """Closed loop: each rep drains the same pre-staged backlog of
    BACKLOG events over N_KEYS uniform keys into a fresh replica and
    checkpoint, as one micro-batch."""

    N_KEYS = 25_000
    BACKLOG = 100_000
    FILES = 4
    WARM_DRAINS = 3

    def __init__(self, spark, work: str, seed: int, jobs):
        self.spark, self.work, self.jobs = spark, work, jobs
        self.backlog = os.path.join(work, "backlog")
        os.makedirs(self.backlog, exist_ok=True)
        self.replay = gen.Replay()
        self.reps = 0
        self.pipe: CDCPipeline | None = None
        self.attempted = self.failed = 0
        g = gen.FeedGen(seed, self.N_KEYS)
        per = self.BACKLOG // self.FILES
        for i in range(self.FILES):
            events = g.events(per)
            self.replay.apply(events)
            gen.write_file(os.path.join(self.backlog, f"b{i:03d}.json"), events)

    def _drain(self, tracer: Tracer | None) -> tuple[float, float]:
        """One rep: (drain wall, replica query wall)."""
        rep = os.path.join(self.work, f"rep{self.reps}")
        if self.reps:
            shutil.rmtree(os.path.join(self.work, f"rep{self.reps - 1}"), ignore_errors=True)
        self.reps += 1
        self.pipe = CDCPipeline(self.spark, os.path.join(rep, "replica"))
        if tracer is not None:
            instrument(self.pipe, tracer)
        self.attempted += 1
        t0 = time.perf_counter()
        if tracer is None:
            self.pipe.run_available(self.backlog, os.path.join(rep, "ckpt"))
        else:
            with tracer.span("poll"):
                self.pipe.run_available(self.backlog, os.path.join(rep, "ckpt"))
        t1 = time.perf_counter()
        got = replica_query(self.pipe.store)
        t2 = time.perf_counter()
        check(self.replay, got)
        check_watermark(self.pipe.store, self.replay)
        return t1 - t0, t2 - t1

    def setup(self) -> None:
        for _ in range(self.WARM_DRAINS):
            self._drain(None)

    def measure(self, seconds: float, tracer: Tracer | None = None) -> dict:
        drains, queries, steal, traced = [], [], [], []
        st0, cpu0 = host.cpu_ticks(), host.tree_cpu_s(host.tree_pids())
        t_end = time.perf_counter() + seconds
        min_ops = 1 if tracer is None else 2
        while len(drains) < min_ops or time.perf_counter() + drains[-1] + queries[-1] <= t_end:
            trace_this = tracer is not None and len(drains) % 2 == 1
            if trace_this:
                tracer.op = len(drains)
            traced.append(trace_this)
            a = host.cpu_ticks()
            d, q = self._drain(tracer if trace_this else None)
            steal.append(host.steal_pct(a, host.cpu_ticks()))
            drains.append(d)
            queries.append(q)
        cpu1, st1 = host.tree_cpu_s(host.tree_pids()), host.cpu_ticks()
        return {
            "drains": drains, "queries": queries, "sample_steal_pct": steal, "traced": traced,
            "events": {i: self.BACKLOG for i in range(len(drains))},
            "n_events": self.BACKLOG * len(drains),
            "cpu_s": cpu1 - cpu0, "steal_pct": host.steal_pct(st0, st1),
        }

    def verify(self) -> None:
        """Every rep is checked as it finishes."""

    def end_to_end(self, m: dict) -> dict:
        return {
            "latency_p50_s": median(m["drains"]),
            "latency_tail_s": max(m["drains"]),
            "throughput_per_s": self.BACKLOG / median(m["drains"]),
            "read_p50_s": median(m["queries"]),
        }

    def per_layer(self, untraced: dict, traced: dict, tracer: Tracer) -> dict:
        polls = poll_breakdown(tracer, self.jobs, traced["events"])
        store = self.pipe.store
        cur = os.path.join(store.path, f"v={store.current_version()}")
        plain = [w for w, t in zip(traced["drains"], traced["traced"]) if not t]
        out = layer_metrics(polls, plain, self.replay.rejected * len(polls))
        out.update({
            "operators.cdc.rows_out_per_event": self.replay.summary()["rows"] / self.BACKLOG,
            "streaming.pipeline.commit_bytes_per_event": dir_bytes(cur, ".parquet") / self.BACKLOG,
            "streaming.pipeline.read_files": count_files(cur, ".parquet"),
            "streaming.pipeline.backlog_files_p90": self.FILES,
            "streaming.pipeline.stored_bytes_per_live_byte":
                dir_bytes(store.path) / dir_bytes(cur, ".parquet"),
            "generator.lateness_p90_s": 0.0,
            "host.cpu_s_per_kevent": 1000 * untraced["cpu_s"] / untraced["n_events"],
        })
        return out
