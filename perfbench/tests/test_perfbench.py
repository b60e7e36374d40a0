"""Tests for the benchmark's own code: generator, replay oracle, spans.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.stats import STEAL_MAX_PCT, pct, quiet
from perfbench.trace import Span, Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _feed(seed: int, zipf_s: float) -> list[str]:
    g = gen.FeedGen(seed, 500, zipf_s=zipf_s)
    files = g.bootstrap(200) + [g.events(300) for _ in range(3)]
    return [gen.maxwell_line(e) for f in files for e in f]


@pytest.mark.parametrize("zipf_s", [0.0, 1.1])
def test_generator_is_deterministic_per_seed(zipf_s):
    assert _feed(7, zipf_s) == _feed(7, zipf_s)
    assert _feed(7, zipf_s) != _feed(8, zipf_s)


def test_generator_mix_has_every_line_kind():
    g = gen.FeedGen(3, 1000)
    kinds = {e.kind for e in g.events(5000)}
    assert kinds == {"insert", "update", "delete", "ddl", "bad"}
    assert any(e.old_pk is not None for e in g.events(5000))


def test_tpch_tables_are_deterministic_per_seed():
    a, b = gen.tpch_tables(5, 0.001), gen.tpch_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not gen.tpch_tables(6, 0.001)["lineitem"].equals(a["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_replay_delete_reinsert_and_pk_change():
    E = gen.Event
    feed = [
        E("insert", 100, 1, 1, 10),
        E("insert", 100, 2, 2, 20),
        E("update", 101, 3, 1, 11),
        E("delete", 101, 4, 2, 20),
        E("ddl", 102, 5),
        E("insert", 102, 6, 2, 22),          # re-insert after the delete
        E("update", 103, 7, 5, 50, old_pk=1),  # key 1 becomes key 5
        E("bad", 103, 8),
        E("update", 103, 9, 3, 30),          # update of an unseen key upserts
        E("delete", 104, 10, 3, 30),
    ]
    r = gen.Replay()
    r.apply(feed[:5])
    r.apply(feed[5:])
    assert sorted(r.rows) == [2, 5]
    assert r.rows[2][1:] == ("insert", 22)
    assert r.rows[5][1:] == ("update", 50)
    assert r.rejected == 2
    assert r.summary() == {
        "rows": 2,
        "checksum": gen.row_checksum(2, 6, 22, "insert") + gen.row_checksum(5, 7, 50, "update"),
        "max_ts": 103,
    }


def test_replay_ignores_events_older_than_a_delete():
    E = gen.Event
    r = gen.Replay()
    r.apply([E("insert", 10, 1, 1, 1), E("delete", 12, 3, 1, 1), E("update", 11, 2, 1, 9)])
    assert r.summary()["rows"] == 0


def test_maxwell_lines_parse_as_json_except_malformed():
    import json

    for e in gen.FeedGen(1, 50).events(400):
        line = gen.maxwell_line(e)
        if e.kind == "bad":
            with pytest.raises(json.JSONDecodeError):
                json.loads(line)
            continue
        doc = json.loads(line)
        if e.kind == "ddl":
            assert doc["ts"] >= 10**12 and doc["type"] not in gen.DML
        else:
            assert (doc["type"], int(doc["data"]["id"]), doc["xid"]) == (e.kind, e.pk, e.xid)


def test_self_time_of_nested_spans():
    spans = [
        Span(0, "poll", 0, None, 0.0, 10.0),
        Span(1, "batch", 0, 0, 1.0, 9.0),
        Span(2, "read", 0, 1, 1.0, 2.0),
        Span(3, "commit", 0, 1, 3.0, 7.0),
        Span(4, "write", 0, 3, 4.0, 6.0),
        Span(5, "other", 0, None, 11.0, 12.0),
    ]
    st = self_times(spans)
    assert st == {0: 2.0, 1: 3.0, 2: 1.0, 3: 2.0, 4: 2.0, 5: 1.0}
    # self times of a tree add up to its root's duration
    assert sum(st[i] for i in range(5)) == spans[0].dur


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(0, "p", 0, None, 0.0, 10.0),
        Span(1, "a", 0, 0, 1.0, 5.0),
        Span(2, "b", 0, 0, 3.0, 6.0),
        Span(3, "c", 0, 0, 9.0, 12.0),  # runs past its parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_tracer_records_parents_and_job_ranges():
    clock = iter(range(100)).__next__
    jobs = iter(range(100, 200)).__next__
    t = Tracer(next_job=jobs, clock=clock)
    with t.span("poll"):
        with t.span("batch"):
            t.wrap("commit", lambda: None)()
    poll, batch, commit = t.spans
    assert (poll.parent, batch.parent, commit.parent) == (None, poll.sid, batch.sid)
    assert poll.start < batch.start < commit.start < commit.end < batch.end < poll.end
    assert poll.job0 < batch.job0 < commit.job0 and commit.job1 < batch.job1 < poll.job1


def test_poll_breakdown_splits_the_poll_wall():
    from perfbench.cdc import poll_breakdown

    class Jobs:
        def jobs(self, a, b, skip=()):
            return {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                    "shuffle_bytes": 100}

    t = Tracer()
    t.spans = [
        Span(0, "poll", 0, None, 0.0, 10.0),
        Span(1, "process_batch", 0, 0, 1.0, 9.5),
        Span(2, "probe.parse", 0, 1, 1.0, 2.0),
        Span(3, "probe.merge", 0, 1, 2.0, 4.0),
        Span(4, "probe.rejected", 0, 1, 4.0, 4.5, value=3),
        Span(5, "store.read", 0, 1, 4.5, 5.0),
        Span(6, "store.commit", 0, 1, 5.0, 8.0),
        Span(7, "watermark", 0, 1, 8.0, 9.0),
    ]
    (p,) = poll_breakdown(t, Jobs(), {0: 50})
    assert p["wall_s"] == pytest.approx(6.5)  # 10 s minus 3.5 s of probes
    assert p["poll_overhead_s"] == pytest.approx(1.5)
    assert p["merge_self_s"] == pytest.approx(1.0)
    assert p["commit_self_s"] == pytest.approx(1.0)
    assert p["watermark_s"] == pytest.approx(1.5)
    assert p["rejected"] == 3
    parts = p["poll_overhead_s"] + p["read_s"] + p["merge_s"] + p["commit_self_s"] + p["watermark_s"]
    assert parts == pytest.approx(p["wall_s"])


def test_quiet_keeps_low_steal_samples_or_the_quieter_half():
    calm, busy = STEAL_MAX_PCT, STEAL_MAX_PCT + 1
    assert quiet([1.0, 2.0, 3.0], [0.0, calm, 0.0]) == [1.0, 2.0, 3.0]
    assert quiet([1.0, 2.0, 3.0, 4.0], [0.0, busy, busy, 0.0]) == [1.0, 4.0]
    # fewer than half are calm: the half with the least steal, in order
    assert quiet([1.0, 2.0, 3.0, 4.0, 5.0], [busy + 3, busy + 1, busy + 4, 0.0, busy + 2]) \
        == [2.0, 4.0, 5.0]


def _trickle_window(poll_s: float, n: int = 7, query_s: float = 0.2) -> dict:
    """The `Trickle.measure` record of a simulated window: a file is due
    every PERIOD_S; a poll starts once a file is pending and the last poll
    and query have ended, applies every file released by then and takes
    `poll_s`."""
    from perfbench.cdc import Trickle

    period = Trickle.PERIOD_S
    m = {"fresh": [], "polls": [], "queries": [], "events": {}}
    t, done = 0.0, 0
    while done < n:
        start = max(t, done * period)
        new = [j for j in range(done, n) if j * period <= start]
        end = start + poll_s
        m["fresh"] += [end - j * period for j in new]
        m["events"][len(m["polls"])] = Trickle.FILE_EVENTS * len(new)
        m["polls"].append(poll_s)
        m["queries"].append(query_s)
        t, done = end + query_s, done + len(new)
    for key, samples in (("fresh_steal_pct", "fresh"), ("sample_steal_pct", "polls"),
                         ("query_steal_pct", "queries")):
        m[key] = [0.0] * len(m[samples])
    return m


def test_trickle_throughput_follows_poll_wall():
    """Offered load is half the poll capacity, so a poll twice as slow
    halves events per poll-second instead of batching more files."""
    from perfbench.cdc import Trickle

    base = Trickle.end_to_end(_trickle_window(1.4))
    slow = Trickle.end_to_end(_trickle_window(2.8))
    assert slow["throughput_per_s"] == pytest.approx(base["throughput_per_s"] / 2)
    assert slow["latency_p50_s"] == pytest.approx(2 * base["latency_p50_s"])


def test_pct_interpolates():
    assert pct(list(range(101)), 75) == 75
    assert pct([1.0, 2.0], 50) == 1.5


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero
    and prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "results"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_trickle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
