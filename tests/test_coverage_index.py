"""CI-freshness gate for the generated coverage index (VERDICT r8
item 6): COVERAGE.tsv must be regenerable byte-for-byte from the
current queries()/oracle_sql()/SURVEY/CORRECTNESS state, every entry
must carry a SURVEY §2 id, and the gate window must lead with the
least-driver-evidence entries."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import coverage_index as ci  # noqa: E402


def test_coverage_tsv_fresh():
    """Round-boundary-safe freshness (VERDICT r9 item 1b): the driver
    drops CORRECTNESS_r{N}.json AFTER the end-of-round commit, so a
    committed grade that is merely older than a regeneration is fine;
    anything else (key set, def site, oracle kind, gate order, or a
    committed grade NEWER than fresh) is genuine staleness."""
    text = ci.render(ci.build_rows())
    with open(ci.OUT_PATH) as fh:
        committed = fh.read()
    problems = ci.staleness(committed, text)
    assert not problems, (
        "COVERAGE.tsv is stale — rerun tools/coverage_index.py: "
        + "; ".join(problems[:10])
    )


def test_staleness_detector_fires():
    """The tolerant compare must stay RED on every class it still
    guards and GREEN only on the older-grade case it tolerates."""
    fresh = ci.render(
        [("B1", "q1", "a.py:q1_fn", "oracle", "r9", "1"),
         ("B2", "q2", "b.py:q2_fn", "rows-only", "never", "2")]
    )
    assert ci.staleness(fresh, fresh) == []
    older = fresh.replace("r9", "r3")
    assert ci.staleness(older, fresh) == []  # round boundary: tolerated
    never = fresh.replace("r9", "never")
    assert ci.staleness(never, fresh) == []
    assert ci.staleness(fresh, older)  # committed NEWER than fresh: red
    # def site pinned by file and qualname: a rename or a move is red
    assert ci.staleness(fresh.replace("a.py:q1_fn", "a.py:q1_renamed"), fresh)
    assert ci.staleness(fresh.replace("a.py:q1_fn", "c.py:q1_fn"), fresh)
    assert ci.staleness(fresh.replace("rows-only", "oracle"), fresh)
    assert ci.staleness(fresh.replace("\t2\n", "\t3\n"), fresh)
    assert ci.staleness(fresh.replace("q2", "q3"), fresh)


def test_every_entry_has_survey_id():
    rows = ci.build_rows()
    missing = [r[1] for r in rows if r[0] == "-"]
    assert not missing, f"queries() keys without a SURVEY §2 row: {missing}"


def test_index_matches_queries():
    import __spark_entry__ as e

    rows = ci.build_rows()
    assert sorted(r[1] for r in rows) == sorted(e.queries())
    oracles = e.oracle_sql()
    for r in rows:
        assert (r[3] == "oracle") == (r[1] in oracles), r


def test_gate_window_freshness_rank():
    """No entry OUTSIDE the 50-entry driver window may have strictly
    less driver evidence than one inside it, except entries inside
    because their code changed this round (grade is stale by
    definition until the next driver run)."""
    import __spark_entry__ as e

    grades = ci.latest_grades()
    order = list(e.queries())
    window = set(order[:50])
    worst_outside = min(
        (grades.get(k, 0) for k in order[50:]), default=99
    )
    # every never-graded entry must be inside the window
    never = [k for k in order if k not in grades]
    assert all(k in window for k in never), (
        f"never-driver-graded entries outside the gate window: "
        f"{[k for k in never if k not in window][:5]}"
    )
    assert worst_outside >= 2  # the window drained everything pre-r2
