"""Generated coverage index (VERDICT r8 item 6).

SURVEY.md §2 is 300+ hand-maintained rows with non-monotonic IDs;
this script emits the mechanical `key → file:qualname → oracle kind →
latest driver grade → gate position` table the driver and judge can
diff instead of eyeballing the prose: one row per
``__spark_entry__.queries()`` entry, written to COVERAGE.tsv at the
repo root (committed; tests/test_coverage_index.py regenerates it and
asserts the committed copy is fresh).

Columns:
  survey_id   A/B/C id from SURVEY.md §2 (``-`` when the entry has no
              §2 row yet — the pytest fails on that too)
  key         queries() key
  file:qualname  where the callable is defined (repo-relative file
              and qualified name — not the line, so an edit above a
              def does not make the index stale)
  oracle      ``oracle`` when an oracle_sql() twin exists,
              ``rows-only`` otherwise
  grade       latest driver grade: ``rN`` from the newest
              CORRECTNESS_r*.json naming the key, ``never`` otherwise
  gate_pos    1-based position in the gate order (positions 1-50 are
              the next driver window)

Usage: python tools/coverage_index.py [--check]
  --check: regenerate in memory and exit 1 if COVERAGE.tsv is stale.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402

OUT_PATH = os.path.join(REPO, "COVERAGE.tsv")


def survey_ids() -> dict[str, str]:
    """Parse SURVEY.md §2 table rows: | A1 | `key` | ... -> {key: id}."""
    ids: dict[str, str] = {}
    pat = re.compile(r"^\|\s*([ABC]\d+)\s*\|\s*`([^`]+)`")
    with open(os.path.join(REPO, "SURVEY.md")) as fh:
        for line in fh:
            m = pat.match(line)
            if m:
                ids.setdefault(m.group(2), m.group(1))
    return ids


def latest_grades() -> dict[str, int]:
    grades: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        for key in data:
            grades[key] = max(grades.get(key, 0), rnd)
    return grades


def _def_site(fn) -> str:
    fn = inspect.unwrap(fn)
    src = inspect.getsourcefile(fn)
    return f"{os.path.relpath(src, REPO)}:{fn.__qualname__}"


def build_rows() -> list[tuple[str, ...]]:
    q = entrymod.queries()
    oracles = entrymod.oracle_sql()
    ids = survey_ids()
    grades = latest_grades()
    gate_pos = {k: i + 1 for i, k in enumerate(q)}
    rows = []
    for key in sorted(q):
        rows.append(
            (
                ids.get(key, "-"),
                key,
                _def_site(q[key]),
                "oracle" if key in oracles else "rows-only",
                f"r{grades[key]}" if key in grades else "never",
                str(gate_pos[key]),
            )
        )
    return rows


def render(rows: list[tuple[str, ...]]) -> str:
    header = ("survey_id", "key", "file:qualname", "oracle", "grade", "gate_pos")
    return "\n".join("\t".join(r) for r in [header, *rows]) + "\n"


def _grade_round(grade: str) -> int:
    return -1 if grade == "never" else int(grade.lstrip("r"))


def staleness(committed: str, fresh: str) -> list[str]:
    """Differences that make the committed TSV genuinely stale.

    Round-boundary rule (VERDICT r9 item 1b): the driver drops
    CORRECTNESS_r{N}.json AFTER the end-of-round commit, so at judging
    time the committed grade column is older than a regeneration by
    construction.  A committed grade that is merely OLDER than the
    fresh one is therefore tolerated; every other difference — key set,
    survey id, def site, oracle kind, gate position, or a committed
    grade NEWER than the fresh one (file corruption) — is reported.
    """
    problems: list[str] = []
    c_lines = committed.splitlines()
    f_lines = fresh.splitlines()
    if not c_lines or c_lines[0] != f_lines[0]:
        return ["header mismatch"]
    c_rows = {ln.split("\t")[1]: ln.split("\t") for ln in c_lines[1:]}
    f_rows = {ln.split("\t")[1]: ln.split("\t") for ln in f_lines[1:]}
    for key in sorted(set(c_rows) ^ set(f_rows)):
        problems.append(f"key set differs: {key}")
    for key in sorted(set(c_rows) & set(f_rows)):
        c, f = c_rows[key], f_rows[key]
        for i, col in enumerate(("survey_id", "key", "file:qualname", "oracle")):
            if c[i] != f[i]:
                problems.append(f"{key}: {col} {c[i]!r} != {f[i]!r}")
        if c[5] != f[5]:
            problems.append(f"{key}: gate_pos {c[5]} != {f[5]}")
        if _grade_round(c[4]) > _grade_round(f[4]):
            problems.append(f"{key}: committed grade {c[4]} newer than {f[4]}")
    return problems


def main() -> int:
    text = render(build_rows())
    if "--check" in sys.argv:
        try:
            with open(OUT_PATH) as fh:
                committed = fh.read()
        except OSError:
            committed = ""
        problems = staleness(committed, text)
        if problems:
            sys.stderr.write(
                "COVERAGE.tsv is stale — rerun tools/coverage_index.py:\n"
                + "".join(f"  {p}\n" for p in problems[:20])
            )
            return 1
        print("COVERAGE.tsv fresh")
        return 0
    with open(OUT_PATH, "w") as fh:
        fh.write(text)
    print(f"wrote {OUT_PATH} ({text.count(chr(10)) - 1} entries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
