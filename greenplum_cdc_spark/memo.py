"""The one memo layer: values derived from files, keyed by the files'
identity.

`get_or_build(name, paths, build)` returns `build()`'s value and keeps
it until an input changes. The key is each input path's identity as
the filesystem reports it — for a file its realpath, size, mtime_ns and
inode; for a directory its realpath plus the sorted recursive listing
of (relative name, size, mtime_ns) — so a rewrite in place, a file
added to a directory or a path re-pointed by a symlink all miss and
rebuild, and no caller ever invalidates anything by hand. A rebuilt
value replaces the one its inputs had before, so a stale value is never
kept; a value that holds a resource (a scratch directory) passes
`release`, which is kept with the value and called on it when a
rebuild replaces it or `clear()` drops it. A
value bound to one Spark session (catalog tables, cached relations)
also passes `session`: its `applicationId` joins the key, so a
restarted session rebuilds. `extra` carries any other input the value
depends on, such as the session conf values that change parquet schema
inference.

`clear()` drops every entry (cold-vs-cold timing) and releases each
value that holds a resource; `stats()` reports
hits, misses and entries for each name.
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable, Sequence

_lock = threading.Lock()
# (name, realpaths, applicationId, extra) -> (identities, value, release)
_entries: dict[tuple, tuple[tuple, Any, Callable[[Any], None] | None]] = {}
_counts: dict[str, dict[str, int]] = {}


def _identity(real: str) -> tuple:
    st = os.stat(real)
    if not os.path.isdir(real):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    listing = []
    for root, dirs, files in os.walk(real):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            fst = os.stat(p)
            listing.append((os.path.relpath(p, real), fst.st_size, fst.st_mtime_ns))
    return tuple(listing)


def get_or_build(
    name: str,
    paths: Sequence[str],
    build: Callable[[], Any],
    session=None,
    extra: tuple = (),
    release: Callable[[Any], None] | None = None,
) -> Any:
    """`build()`'s value for the current identity of `paths` (and of
    `session`, when given), built at most once per identity. When a
    rebuild replaces the value of an older identity, or `clear()` drops
    it, `release` is called on that value."""
    reals = tuple(os.path.realpath(p) for p in paths)
    slot = (
        name,
        reals,
        session.sparkContext.applicationId if session is not None else None,
        extra,
    )
    ident = tuple(_identity(r) for r in reals)
    with _lock:
        held = _entries.get(slot)
        hit = held is not None and held[0] == ident
        c = _counts.setdefault(name, {"hits": 0, "misses": 0})
        c["hits" if hit else "misses"] += 1
    if hit:
        return held[1]
    value = build()
    with _lock:
        replaced = _entries.get(slot)
        _entries[slot] = (ident, value, release)
    if replaced is not None and replaced[0] != ident:
        _release(replaced)
    return value


def _release(entry: tuple) -> None:
    _, value, release = entry
    if release is not None:
        release(value)


def clear() -> None:
    """Drop every memoized value, releasing each one built with a
    `release`, and reset the counters."""
    with _lock:
        dropped = list(_entries.values())
        _entries.clear()
        _counts.clear()
    for entry in dropped:
        _release(entry)


def stats() -> dict[str, dict[str, int]]:
    """{name: {"hits", "misses", "entries"}} since the last `clear()`."""
    with _lock:
        out = {n: dict(c, entries=0) for n, c in _counts.items()}
        for slot in _entries:
            out[slot[0]]["entries"] += 1
        return out
