"""Source lint: the package keeps no module-level dict caches. A value
derived from input files is memoized through the one memo layer
(`memo.get_or_build`), which keys it on the files' identity, so it is
rebuilt when an input is rewritten. A hand-rolled ``_X_CACHE = {}``
keyed on a path string served stale answers after a rewrite in place.
``_PERSIST_CACHE`` (dedup's `_swap_persist` slots) is the exception:
it bounds executor cache per operator slot rather than memoizing a
value, and `io.load_table` refreshes its relations when an input
file changes."""

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "greenplum_cdc_spark",
)

_DICT_CACHE = re.compile(r"^(_\w*CACHE\w*)\s*(:[^=]*)?=\s*\{\}", re.M)
_ALLOWED = {"_PERSIST_CACHE"}


def test_no_module_level_dict_caches():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                src = fh.read()
            for m in _DICT_CACHE.finditer(src):
                if m.group(1) in _ALLOWED:
                    continue
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{path}:{line} {m.group(1)}")
    assert not offenders, (
        "module-level dict cache (memoize through memo.get_or_build "
        f"instead): {offenders}"
    )
