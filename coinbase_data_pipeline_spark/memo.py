"""The package's one in-process memo: derived metadata and build
artifacts keyed on what they were derived from.

Table schemas, the dedup join hint, replay input layouts and the
streaming classifier's trained weights are all pure functions of some
source files plus the caller's own parameters. Each is stored here
under (applicationId, caller parameters, source fingerprint), where the
fingerprint is (path, size, mtime_ns) of every data file under the
sources. A file rewritten at the same path changes the key, so it
misses and recomputes instead of serving what the old file implied.

The memo is an LRU of CAPACITY entries. An entry may carry an
`on_evict` callback that releases what the value owns (a replay
directory on disk); it runs when the entry falls out of the LRU and
for every entry left at interpreter exit. CAPACITY must exceed the
entries one query inserts, so a value is never evicted between the
lookup that returned it and its use.
"""

from __future__ import annotations

import atexit
import os
import threading
from collections import OrderedDict
from collections.abc import Callable, Iterable
from urllib.parse import unquote, urlparse

CAPACITY = 64

_ENTRIES: OrderedDict = OrderedDict()
_LOCK = threading.Lock()


def _local_path(p: str) -> str:
    # DataFrame.inputFiles() yields file: URIs; other schemes are not
    # on this file system and contribute nothing to a fingerprint
    return unquote(urlparse(p).path) if p.startswith("file:") else p


def _hidden(name: str) -> bool:
    # Spark's own listing rule: _SUCCESS, .crc, _applied/ are not data
    return name.startswith(("_", "."))


def fingerprint(paths: Iterable[str]) -> tuple:
    """(path, size, mtime_ns) of every data file at or under `paths`
    (files or directories, walked to any depth), sorted."""
    out = []
    for p in map(_local_path, paths):
        if os.path.isfile(p):
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
            continue
        for root, dirs, files in os.walk(p):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for f in files:
                if not _hidden(f):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    out.append((fp, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def cached(params: tuple, sources: Iterable[str], compute: Callable,
           on_evict: Callable | None = None):
    """`compute()`'s value for (this application, `params`, the
    current fingerprint of `sources`), computed on a miss only."""
    from pyspark.sql import SparkSession

    key = (SparkSession.active().sparkContext.applicationId, params,
           fingerprint(sources))
    with _LOCK:
        entry = _ENTRIES.get(key)
        if entry is not None:
            _ENTRIES.move_to_end(key)
            return entry[0]
    value = compute()
    with _LOCK:
        # a concurrent miss on the same key may have stored first:
        # keep that value and release this one
        lost = key in _ENTRIES
        entry = _ENTRIES.setdefault(key, (value, on_evict))
        gone = [_ENTRIES.popitem(last=False)[1]
                for _ in range(len(_ENTRIES) - CAPACITY)]
    if lost:
        gone.append((value, on_evict))
    for e in gone:
        _release(e)
    return entry[0]


def _release(entry: tuple) -> None:
    value, on_evict = entry
    if on_evict is not None:
        on_evict(value)


def size() -> int:
    return len(_ENTRIES)


@atexit.register
def clear() -> None:
    """Drop every entry, releasing what each owns."""
    with _LOCK:
        gone = list(_ENTRIES.values())
        _ENTRIES.clear()
    for e in gone:
        _release(e)
