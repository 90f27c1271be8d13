"""The one session-state store. Every cross-call memo of the live Spark
application (table handles, seeded state dirs, persisted relations,
the shipped package) is one entry per ``(kind, scope)`` here.

An entry hits only for the same ``applicationId`` and an equal,
non-``None`` content fingerprint; otherwise the stale entry is handed
to ``build`` and released (unpersist, rmtree, ...) unless ``build``
returned it again. A ``None`` fingerprint therefore keeps exactly one
outstanding result per scope. A new ``applicationId`` releases every
entry of the previous one (one live SparkContext per process). The
lock guards only the bookkeeping: ``build`` may call into the store.
"""

from __future__ import annotations

import os
import threading
from collections import Counter, defaultdict
from collections.abc import Callable, Iterable
from typing import Any

_LOCK = threading.Lock()
_APP: list = [None]  # the applicationId every entry belongs to
_ENTRIES: dict = {}  # (kind, scope) -> (fingerprint, value, release)
_STATS: defaultdict = defaultdict(Counter)  # kind -> hits/builds/releases


def local_path(path: str) -> str | None:
    """``path`` on the local filesystem (``file:`` URIs unwrapped), or
    ``None`` for any other scheme (``s3a://``, ``hdfs://``, ...)."""
    if path.startswith("file:"):
        path = path[5:]
        while path.startswith("//"):
            path = path[1:]
        return path
    return None if "://" in path else path


def fingerprint(paths: Iterable[str]) -> tuple | None:
    """(path, size, mtime) of every file under each of ``paths``, in a
    stable order. One ``stat`` per file: an in-place rewrite of a part
    file leaves its directory's mtime unchanged. ``None`` if any path
    is not local, so such inputs are never served from the store."""
    out: list[tuple] = []
    for p in paths:
        p = local_path(p)
        if p is None:
            return None
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()  # os.walk honours in-place sorting
                for fn in sorted(files):
                    fp = os.path.join(root, fn)
                    st = os.stat(fp)
                    out.append((fp, st.st_size, st.st_mtime_ns))
        elif os.path.exists(p):
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _release(kind: str, entry: tuple) -> None:
    _fp, value, release = entry
    try:
        if release is not None:
            release(value)
    except Exception:  # noqa: BLE001, S110 — a stopped context is fine
        pass
    with _LOCK:
        _STATS[kind]["releases"] += 1


def get_or_build(
    spark,
    kind: str,
    scope: Any,
    fp: tuple | None,
    build: Callable[[tuple | None], Any],
    release: Callable[[Any], None] | None = None,
) -> Any:
    """The value under ``(kind, scope)`` if this application built it
    from an equal non-``None`` ``fp``; else ``build(stale)``, where
    ``stale`` is the displaced ``(fp, value)`` or ``None``.
    ``release(value)`` frees a value once the store drops it."""
    app = spark.sparkContext.applicationId
    key = (kind, scope)
    dropped: list = []
    with _LOCK:
        if _APP[0] != app:
            dropped, _APP[0] = list(_ENTRIES.items()), app
            _ENTRIES.clear()
        stale = _ENTRIES.get(key)
        if stale is not None and fp is not None and stale[0] == fp:
            _STATS[kind]["hits"] += 1
            return stale[1]
        _ENTRIES.pop(key, None)
    for (k, _scope), entry in dropped:
        _release(k, entry)
    value = None
    try:
        value = build(None if stale is None else stale[:2])
    finally:
        if stale is not None and value is not stale[1]:
            _release(kind, stale)
    entry = (fp, value, release)
    with _LOCK:
        _STATS[kind]["builds"] += 1
        other = _ENTRIES.pop(key, None)
        if other is not None and fp is not None and other[0] == fp:
            entry, other = other, entry  # a concurrent build landed first
        _ENTRIES[key] = entry
    if other is not None:
        _release(kind, other)
    return entry[1]


def clear(kind: str) -> None:
    """Release every entry of ``kind``."""
    with _LOCK:
        gone = [(k, _ENTRIES.pop(k)) for k in list(_ENTRIES) if k[0] == kind]
    for (k, _scope), entry in gone:
        _release(k, entry)


def stats() -> dict[str, dict[str, int]]:
    """Hits, builds and releases so far, per kind."""
    with _LOCK:
        return {k: {n: c[n] for n in ("hits", "builds", "releases")} for k, c in _STATS.items()}
