"""CPU, resident memory and CPU steal of a process tree, from /proc.

CPU of a process is utime + stime + cutime + cstime: the last two hold
the CPU of children the process has already reaped, so work done by
short-lived workers is not lost when they exit. The box's steal column
in /proc/stat is read separately; per-process CPU times never include
steal.
"""

from __future__ import annotations

import os
import threading

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between resident-memory samples
INTERVAL = 0.05


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces or parens: fields restart after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # after the comm field: utime, stime, cutime, cstime are 12..15
    return sum(int(f) for f in fields[11:15]) / TICK


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (FileNotFoundError, ProcessLookupError):
        return 0


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def steal_s() -> float:
    """Box-wide CPU steal so far, summed over CPUs, in seconds."""
    with open("/proc/stat") as fh:
        cols = fh.readline().split()
    return int(cols[8]) / TICK if len(cols) > 8 else 0.0


class TreeSampler:
    """CPU of a process tree split into named groups, plus the peak
    resident memory of the grouped processes, sampled by a background
    thread.

    ``groups`` maps a name to a predicate on a pid of the tree; a pid
    goes to the first group whose predicate holds, else to ``other``.
    Call :meth:`snapshot` at interval edges and subtract.
    """

    def __init__(self, root: int, groups: dict | None = None):
        self.root = root
        self.groups = groups or {}
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _group(self, pid: int) -> str:
        for name, pred in self.groups.items():
            if pred(pid):
                return name
        return "other"

    def snapshot(self) -> dict:
        """CPU seconds per group and in total, plus box steal."""
        out: dict[str, float] = {name: 0.0 for name in self.groups}
        out["other"] = 0.0
        for pid in tree(self.root):
            out[self._group(pid)] += cpu_s(pid)
        out["total"] = sum(out.values())
        out["steal"] = steal_s()
        return out

    def rss(self) -> int:
        """Resident bytes of the tree's grouped processes. Without
        groups, of every process in the tree. Ungrouped children are
        left out: a child the JVM forks to exec a helper (Hadoop's
        local file system runs ``chmod`` this way) reports the JVM's
        whole resident set until it execs, and summing it would
        double-count the JVM."""
        pids = tree(self.root)
        if self.groups:
            pids = [pid for pid in pids if self._group(pid) != "other"]
        return sum(rss_bytes(pid) for pid in pids)

    def peak(self) -> int:
        with self._lock:
            return self._peak

    def _run(self) -> None:
        while not self._stop.wait(INTERVAL):
            now = self.rss()
            with self._lock:
                self._peak = max(self._peak, now)

    def __enter__(self) -> "TreeSampler":
        self._peak = self.rss()
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def delta(after: dict, before: dict) -> dict:
    return {k: after.get(k, 0.0) - before.get(k, 0.0) for k in after}
