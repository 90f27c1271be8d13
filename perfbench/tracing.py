"""Outside-in layer trace for the traced benchmark run.

Two sources, both read from the benchmark's side of the program's
public surface:

- **Spans** around calls into a layer. The benchmark opens a span
  around each call it makes itself (archiver, query builders, store
  functions); :class:`Patches` wraps module-level functions the
  program calls internally (``catalog.read_table``,
  ``sizing.relation_size_est``) only for the traced passes.
- **Spark's own counters** for every job an op ran. Ops run one at a
  time from one driver thread, so the jobs of an op are exactly the
  job ids the scheduler handed out between its start and end. That
  holds for jobs submitted from the program's internal thread pools
  too, which a job group would miss. Job and stage metrics come from
  the status REST API (``/api/v1/applications/<id>/{jobs,stages}``),
  polled until the listener has marked every job of the op final.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import sys
import time
import urllib.request
from collections import defaultdict

MB = 1 << 20
#: seconds to wait for the status API to mark a job or stage final
POLL_TIMEOUT = 30.0
_FINAL_JOB = {"SUCCEEDED", "FAILED"}
_FINAL_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


def _epoch(ts: str | None) -> float | None:
    # the REST API's timestamps read like 2026-10-17T04:50:01.123GMT
    if not ts:
        return None
    return dt.datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkJobs:
    """Job and stage counters of the jobs one op submitted."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()  # noqa: SLF001
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def next_job_id(self) -> int:
        nid = self._dag.nextJobId()
        # py4j hands the AtomicInteger back as its current value
        return int(nid if isinstance(nid, int) else nid.get())

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def _poll(self, path: str, done):
        deadline = time.monotonic() + POLL_TIMEOUT
        while True:
            try:
                got = self._get(path)
                if done(got):
                    return got
            except OSError:
                # 404 until the listener has seen the job or stage
                pass
            if time.monotonic() > deadline:
                raise TimeoutError(f"status API never settled for {path}")
            time.sleep(0.01)

    def counters(self, first_job: int, end_job: int) -> dict:
        """Totals over jobs ``first_job .. end_job - 1``. A stage runs
        once even when several jobs list it; stages a job skipped
        because an earlier op's shuffle output was reused count
        nothing."""
        stage_ids: set[int] = set()
        for job in range(first_job, end_job):
            data = self._poll(f"/jobs/{job}", lambda j: j["status"] in _FINAL_JOB)
            stage_ids.update(data["stageIds"])
        out = defaultdict(float)
        out["jobs"] = end_job - first_job
        spans = []
        for sid in sorted(stage_ids):
            attempts = self._poll(
                f"/stages/{sid}", lambda a: all(x["status"] in _FINAL_STAGE for x in a)
            )
            for st in attempts:
                if st["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"]
                out["task_s"] += st["executorRunTime"] / 1e3
                out["task_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                out["input_mb"] += st["inputBytes"] / MB
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                out["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
                out["spill_mb"] += st["diskBytesSpilled"] / MB
                a, b = _epoch(st.get("submissionTime")), _epoch(st.get("completionTime"))
                if a is not None and b is not None:
                    spans.append((a, b))
        out["stage_union_s"] = _union_s(spans)
        return dict(out)


class Tracer:
    """Per-pass accumulator of span times, span counts and job
    counters, keyed by metric name."""

    def __init__(self, jobs: SparkJobs | None):
        self.jobs = jobs
        self.acc: dict[str, float] = defaultdict(float)

    def reset(self) -> dict:
        out, self.acc = dict(self.acc), defaultdict(float)
        return out

    def add(self, name: str, value: float) -> None:
        self.acc[name] += value

    @contextlib.contextmanager
    def span(self, name: str, count: str | None = None):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.acc[name] += time.perf_counter() - t0
            if count:
                self.acc[count] += 1

    @contextlib.contextmanager
    def op(self, archiver: bool = False):
        """Attribute the jobs of one op: ``exec.*`` totals and the
        op's driver gap; for an archiver call also its jobs, its
        encode task time and its relay time (the driver gap)."""
        first = self.jobs.next_job_id()
        t0 = time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        got = self.jobs.counters(first, self.jobs.next_job_id())
        gap = max(wall - got.pop("stage_union_s"), 0.0)
        for k, v in got.items():
            self.acc[f"exec.{k}"] += v
        self.acc["driver.gap_s"] += gap
        if archiver:
            self.acc["archiver.jobs"] += got["jobs"]
            self.acc["archiver.encode_task_s"] += got.get("task_s", 0.0)
            self.acc["archiver.relay_s"] += gap

    def jobs_between(self, fn):
        """Run ``fn`` and return (its result, jobs it submitted)."""
        first = self.jobs.next_job_id()
        out = fn()
        return out, self.jobs.next_job_id() - first


class Patches:
    """Wrap module-level functions of the program for the traced
    passes, wherever a loaded module holds a reference to them, and
    restore them afterwards."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, span: str, count: str) -> None:
        orig = getattr(module, attr)
        tracer = self.tracer

        def wrapped(*args, **kwargs):
            with tracer.span(span, count):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("chiv_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                self._undo.append((mod, attr, orig))

    def __enter__(self) -> "Patches":
        from chiv_spark.core import sizing
        from chiv_spark.sources import catalog

        self.wrap(catalog, "read_table", "sources.read_s", "sources.read_calls")
        self.wrap(sizing, "relation_size_est", "sizing.est_s", "sizing.est_calls")
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()


def exchanges(df) -> tuple[int, float]:
    """(Exchange nodes, seconds) of planning ``df``: the executed
    plan's string, through the program's own plan helper."""
    from chiv_spark.plans.explain import op_counts

    t0 = time.perf_counter()
    counts = op_counts(df)
    return counts.get("Exchange", 0), time.perf_counter() - t0
