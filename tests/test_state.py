"""The session-state store (chiv_spark/core/state.py), driven with a
stub session: hits, releases, session change, per-kind clear and
concurrent builders, asserted through the public ``state.stats``."""

from __future__ import annotations

import pathlib
import sys
import threading
from types import SimpleNamespace

from chiv_spark.core import state


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _counts(kind: str) -> dict:
    return state.stats().get(kind, {"hits": 0, "builds": 0, "releases": 0})


class _Recorder:
    def __init__(self):
        self.released: list = []
        self.lock = threading.Lock()

    def __call__(self, value):
        with self.lock:
            self.released.append(value)


def test_non_local_paths_fingerprint_to_none_and_never_hit():
    for uri in ("s3a://bucket/sf/documents.parquet", "s3://b/k", "hdfs://nn/x"):
        assert state.fingerprint([uri]) is None
    fp = state.fingerprint(["s3a://bucket/sf/documents.parquet"])
    spark, rec = _session("app-remote"), _Recorder()
    before = _counts("t-remote")
    for i in range(3):
        got = state.get_or_build(spark, "t-remote", "sf", fp, lambda _s, i=i: f"v{i}", rec)
        assert got == f"v{i}"
    after = _counts("t-remote")
    assert after["hits"] == before["hits"]
    assert after["builds"] - before["builds"] == 3
    assert rec.released == ["v0", "v1"]  # one outstanding value
    state.clear("t-remote")
    assert rec.released == ["v0", "v1", "v2"]


def test_local_fingerprint_sees_in_place_rewrite(tmp_path):
    table = tmp_path / "documents.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    part.write_bytes(b"abc")
    fp1 = state.fingerprint([str(table)])
    assert fp1 == state.fingerprint([f"file://{table}"])
    part.write_bytes(b"abcdef")  # same name, the dir mtime may not move
    assert state.fingerprint([str(table)]) != fp1
    assert state.fingerprint([str(tmp_path / "missing")]) == ()


def test_fingerprint_change_releases_the_stale_value_once(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"one")
    spark, rec = _session("app-fp"), _Recorder()
    build = lambda _s: object()  # noqa: E731
    v1 = state.get_or_build(spark, "t-fp", "s", state.fingerprint([str(f)]), build, rec)
    assert state.get_or_build(spark, "t-fp", "s", state.fingerprint([str(f)]), build, rec) is v1
    assert _counts("t-fp")["hits"] >= 1
    f.write_bytes(b"changed")
    seen = []
    v2 = state.get_or_build(
        spark,
        "t-fp",
        "s",
        state.fingerprint([str(f)]),
        lambda stale: seen.append(stale) or object(),
        rec,
    )
    assert v2 is not v1
    assert seen[0][1] is v1  # the stale entry is handed to build
    assert rec.released == [v1]
    state.clear("t-fp")
    assert rec.released == [v1, v2]


def test_build_returning_the_stale_value_keeps_it():
    spark, rec = _session("app-reuse"), _Recorder()
    v = state.get_or_build(spark, "t-reuse", "s", ("a",), lambda _s: ["store"], rec)
    got = state.get_or_build(spark, "t-reuse", "s", ("a", "b"), lambda stale: stale[1], rec)
    assert got is v
    assert rec.released == []
    state.clear("t-reuse")
    assert rec.released == [v]


def test_new_application_releases_every_older_entry():
    rec = _Recorder()
    old = _session("app-old")
    for kind in ("t-app-a", "t-app-b"):
        for scope in ("x", "y"):
            state.get_or_build(old, kind, scope, (), lambda _s, k=kind, s=scope: (k, s), rec)
    assert rec.released == []
    state.get_or_build(_session("app-new"), "t-app-a", "x", (), lambda _s: "fresh", rec)
    assert sorted(rec.released) == [
        ("t-app-a", "x"),
        ("t-app-a", "y"),
        ("t-app-b", "x"),
        ("t-app-b", "y"),
    ]
    state.clear("t-app-a")


def test_clear_releases_that_kind_only():
    spark, rec = _session("app-clear"), _Recorder()
    state.get_or_build(spark, "t-keep", "s", (), lambda _s: "keep", rec)
    state.get_or_build(spark, "t-drop", "s", (), lambda _s: "drop", rec)
    released = _counts("t-drop")["releases"]
    state.clear("t-drop")
    assert rec.released == ["drop"]
    assert _counts("t-drop")["releases"] == released + 1
    assert state.get_or_build(spark, "t-keep", "s", (), lambda _s: "rebuilt", rec) == "keep"
    state.clear("t-keep")


def test_release_errors_are_ignored():
    spark = _session("app-err")

    def boom(_value):
        raise RuntimeError("stopped context")

    state.get_or_build(spark, "t-err", "s", None, lambda _s: 1, boom)
    assert state.get_or_build(spark, "t-err", "s", None, lambda _s: 2, boom) == 2
    state.clear("t-err")


def test_concurrent_builders_on_distinct_scopes():
    spark, rec = _session("app-threads"), _Recorder()
    errors: list = []
    barrier = threading.Barrier(8)

    def worker(i: int) -> None:
        try:
            barrier.wait(timeout=30)
            for _ in range(1000):
                got = state.get_or_build(spark, "t-threads", i, (i,), lambda _s: f"v{i}", rec)
                assert got == f"v{i}"
        except Exception as e:  # noqa: BLE001 — reported by the main thread
            errors.append(e)

    before = _counts("t-threads")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # force thread switches inside the store
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    # no lost counter update, and exactly one entry per scope
    after = _counts("t-threads")
    assert after["builds"] - before["builds"] == 8
    assert after["hits"] - before["hits"] == 8 * 999
    state.clear("t-threads")
    assert sorted(rec.released) == sorted(f"v{i}" for i in range(8))


def test_application_id_is_read_only_by_the_state_store():
    """Session memos go through core/state.py: no other module keys
    state on the application id by hand."""
    pkg = pathlib.Path(state.__file__).resolve().parents[1]
    offenders = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "sparkContext.applicationId" in p.read_text(encoding="utf-8")
        and p.resolve() != pathlib.Path(state.__file__).resolve()
    ]
    assert offenders == []
