"""Tests of the benchmark's own machinery; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import pytest
import yaml

import checks
import gen
import procstat
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_gives_identical_inputs_and_another_seed_does_not(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), seed=7)
    b = gen.write_inputs(str(tmp_path / "b"), seed=7)
    c = gen.write_inputs(str(tmp_path / "c"), seed=8)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a != c
    other = _files(str(tmp_path / "c"))
    for name, data in _files(str(tmp_path / "a")).items():
        assert other[name] != data, name
    # the single-object archive input must sit above the spread gate
    assert os.path.getsize(tmp_path / "a" / "archive.parquet") > gen.SPREAD_BYTES


def _placeholder_select(limit: int | None) -> str:
    """The archive table with NULLs replaced by the placeholder, as
    each typed sink writes it."""
    cols = []
    for c in checks.INT_COLS:
        cols.append(f"COALESCE({c}, {checks.NULL}) AS {c}")
    for c in checks.DEC_COLS:
        cols.append(f"COALESCE({c}, {checks.NULL}) AS {c}")
    for c in checks.DATE_COLS + checks.STR_COLS:
        cols.append(f"COALESCE({c}::VARCHAR, '{checks.NULL}') AS {c}")
    sql = f"SELECT {', '.join(cols)} FROM read_parquet('{{pq}}') ORDER BY l_orderkey, l_linenumber"
    return sql + (f" LIMIT {limit}" if limit else "")


def _write_archive_outputs(con, pq: str, bucket: str) -> None:
    """Archive objects written by DuckDB and PyYAML instead of the
    program: what a correct archiver produces, value for value."""
    os.makedirs(os.path.join(bucket, "dist"))
    single = _placeholder_select(workloads.Archive.limit).format(pq=pq)
    con.execute(f"COPY ({single}) TO '{bucket}/csv' (FORMAT csv, HEADER true)")
    con.execute(f"COPY ({single}) TO '{bucket}/json' (FORMAT json, ARRAY true)")
    cur = con.execute(single)
    names = [d[0] for d in cur.description]
    rows = [
        {k: (float(v) if k in checks.DEC_COLS else v) for k, v in zip(names, r)}
        for r in cur.fetchall()
    ]
    with open(f"{bucket}/yaml", "w") as fh:
        yaml.safe_dump(rows, fh)
    full = _placeholder_select(None).format(pq=pq)
    con.execute(f"COPY ({full}) TO '{bucket}/dist/part-00000.json' (FORMAT json)")


def test_a_corrupted_archive_object_makes_fail_ratio_nonzero(tmp_path):
    in_dir, work = str(tmp_path / "in"), str(tmp_path / "work")
    gen.write_inputs(in_dir, seed=3)
    con = duckdb.connect()
    wl = workloads.Archive(workloads.Ctx(spark=None, in_dir=in_dir, work=work, sampler=None))
    _write_archive_outputs(con, f"{in_dir}/archive.parquet", wl.bucket)
    keys = ("csv", "json", "yaml", "dist")
    ids = [f"{p}:{k}" for p in (3, 4) for k in keys]
    for _ in (3, 4):
        for k in keys:
            wl.digests.setdefault(k, []).append(checks.sha256(os.path.join(wl.bucket, k)))
    assert wl.check(ids) == set()

    # one changed value in the CSV object: both passes that wrote it fail
    path = os.path.join(wl.bucket, "csv")
    with open(path) as fh:
        lines = fh.read().split("\n")
    lines[5] = lines[5].replace(",", ",9", 1)
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
    wl.digests["csv"] = [checks.sha256(path)] * 2
    bad = wl.check(ids)
    assert bad == {"3:csv", "4:csv"}
    assert len(bad) / len(ids) == 0.25

    # bytes that change between passes fail even if the last is right
    wl.digests["json"][0] = "0" * 64
    assert {"3:json", "4:json"} <= wl.check(ids)

    # distributed parts whose strings lost their edge spaces fail
    part = os.path.join(wl.bucket, "dist", "part-00000.json")
    with open(part) as fh:
        rows = [json.loads(line) for line in fh]
    assert any(r["l_comment"] != r["l_comment"].strip() for r in rows)
    with open(part, "w") as fh:
        fh.writelines(json.dumps({**r, "l_comment": r["l_comment"].strip()}) + "\n" for r in rows)
    wl.digests["dist"] = [checks.sha256(os.path.join(wl.bucket, "dist"))] * 2
    assert {"3:dist", "4:dist"} <= wl.check(ids)


def test_a_corrupted_query_row_is_a_mismatch():
    cols = ["doc_a", "doc_b", "est_jaccard"]
    rows = [(1, 2, 0.75), (3, 9, 0.5)]
    assert checks.rows_problem(cols, rows, cols[::-1], [r[::-1] for r in rows]) is None
    assert checks.rows_problem(cols, rows, cols, [(1, 2, 0.75), (3, 9, 0.5000001)])
    assert checks.rows_problem(cols, rows, cols, rows[:1])
    assert checks.rows_problem(cols, rows, ["doc_a", "doc_b", "j"], rows)


def test_sampler_counts_cpu_of_a_reaped_busy_child():
    sampler = procstat.TreeSampler(os.getpid())
    before = sampler.snapshot()
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
        timeout=60,
    )
    spent = procstat.delta(sampler.snapshot(), before)
    assert spent["total"] >= 0.4
    assert spent["steal"] >= 0.0


def test_sampler_sees_a_live_child_and_its_memory():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nb = bytearray(64 << 20)\n"
         "t = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
         "time.sleep(30)"],
    )
    try:
        sampler = procstat.TreeSampler(os.getpid(), {"child": lambda pid: pid == child.pid})
        with sampler:
            deadline = time.monotonic() + 30
            while sampler.snapshot()["child"] < 0.35 and time.monotonic() < deadline:
                time.sleep(0.1)
            assert child.pid in procstat.tree(os.getpid())
            assert sampler.snapshot()["child"] >= 0.35
            assert sampler.peak() >= 64 << 20
    finally:
        child.kill()
        child.wait(timeout=30)


def test_run_fails_without_the_program(tmp_path):
    root = tmp_path / "bare"
    shutil.copytree(HERE, root / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), root)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "archive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=root, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    for line in out.stdout.splitlines():
        with pytest.raises(json.JSONDecodeError):
            json.loads(line)
