"""The bounded-stream runner (chiv_spark/streaming/runner.py) and the
table-stream reader (``catalog.read_table_stream``): runs on one
session never collide, failures are loud and leave no query or view
behind, and no other module starts or reads a stream by hand."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from chiv_spark.session import overlap
from chiv_spark.sources import catalog
from chiv_spark.sources.catalog import read_table, read_table_stream
from chiv_spark.streaming import runner
from chiv_spark.streaming.events import run_events_stream, windowed_event_counts
from chiv_spark.streaming.runner import run_batches, run_to_table


def _runner_views(spark):
    return [t.name for t in spark.catalog.listTables() if t.name.startswith(runner.VIEW_PREFIX)]


def test_concurrent_event_streams_both_succeed(spark, sf_dir, tmp_path):
    """Two memory-sink runs of the same stream on one session, from
    two driver threads: each sink gets its own name, so neither run is
    refused for an already-active query name. The first run is
    sequential: on a warm session the pair overlaps reliably."""
    want = run_events_stream(spark, sf_dir, str(tmp_path / "ck")).count()
    assert want == windowed_event_counts(read_table(spark, sf_dir, "events")).count() > 0
    for k in range(2):
        got = overlap(
            spark,
            lambda: run_events_stream(spark, sf_dir, str(tmp_path / f"ck{k}a")).count(),
            lambda: run_events_stream(spark, sf_dir, str(tmp_path / f"ck{k}b")).count(),
        )
        assert got == [want, want]


def test_run_to_table_rows_outlive_its_view(spark, sf_dir, tmp_path):
    stream = read_table_stream(spark, sf_dir, "events").select("event_id", "event_type")
    got = run_to_table(stream, str(tmp_path / "ck"), "append")
    want = read_table(spark, sf_dir, "events")
    assert got.count() == want.count()
    n_click = got.filter(F.col("event_type") == "click").count()
    assert n_click == want.filter(F.col("event_type") == "click").count()
    assert _runner_views(spark) == []
    assert spark.streams.active == []


def test_run_batches_sees_every_row_and_stops(spark, sf_dir, tmp_path):
    seen: list[int] = []
    run_batches(
        read_table_stream(spark, sf_dir, "events"),
        str(tmp_path / "ck"),
        lambda batch_df, _batch_id: seen.append(batch_df.count()),
    )
    assert sum(seen) == read_table(spark, sf_dir, "events").count()
    assert spark.streams.active == []


def test_failing_batch_raises_its_message_and_leaves_no_query(spark, sf_dir, tmp_path):
    def _boom(_batch_df, _batch_id):
        raise RuntimeError("on_batch failed: marker-7f3a")

    with pytest.raises(Exception, match="marker-7f3a"):
        run_batches(read_table_stream(spark, sf_dir, "events"), str(tmp_path / "ck"), _boom)
    assert spark.streams.active == []


def test_failing_table_run_raises_and_leaves_no_query_or_view(spark, sf_dir, tmp_path):
    stream = read_table_stream(spark, sf_dir, "events").select(
        F.raise_error(F.lit("row failed: marker-9c1e")).alias("x")
    )
    with pytest.raises(Exception, match="marker-9c1e"):
        run_to_table(stream, str(tmp_path / "ck"), "append")
    assert spark.streams.active == []
    assert _runner_views(spark) == []


def test_stream_runs_and_stream_reads_live_in_one_place():
    """One stream runner and one table-stream reader: no module other
    than streaming/runner.py starts or awaits a streaming query, and
    only sources/catalog.py and streaming/cdc.py (the change-feed
    reader, whose dir is no table of an sf dir) open a stream. An AST
    walk, so docstrings naming these APIs do not count."""
    pkg = pathlib.Path(runner.__file__).resolve().parents[1]
    homes = {
        "writeStream": {"streaming/runner.py"},
        "awaitTermination": {"streaming/runner.py"},
        "readStream": {"sources/catalog.py", "streaming/cdc.py"},
    }
    found = [
        (p.relative_to(pkg).as_posix(), node.lineno, node.attr)
        for p in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8")))
        if isinstance(node, ast.Attribute) and node.attr in homes
    ]
    assert [f for f in found if f[0] not in homes[f[2]]] == []
    assert {(f[0], f[2]) for f in found} == {(h, a) for a, hs in homes.items() for h in hs}
    assert not hasattr(catalog, "read_event_stream")
