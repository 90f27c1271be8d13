"""core/sizing.relation_size_est: the input files' total size, capped
by the analyzed plan's row bound × its schema's default row size."""

from __future__ import annotations

import os
import pathlib

import pytest

from chiv_spark.core import sizing
from chiv_spark.core.archiver import _SPREAD_BYTES as SPREAD_GATE
from chiv_spark.core.sizing import relation_size_est
from chiv_spark.core.state import local_path

SF01_LINEITEM = "/root/testdata/sf0.1/lineitem.parquet"


def file_total(df) -> int:
    return sum(os.path.getsize(local_path(f)) for f in df.inputFiles())


def analyzed_size(df) -> int:
    return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())


@pytest.fixture(scope="module")
def table_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sizing") / "t")
    spark.range(20_000, numPartitions=2).selectExpr(
        "id", "cast(id * 7 as string) as s"
    ).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def table(spark, table_path):
    return spark.read.parquet(table_path)


def test_unbounded_scan_is_the_file_total(table):
    total = file_total(table)
    assert total > 0
    assert relation_size_est(table) == total
    # projections and filters do not bound the rows: still the total
    assert relation_size_est(table.filter("id > 5").select("s")) == total


def test_row_bound_caps_the_file_total(table):
    # default row size of (long, string) is 8 + 20 bytes
    assert relation_size_est(table.limit(10)) == 10 * 28
    assert relation_size_est(table.orderBy("id").limit(100)) == 100 * 28
    # a bound above the file total leaves the total
    assert relation_size_est(table.orderBy("id").limit(10**9)) == file_total(table)


@pytest.mark.skipif(not os.path.exists(SF01_LINEITEM), reason="needs the sf0.1 lineitem file")
def test_lineitem_100k_limit_stays_above_the_spread_gate(spark):
    lineitem = spark.read.parquet(SF01_LINEITEM)
    assert file_total(lineitem) > SPREAD_GATE
    big = lineitem.orderBy("l_orderkey").limit(100_000)
    assert relation_size_est(big) > SPREAD_GATE
    small = lineitem.orderBy("l_orderkey").limit(6_000)
    assert relation_size_est(small) < SPREAD_GATE


def test_no_input_files_keeps_the_analyzed_stats(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "a long, b string")
    assert df.inputFiles() == []
    for frame in (df, df.limit(1)):
        assert relation_size_est(frame) == analyzed_size(frame)


def test_estimate_runs_no_optimizer_and_sums_join_leaves(spark, table_path, tmp_path):
    """The estimate reads the analyzed plan only: on fresh frames the
    planning tracker records the analysis phase and nothing else. A
    join is charged both inputs' file totals."""
    other_path = str(tmp_path / "other")
    spark.range(5_000, numPartitions=1).selectExpr("id", "id * 2 as k").write.parquet(other_path)
    frames = {
        "scan": spark.read.parquet(table_path),
        "filter+project": spark.read.parquet(table_path).filter("id > 5").select("s"),
        "limit": spark.read.parquet(table_path).orderBy("id").limit(100),
        "join": spark.read.parquet(table_path).join(spark.read.parquet(other_path), "id"),
    }
    for name, df in frames.items():
        relation_size_est(df)
        phases = df._jdf.queryExecution().tracker().phases()
        assert phases.size() == 1 and phases.contains("analysis"), name
    files = file_total(spark.read.parquet(table_path))
    assert relation_size_est(frames["join"]) == files + file_total(spark.read.parquet(other_path))


def test_no_module_reads_a_chiv_conf_key():
    """Form gates are module constants, not session options: no module
    reads or names a ``spark.chiv.*`` key."""
    pkg = pathlib.Path(sizing.__file__).resolve().parents[1]
    offenders = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "spark.chiv." in p.read_text(encoding="utf-8")
    )
    assert offenders == []
