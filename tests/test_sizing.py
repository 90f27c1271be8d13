"""core/sizing.relation_size_est: the input files' total size, capped
by the analyzed plan's row bound × its schema's default row size."""

from __future__ import annotations

import os

import pytest

from chiv_spark.core.sizing import relation_size_est
from chiv_spark.core.state import local_path

SF01_LINEITEM = "/root/testdata/sf0.1/lineitem.parquet"
SPREAD_GATE = 8 << 20  # the archiver's default spark.chiv.archive.spreadBytes


def file_total(df) -> int:
    return sum(os.path.getsize(local_path(f)) for f in df.inputFiles())


def analyzed_size(df) -> int:
    return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sizing") / "t")
    spark.range(20_000, numPartitions=2).selectExpr(
        "id", "cast(id * 7 as string) as s"
    ).write.parquet(path)
    return spark.read.parquet(path)


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
