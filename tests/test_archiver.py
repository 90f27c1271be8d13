"""End-to-end archiver tests: Spark DataFrame → encoded object →
read bytes back and compare (the reference's tier-3
download-back-and-compare strategy, SURVEY.md §5, applied to a
tmpdir bucket)."""

from __future__ import annotations

import datetime as dt
import io
import json
import os

import pytest

from chiv_spark import Archiver, archive_df
from chiv_spark.core.archiver import _default_key, _parse_placeholder
from pyspark.sql import types as T


@pytest.fixture(scope="module")
def pg_df(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("text_column", T.StringType()),
            T.StructField("char_column", T.StringType()),
            T.StructField("int_column", T.LongType()),
            T.StructField("float_column", T.DoubleType()),
            T.StructField("bool_column", T.BooleanType()),
            T.StructField("ts_column", T.TimestampType()),
            T.StructField("json_column", T.StringType()),
        ]
    )
    rows = [
        (
            "ea09d13c-f441-4550-9492-115f8b409c96",
            "some text",
            "some chars",
            42,
            3.14,
            True,
            dt.datetime(2018, 1, 4),
            '{"key":"value","num":42}',
        ),
        (
            "4289a9e3-32d5-4bad-b79b-034c528e8f41",
            "some other text",
            None,
            100,
            3.141592,
            True,
            dt.datetime(2018, 2, 4),
            '{"other":"value"}',
        ),
        (
            "7530a381-526a-42aa-a9ba-97fb2bca283f",
            "some more text",
            "some more chars",
            101,
            None,
            False,
            dt.datetime(2018, 2, 5),
            '[{"item":"in an array"},{"num":999}]',
        ),
    ]
    # coalesce(1): the goldens are ordered; chiv inherits cursor order
    # (SURVEY.md §2.6), we pin it for the byte-exact comparison
    df = spark.createDataFrame(rows, schema).coalesce(1)
    df.createOrReplaceTempView("postgres_table")
    return df


def golden(path: str) -> bytes:
    with open(f"/root/reference/testdata/{path}", "rb") as fh:
        return fh.read()


def read_obj(bucket, key) -> bytes:
    with open(f"{bucket}/{key}", "rb") as fh:
        return fh.read()


class TestArchiveGoldens:
    def test_csv_default(self, spark, pg_df, tmp_path):
        a = Archiver(spark)
        key = a.archive("postgres_table", str(tmp_path))
        assert key == "postgres_table.csv"
        assert read_obj(tmp_path, key) == golden("postgres/postgres.csv").replace(
            b"", b""
        )

    def test_json(self, spark, pg_df, tmp_path):
        key = Archiver(spark).archive("postgres_table", str(tmp_path), format="json")
        assert key == "postgres_table.json"
        assert read_obj(tmp_path, key) == golden("postgres/postgres.json")

    def test_yaml(self, spark, pg_df, tmp_path):
        key = Archiver(spark).archive("postgres_table", str(tmp_path), format="yaml")
        assert read_obj(tmp_path, key) == golden("postgres/postgres.yaml")

    def test_null_placeholder_csv(self, spark, pg_df, tmp_path):
        key = Archiver(spark).archive("postgres_table", str(tmp_path), null="custom_null")
        assert read_obj(tmp_path, key) == golden("postgres/postgres_with_null.csv")

    def test_column_subset(self, spark, pg_df, tmp_path):
        key = Archiver(spark).archive(
            "postgres_table", str(tmp_path), columns=["id", "text_column", "int_column"]
        )
        assert read_obj(tmp_path, key) == golden("postgres/postgres_subset.csv")


class TestKeyExtensionPrecedence:
    """Key/extension rules from /root/reference/chiv.go:224-233 and
    the unit matrix at chiv_test.go:149-181."""

    def test_default_key_rules(self):
        assert _default_key("t", "csv") == "t.csv"
        assert _default_key("t", None) == "t"
        assert _default_key("", "csv") == "table.csv"  # ArchiveRows literal default
        assert _default_key("", None) == "table"

    def test_explicit_key_beats_extension(self, spark, pg_df, tmp_path):
        key = Archiver(spark).archive(
            "postgres_table", str(tmp_path), key="mykey", extension="ignored"
        )
        assert key == "mykey"

    def test_explicit_extension(self, spark, pg_df, tmp_path):
        key = Archiver(spark).archive("postgres_table", str(tmp_path), extension="txt")
        assert key == "postgres_table.txt"

    def test_archive_df_default_key(self, spark, pg_df, tmp_path):
        key = archive_df(pg_df, str(tmp_path))
        assert key == "table.csv"

    def test_constructor_defaults_overridable_without_mutation(self, spark, pg_df, tmp_path):
        a = Archiver(spark, format="json")
        k1 = a.archive("postgres_table", str(tmp_path))
        assert k1 == "postgres_table.json"
        k2 = a.archive("postgres_table", str(tmp_path), format="csv", key="second.csv")
        assert k2 == "second.csv"
        # defaults unchanged (value-copy semantics, chiv.go:88-91)
        assert a.defaults.format == "json"
        assert a.defaults.key is None


class TestNullPlaceholderTyping:
    """The placeholder substitutes into the record *before* typed
    encoding (chiv.go:175-181), so structured sinks must re-type it."""

    def test_string_passthrough(self):
        assert _parse_placeholder("custom_null", T.StringType()) == "custom_null"

    def test_numeric_parse(self):
        assert _parse_placeholder("0", T.DoubleType()) == 0.0
        assert _parse_placeholder("-1", T.LongType()) == -1
        assert _parse_placeholder("true", T.BooleanType()) is True

    def test_unparseable_raises(self):
        with pytest.raises(ValueError, match="not parseable"):
            _parse_placeholder("custom_null", T.DoubleType())

    def test_json_with_parseable_placeholder(self, spark, pg_df, tmp_path):
        key = Archiver(spark).archive("postgres_table", str(tmp_path), format="json", null="0")
        data = json.loads(read_obj(tmp_path, key))
        # float_column NULL (row 3) became typed 0
        assert data[2]["float_column"] == 0
        # char_column NULL (row 2) became the string "0"
        assert data[1]["char_column"] == "0"


class TestCustomFormatter:
    """WithFormat extension point (chiv_options.go:7-11): any
    open/format/close encoder plugs in (SURVEY.md §2.10)."""

    def test_custom_formatter_func(self, spark, pg_df, tmp_path):
        class PipeFormatter:
            extension = "psv"

            def __init__(self, sink, columns):
                self._sink = sink
                self._cols = columns

            def open(self):
                self._sink.write(("|".join(self._cols) + "\n").encode())

            def format_row(self, record):
                self._sink.write(("|".join("" if v is None else str(v) for v in record) + "\n").encode())

            def close(self):
                self._sink.write(b"#end\n")

        key = Archiver(spark).archive("postgres_table", str(tmp_path), format=PipeFormatter)
        assert key == "postgres_table.psv"
        body = read_obj(tmp_path, key).decode()
        assert body.startswith("id|text_column|")
        assert body.endswith("#end\n")
        assert body.count("\n") == 5  # header + 3 rows + trailer


class TestDistributedWrites:
    """The 100 TB sink path: parallel part files, read back via Spark."""

    def test_distributed_csv_roundtrip(self, spark, pg_df, tmp_path):
        a = Archiver(spark)
        key = a.archive("postgres_table", str(tmp_path), distributed=True)
        back = spark.read.option("header", True).csv(f"{tmp_path}/{key}")
        assert back.count() == 3
        assert set(back.columns) == set(pg_df.columns)
        # string edges survive byte-exact (Spark's CSV writer trims
        # leading/trailing spaces unless told not to)
        padded = "  two spaces each side  "
        key = archive_df(
            spark.createDataFrame([(padded,)], "s string"),
            str(tmp_path),
            key="padded",
            format="csv",
            distributed=True,
        )
        back = spark.read.option("header", True).csv(f"{tmp_path}/{key}")
        assert [r.s for r in back.collect()] == [padded]

    def test_distributed_yaml_parts(self, spark, pg_df, tmp_path):
        import glob

        import yaml

        a = Archiver(spark)
        key = a.archive("postgres_table", str(tmp_path), format="yaml", distributed=True)
        docs = []
        for part in glob.glob(f"{tmp_path}/{key}/part-*"):
            with open(part) as fh:
                docs.extend(yaml.safe_load(fh.read()) or [])
        assert len(docs) == 3
        assert {d["int_column"] for d in docs} == {42, 100, 101}


    def test_yaml_part_matches_single_object(self, spark, pg_df, tmp_path):
        """The distributed YAML part and the single-object YAML come
        from the same encoder: a one-partition frame gives the same
        bytes, but for the newline the text writer adds to a part."""
        import glob

        one = pg_df.coalesce(1)
        a = Archiver(spark)
        single = a.archive_df(one, str(tmp_path), format="yaml", key="one.yaml", null="0")
        key = a.archive_df(
            one, str(tmp_path), format="yaml", key="parts", null="0", distributed=True
        )
        parts = glob.glob(f"{tmp_path}/{key}/part-*")
        assert len(parts) == 1
        with open(parts[0], "rb") as fh:
            assert fh.read() == (tmp_path / single).read_bytes() + b"\n"


class TestJobGroupHygiene:
    """setJobGroup is thread-local state: an archive must clear it on
    the way out (success or failure), or every later job on the thread
    stays tagged — and cancellable — as that archive."""

    def test_job_group_cleared_after_archive(self, spark, pg_df, tmp_path):
        a = Archiver(spark)
        a.archive_df(pg_df, str(tmp_path), key="jg.csv", job_group="jg-test")
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
        assert spark.sparkContext.getLocalProperty("spark.job.interruptOnCancel") is None

    def test_job_group_cleared_after_failure(self, spark, tmp_path):
        a = Archiver(spark)
        with pytest.raises(Exception):
            a.archive("no_such_table_anywhere", str(tmp_path), job_group="jg-fail")
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


class TestDistributedCallableFormatter:
    def test_callable_formatter_rejected(self, spark, pg_df, tmp_path):
        """The distributed sink writes built-in formats only; silently
        coercing a custom FormatterFunc to CSV would discard it."""

        def my_formatter(stream, columns):  # pragma: no cover - never called
            raise AssertionError("must not be invoked")

        a = Archiver(spark)
        with pytest.raises(ValueError, match="callable formatter"):
            a.archive_df(
                pg_df, str(tmp_path), key="x", format=my_formatter, distributed=True
            )


class TestForeignCwdWorkers:
    """r5 regression: the CSV fast path runs chiv_spark code on the
    executors; a driver launched from OUTSIDE the repo root (any real
    deployment) must still work because pyship ships the package. The
    frame has two partitions: a one-partition frame encodes in the
    driver and would not reach the workers.
    Before the fix, only the distributed sinks shipped — the
    single-object fast path died with ModuleNotFoundError on the
    workers whenever the driver's cwd was not /root/repo."""

    def test_single_object_csv_archive_from_foreign_cwd(self, tmp_path):
        import subprocess
        import sys as _sys

        script = f"""
import sys
sys.path.insert(0, "/root/repo")
from chiv_spark import Archiver, get_spark
spark = get_spark("foreign-cwd", master="local[2]", shuffle_partitions=2)
df = spark.range(5, numPartitions=2).selectExpr("id", "concat('row,', id) AS s")
key = Archiver(spark).archive_df(df, r"{tmp_path}", format="csv", key="out.csv")
print("KEY=" + key)
spark.stop()
"""
        proc = subprocess.run(
            [_sys.executable, "-c", script],
            cwd=str(tmp_path),  # NOT the repo root
            capture_output=True,
            text=True,
            timeout=240,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "KEY=out.csv" in proc.stdout
        body = (tmp_path / "out.csv").read_text()
        assert body.splitlines()[0] == "id,s"
        assert '"row,4"' in body  # quoting ran executor-side


class TestForeignCwdJsonWorkers:
    def test_single_object_json_archive_from_foreign_cwd(self, tmp_path):
        """The JSON/YAML fast paths run chiv_spark closures on the
        executors (r6); same foreign-cwd shipping guard as CSV."""
        import subprocess
        import sys as _sys

        script = f"""
import sys
sys.path.insert(0, "/root/repo")
from chiv_spark import Archiver, get_spark
spark = get_spark("foreign-cwd-json", master="local[2]", shuffle_partitions=2)
df = spark.range(5, numPartitions=2).selectExpr("id", "concat('v\\"x', id) AS s")
key = Archiver(spark).archive_df(df, r"{tmp_path}", format="json", key="out.json")
print("KEY=" + key)
spark.stop()
"""
        proc = subprocess.run(
            [_sys.executable, "-c", script],
            cwd=str(tmp_path),  # NOT the repo root
            capture_output=True,
            text=True,
            timeout=240,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "KEY=out.json" in proc.stdout
        body = (tmp_path / "out.json").read_text()
        assert body.startswith("[") and body.endswith("]")
        assert '{"id":4,"s":"v\\"x4"}' in body  # escaping ran executor-side


class TestExecutorSideJsonYaml:
    """r6: JSON/YAML single-object sinks format on the executors (the
    CSV fast-path pattern); the driver only writes framing and
    concatenates chunks. Bytes must be IDENTICAL to the per-row
    formatter across multiple partitions and chunk boundaries."""

    @pytest.fixture(scope="class")
    def wide_df(self, spark):
        from pyspark.sql import functions as F

        # >10k rows forces multiple chunks per partition; 8 partitions
        # force inter-chunk separators at partition boundaries; the
        # columns cover quoting, unicode, floats, NULL booleans, ts
        return spark.range(25_000, numPartitions=8).select(
            F.col("id").alias("id"),
            F.concat(F.lit('na"me, é '), F.col("id").cast("string")).alias("s"),
            (F.col("id") * 1.5).alias("v"),
            F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") % 2 == 0).alias("b"),
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
            ).alias("ts"),
        )

    @pytest.mark.parametrize("fmt,null", [("json", None), ("yaml", None), ("json", "0"), ("yaml", "0")])
    def test_bytes_match_per_row_formatter(self, spark, wide_df, tmp_path, fmt, null):
        import io

        from chiv_spark.core.archiver import _substitute, _try_parse_placeholder
        from chiv_spark.formats.json_format import JsonFormatter
        from chiv_spark.formats.yaml_format import YamlFormatter

        key = Archiver(spark).archive_df(
            wide_df, str(tmp_path), format=fmt, key=f"fast.{fmt}", null=null
        )
        fast = (tmp_path / key).read_bytes()

        buf = io.BytesIO()
        cls = JsonFormatter if fmt == "json" else YamlFormatter
        f = cls(buf, wide_df.columns)
        f.open()
        ph = (
            [_try_parse_placeholder(null, fld.dataType) for fld in wide_df.schema.fields]
            if null is not None
            else None
        )
        for row in wide_df.toLocalIterator():
            f.format_row(row if null is None else _substitute(row, ph, null))
        f.close()
        assert fast == buf.getvalue()

    def test_empty_df_json_brackets(self, spark, tmp_path):
        df = spark.createDataFrame([], "id long, s string")
        key = Archiver(spark).archive_df(df, str(tmp_path), format="json", key="empty.json")
        assert (tmp_path / key).read_bytes() == b"[]"


class TestSpreadPath:
    """Where the single-object encode runs (``archiver._encoded_chunks``):
    a one-partition frame under ``archiver._SPREAD_BYTES`` encodes in
    the driver; one above it is range-repartitioned so the encode runs
    in parallel on the executors; a multi-partition frame encodes on
    the executors. The bytes must not change, and a LIMIT is charged
    for the rows it can return."""

    FORMS = ("driver", "executors", "spread")

    @staticmethod
    def _frame(spark, parts: int):
        from pyspark.sql import functions as F

        return spark.range(6_000, numPartitions=parts).select(
            F.col("id"),
            F.when(F.col("id") % 5 == 0, None)
            .otherwise(F.concat(F.lit('na"me, é '), F.col("id").cast("string")))
            .alias("s"),
            (F.col("id") * 1.5).alias("v"),
            F.when(F.col("id") % 7 == 0, None)
            .otherwise((F.col("id") / 100).cast("decimal(15,2)"))
            .alias("d"),
            F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id") % 2 == 0).alias("b"),
            F.expr("date_add(date'2024-01-01', cast(id as int))").alias("day"),
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
            ).alias("ts"),
        )

    @pytest.fixture(scope="class")
    def frames(self, spark):
        """form -> the frame it archives; ``spread`` is the one-partition
        frame, archived with the gate forced down."""
        one, two = self._frame(spark, 1), self._frame(spark, 2)
        assert (one.rdd.getNumPartitions(), two.rdd.getNumPartitions()) == (1, 2)
        return {"driver": one, "executors": two, "spread": one}

    @staticmethod
    def _archive(spark, df, bucket, fmt, key, null, group) -> tuple[bytes, int]:
        """(object bytes, Spark jobs the archive ran)."""
        Archiver(spark).archive_df(df, bucket, format=fmt, key=key, null=null, job_group=group)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
        return read_obj(bucket, key), len(jobs)

    def _archive_form(self, spark, frames, monkeypatch, form, bucket, fmt, null, group):
        from chiv_spark.core import archiver

        with monkeypatch.context() as m:
            if form == "spread":
                m.setattr(archiver, "_SPREAD_BYTES", 0)
            return self._archive(
                spark, frames[form], bucket, fmt, f"{form}.{fmt}", null, f"{form}-{group}"
            )

    @pytest.mark.parametrize("fmt", ["csv", "json", "yaml"])
    @pytest.mark.parametrize("null", [None, "0"])
    def test_spread_bytes_match_unspread(self, spark, frames, tmp_path, monkeypatch, fmt, null):
        """The three forms write identical bytes."""
        tag = f"{fmt}-{null}"
        out = {
            form: self._archive_form(spark, frames, monkeypatch, form, str(tmp_path), fmt, null, tag)
            for form in self.FORMS
        }
        assert out["spread"][1] > out["driver"][1]  # the spread form really ran
        assert out["executors"][0] == out["driver"][0]
        assert out["spread"][0] == out["driver"][0]

    @pytest.mark.parametrize("form", FORMS)
    def test_encode_runs_where_its_form_says(self, spark, frames, tmp_path, monkeypatch, form):
        """A one-partition frame under the gate encodes in this (the
        driver) process and starts no Python worker task; a
        two-partition and a spread frame encode in worker processes.
        The encoder records the pid of every process it runs in."""
        from chiv_spark.core import archiver

        real = archiver._partition_encoder
        pids = tmp_path / "pids"
        pids.mkdir()

        def recording(fmt, schema, null):
            gap, enc = real(fmt, schema, null)

            def enc_and_record(rows, pids=str(pids)):
                import os

                open(os.path.join(pids, str(os.getpid())), "w").close()
                yield from enc(rows)

            return gap, enc_and_record

        monkeypatch.setattr(archiver, "_partition_encoder", recording)
        if form == "spread":
            monkeypatch.setattr(archiver, "_SPREAD_BYTES", 0)
        _, jobs = self._archive(
            spark, frames[form], str(tmp_path), "csv", "where.csv", None, f"where-{form}"
        )
        encoded_in = {int(p.name) for p in pids.iterdir()}
        if form == "driver":
            assert encoded_in == {os.getpid()}
            assert jobs == 1  # the toLocalIterator scan, no encode job
        else:
            assert encoded_in and os.getpid() not in encoded_in

    def test_limit_over_large_file_archives_in_one_job(self, spark, tmp_path):
        """An ``ORDER BY … LIMIT`` over a file above the spread gate
        returns ~40 KB: it must not pay the spread's sample job,
        shuffle and top-k recompute."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows, width = 80_000, 160
        rng = np.random.default_rng(0)
        alphabet = np.frombuffer(
            b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/", dtype=np.uint8
        )
        blob = alphabet[rng.integers(0, len(alphabet), rows * width)].tobytes().decode()
        path = tmp_path / "wide.parquet"
        pq.write_table(
            pa.table({
                "k": np.arange(rows),
                "s": [blob[i * width : (i + 1) * width] for i in range(rows)],
            }),
            path,
        )
        assert path.stat().st_size > 8 << 20  # above the default spread gate
        df = spark.read.parquet(str(path)).orderBy("k").limit(1_000)
        body, jobs = self._archive(
            spark, df, str(tmp_path), "yaml", "limit.yaml", None, "limit-one-job"
        )
        assert jobs == 1
        assert body.count(b"\n- ") + body.startswith(b"- ") == 1_000
