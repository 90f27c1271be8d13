"""Archiver: the reference's extract→format→load pipeline on Spark.

Reference lifecycle (/root/reference/chiv.go:87-143): resolve options
(per-call overrides a copy of constructor defaults), build
``SELECT <cols> FROM <table>``, then pipeline a row-cursor producer
into a streaming S3 multipart consumer coupled by an ``io.Pipe``.

Spark restatement (SURVEY.md §3.1): option resolution is ours; the
query is a DataFrame (``spark.table(...).select(...)`` — Catalyst owns
pushdown); the pipe is ``toLocalIterator`` (upstream stages execute
distributed + prefetched while the driver streams encoded bytes into
the storage writer), keeping memory O(one partition) regardless of row
count — the same bounded-memory guarantee the reference gets from its
pipe (README.md:130-134).

Two sink modes, for the built-in formats csv, json and yaml:
- ``distributed=False`` (default, reference parity): exactly one
  object ``bucket/key``, byte-stable encoder output. A custom
  ``FormatterFunc`` runs only here, row by row on the driver. The
  built-in formats encode in one of three forms (``_encoded_chunks``):
  a small one-partition input in the driver, because a Python worker
  task costs more than the encode it would run; a large one-partition
  input spread over two partitions on the executors; a multi-partition
  input on the executors, in parallel.
- ``distributed=True`` (the 100 TB path): a directory of part files
  written in parallel — CSV and JSON (NDJSON) through Spark's native
  writers, YAML through the partition encoder; ``s3://`` buckets
  upload partition-encoded parts from the executors (core/s3dist.py).
  No driver bottleneck; use this at scale.

Every sink that encodes in Python encodes through one
``_partition_encoder`` per format (``_ENCODINGS``); the per-row
``Formatter`` classes keep the open()/close() framing, the custom
formatter path and the reference role in the differential tests.
"""

from __future__ import annotations

import contextlib
import io
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chiv_spark.core.errors import ArchiveError, UploadError, _UploadGuard
from chiv_spark.core.options import ArchiveOptions
from chiv_spark.core.storage import storage_for
from chiv_spark.formats import FORMATS
from chiv_spark.formats.base import Formatter, FormatterFunc
from chiv_spark.formats.csv_format import _quote_field
from chiv_spark.formats.encode import (
    go_float_str,
    go_g_float_str,
    json_escape,
    json_value,
    rfc3339,
    to_csv_str,
)
from chiv_spark.formats.yaml_format import _yaml_scalar, _yaml_str


# Spark types whose cells the partition encoder renders without the
# per-value isinstance chain, by kind (exact classes: a column's
# renderer is looked up by ``type(dtype)``)
_KINDS = {
    T.ByteType: "int",
    T.ShortType: "int",
    T.IntegerType: "int",
    T.LongType: "int",
    T.FloatType: "float",
    T.DoubleType: "float",
    T.DecimalType: "decimal",
    T.BooleanType: "bool",
    T.DateType: "date",
    T.TimestampType: "timestamp",
    T.TimestampNTZType: "timestamp",
    T.StringType: "str",
}


def _column_renderers(dtypes: list[T.DataType], placeholders: list[object], render, by_kind: dict):
    """Per-column cell renderers for the partition encoder.

    A column whose kind (``_KINDS``) is in ``by_kind`` renders its
    values with that function, which must return what ``render`` (the
    format's per-value renderer) returns for a value of that type;
    other columns use ``render``. A NULL cell renders as its column's
    placeholder through ``render`` (``render(None)`` without one). A
    placeholder that did not parse as its column's type, or cannot be
    rendered, raises only when a NULL reaches that column: the
    reference substitutes and parses at format time
    (chiv.go:175-181)."""
    fns = []
    for dt, ph in zip(dtypes, placeholders):
        fn = by_kind.get(_KINDS.get(type(dt)), render)
        try:
            if isinstance(ph, _BadPlaceholder):
                raise ph.err
            nul = render(ph)
        except ValueError as err:

            def cell(v, fn=fn, err=err):
                if v is None:
                    raise err
                return fn(v)

        else:

            def cell(v, fn=fn, nul=nul):
                return nul if v is None else fn(v)

        fns.append(cell)
    return fns


def _bool_text(v: bool) -> str:
    return "true" if v else "false"


def _csv_value(v: object) -> str:
    return _quote_field(to_csv_str(v))


def _quoted_date(v) -> str:
    return '"' + v.isoformat() + '"'


def _quoted_timestamp(v) -> str:
    return '"' + rfc3339(v) + '"'


def _sorted_index(columns: list[str]) -> list[int]:
    return sorted(range(len(columns)), key=lambda i: columns[i])


# Row assembly, per format: given the column names and the per-column
# renderers, return the function that renders one row.


def _csv_row(columns: list[str], fns: list):
    return lambda row: ",".join([f(v) for f, v in zip(fns, row)])


def _json_row(columns: list[str], fns: list):
    cells = [(json_escape(columns[i]) + ":", fns[i], i) for i in _sorted_index(columns)]
    return lambda row: "{" + ",".join([k + f(row[i]) for k, f, i in cells]) + "}"


def _yaml_row(columns: list[str], fns: list):
    cells = [
        (("- " if k == 0 else "  ") + columns[i] + ": ", fns[i], i)
        for k, i in enumerate(_sorted_index(columns))
    ]
    return lambda row: "".join([p + f(row[i]) + "\n" for p, f, i in cells])


class _Encoding(NamedTuple):
    """One format's row encoding for ``_partition_encoder``."""

    typed: bool  # the NULL placeholder is parsed as its column's type
    render: Callable[[object], str]  # the per-row formatter's value renderer
    by_kind: dict  # by ``_KINDS`` kind: renders as ``render`` does, faster
    row: Callable  # row assembly: (columns, renderers) -> row function
    sep: str  # written between consecutive rows
    terminated: bool  # ``sep`` follows the last row too


_JSON_KINDS = {
    "int": str,
    "float": go_float_str,
    "decimal": lambda v: go_float_str(float(v)),
    "bool": _bool_text,
    "date": _quoted_date,
    "timestamp": _quoted_timestamp,
    "str": json_escape,
}

# The renderings match the per-row formatters byte for byte (the
# differential test in tests/test_formats_property.py pins this).
# NDJSON is the distributed s3:// sink's JSON: one object per line,
# the only JSON framing that can be produced in parallel.
_ENCODINGS = {
    # numeric/bool/date/timestamp renderings never contain a quotable
    # character (comma, quote, CR/LF, leading Go-space, the literal
    # ``\.``), so only string-ish columns pay the CSV quote scan
    "csv": _Encoding(
        False,
        _csv_value,
        {
            "int": str,
            "float": go_float_str,
            "decimal": str,
            "bool": _bool_text,
            "date": lambda v: v.isoformat(),
            "timestamp": rfc3339,
            "str": _quote_field,
        },
        _csv_row,
        "\n",
        True,
    ),
    "json": _Encoding(True, json_value, _JSON_KINDS, _json_row, ",", False),
    "ndjson": _Encoding(True, json_value, _JSON_KINDS, _json_row, "\n", True),
    "yaml": _Encoding(
        True,
        _yaml_scalar,
        {
            "int": str,
            "float": go_g_float_str,
            "decimal": lambda v: go_g_float_str(float(v)),
            "bool": _bool_text,
            "date": _quoted_date,
            "timestamp": _quoted_timestamp,
            "str": _yaml_str,
        },
        _yaml_row,
        "",
        False,
    ),
}

# marker prefix for per-row encode failures: on the executors the
# driver sees them as opaque Py4J errors, and in the driver form a
# scan failure surfaces from the same generator, so the single-object
# loop greps for this to re-raise with the reference's "formatting
# row" stage instead of "scanning rows" (chiv.go:189-198 distinguishes
# the two; tests/test_errors.py pins the stage names)
_ROW_ERR = "chiv-format-row"

# The single-object encode spread (see _encoded_chunks): a
# one-partition input whose size estimate exceeds _SPREAD_BYTES is
# range-repartitioned into _SPREAD_PARTS partitions and encoded on the
# executors; at or under it, the input encodes in the driver. Driver
# form vs spread, sf0.1 lineitem ORDER BY ... LIMIT, local[4] on a
# 4-vCPU VM, one warm-up then best-of-3 walls (median CPU-s of the
# process tree):
#
#   rows  est MB  csv driver    csv spread    yaml driver   yaml spread
#   25k    2.57   0.53 (1.11)   0.97 (2.49)   0.87 (1.21)   1.14 (2.58)
#   50k    5.15   1.04 (1.33)   1.44 (2.92)   1.61 (2.04)   1.39 (2.88)
#   75k    7.72   1.44 (1.66)   1.41 (2.84)   1.99 (2.32)   1.76 (3.68)
#   100k  10.30   2.00 (2.61)   2.19 (3.98)   4.02 (4.15)   2.53 (5.12)
#
# YAML, the slowest encode, crosses over between 2.57 and 5.15 MB; CSV
# stays faster in the driver through 10.3 MB, and the driver always
# spends less CPU. One gate serves every format, so it sits between
# YAML's two points. 100k rows over 1/2/4/8 parts ran
# 5.2/3.6/4.6/7.5 s at 32 cores and 3.7/2.6/2.8/3.0 s at 8 (r18).
_SPREAD_BYTES = 4 << 20
_SPREAD_PARTS = 2


def _partition_encoder(fmt: str, schema: T.StructType, null: str | None):
    """Row encoding of one ``_ENCODINGS`` format, for every archive
    sink, on the executors or in the driver: returns ``(gap, enc)``.
    ``enc`` maps one partition's rows to UTF-8 chunks of up to ~10k
    rows in partition order; ``gap`` is the text that goes between two
    consecutive chunks (JSON's ``,``; empty where every row ends
    itself). The open()/close() framing (CSV header, JSON brackets)
    is the sink's."""
    e = _ENCODINGS[fmt]
    columns = schema.names
    dtypes = [f.dataType for f in schema.fields]
    placeholders = _placeholders(schema, null, e.typed)

    def enc(rows):
        from chiv_spark.core.archiver import _ENCODINGS, _ROW_ERR, _column_renderers

        e = _ENCODINGS[fmt]
        render_row = e.row(columns, _column_renderers(dtypes, placeholders, e.render, e.by_kind))
        sep = e.sep
        end = sep if e.terminated else ""
        buf: list[str] = []
        for row in rows:
            try:
                buf.append(render_row(row))
            except Exception as err:  # noqa: BLE001 — marked for stage re-wrap
                raise RuntimeError(f"{_ROW_ERR}: {err}") from err
            if len(buf) >= 10000:
                yield (sep.join(buf) + end).encode("utf-8")
                buf = []
        if buf:
            yield (sep.join(buf) + end).encode("utf-8")

    return ("" if e.terminated else e.sep), enc


def _part_encoder(fmt: str, schema: T.StructType, null: str | None):
    """One part file's bytes from one partition's rows, for the
    distributed sinks (csv, ndjson, yaml): the format's open() framing
    (the CSV header), then the rows; ``b""`` for a partition without
    rows, which writes no part."""
    gap, enc = _partition_encoder(fmt, schema, null)
    gap_bytes = gap.encode("utf-8")
    head = io.BytesIO()
    if fmt in FORMATS:
        FORMATS[fmt](head, schema.names).open()
    head_bytes = head.getvalue()

    def part(rows):
        body = gap_bytes.join(enc(rows))
        return head_bytes + body if body else b""

    return part


def _resolve_format(fmt: object) -> FormatterFunc:
    if callable(fmt):
        return fmt  # custom FormatterFunc — the WithFormat extension point
    try:
        return FORMATS[str(fmt)]
    except KeyError:
        raise ValueError(f"unknown format {fmt!r}; built-ins: {sorted(FORMATS)}") from None


def _parse_placeholder(placeholder: str, dtype: T.DataType) -> object:
    """Re-type the NULL placeholder per column type.

    The reference substitutes the placeholder into the raw byte record
    *before* the format-time ``parse()`` (/root/reference/chiv.go:175-181,
    chiv_formatters.go:244-276), so for typed sinks the placeholder
    must parse as the column's type (bool/int/float) or the encode
    fails; string columns keep it verbatim.
    """
    if isinstance(dtype, T.BooleanType):
        low = placeholder.lower()
        if low in ("1", "t", "true"):
            return True
        if low in ("0", "f", "false"):
            return False
        raise ValueError(f"null placeholder {placeholder!r} is not parseable as boolean")
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        try:
            return int(placeholder)
        except ValueError:
            raise ValueError(f"null placeholder {placeholder!r} is not parseable as integer") from None
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        try:
            return float(placeholder)
        except ValueError:
            raise ValueError(f"null placeholder {placeholder!r} is not parseable as float") from None
    return placeholder


class _BadPlaceholder:
    """Deferred placeholder parse failure: the reference substitutes
    the placeholder into NULL cells only and parses at format time
    (chiv.go:175-181), so an int column whose placeholder is not an
    int errors only if that column actually contains a NULL."""

    def __init__(self, err: ValueError):
        self.err = err


def _try_parse_placeholder(placeholder: str, dtype: T.DataType) -> object:
    try:
        return _parse_placeholder(placeholder, dtype)
    except ValueError as e:
        return _BadPlaceholder(e)


def _placeholders(schema: T.StructType, null: str | None, typed: bool) -> list[object]:
    """Each column's NULL placeholder. Typed sinks (JSON/YAML) re-parse
    it per column type: the reference substitutes raw bytes *before*
    its format-time parse() (chiv.go:175-181), so e.g. a float column
    with an unparseable placeholder errors there too. Untyped sinks
    (CSV, custom) take the placeholder string verbatim (golden
    postgres_with_null.csv)."""
    if null is None:
        return [None] * len(schema)
    if not typed:
        return [null] * len(schema)
    return [_try_parse_placeholder(null, f.dataType) for f in schema.fields]


def _substitute(row, placeholders: list[object], null: str | None) -> list[object]:
    """Replace NULL cells with their typed placeholder, raising the
    deferred parse error only when a NULL actually hits the column."""
    out = []
    for i, v in enumerate(row):
        if v is None and null is not None:
            p = placeholders[i]
            if isinstance(p, _BadPlaceholder):
                raise p.err
            out.append(p)
        else:
            out.append(v)
    return out


class Archiver:
    """Reusable session archiver (reference ``NewArchiver``,
    /root/reference/chiv.go:67-79): holds a SparkSession plus default
    options; per-call overrides never mutate the instance."""

    def __init__(self, spark: SparkSession, **defaults: object):
        self.spark = spark
        self.defaults = ArchiveOptions().merged(**defaults)
        # job groups cancel() was called for; an archive entering a
        # group clears its name, so a group can be reused
        self._cancelled: set[str] = set()

    # -- public surface (Archive / ArchiveRows analogs) ----------------

    @contextlib.contextmanager
    def _job_group(self, job_group: object):
        """Tag this thread's jobs with a cancellable group for the
        duration of one archive, then clear the thread-local
        properties — without the clear, every later job on this thread
        would stay tagged (and cancellable) as this archive."""
        if job_group is None:
            yield
            return
        sc = self.spark.sparkContext
        self._cancelled.discard(str(job_group))
        sc.setJobGroup(str(job_group), "chiv archive", True)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)

    def archive(self, table: str, bucket: str, **overrides: object) -> str:
        """Archive a named table (temp view / catalog table) —
        the reference's ``Archive(db, s3, table, bucket)``."""
        job_group = overrides.pop("job_group", None)
        distributed = bool(overrides.pop("distributed", False))
        opts = self.defaults.merged(**overrides)
        with self._job_group(job_group):
            try:
                df = self.spark.table(table)
                if opts.columns:
                    df = df.select(*opts.columns)  # projection pushdown is Catalyst's
            except ArchiveError:
                raise
            except Exception as e:  # noqa: BLE001
                # reference: "chiv: querying '%s': %w" (chiv.go:95)
                raise ArchiveError(f"querying '{table}'", e) from e
            return self._archive_df(df, table, bucket, opts, distributed)

    def archive_query(self, sql: str, bucket: str, **overrides: object) -> str:
        """Archive an arbitrary SQL result — the caller-supplied-cursor
        path (reference ``ArchiveRows``, chiv.go:45-52) where the
        'cursor' is any query our engine can run."""
        return self.archive_df(self.spark.sql(sql), bucket, **overrides)

    def archive_df(self, df: DataFrame, bucket: str, **overrides: object) -> str:
        """Archive any DataFrame. Key defaults to the literal
        ``table`` (+extension), matching chiv.go:224-226.

        ``job_group=`` tags the archive's Spark jobs so :meth:`cancel`
        can abort them — the ArchiveWithContext cancellation analog
        (reference chiv.go:166-169, ctx check per row)."""
        job_group = overrides.pop("job_group", None)
        distributed = bool(overrides.pop("distributed", False))
        opts = self.defaults.merged(**overrides)
        with self._job_group(job_group):
            if opts.columns:
                df = df.select(*opts.columns)
            return self._archive_df(df, "", bucket, opts, distributed)

    def cancel(self, job_group: str) -> None:
        """Cancel a running archive by its job group (cooperative
        cancellation — the ``ArchiveWithContext`` ctx analog;
        SURVEY.md §2.1-S3). Spark cancels the group's running jobs; the
        record stops a single-object archive whose encode outlives its
        job (the driver form) at its next chunk."""
        self._cancelled.add(str(job_group))
        self.spark.sparkContext.cancelJobGroup(str(job_group))

    # -- internals ------------------------------------------------------

    def _archive_df(
        self,
        df: DataFrame,
        table: str,
        bucket: str,
        opts: ArchiveOptions,
        distributed: bool,
    ) -> str:
        if distributed and callable(opts.format):
            # the single-object sink honors custom FormatterFunc; the
            # distributed sink writes per-partition part files with
            # built-in formatters only — silently falling back to CSV
            # would discard the caller's formatter
            raise ValueError(
                "distributed sink does not support callable formatters; "
                "pass format='csv'|'json'|'yaml' or use the single-object sink"
            )
        fmt_func = _resolve_format(opts.format)
        extension = opts.extension
        if extension is None:
            extension = getattr(fmt_func, "extension", None) or getattr(
                fmt_func(_NullSink(), df.columns), "extension", None
            )
        key = opts.key or _default_key(table, extension)
        if distributed:
            self._write_distributed(df, bucket, key, opts)
        else:
            self._stream_single_object(df, bucket, key, fmt_func, opts)
        return key

    def _stream_single_object(
        self,
        df: DataFrame,
        bucket: str,
        key: str,
        fmt_func: FormatterFunc,
        opts: ArchiveOptions,
    ) -> None:
        storage = storage_for(bucket, self.spark)
        null = opts.null
        # stage-chained error wrapping mirrors the reference's errorf
        # sites (chiv.go:145-198, unit-asserted at chiv_test.go:61-148)
        try:
            writer_cm = storage.writer(bucket, key)
            sink_raw = writer_cm.__enter__()
        except Exception as e:  # noqa: BLE001
            raise UploadError(e) from e
        # On any failure no object may remain at bucket/key: the
        # reference cancels the errgroup context, which aborts the S3
        # multipart upload so nothing appears (chiv.go:126-143). A
        # truncated object surviving here could be mistaken for a
        # complete archive.
        failure: BaseException | None = None
        try:
            sink = _UploadGuard(sink_raw)
            formatter: Formatter = fmt_func(sink, df.columns)
            _staged(formatter.open, "downloading: opening formatter")
            # Built-in formats: rows are stateless encodings, so one
            # ``_partition_encoder`` turns rows into byte chunks and
            # this loop only concatenates them in partition order,
            # inserting the format's inter-chunk separator (JSON's
            # ``,``) — the per-row formatter's bytes. Where the encode
            # runs (the driver or the executors) is
            # ``_encoded_chunks``' choice; the loop is the same. Driver
            # memory stays one partition (toLocalIterator). The
            # open()/close() framing (CSV header, JSON brackets) runs
            # on the driver via the formatter itself.
            fmt = next((name for name, f in FORMATS.items() if f is fmt_func), None)
            if fmt is not None:
                gap, encoder = _partition_encoder(fmt, df.schema, null)
                chunks = iter(_encoded_chunks(df, encoder))
                # the thread's job group, set by _job_group: cancel()
                # records it, and the loop stops at the next chunk even
                # when the Spark job already finished (the driver-side
                # encode outlives its job)
                group = self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
                gap_bytes = gap.encode("utf-8")
                first = True
                while True:
                    try:
                        chunk = next(chunks, _END)
                    except ArchiveError:
                        raise
                    except Exception as e:  # noqa: BLE001
                        # per-row encode failures carry the _ROW_ERR
                        # marker in every form: surface them with the
                        # reference's formatting stage, not scanning
                        if _ROW_ERR in str(e):
                            raise ArchiveError("downloading: formatting row", e) from e
                        raise ArchiveError("downloading: scanning rows", e) from e
                    if chunk is _END:
                        break
                    if group in self._cancelled:
                        raise ArchiveError(
                            "downloading: scanning rows",
                            RuntimeError(f"job group {group!r} was cancelled"),
                        )
                    if gap_bytes and not first:
                        sink.write(gap_bytes)
                    sink.write(chunk)
                    first = False
            else:
                # toLocalIterator: upstream computes distributed; the
                # driver holds at most one partition — the io.Pipe
                # analog. Row iteration failures (incl. job
                # cancellation) wrap as the reference's scanning stage
                # (chiv.go:189-191). The loop avoids per-row closures
                # (this is the driver-bound hot path): exceptions are
                # stage-wrapped in-place instead.
                typed = bool(getattr(fmt_func, "typed", False))
                placeholders = _placeholders(df.schema, null, typed)
                rows = iter(df.toLocalIterator(prefetchPartitions=True))
                format_row = formatter.format_row
                while True:
                    try:
                        row = next(rows, _END)
                    except ArchiveError:
                        raise
                    except Exception as e:  # noqa: BLE001
                        raise ArchiveError("downloading: scanning rows", e) from e
                    if row is _END:
                        break
                    try:
                        format_row(row if null is None else _substitute(row, placeholders, null))
                    except ArchiveError:
                        raise  # UploadError from the sink guard keeps its stage
                    except Exception as e:  # noqa: BLE001
                        raise ArchiveError("downloading: formatting row", e) from e
            _staged(formatter.close, "downloading: closing formatter")
        except BaseException as e:
            failure = e
            raise
        finally:
            close_exc: BaseException | None = None
            try:
                if failure is not None:
                    # give the storage the real exception: backends with
                    # transactional uploads (S3 multipart) abort instead
                    # of finalizing — the reference's errgroup-ctx path
                    writer_cm.__exit__(type(failure), failure, failure.__traceback__)
                else:
                    writer_cm.__exit__(None, None, None)
            except BaseException as e:  # noqa: BLE001
                close_exc = e
            if failure is not None or close_exc is not None:
                try:
                    storage.delete(bucket, key)
                except Exception:  # noqa: BLE001, S110
                    pass  # best-effort cleanup; the primary error wins
            if close_exc is not None:
                if failure is None:
                    raise UploadError(close_exc) from close_exc
                # the in-flight ArchiveError keeps propagating; record
                # the close failure instead of masking the original
                failure.add_note(f"additionally, closing the upload failed: {close_exc!r}")

    def _write_distributed(self, df: DataFrame, bucket: str, key: str, opts: ArchiveOptions) -> None:
        """Scale path: parallel part files under ``bucket/key/``.
        ``_archive_df`` has already refused callables and every name
        outside csv/json/yaml."""
        fmt = opts.format
        if bucket.startswith("s3://"):
            # direct S3 API: each partition uploads its own part object
            # from the executors (no Hadoop connector, no driver relay)
            from chiv_spark.core.s3dist import write_distributed_s3

            write_distributed_s3(df, bucket, key, fmt, opts.null)
            return
        path = f"{bucket.rstrip('/')}/{key}"
        if fmt == "csv":
            # Spark's CSV writer trims string edges by default; chiv's
            # encoder writes values verbatim
            w = (
                df.write.mode("overwrite")
                .option("header", True)
                .option("ignoreLeadingWhiteSpace", False)
                .option("ignoreTrailingWhiteSpace", False)
            )
            if opts.null is not None:
                w = w.option("nullValue", opts.null).option("emptyValue", "")
            w.csv(path)
        elif fmt == "json":
            # NDJSON at scale (documented divergence from the reference's
            # single-array framing, which cannot be produced in parallel)
            out = df
            if opts.null is not None:
                out = out.select(
                    *[F.coalesce(F.col(c).cast("string"), F.lit(opts.null)).alias(c) for c in df.columns]
                )
            out.write.mode("overwrite").json(path)
        else:
            _write_yaml_parts(df, path, opts.null)


def _encoded_chunks(df: DataFrame, encoder):
    """The single-object sink's encoded chunks, in row order, from one
    of three forms:

    - **driver** — one partition whose size estimate is at most
      ``_SPREAD_BYTES`` (or unknown): ``encoder`` runs in this process
      over ``toLocalIterator``. No Python worker task starts. A worker
      task's fixed cost (pyspark re-reads its zip's directory on every
      task, ~0.13 CPU-s on a reused worker; moving 6k rows into one
      and back ~0.17 CPU-s) is larger than a 6k-row encode
      (0.04–0.11 CPU-s), and one partition gives the executors no
      parallelism to win it back.
    - **spread** — one partition above ``_SPREAD_BYTES``: a LIMIT (or
      coalesce) upstream collapsed the plan to one partition, so it is
      range-repartitioned on a sequential row id into
      ``_SPREAD_PARTS`` partitions and encoded on the executors. Range
      partitions of a totally ordered unique key concatenate back in
      order, so the bytes do not change. The spread is not free: a
      range-sample job, a shuffle, and a recompute of everything
      upstream (for ``ORDER BY … LIMIT``, the top-k over the whole
      input). The estimate is the input files' size capped by the
      plan's row bound × default row size (core/sizing.py), so a
      LIMIT is charged for the rows it can return, not the file it
      reads. Two partitions give the driver sink one prefetched chunk
      to overlap with (toLocalIterator runs one job per partition);
      anything wider just queues jobs.
    - **executors** — more than one partition: the partitions encode
      in parallel (``mapPartitions``) while the driver relays chunks.
      Real corpus-scale inputs arrive here.

    A row that fails to render raises with the ``_ROW_ERR`` marker in
    every form; a failing scan carries none."""
    if df.rdd.getNumPartitions() == 1:
        from chiv_spark.core.sizing import relation_size_est

        est = relation_size_est(df)
        if est >= 1 << 62:
            # unknown size: keep the untouched one-partition form
            est = 0
        if est <= _SPREAD_BYTES:
            return encoder(df.toLocalIterator(prefetchPartitions=True))
        # collision-free helper name: withColumn over an existing user
        # column would silently REPLACE it and drop() would then erase
        # the user's data from the archived output
        rid = "__rid"
        while rid in df.columns:
            rid = "_" + rid
        df = (
            df.withColumn(rid, F.monotonically_increasing_id())
            .repartitionByRange(_SPREAD_PARTS, rid)
            .sortWithinPartitions(rid)
            .drop(rid)
        )
    # the encoder closure imports chiv_spark ON the workers, whose
    # import path does not include the repo root unless the driver
    # happened to run from it: ship the package first (without it any
    # driver launched from another cwd dies with ModuleNotFoundError)
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(df.sparkSession)
    return df.rdd.mapPartitions(encoder).toLocalIterator(prefetchPartitions=True)


def _default_key(table: str, extension: str | None) -> str:
    table = table or "table"  # ArchiveRows default key (chiv.go:224-226)
    return f"{table}.{extension}" if extension else table


def _write_yaml_parts(df: DataFrame, path: str, null: str | None) -> None:
    """YAML has no Spark-native writer: each partition is encoded by
    the single-object sink's YAML encoder and written as one text
    part (the ``text`` writer ends it with one more newline)."""
    from chiv_spark.pyship import ensure_shipped

    # the partition closure imports chiv_spark on the workers: ship
    # the package so they can import it from any driver cwd
    ensure_shipped(df.sparkSession)
    part = _part_encoder("yaml", df.schema, null)

    def text_part(rows):
        body = part(rows)
        if body:
            yield (body.decode("utf-8"),)

    df.rdd.mapPartitions(text_part).toDF(["value"]).write.mode("overwrite").text(path)


_END = object()  # iterator-exhausted sentinel for the scanning stage


def _staged(fn, stage: str):
    """Run one pipeline stage, wrapping non-upload failures with the
    stage-chained message (upload errors keep their own stage)."""
    try:
        return fn()
    except ArchiveError:
        raise
    except Exception as e:  # noqa: BLE001
        raise ArchiveError(stage, e) from e


class _NullSink:
    def write(self, data: bytes) -> None:
        pass


# -- module-level conveniences (reference package-level funcs, chiv.go:27-52)


def archive(spark: SparkSession, table: str, bucket: str, **options: object) -> str:
    return Archiver(spark).archive(table, bucket, **options)


def archive_df(df: DataFrame, bucket: str, **options: object) -> str:
    return Archiver(df.sparkSession).archive_df(df, bucket, **options)
