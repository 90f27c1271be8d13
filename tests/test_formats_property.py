"""Property-based formatter tests (hypothesis) — an upgrade over the
reference's fixed-fixture strategy (SURVEY.md §5 notes it has none):
for arbitrary rows, encoder output must parse back to the same values
with standard parsers (csv module, json.loads, yaml.safe_load). The
scalar kernels and the single-object fast-path encoders must return
exactly what their references return."""

from __future__ import annotations

import csv as pycsv
import datetime as dt
import io
import json
import math
import re
from decimal import Decimal

import pytest
import yaml
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from chiv_spark.core.archiver import (
    _ROW_ERR,
    _partition_encoder,
    _substitute,
    _try_parse_placeholder,
)
from chiv_spark.formats.csv_format import CsvFormatter
from chiv_spark.formats.encode import go_float_str, go_g_float_str, json_escape, json_value, rfc3339
from chiv_spark.formats.json_format import JsonFormatter
from chiv_spark.formats.yaml_format import YamlFormatter, _yaml_scalar

# printable text without NUL (sinks are text formats)
text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=40,
)
finite_floats = st.floats(allow_nan=False, allow_infinity=False, width=64)
values = st.one_of(st.none(), st.booleans(), st.integers(-(2**53), 2**53), finite_floats, text)


def encode(cls, columns, rows):
    buf = io.BytesIO()
    f = cls(buf, columns)
    f.open()
    for r in rows:
        f.format_row(r)
    f.close()
    return buf.getvalue().decode("utf-8")


@settings(max_examples=150, deadline=None)
@given(st.lists(st.lists(text, min_size=3, max_size=3), min_size=1, max_size=5))
def test_csv_roundtrips_through_standard_parser(rows):
    out = encode(CsvFormatter, ["a", "b", "c"], rows)
    parsed = list(pycsv.reader(io.StringIO(out)))
    assert parsed[0] == ["a", "b", "c"]
    # Go's encoding/csv (and ours) emits \n inside quoted fields as-is;
    # python csv reader reproduces the logical records
    expected = [[("" if v is None else str(v).replace("\r\n", "\n")) for v in r] for r in rows]
    got = [[c.replace("\r\n", "\n") for c in r] for r in parsed[1:]]
    assert got == expected


@settings(max_examples=150, deadline=None)
@given(st.lists(st.lists(values, min_size=2, max_size=2), min_size=1, max_size=5))
def test_json_roundtrips_through_json_loads(rows):
    out = encode(JsonFormatter, ["x", "y"], rows)
    parsed = json.loads(out)
    assert len(parsed) == len(rows)
    for obj, row in zip(parsed, rows):
        for key, v in zip(["x", "y"], row):
            got = obj[key]
            if isinstance(v, float):
                assert got == pytest.approx(v) or (got == v)
            else:
                assert got == v


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.lists(st.one_of(st.none(), st.booleans(), st.integers(-(2**53), 2**53), text), min_size=2, max_size=2),
        min_size=1,
        max_size=4,
    )
)
def test_yaml_roundtrips_through_safe_load(rows):
    out = encode(YamlFormatter, ["k1", "k2"], rows)
    parsed = yaml.safe_load(out)
    assert len(parsed) == len(rows)
    for obj, row in zip(parsed, rows):
        for key, v in zip(["k1", "k2"], row):
            assert obj[key] == v


@settings(max_examples=300, deadline=None)
@given(finite_floats)
def test_go_float_str_roundtrips_exactly(f):
    s = go_float_str(f)
    assert float(s) == f or (math.copysign(1, f) < 0 and f == 0.0 and float(s) == 0.0)


# --- differential tests: the fast kernels against the loops they replaced
#
# The three functions below are the character loops and the Decimal
# walk that the kernels replaced, kept verbatim as references (the two
# invisible characters in ref_json_escape are written as ``\u2028`` and
# ``\u2029`` escapes). The kernels must return identical strings on
# every input.

def ref_json_escape(s: str) -> str:
    out = ['"']
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif ch in "<>&":
            out.append(f"\\u{ord(ch):04x}")
        elif ch in ("\u2028", "\u2029"):
            out.append(f"\\u{ord(ch):04x}")
        elif ord(ch) < 0x20:
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    out.append('"')
    return "".join(out)


def ref_go_g_float_str(f: float) -> str:
    if math.isnan(f) or math.isinf(f):
        raise ValueError(f"cannot encode non-finite float {f!r}")
    f = float(f)
    neg = math.copysign(1.0, f) < 0
    if f == 0.0:
        return "-0" if neg else "0"
    sign, digits, dexp = Decimal(repr(f)).as_tuple()
    digs = "".join(map(str, digits)).rstrip("0") or "0"
    exp = dexp + len(digits) - 1
    if exp < -4 or exp >= 6:
        mant = digs[0] + ("." + digs[1:] if len(digs) > 1 else "")
        return f"{'-' if sign else ''}{mant}e{'+' if exp >= 0 else '-'}{abs(exp):02d}"
    if exp >= len(digs) - 1:
        body = digs + "0" * (exp - (len(digs) - 1))
    elif exp >= 0:
        body = digs[: exp + 1] + "." + digs[exp + 1 :]
    else:
        body = "0." + "0" * (-exp - 1) + digs
    return ("-" if sign else "") + body


_REF_PLAIN_FIRST = frozenset("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_")
_REF_PLAIN_REST = _REF_PLAIN_FIRST | frozenset(" .-/()")
_REF_BOOLISH = {"true", "false", "yes", "no", "on", "off", "null", "~", ""}
_REF_TIMESTAMPISH = re.compile(r"^\d{4}-\d{1,2}-\d{1,2}([Tt ].*)?$")
_REF_NUMBERISH = re.compile(r"^[-+]?(\d[\d_]*\.?[\d_]*([eE][-+]?\d+)?|\.\d+|0x[0-9a-fA-F]+|0o?[0-7]+)$")


def _ref_plain_char(c: str, charset: frozenset) -> bool:
    return c in charset or (ord(c) > 0x7F and c.isprintable())


def _ref_plain_ok(s: str) -> bool:
    return bool(s) and _ref_plain_char(s[0], _REF_PLAIN_FIRST) and all(
        _ref_plain_char(c, _REF_PLAIN_REST) for c in s[1:]
    )


def ref_yaml_scalar(v: object) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return ref_go_g_float_str(v)
    if isinstance(v, Decimal):
        return ref_go_g_float_str(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        return '"' + rfc3339(v) + '"'
    if isinstance(v, dt.date):
        return '"' + v.isoformat() + '"'
    if isinstance(v, (bytes, bytearray)):
        v = bytes(v).decode("utf-8", errors="replace")
    s = str(v)
    if "\n" in s or any(ord(c) < 0x20 or 0x7F <= ord(c) <= 0x9F for c in s):
        out = []
        for c in s:
            if c == "\\":
                out.append("\\\\")
            elif c == '"':
                out.append('\\"')
            elif c == "\n":
                out.append("\\n")
            elif c == "\r":
                out.append("\\r")
            elif c == "\t":
                out.append("\\t")
            elif ord(c) < 0x20 or 0x7F <= ord(c) <= 0x9F:
                out.append(f"\\x{ord(c):02x}")
            else:
                out.append(c)
        return '"' + "".join(out) + '"'
    if _REF_TIMESTAMPISH.match(s):
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if (
        _ref_plain_ok(s)
        and s.lower() not in _REF_BOOLISH
        and not _REF_NUMBERISH.match(s)
        and not s.endswith(" ")
    ):
        return s
    return "'" + s.replace("'", "''") + "'"


# characters the escapers treat specially: C0 controls, DEL, U+0085
# (a C1 control), NBSP, the JS line separators, HTML-escaped chars,
# quotes, backslash, YAML indicators and the plain-scalar punctuation
_SPECIAL = "".join(map(chr, range(0x20))) + "\x7f\x85\x9f\xa0\u2028\u2029<>&\"'\\ :#-?.,/()_~+"
special_text = st.text(
    alphabet=st.one_of(st.sampled_from(_SPECIAL), st.sampled_from("aZ09")), max_size=24
)
printable_non_ascii = st.text(
    alphabet=st.characters(min_codepoint=0x80, blacklist_categories=("Cs",)), max_size=24
)
plain_ascii = st.from_regex(r"[A-Za-z0-9_][A-Za-z0-9_ ./()-]{0,30}", fullmatch=True)
lookalikes = st.one_of(
    st.sampled_from(sorted(_REF_BOOLISH)).flatmap(
        lambda w: st.sampled_from([w, w.upper(), w.title()])
    ),
    st.from_regex(r"[-+]?(\d{1,6}(\.\d{0,4})?([eE][-+]?\d{1,3})?|\.\d{1,3}|0x[0-9a-f]{1,4}|0o?[0-7]{1,4})", fullmatch=True),
    st.from_regex(r"\d{4}-\d{1,2}-\d{1,2}([Tt ][0-9:. a-z]{0,10})?", fullmatch=True),
)
edge_spaced = st.tuples(
    st.sampled_from(["", " ", "  "]), st.one_of(plain_ascii, lookalikes), st.sampled_from(["", " ", "  "])
).map("".join)
# a plain ASCII string with one special character inside
near_plain = st.tuples(plain_ascii, st.sampled_from(_SPECIAL), plain_ascii).map("".join)
kernel_strings = st.one_of(
    special_text, printable_non_ascii, plain_ascii, near_plain, lookalikes, edge_spaced, text
)


@settings(max_examples=1500, deadline=None)
@given(kernel_strings)
def test_json_escape_matches_reference(s):
    assert json_escape(s) == ref_json_escape(s)


@settings(max_examples=1500, deadline=None)
@given(kernel_strings)
def test_yaml_scalar_matches_reference(s):
    assert _yaml_scalar(s) == ref_yaml_scalar(s)


_FLOAT_EDGES = [
    1e-5, 1e-4, 1e6, 1e16, 1e21, 0.0, -0.0, 100.0, 0.001, 123456.0, 1234567.0,
    5e-324, 2.2250738585072014e-308, 2.225073858507201e-308,
    1.7976931348623157e308, -1.7976931348623157e308,
]
edge_floats = st.sampled_from(_FLOAT_EDGES).flatmap(
    lambda f: st.sampled_from(
        [f, -f, math.nextafter(f, math.inf), math.nextafter(f, -math.inf)]
    )
).filter(math.isfinite)


@settings(max_examples=1500, deadline=None)
@given(st.one_of(edge_floats, finite_floats, st.floats(min_value=-1e7, max_value=1e7).map(lambda f: round(f, 2))))
def test_go_g_float_str_matches_reference(f):
    assert go_g_float_str(f) == ref_go_g_float_str(f)
    assert _yaml_scalar(f) == ref_yaml_scalar(f)


# --- the single-object fast-path encoders against the per-row formatters

# one column per renderer kind plus two generic ones (binary, array);
# names sort in a different order than their positions
_COLUMNS = [
    ("zl", T.LongType(), st.integers(-(2**63), 2**63 - 1)),
    ("f", T.DoubleType(), finite_floats),
    ("a_dec", T.DecimalType(15, 2), st.decimals(-(10**12), 10**12, places=2)),
    ("b", T.BooleanType(), st.booleans()),
    ("s", T.StringType(), kernel_strings),
    ("day", T.DateType(), st.dates()),
    ("ts", T.TimestampType(), st.datetimes()),
    ("bin", T.BinaryType(), st.binary(max_size=6)),
    ("arr", T.ArrayType(T.LongType()), st.lists(st.integers(-5, 5), max_size=3)),
]
typed_rows = st.lists(
    st.tuples(*[st.one_of(st.none(), values) for _, _, values in _COLUMNS]), max_size=6
)


@settings(max_examples=300, deadline=None)
@given(
    typed_rows,
    st.sampled_from([None, "0", "x", "nan", "true"]),
    st.sampled_from(["csv", "json", "ndjson", "yaml"]),
)
def test_partition_encoders_match_per_row_formatters(rows, null, fmt):
    names = [c for c, _, _ in _COLUMNS]
    dtypes = [t for _, t, _ in _COLUMNS]
    schema = T.StructType([T.StructField(c, t) for c, t, _ in _COLUMNS])
    if null is None:
        placeholders = [None] * len(names)
    elif fmt != "csv":
        placeholders = [_try_parse_placeholder(null, t) for t in dtypes]
    else:
        placeholders = [null] * len(names)
    gap, enc = _partition_encoder(fmt, schema, null)

    # the per-row path of Archiver._stream_single_object, without the
    # open()/close() framing that the driver writes around the chunks;
    # NDJSON's reference is one json_value object per line
    buf = io.BytesIO()
    if fmt == "ndjson":

        def format_row(record):
            buf.write((json_value(dict(zip(names, record))) + "\n").encode("utf-8"))

    else:
        cls = {"csv": CsvFormatter, "json": JsonFormatter, "yaml": YamlFormatter}[fmt]
        format_row = cls(buf, names).format_row
    try:
        for row in rows:
            format_row(row if null is None else _substitute(row, placeholders, null))
    except ValueError:
        with pytest.raises((ValueError, RuntimeError)) as err:
            b"".join(enc(iter(rows)))
        assert _ROW_ERR in str(err.value)
        return
    assert gap.encode("utf-8").join(enc(iter(rows))) == buf.getvalue()
