"""YAML sink encoder: one ``- key: value`` block map per row.

Reference: /root/reference/chiv_formatters.go:98-143 (``yaml.Marshal``
of a one-element list per row, keys sorted). The emitter here is
hand-rolled for flat scalar maps so the output is byte-compatible with
the Go ``yaml.v2`` golden files (/root/reference/testdata/postgres/
postgres.yaml): plain scalars where safe, single quotes when a plain
string would be re-interpreted, double quotes for timestamp-like
strings, two-space indent under ``- ``.
"""

from __future__ import annotations

import datetime as _dt
import re
from collections.abc import Sequence
from decimal import Decimal

from chiv_spark.formats.base import ByteSink, RecordLengthError
from chiv_spark.formats.encode import go_g_float_str, rfc3339

# plain-safe: no YAML indicator chars, not number/bool/null-like.
# yaml.v2's emitter allows printable non-ASCII in plain scalars
# ('café' stays unquoted), so the ASCII whitelist is extended by a
# printable-non-ASCII check (NBSP etc. are not printable → quoted).
_PLAIN_FIRST = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_"
)
_PLAIN_REST = _PLAIN_FIRST | frozenset(" .-/()")


def _plain_char(c: str, charset: frozenset) -> bool:
    return c in charset or (ord(c) > 0x7F and c.isprintable())


def _plain_ok(s: str) -> bool:
    return bool(s) and _plain_char(s[0], _PLAIN_FIRST) and all(
        _plain_char(c, _PLAIN_REST) for c in s[1:]
    )
_BOOLISH = {"true", "false", "yes", "no", "on", "off", "null", "~", ""}
_TIMESTAMPISH = re.compile(r"^\d{4}-\d{1,2}-\d{1,2}([Tt ].*)?$")
_NUMBERISH = re.compile(r"^[-+]?(\d[\d_]*\.?[\d_]*([eE][-+]?\d+)?|\.\d+|0x[0-9a-fA-F]+|0o?[0-7]+)$")
# _plain_ok restricted to ASCII, as one regex: most strings take this
# path, and it settles them without a per-character Python loop
_PLAIN_ASCII = re.compile(r"[A-Za-z0-9_][A-Za-z0-9_ ./()-]*")
# C0 controls, DEL and C1 controls: these force double-quoted style
_CONTROL = re.compile(r"[\x00-\x1f\x7f-\x9f]")


def _yaml_scalar(v: object) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return go_g_float_str(v)
    if isinstance(v, Decimal):
        return go_g_float_str(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, _dt.datetime):
        return '"' + rfc3339(v) + '"'
    if isinstance(v, _dt.date):
        return '"' + v.isoformat() + '"'
    if isinstance(v, (bytes, bytearray)):
        v = bytes(v).decode("utf-8", errors="replace")
    return _yaml_str(str(v))


def _yaml_str(s: str) -> str:
    """A string scalar: plain when yaml.v2 would read it back as the
    same string, else single-quoted, or double-quoted for control
    characters and timestamp-like strings."""
    plain = not s.endswith(" ") and s.lower() not in _BOOLISH and not _NUMBERISH.match(s)
    if plain and _PLAIN_ASCII.fullmatch(s) and not _TIMESTAMPISH.match(s):
        return s
    if _CONTROL.search(s):
        # control chars force double-quoted style (checked before every
        # other style — raw control chars are invalid YAML anywhere);
        # every control char gets an escape
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
    if _TIMESTAMPISH.match(s):
        # yaml.v2 double-quotes strings that would resolve as timestamps
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if plain and _plain_ok(s):
        return s
    return "'" + s.replace("'", "''") + "'"


class YamlFormatter:
    # typed sinks receive Python-typed values; untyped sinks get strings
    typed = True
    extension = "yaml"

    def __init__(self, sink: ByteSink, columns: Sequence[str]):
        self._sink = sink
        self._columns = list(columns)
        self._order = sorted(range(len(self._columns)), key=lambda i: self._columns[i])

    def open(self) -> None:
        pass

    def format_row(self, record: Sequence[object]) -> None:
        if len(record) != len(self._columns):
            raise RecordLengthError()
        lines = []
        for pos, i in enumerate(self._order):
            prefix = "- " if pos == 0 else "  "
            lines.append(f"{prefix}{self._columns[i]}: {_yaml_scalar(record[i])}\n")
        self._sink.write("".join(lines).encode("utf-8"))

    def close(self) -> None:
        pass
