"""Scalar serialization rules shared by the sink encoders.

Mirrors the observable output of the reference's Go encoders:
- floats: shortest round-trip, integral floats render bare
  (``100`` not ``100.0``) — matches Go ``encoding/json`` /
  ``yaml.v2`` marshalling of float64 (golden
  /root/reference/testdata/postgres/postgres.json: ``100``,
  ``3.141592``).
- timestamps: RFC3339 with ``Z`` and trimmed fractional seconds,
  matching the driver-passthrough strings in the reference goldens
  (``2018-01-04T00:00:00Z``).
- booleans: ``true`` / ``false``.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from decimal import Decimal


def go_float_str(f: float) -> str:
    """Format a float the way Go's strconv/encoding layers do.

    Shortest round-trip decimal; plain (non-exponent) notation for
    exponents in (-6, 21); integral values have no trailing ``.0``.
    """
    if math.isnan(f) or math.isinf(f):
        raise ValueError(f"cannot encode non-finite float {f!r}")
    r = repr(float(f))
    if "e" in r or "E" in r:
        exp = int(r.lower().split("e")[1])
        # Go json uses decimal notation for 1e-6 <= abs < 1e21
        if -6 <= exp < 21:
            r = format(Decimal(r), "f")
        else:
            # normalize exponent form to Go's (e.g. 1e+21)
            mant, e = r.lower().split("e")
            sign = "+" if not e.startswith("-") else "-"
            r = f"{mant}e{sign}{abs(int(e))}"
            return r
    if r.endswith(".0"):
        r = r[:-2]
    return r


def go_g_float_str(f: float) -> str:
    """Format a float like Go ``strconv.FormatFloat(f, 'g', -1, 64)``
    — the rule yaml.v2 uses for float64 (its encoder calls exactly
    that), which differs from encoding/json's: scientific notation
    whenever the decimal exponent is < -4 or >= 6, fixed otherwise.
    So ``1e-5`` renders ``1e-05`` and ``1e16`` renders ``1e+16``
    (json would give ``0.00001`` / ``10000000000000000``); exponent
    is signed with at least two digits.
    """
    if math.isnan(f) or math.isinf(f):
        raise ValueError(f"cannot encode non-finite float {f!r}")
    f = float(f)
    if f == 0.0:
        return "-0" if math.copysign(1.0, f) < 0 else "0"
    # Python repr is the shortest round-trip decimal — same digits Go
    # computes for shortest 'g'; its forms are ``123.45``, ``0.001``
    # and ``1.5e-05`` (one digit before the point when it has an
    # exponent)
    r = repr(f)
    sign = "-" if r[0] == "-" else ""
    mant, _, e = r.lstrip("-").partition("e")
    ip, _, fp = mant.partition(".")
    digits = ip + fp
    lead = digits.lstrip("0")
    # decimal exponent of the leading nonzero digit
    exp = len(ip) - 1 - (len(digits) - len(lead)) + int(e or 0)
    digs = lead.rstrip("0")
    if exp < -4 or exp >= 6:
        mant = digs[0] + ("." + digs[1:] if len(digs) > 1 else "")
        return f"{sign}{mant}e{'+' if exp >= 0 else '-'}{abs(exp):02d}"
    if exp >= len(digs) - 1:
        body = digs + "0" * (exp - (len(digs) - 1))
    elif exp >= 0:
        body = digs[: exp + 1] + "." + digs[exp + 1 :]
    else:
        body = "0." + "0" * (-exp - 1) + digs
    return sign + body


def rfc3339(ts: _dt.datetime) -> str:
    """RFC3339 / UTC, fractional seconds trimmed of trailing zeros."""
    base = ts.strftime("%Y-%m-%dT%H:%M:%S")
    if ts.microsecond:
        frac = f"{ts.microsecond:06d}".rstrip("0")
        base += f".{frac}"
    return base + "Z"


def to_csv_str(v: object) -> str:
    """Stringify one typed value for the CSV sink (empty for NULL —
    the null placeholder substitution happens upstream, matching the
    raw-bytes substitution at /root/reference/chiv.go:175-181)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return go_float_str(v)
    if isinstance(v, Decimal):
        # CSV is the raw-bytes sink: the reference writes the driver's
        # NUMERIC text verbatim, scale included ("9.50" stays "9.50",
        # chiv_formatters.go CSV path). Typed sinks (JSON/YAML) parse
        # to float64 first and drop the scale — see json_value.
        return str(v)
    if isinstance(v, _dt.datetime):
        return rfc3339(v)
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", errors="replace")
    if isinstance(v, (list, dict)):
        return json_value(v)
    return str(v)


# every character json_escape rewrites; a string without one is
# emitted as is (most column values)
_JSON_ESCAPED = re.compile('[\\x00-\\x1f"\\\\<>&\u2028\u2029]')


def json_escape(s: str) -> str:
    """Go-compatible JSON string escaping (incl. HTML escapes)."""
    if not _JSON_ESCAPED.search(s):
        return '"' + s + '"'
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


def json_value(v: object) -> str:
    """Compact, sorted-key JSON — matches Go ``json.Marshal`` of a
    ``map[string]interface{}`` (/root/reference/chiv_formatters.go:192)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return go_float_str(v)
    if isinstance(v, Decimal):
        return go_float_str(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, _dt.datetime):
        return json_escape(rfc3339(v))
    if isinstance(v, _dt.date):
        return json_escape(v.isoformat())
    if isinstance(v, str):
        return json_escape(v)
    if isinstance(v, (bytes, bytearray)):
        import base64

        return json_escape(base64.b64encode(bytes(v)).decode("ascii"))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(json_value(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: str(kv[0]))
        return "{" + ",".join(f"{json_escape(str(k))}:{json_value(x)}" for k, x in items) + "}"
    return json_escape(str(v))
