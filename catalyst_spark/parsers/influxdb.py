"""InfluxDB line-protocol parser (P1).

Implements the public line-protocol grammar (measurement[,tag=v...]
field=v[,field=v...] [timestamp]) with its escaping rules:
- measurement: '\\,' '\\ ' escapes; tags/field keys and tag values add
  '\\='; field string values are double-quoted with '\\"' and '\\\\'.
- field value typing: "..." -> string; <int>i -> int64; t/T/true/True/
  TRUE (etc.) -> bool; else float64 (Go ParseFloat semantics).
- number range: an integer outside int64 and a float that is not finite
  (NaN, inf, or one that overflows, like 1e500) make the line an error
  row, as Go's ParseInt/ParseFloat return ErrRange for them and the
  line protocol has no NaN or Inf literal.
- per-request precision (?precision=n|u|ms|s|m|h, default n) scales the
  trailing integer timestamp to ns; a missing timestamp takes ingest-now
  truncated to the precision (ref catalyser/influxdb.go:25-28,62). "Now"
  is schema.request_now_us(df): the request's receive time on a
  stream_lines frame, else the query clock.
- timestamp range: the scaled ns must lie in Go's [MinNanoTime,
  MaxNanoTime] = ±(2**63 - 2), else the line is an error row, as
  models.SafeCalcTime returns ErrTimeOutOfRange (a timestamp outside
  int64 is ParseInt's ErrRange).
- fan-out: one GTS per field, name = measurement '.' field
  (ref catalyser/influxdb.go:73-80; quirk A.12 — includes the default
  'value' field: 'cpu value=1' -> class 'cpu.value').
- ts µs = ns / 1e3 with Go int64 truncating division (:75).

Two-tier execution (the hot path stays JVM-side):
- FAST PATH: lines with no quotes/escapes and numeric/bool field
  values — ~all real telemetry traffic — match a strict validation
  regex and parse as pure column expressions (split/explode/when,
  whole-stage codegen, no Python).
- SLOW PATH: anything else (quoted field strings that may contain
  commas/spaces — reference fixtures catalyser/influxdb_test.go:40-63
  — escapes, and malformed lines that must produce error rows) routes
  to the hand-written tokenizer under Arrow-batched mapInPandas.
The router is one rlike per line; the two outputs union into the same
GTS schema, so downstream is identical either way.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from catalyst_spark.schema import GTS_WITH_ERROR_SCHEMA, request_now_us

_PRECISION_NS = {
    "n": 1,
    "ns": 1,
    "u": 1_000,
    "us": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60 * 1_000_000_000,
    "h": 3600 * 1_000_000_000,
}

_BOOL_TRUE = {"t", "T", "true", "True", "TRUE"}
_BOOL_FALSE = {"f", "F", "false", "False", "FALSE"}


class _ParseError(ValueError):
    pass


def _scan_section(line: str, pos: int, stop: str) -> tuple[str, int]:
    """Scan until an unescaped char in `stop`, honoring backslash escapes."""
    out = []
    n = len(line)
    while pos < n:
        c = line[pos]
        if c == "\\" and pos + 1 < n:
            out.append(line[pos: pos + 2])
            pos += 2
            continue
        if c in stop:
            break
        out.append(c)
        pos += 1
    return "".join(out), pos


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s) and s[i + 1] in ",= \\":
            out.append(s[i + 1])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _split_unescaped(s: str, sep: str) -> list[str]:
    parts, cur, i, n = [], [], 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            cur.append(s[i: i + 2])
            i += 2
            continue
        if c == sep:
            parts.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    parts.append("".join(cur))
    return parts


def _scan_fields(line: str, pos: int) -> tuple[list[tuple[str, str]], int]:
    """Frame the field section: comma-separated k=v where v may be a
    double-quoted string containing commas/spaces."""
    fields = []
    n = len(line)
    while pos < n:
        key, pos = _scan_section(line, pos, "=")
        if pos >= n or line[pos] != "=":
            raise _ParseError("missing field value")
        pos += 1
        if pos < n and line[pos] == '"':
            pos += 1
            buf = []
            while pos < n:
                c = line[pos]
                if c == "\\" and pos + 1 < n and line[pos + 1] in '"\\':
                    buf.append(line[pos + 1])
                    pos += 2
                    continue
                if c == '"':
                    pos += 1
                    break
                buf.append(c)
                pos += 1
            else:
                raise _ParseError("unterminated string")
            value = ("s", "".join(buf))
        else:
            raw, pos = _scan_section(line, pos, ", ")
            value = ("r", raw)
        fields.append((_unescape(key), value))
        if pos < n and line[pos] == ",":
            pos += 1
            continue
        break
    return fields, pos


_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1
# Go models.MaxNanoTime; MinNanoTime is its negation (MinInt64 + 2)
_MAX_NANO_TIME = _INT64_MAX - 1
_TS_DIGITS = re.compile(r"[+-]?[0-9]+", re.ASCII)


def _go_float(s: str) -> float:
    if "_" in s:  # Go ParseFloat rejects underscores in this position
        raise _ParseError("invalid number")
    try:
        v = float(s)
    except ValueError as exc:
        raise _ParseError(str(exc)) from exc
    if not math.isfinite(v):  # no NaN/Inf literal; overflow is ErrRange
        raise _ParseError("float out of range")
    return v


def _typed_value(kind: str, raw: str):
    """-> (value_d, value_l, value_b, value_s, value_type)"""
    if kind == "s":
        return None, None, None, raw, "string"
    if raw.endswith("i"):
        body = raw[:-1]
        if "_" in body:
            raise _ParseError("invalid integer")
        try:
            v = int(body, 10)
        except ValueError as exc:
            raise _ParseError(str(exc)) from exc
        if not _INT64_MIN <= v <= _INT64_MAX:  # Go ParseInt's ErrRange
            raise _ParseError("integer out of range")
        return None, v, None, None, "long"
    if raw in _BOOL_TRUE:
        return None, None, True, None, "boolean"
    if raw in _BOOL_FALSE:
        return None, None, False, None, "boolean"
    if raw == "":
        raise _ParseError("empty field value")
    return _go_float(raw), None, None, None, "double"


def parse_influx_line(
    line: str, precision_mult: int, now_ns: int
) -> list[dict]:
    """One line -> list of GTS dicts (one per field)."""
    line = line.strip()
    if not line or line.startswith("#"):
        return []

    measurement_tags, pos = _scan_section(line, 0, " ")
    if pos >= len(line):
        raise _ParseError("missing fields")
    pos += 1
    mt_parts = _split_unescaped(measurement_tags, ",")
    measurement = _unescape(mt_parts[0])
    if not measurement:
        raise _ParseError("missing measurement")
    tags = {}
    for t in mt_parts[1:]:
        kv = _split_unescaped(t, "=")
        if len(kv) != 2 or not kv[0]:
            raise _ParseError("bad tag")
        tags[_unescape(kv[0])] = _unescape(kv[1])

    fields, pos = _scan_fields(line, pos)
    if not fields:
        raise _ParseError("missing fields")

    rest = line[pos:].strip()
    if rest:
        if not _TS_DIGITS.fullmatch(rest):
            raise _ParseError("bad timestamp")
        ts_ns = int(rest, 10) * precision_mult
        # Go SafeCalcTime: the scaled time must lie in
        # [MinNanoTime, MaxNanoTime], else ErrTimeOutOfRange
        if not -_MAX_NANO_TIME <= ts_ns <= _MAX_NANO_TIME:
            raise _ParseError("timestamp out of range")
    else:
        ts_ns = (now_ns // precision_mult) * precision_mult

    # Go int64 division truncates toward zero (influxdb.go:75)
    ts_us = -(-ts_ns // 1000) if ts_ns < 0 else ts_ns // 1000

    rows = []
    for fname, (kind, raw) in fields:
        vd, vl, vb, vs, vt = _typed_value(kind, raw)
        rows.append(
            {
                "ts": ts_us,
                "name": f"{measurement}.{fname}",
                "labels": tags,
                "value_d": vd,
                "value_l": vl,
                "value_b": vb,
                "value_s": vs,
                "value_type": vt,
                "parse_error": None,
            }
        )
    return rows


_ERROR_ROW = {
    "ts": None, "name": None, "labels": None, "value_d": None,
    "value_l": None, "value_b": None, "value_s": None, "value_type": None,
}

# ---------------------------------------------------------------------------
# JVM fast path: strict shape regex + pure-column parse
# ---------------------------------------------------------------------------

# A line qualifies only if the column parser is guaranteed to agree
# with the tokenizer: no '"' or '\' anywhere, every tag has '=',
# every field value is a plain int/float/bool literal (no strings,
# no inf/nan — those fall back), optional integer timestamp. The
# number literals are bounded so that no cast can fail or overflow:
# an integer of at most 18 digits fits int64, and a float with at most
# 200 integer digits and a 1- or 2-digit exponent stays below 1e299.
# A timestamp's magnitude is bounded by MaxNanoTime over the precision's
# multiplier, so its scaled ns neither overflow nor leave Go's time
# range. Longer literals go to the tokenizer, which range-checks them.
_BOOL_RE = "(?:t|T|f|F|true|True|TRUE|false|False|FALSE)"
_INT_RE = r"[+-]?[0-9]{1,18}i"
_FLT_RE = r"[+-]?(?:[0-9]{1,200}(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]{1,2})?"
_VAL_RE = f"(?:{_BOOL_RE}|{_INT_RE}|{_FLT_RE})"
_KEY_RE = r'[^,="\\ ]+'
_TAG_RE = f',{_KEY_RE}=[^,="\\\\ ]*'
# Each value must end where the field does, so a repetition never needs
# to backtrack into an earlier one: the tag and field repetitions are
# possessive (*+). java.util.regex recurses once per iteration of a
# greedy group that holds an alternation; a wide line (a few hundred
# fields) overflows the executor thread's stack and ends the JVM. The
# groups are non-capturing: CPython 3.11's re raises SystemError on a
# capturing group inside a possessive repetition.
_FIELD_RE = f"{_KEY_RE}={_VAL_RE}(?=[, ]|$)"


def _at_most(bound: int) -> str:
    """Regex for the digit strings whose value is at most `bound`: the
    ones of its length that sort no higher, then any shorter one."""
    s = str(bound)
    full = [f"{s[:i]}[0-{int(c) - 1}][0-9]{{{len(s) - i - 1}}}"
            for i, c in enumerate(s) if c != "0"]
    short = [f"[0-9]{{1,{len(s) - 1}}}"] if len(s) > 1 else []
    return "(?:" + "|".join(full + [s] + short) + ")"


def _simple_line_re(mult: int) -> str:
    ts = f"[+-]?{_at_most(_MAX_NANO_TIME // mult)}"
    return f"^{_KEY_RE}(?:{_TAG_RE})*+ {_FIELD_RE}(?:,{_FIELD_RE})*+(?: {ts})?$"


# the router at the default precision (ns)
SIMPLE_LINE_RE = _simple_line_re(1)

_TRUE_LIST = ", ".join(f"'{t}'" for t in _BOOL_TRUE)
_FALSE_LIST = ", ".join(f"'{f}'" for f in _BOOL_FALSE)


def _parse_simple(df: DataFrame, line_col: str, mult: int, now_ns: Column) -> DataFrame:
    """Column-expression parse of regex-validated simple lines."""
    default_ns = F.call_function("div", F.col("_now_ns"), F.lit(mult)) * mult
    d = (
        df.select(F.col(line_col).alias("_ln"), now_ns.alias("_now_ns"))
        .withColumn("_parts", F.split("_ln", " "))
        .withColumn("_mt", F.split(F.element_at("_parts", 1), ","))
        .withColumn(
            "_tags",
            F.expr(
                "map_from_entries(transform(slice(_mt, 2, size(_mt) - 1),"
                " t -> struct(split_part(t, '=', 1), split_part(t, '=', 2))))"
            ),
        )
        .withColumn(
            "_ts_ns",
            F.when(
                F.size("_parts") >= 3,
                F.element_at("_parts", 3).cast("long") * F.lit(mult),
            ).otherwise(default_ns),
        )
        .withColumn("_f", F.explode(F.split(F.element_at("_parts", 2), ",")))
        .withColumn("_fv", F.expr("split_part(_f, '=', 2)"))
    )
    # the router regex already proved _fv is a valid INT/FLT/BOOL
    # literal, so cheap discriminators suffice: only ints end in 'i',
    # and the bool literals are fixed short strings (no regex here —
    # these predicates repeat across the value columns and each `when`
    # re-evaluates them)
    is_int = F.col("_fv").endswith("i")
    is_t = F.expr(f"_fv IN ({_TRUE_LIST})")
    is_f = F.expr(f"_fv IN ({_FALSE_LIST})")
    return d.select(
        # Go int64 division truncates toward zero; Spark's `div` does too
        F.expr("_ts_ns div 1000").alias("ts"),
        F.concat(F.element_at("_mt", 1), F.lit("."),
                 F.expr("split_part(_f, '=', 1)")).alias("name"),
        F.col("_tags").alias("labels"),
        F.when(~is_int & ~is_t & ~is_f, F.col("_fv").cast("double")).alias("value_d"),
        F.when(is_int, F.expr(
            "cast(substring(_fv, 1, length(_fv) - 1) as long)")).alias("value_l"),
        F.when(is_t, F.lit(True)).when(is_f, F.lit(False)).alias("value_b"),
        F.lit(None).cast("string").alias("value_s"),
        F.when(is_int, "long").when(is_t | is_f, "boolean")
         .otherwise("double").alias("value_type"),
        F.lit(None).cast("string").alias("parse_error"),
    )


def parse_influx(
    df: DataFrame,
    line_col: str = "line",
    precision: str = "n",
) -> DataFrame:
    """Parse InfluxDB line-protocol rows into the canonical GTS schema.

    Routes each line through the JVM column fast path when it matches
    the router (SIMPLE_LINE_RE at the default precision), else through
    the Python tokenizer (quoted strings, escapes, out-of-range numbers
    and error-row generation). Both branches take "now" as a column
    from schema.request_now_us.
    """
    mult = _PRECISION_NS.get(precision)
    if mult is None:
        raise ValueError(f"unknown precision {precision!r}")
    now_ns = request_now_us(df) * 1000

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for line, now in zip(pdf[line_col], pdf["_now_ns"]):
                try:
                    out.extend(parse_influx_line(line, mult, int(now)))
                except _ParseError:
                    # ref influxdb.go:36 — uniform "Failed to parse datapoint"
                    out.append({**_ERROR_ROW,
                                "parse_error": "Failed to parse datapoint"})
            pdf = pd.DataFrame(
                out, columns=[f.name for f in GTS_WITH_ERROR_SCHEMA.fields]
            )
            # exact int64: a column with any missing value (an error
            # row's ts, a non-integer field's value_l) would otherwise
            # be float64 and round integers above 2**53
            for c in ("ts", "value_l"):
                pdf[c] = pd.array([r[c] for r in out], dtype="Int64")
            yield pdf

    is_simple = F.coalesce(F.col(line_col).rlike(_simple_line_re(mult)), F.lit(False))
    fast = _parse_simple(df.where(is_simple), line_col, mult, now_ns)
    slow = (df.where(~is_simple).select(line_col, now_ns.alias("_now_ns"))
            .mapInPandas(run, GTS_WITH_ERROR_SCHEMA))
    return fast.unionByName(slow)
