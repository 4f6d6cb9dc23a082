"""Graphite line parser (P5/P6) — pure column expressions, no UDF.

Line format (ref catalyser/graphite.go:314-407):

    metric[;tag=val;tag2=val2] value [timestamp]

Semantics reproduced exactly:
- space-split; < 2 tokens -> "Bad metric format" (:318-320); token 3, when
  present, must ParseInt or -> "Bad metric part: timestamp" (:324-329);
  tokens beyond the third are ignored (the reference indexes split[2]).
- value sniff cascade (:335-366): contains '.' AND float-parses -> double;
  else int-parses -> long; else lower() in {true,false} -> boolean; else
  the raw string. ("15e3" -> no dot, int-parse fails -> STRING — quirk
  preserved; "1.2.3" -> falls through every parse -> string, not error.)
- timestamp magnitude heuristic via int64toTime (ref opentsdb.go:127-144):
  0 -> ingest-now; < 0xFFFFFFFF -> seconds; else milliseconds. Missing
  timestamp -> now in ms (:322) which the heuristic then maps back.
  "Now" is schema.request_now_us(df): the request's receive time on a
  stream_lines frame, else the query clock.
- hierarchy labeling when parse=true (the config default, cmd/root.go:56):
  name 'a.b.c' -> labels {"0":"a","1":"b","2":"c"} (:382-386,398-403).
- ';'-separated tags override hierarchy labels on key collision (Go map
  assignment order, :388-392); tag values keep Go's Split semantics —
  'a=b=c' -> value 'b' (tagSplit[1]).
- Deviation (documented, SURVEY Appendix A.5): a tag without '=' panics
  in the reference; we reject the line with a parse error instead.

Not reproduced (P7): the TCP listener's token framing
(catalyser/graphite.go:240-273). Graphite arrives through the file
source like every other protocol, and the write token is the sink's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from catalyst_spark.schema import gts_columns, request_now_us

_MAX_SECONDS = 0xFFFFFFFF  # magnitude heuristic boundary (opentsdb.go:138)


def _heuristic_us(ts: Column, now_us: Column) -> Column:
    """int64toTime(ts).UnixNano()/1000 — sec/ms disambiguation by magnitude."""
    return (
        F.when(ts == 0, now_us)
        .when(ts < _MAX_SECONDS, ts * 1_000_000)
        .otherwise(ts * 1_000)
    )


def parse_graphite(
    df: DataFrame,
    line_col: str = "line",
    parse_hierarchy: bool = True,
) -> DataFrame:
    """Parse Graphite plaintext lines into the canonical GTS schema.

    Scale: everything is whole-stage-codegen'd string/array expressions;
    a 100 TB replay of Graphite traffic is a map-only scan with zero
    shuffles and zero Python.
    """
    now_us = request_now_us(df)

    line = F.col(line_col)
    parts = F.split(line, " ")
    n = F.size(parts)

    metric_full = F.get(parts, 0)
    value_str = F.get(parts, 1)
    ts_str = F.get(parts, 2)

    ts_parsed = ts_str.try_cast("long")
    bad_ts = (n >= 3) & ts_parsed.isNull()
    ts_input = F.when(n >= 3, ts_parsed).otherwise(
        # missing ts -> now in ms (graphite.go:322)
        F.call_function("div", now_us, F.lit(1000))
    )
    ts_us = _heuristic_us(ts_input, now_us)

    # value sniff cascade (graphite.go:332-367)
    as_double = value_str.try_cast("double")
    as_long = value_str.try_cast("long")
    is_bool = F.lower(value_str).isin("true", "false")
    has_dot = value_str.contains(".")

    is_double = has_dot & as_double.isNotNull()
    is_long = ~is_double & as_long.isNotNull()
    is_true = ~is_double & ~is_long & (F.lower(value_str) == "true")
    is_bool_v = ~is_double & ~is_long & is_bool
    value_type = (
        F.when(is_double, "double")
        .when(is_long, "long")
        .when(is_bool_v, "boolean")
        .otherwise("string")
    )

    # name / tags / hierarchy labels (SQL expr strings: the Python-lambda
    # struct form loses field aliases inside transform() on this Spark)
    _mf = f"get(split({line_col}, ' '), 0)"
    _name = f"get(split({_mf}, ';'), 0)"
    _tag_strs = f"slice(split({_mf}, ';'), 2, greatest(size(split({_mf}, ';')) - 1, 0))"
    name = F.expr(_name)
    bad_tag = F.expr(f"exists({_tag_strs}, t -> NOT contains(t, '='))")
    tags = (
        f"map_from_entries(transform({_tag_strs}, "
        "t -> struct(split_part(t, '=', 1) as key, split_part(t, '=', 2) as value)))"
    )
    hier = (
        f"map_from_arrays(transform(sequence(0, size(split({_name}, '\\\\.')) - 1), "
        f"i -> cast(i as string)), split({_name}, '\\\\.'))"
    )
    if parse_hierarchy:
        labels = F.expr(
            f"CASE WHEN size({_tag_strs}) > 0 THEN map_concat({hier}, {tags}) "
            f"ELSE {hier} END"
        )
    else:
        labels = F.expr(
            f"CASE WHEN size({_tag_strs}) > 0 THEN {tags} "
            "ELSE cast(map() as map<string,string>) END"
        )

    error = (
        F.when(n < 2, "Bad metric format")
        .when(bad_ts, "Bad metric part: timestamp")
        .when(bad_tag, "Bad metric part: tag without '='")
        .otherwise(F.lit(None))
    )

    return df.select(
        *gts_columns(
            ts=ts_us,
            name=name,
            labels=labels,
            value_d=F.when(is_double, as_double),
            value_l=F.when(is_long, as_long),
            value_b=F.when(is_bool_v, is_true),
            value_s=F.when(value_type == "string", value_str),
            value_type=value_type,
            parse_error=error,
        )
    )
