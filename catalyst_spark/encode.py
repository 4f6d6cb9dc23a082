"""Sensision encoder — GTS DataFrame -> one STRING column of wire lines.

Byte-parity with the reference encoder (ref core/warp.go:423-478):

    TS// NAME{K=V,...} VALUE\\r\\n

- ts: integral µs, or empty when unset (Go NaN ≙ our NULL, :429-431)
- geo/elevation never populated -> always the bare ``//`` (:435)
- name & labels URL-escaped with ``+`` -> ``%20`` (:435,441)
- value by type tag: bool -> T/F (:448-453); double -> ``%f`` fixed 6
  fractional digits (:456); long -> ``%d`` (:461); string -> single-quoted
  URL-escaped (:468); nil -> ``%v`` of nil == ``<nil>`` escaped (:471-473)

Escaping parity: name and labels use Go ``url.QueryEscape`` FOLLOWED by
the '+' -> '%20' fix-up (:435,441 — the Warp10 2.3.0 comment); string
VALUES use plain QueryEscape with NO fix-up, so a space in a string
value stays '+' (:468). Two escape variants below mirror that split.
Spark's ``url_encode`` is Java URLEncoder (space -> '+', keeps '*',
escapes '~'); fix-ups reconcile: '%7E' -> '~', '*' -> '%2A'.

Deviation (documented): Go map iteration order is nondeterministic, so
the reference emits labels in random order per record; we emit labels
sorted by key — deterministic output, same set semantics.

All of this is a single codegen'd column expression — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def query_escape(col: Column) -> Column:
    """Go url.QueryEscape semantics via Java url_encode + fix-ups
    (space stays '+', as the reference's string-value branch :468)."""
    enc = F.url_encode(col)
    enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
    return F.replace(enc, F.lit("*"), F.lit("%2A"))


def url_escape(col: Column) -> Column:
    """QueryEscape + the '+' -> '%20' fix-up the reference applies to
    name and labels (:435,441) but NOT to string values."""
    return F.replace(query_escape(col), F.lit("+"), F.lit("%20"))


def _value_expr() -> Column:
    return (
        F.when(F.col("value_type") == "boolean",
               F.when(F.col("value_b"), "T").otherwise("F"))
        .when(F.col("value_type") == "double",
              F.format_string("%f", F.col("value_d")))
        .when(F.col("value_type") == "long",
              F.col("value_l").cast("string"))
        .when(F.col("value_type") == "string",
              F.concat(F.lit("'"), query_escape(F.col("value_s")), F.lit("'")))
        # 'opaque' (OpenTSDB object/array values): Go's default branch
        # url.QueryEscape(fmt "%v") — UNQUOTED, no '+' fix-up
        # (:470-473). value_s carries the structure's JSON text; the
        # fmt-%v-vs-JSON rendering dialect deviation is documented at
        # the producer (parsers/opentsdb.py).
        .when(F.col("value_type") == "opaque", query_escape(F.col("value_s")))
        # Go nil interface through the %v default branch -> "<nil>" escaped
        .otherwise(F.lit("%3Cnil%3E"))
    )


def _labels_expr() -> Column:
    entries = F.expr("array_sort(map_entries(labels))")
    rendered = F.transform(
        entries,
        lambda e: F.concat(url_escape(e["key"]), F.lit("="), url_escape(e["value"])),
    )
    return F.array_join(rendered, ",")


def sensision_line() -> Column:
    """Expression producing the full Sensision line for a GTS row."""
    ts = F.when(F.col("ts").isNotNull(), F.col("ts").cast("string")).otherwise("")
    return F.concat(
        ts,
        F.lit("// "),
        url_escape(F.coalesce(F.col("name"), F.lit(""))),
        F.lit("{"),
        F.when(F.col("labels").isNotNull(), _labels_expr()).otherwise(""),
        F.lit("} "),
        _value_expr(),
        F.lit("\r\n"),
    ).alias("sensision")


def encode_sensision(gts_df: DataFrame) -> DataFrame:
    """GTS DataFrame -> DataFrame of wire-format lines."""
    return gts_df.select(sensision_line())
