"""Canonical GTS record schema (SURVEY §1.4).

The reference's single data abstraction is the Geo Time Series datapoint
(ref core/warp.go:40-45): ``{Ts float64-µs, Name, Labels map, Value
interface{}}``. Spark has no variant column, so the Go ``interface{}``
value splits into typed columns plus a type tag — this preserves the
encoder's type-directed behavior exactly (ref core/warp.go:447-474).

``value_type`` is one of 'double' | 'long' | 'boolean' | 'string' |
'opaque' | 'null' ('null' ≙ Go nil interface, e.g. an OpenTSDB point
whose JSON value is null — encoded as ``%v`` of nil; 'opaque' ≙ a Go
non-scalar interface value, e.g. an OpenTSDB JSON object/array —
value_s carries its JSON text, encoded unquoted-escaped like Go's
default ``%v`` branch; see encode.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GTS_SCHEMA = T.StructType(
    [
        # µs since epoch; NULL ≙ Go NaN "unset" (ref core/warp.go:429-431)
        T.StructField("ts", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("value_d", T.DoubleType(), True),
        T.StructField("value_l", T.LongType(), True),
        T.StructField("value_b", T.BooleanType(), True),
        T.StructField("value_s", T.StringType(), True),
        T.StructField("value_type", T.StringType(), True),
    ]
)

# Parsers append a per-row error column: null on success, else the
# reference's error message. The reference aborts whole requests on the
# first error for Influx / Graphite-HTTP and skips bad lines on
# Graphite-TCP; the engine skips them everywhere (permissive()).
PARSE_ERROR_COL = "parse_error"

GTS_WITH_ERROR_SCHEMA = T.StructType(
    list(GTS_SCHEMA.fields) + [T.StructField(PARSE_ERROR_COL, T.StringType(), True)]
)


# A request's receive time, in µs: streaming.stream_lines attaches it
# to every line of a request file, from the file's modification time.
RECEIVED_COL = "received_us"


def request_now_us(df: DataFrame) -> Column:
    """The "now", in µs, for datapoints of `df` that carry no timestamp.

    The reference stamps them with the time their request arrived
    (catalyser/influxdb.go:25-28,62). A frame from
    streaming.stream_lines carries that time per line as `received_us`
    (its request file's modification time), so two requests in one
    micro-batch get their own "now", a replayed epoch reads the same
    value back, and a micro-batch's plan holds no per-batch literal:
    a warm batch reuses the code generated for the batch before it.

    A frame without that column (a literal frame, a batch
    spark.read.text) falls back to the query clock,
    current_timestamp(): one value per batch action, and in a stream
    the micro-batch's timestamp, which the offset log records before
    the batch runs. Spark folds that clock into a literal, so such a
    stream generates its code again in every micro-batch."""
    if RECEIVED_COL in df.columns:
        return F.col(RECEIVED_COL)
    return F.unix_micros(F.current_timestamp())


def gts_columns(
    ts: Column,
    name: Column,
    labels: Column,
    value_d: Column | None = None,
    value_l: Column | None = None,
    value_b: Column | None = None,
    value_s: Column | None = None,
    value_type: Column | None = None,
    parse_error: Column | None = None,
) -> list[Column]:
    """Assemble the canonical projection, nulling absent value variants."""
    null = F.lit(None)
    return [
        ts.cast("long").alias("ts"),
        name.cast("string").alias("name"),
        labels.cast("map<string,string>").alias("labels"),
        (value_d if value_d is not None else null.cast("double")).alias("value_d"),
        (value_l if value_l is not None else null.cast("long")).alias("value_l"),
        (value_b if value_b is not None else null.cast("boolean")).alias("value_b"),
        (value_s if value_s is not None else null.cast("string")).alias("value_s"),
        (value_type if value_type is not None else null.cast("string")).alias("value_type"),
        (parse_error if parse_error is not None else null.cast("string")).alias(
            PARSE_ERROR_COL
        ),
    ]


def permissive(df: DataFrame) -> DataFrame:
    """Reference semantics for Graphite-TCP: bad lines are counted and
    skipped (ref catalyser/graphite.go:276-283). The one place error
    rows are dropped; a frame without a parse_error column is returned
    unchanged."""
    if PARSE_ERROR_COL not in df.columns:
        return df
    return df.where(F.col(PARSE_ERROR_COL).isNull()).drop(PARSE_ERROR_COL)
