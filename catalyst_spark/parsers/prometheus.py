"""Prometheus exposition parser (P3) — text AND protobuf variants.

Reference semantics (ref catalyser/prometheus.go:22-117):
- content negotiation (:40-44): a Content-Type of
  application/vnd.google.protobuf; proto=io.prometheus.client.MetricFamily;
  encoding=delimited selects the protobuf decoder (parse_prom_proto,
  with expfmt.ExtractSamples-parity flattening of counter/gauge/
  untyped/summary/histogram families); anything else falls back to
  text (parse_prom_text). negotiate_format() implements the check.
- URL path segments after /prometheus|/metrics become extra labels that
  OVERRIDE inner labels (:26-38, :96-99); odd segment count is a parse
  error (:32-34) — see path_to_labels().
- '__name__' is lifted to the GTS name (:88-94); our text parser takes
  the name from the line head, which is the same thing post-extraction.
- ±Inf samples are DROPPED (:83-85); NaN is kept (policy T8 — contrast
  with remote_write's map-to-0 policy T9).
- sample timestamp is ms; a missing timestamp gets ingest-now at
  SECONDS resolution (model.TimeFromUnix(time.Now().Unix()), :67-71);
  µs = ms * 1000 (:101). "Now" is schema.request_now_us(df): the
  request's receive time on a stream_lines frame, else the query
  clock.
- values are Go ParseFloat: scientific notation, +Inf/-Inf/Nan, etc.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from catalyst_spark.schema import GTS_WITH_ERROR_SCHEMA, gts_columns, request_now_us

_LINE_RE = r"^([a-zA-Z_:][a-zA-Z0-9_:]*)(?:\{(.*)\})?\s+(\S+)(?:\s+(-?\d+))?\s*$"
_LABEL_RE = r'([a-zA-Z_][a-zA-Z0-9_]*)\s*=\s*"((?:\\.|[^"\\])*)"'

_PROTO_MEDIATYPE = "application/vnd.google.protobuf"
_PROTO_PARAMS = {
    "proto": "io.prometheus.client.metricfamily",
    "encoding": "delimited",
}


def negotiate_format(content_type: str | None) -> str:
    """'proto' | 'text' per expfmt.ResponseFormat (:40-44): protobuf only
    with the exact mediatype + proto= + encoding= params; unknown falls
    back to text."""
    if not content_type:
        return "text"
    parts = [p.strip() for p in content_type.split(";")]
    if parts[0].lower() != _PROTO_MEDIATYPE:
        return "text"
    params = {}
    for p in parts[1:]:
        if "=" in p:
            k, v = p.split("=", 1)
            params[k.strip().lower()] = v.strip().strip('"').lower()
    for k, v in _PROTO_PARAMS.items():
        if params.get(k) != v:
            return "text"
    return "proto"


def path_to_labels(path: str) -> dict[str, str]:
    """URL path -> extra-label dict (ref catalyser/prometheus.go:26-38).

    Raises ValueError on an odd number of segments, mirroring the
    reference's parse error — note this includes the bare '/prometheus'
    path, whose empty remainder splits into one empty segment in Go.
    """
    for prefix in ("/prometheus", "/metrics"):
        if path.startswith(prefix):
            path = path[len(prefix):]
    path = path.strip("/")
    segs = path.split("/")
    if len(segs) % 2 != 0:
        raise ValueError(
            f"Bad number of labels in URL (must be even but got : {len(segs)} entries)"
        )
    return dict(zip(segs[::2], segs[1::2]))


def _now_ms(now_us: Column) -> Column:
    """Ingest-now at seconds resolution, in ms (:67-71)."""
    return F.call_function("div", now_us, F.lit(1_000_000)) * 1000


def _unescape(col: Column) -> Column:
    """Text-format label-value escapes: \\\\ , \\" , \\n."""
    col = F.replace(col, F.lit(r"\n"), F.lit("\n"))
    col = F.replace(col, F.lit(r"\""), F.lit('"'))
    return F.replace(col, F.lit("\\\\"), F.lit("\\"))


def parse_prom_text(
    df: DataFrame,
    line_col: str = "line",
    extra_labels: dict[str, str] | None = None,
) -> DataFrame:
    """Parse exposition-format lines (one per row) into GTS.

    Comment (#) and blank lines are dropped — in the text format the
    TYPE/HELP metadata only affects family grouping, and ExtractSamples
    flattens histogram/summary families back to exactly the per-line
    samples (name_bucket/_sum/_count appear as plain lines).
    """
    extra_labels = extra_labels or {}

    line = F.trim(F.col(line_col))
    data = df.where((line != "") & ~line.startswith("#")).select(
        line.alias("_l"), request_now_us(df).alias("_now_us"))

    name = F.regexp_extract("_l", _LINE_RE, 1)
    label_blob = F.regexp_extract("_l", _LINE_RE, 2)
    value_str = F.regexp_extract("_l", _LINE_RE, 3)
    ts_str = F.regexp_extract("_l", _LINE_RE, 4)

    keys = F.regexp_extract_all("_lb", F.lit(_LABEL_RE), 1)
    vals = F.transform(
        F.regexp_extract_all("_lb", F.lit(_LABEL_RE), 2), _unescape
    )
    inner = F.map_from_arrays(keys, vals)

    if extra_labels:
        extra = F.create_map(
            *[F.lit(x) for kv in extra_labels.items() for x in kv]
        ).cast("map<string,string>")
        labels = F.map_concat(inner, extra)  # extra wins (LAST_WIN policy)
    else:
        labels = inner

    lowered = F.lower(value_str)
    value = (
        F.when(lowered.isin("+inf", "inf"), F.lit(float("inf")))
        .when(lowered == "-inf", F.lit(float("-inf")))
        .when(lowered == "nan", F.lit(float("nan")))
        .otherwise(value_str.try_cast("double"))
    )

    ts_ms = F.when(ts_str != "", ts_str.try_cast("long")).otherwise(_now_ms(F.col("_now_us")))

    parsed = data.select(
        name.alias("_name"),
        label_blob.alias("_lb"),
        value_str.alias("_vs"),
        value.alias("_v"),
        ts_ms.alias("_ts_ms"),
    ).select(
        "_name",
        labels.alias("_labels"),
        "_vs",
        "_v",
        "_ts_ms",
    )

    # drop ±Inf rows (policy T8); keep NaN
    parsed = parsed.where(
        F.col("_v").isNull() | ~F.abs(F.col("_v")).eqNullSafe(F.lit(float("inf")))
    )

    error = F.when(
        (F.col("_name") == "") | (F.col("_vs") == "") | F.col("_v").isNull(),
        "Invalid format",
    ).otherwise(F.lit(None))

    return parsed.select(
        *gts_columns(
            ts=F.col("_ts_ms") * 1000,
            name=F.col("_name"),
            labels=F.col("_labels"),
            value_d=F.col("_v"),
            value_type=F.lit("double"),
            parse_error=error,
        )
    )


# ---------------------------------------------------------------------------
# protobuf exposition variant (dto.MetricFamily stream)
# ---------------------------------------------------------------------------

def _go_float_str(f: float) -> str:
    """Label rendering of quantile/le bounds: Go fmt.Sprint(float64) =
    shortest %g. Python's repr is the same shortest-round-trip digits;
    the only fix-up needed for realistic bounds is dropping a trailing
    '.0' (Go prints 250, not 250.0). ±Inf render as +Inf/-Inf."""
    if math.isinf(f):
        return "+Inf" if f > 0 else "-Inf"
    if math.isnan(f):
        return "NaN"
    s = repr(f)
    return s[:-2] if s.endswith(".0") else s


def extract_samples(fam: dict, now_ms: int) -> list[tuple[str, dict, float, int]]:
    """expfmt.ExtractSamples parity: flatten one decoded MetricFamily to
    (name, labels, value, ts_ms) samples.

    - counter/gauge/untyped: one sample per metric
    - summary: one per quantile (label quantile=<q>) + _sum + _count
    - histogram: one per bucket (label le=<bound>) + _sum + _count,
      with a synthesized le=+Inf bucket when the family lacks one
    - metrics whose payload field doesn't match the family type are
      skipped (as each extractor's nil check does)
    """
    name = fam["name"]
    out: list[tuple[str, dict, float, int]] = []
    for m in fam["metrics"]:
        ts = m["timestamp_ms"] if m["timestamp_ms"] is not None else now_ms
        base = dict(m["labels"])
        kind = fam["type"]
        if kind == "summary":
            s = m["summary"]
            if s is None:
                continue
            for q, v in s["quantiles"]:
                out.append((name, {**base, "quantile": _go_float_str(q)}, v, ts))
            out.append((name + "_sum", base, s["sum"], ts))
            out.append((name + "_count", base, float(s["count"]), ts))
        elif kind == "histogram":
            h = m["histogram"]
            if h is None:
                continue
            inf_seen = False
            for cc, ub in h["buckets"]:
                out.append((name + "_bucket",
                            {**base, "le": _go_float_str(ub)}, float(cc), ts))
                if math.isinf(ub) and ub > 0:
                    inf_seen = True
            out.append((name + "_sum", base, h["sum"], ts))
            out.append((name + "_count", base, float(h["count"]), ts))
            if not inf_seen:
                out.append((name + "_bucket", {**base, "le": "+Inf"},
                            float(h["count"]), ts))
        else:
            v = m.get(kind)  # counter | gauge | untyped payload
            if v is None:
                continue
            out.append((name, base, v, ts))
    return out


def parse_prom_proto(
    df: DataFrame,
    body_col: str = "body",
    extra_labels: dict[str, str] | None = None,
) -> DataFrame:
    """Parse delimited-MetricFamily protobuf bodies (one per row) into
    GTS, with the same post-extraction semantics as the text path:
    ±Inf samples dropped (T8), URL extra labels override inner (T3),
    ingest-now at seconds resolution (an input column of the Python
    decoder), ts µs = ms * 1000."""
    from catalyst_spark.parsers.wire import decode_metric_families

    extra_labels = extra_labels or {}
    cols = [f.name for f in GTS_WITH_ERROR_SCHEMA.fields]

    def run(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for body, now_ms in zip(pdf[body_col], pdf["_now_ms"]):
                try:
                    fams = decode_metric_families(bytes(body))
                except Exception:
                    out.append({c: None for c in cols}
                               | {"parse_error": "Invalid format"})
                    continue
                for fam in fams:
                    for name, labels, value, ts_ms in extract_samples(fam, int(now_ms)):
                        if math.isinf(value):
                            continue  # policy T8 (:83-85)
                        out.append({
                            "ts": ts_ms * 1000,
                            "name": name,
                            "labels": {**labels, **extra_labels},
                            "value_d": value,
                            "value_l": None,
                            "value_b": None,
                            "value_s": None,
                            "value_type": "double",
                            "parse_error": None,
                        })
            yield pd.DataFrame(out, columns=cols)

    return df.select(body_col, _now_ms(request_now_us(df)).alias("_now_ms")).mapInPandas(
        run, GTS_WITH_ERROR_SCHEMA)
