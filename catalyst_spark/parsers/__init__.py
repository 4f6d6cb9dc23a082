"""Protocol parsers — each is a stateless DataFrame transform from raw
wire-format rows to the canonical GTS schema (+ parse_error column).

Batch and streaming share these verbatim: a parser is a pure column
mapping, so the same function applies to ``spark.read.text`` output and
to a ``readStream`` source (SURVEY §2.2).
"""

from catalyst_spark.parsers.graphite import parse_graphite
from catalyst_spark.parsers.opentsdb import parse_opentsdb
from catalyst_spark.parsers.prometheus import (
    negotiate_format,
    parse_prom_proto,
    parse_prom_text,
    path_to_labels,
)
from catalyst_spark.parsers.influxdb import parse_influx
from catalyst_spark.parsers.remote_write import parse_remote_write
from catalyst_spark.parsers.warp import warp_passthrough

__all__ = [
    "parse_graphite",
    "parse_opentsdb",
    "negotiate_format",
    "parse_prom_proto",
    "parse_prom_text",
    "path_to_labels",
    "parse_influx",
    "parse_remote_write",
    "warp_passthrough",
]
