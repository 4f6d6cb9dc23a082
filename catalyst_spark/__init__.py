"""catalyst_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ovh/catalyst (see SURVEY.md).

The reference is a multi-protocol time-series ingress proxy: protocol
parsers normalize datapoints into a canonical GTS record, encode to
Sensision text, and stream to a Warp 10 backend. This package re-expresses
those capabilities Spark-first:

- ``catalyst_spark.schema``    — canonical GTS StructType (ref core/warp.go:40-45)
- ``catalyst_spark.parsers``   — the five protocol decoders as pure-column
  DataFrame transforms (ref catalyser/*.go)
- ``catalyst_spark.encode``    — Sensision encoder expression (ref core/warp.go:423-478)
- ``catalyst_spark.queries``   — the declared analytical query surface
  (SURVEY §2.6) plus LLM-data-pipeline operators (dedup, similarity,
  text analysis) over the driver tables
- ``catalyst_spark.sinks``     — Warp HTTP forwarder (foreachBatch), error
  taxonomy (ref core/warp.go:280-421), dry-run sink
- ``catalyst_spark.streaming`` — Structured Streaming ingestion wiring
- ``catalyst_spark.control``   — ban registry, error taxonomy, txn ids,
  access log (ref services/token/auth.go, core/warp.go)
"""

from catalyst_spark import zipcache

__version__ = "0.1.0"

zipcache.install()
