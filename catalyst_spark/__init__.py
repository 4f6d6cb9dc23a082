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

import gc
import os

from catalyst_spark import zipcache

__version__ = "0.1.0"

zipcache.install()

# A reused PySpark worker (SPARK_REUSE_WORKER, pyspark/daemon.py) runs a
# full gc.collect() after every task, which rescans the ~73,000 objects
# that pyspark, pandas and pyarrow leave tracked: 40 ms or so of CPU per
# task. Freezing them once, with the modules every engine task loads,
# takes them out of later collections. Only a worker that imports this
# package is frozen; the application process has no such variable and
# is left alone.
if os.environ.get("SPARK_REUSE_WORKER"):
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.freeze()
