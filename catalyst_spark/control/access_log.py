"""Access log (C7) — per-request/batch audit rows.

The reference logs one structured line per HTTP request: remote, uri,
method, status, latency, txn, datapoint count
(ref middlewares/logger.go:79-92). In the streaming model a "request"
is a micro-batch, so the audit row carries (txn, protocol, batch_id,
datapoints, parse_errors, status, latency_ms, logged_at) and is
appended to a parquet audit table the operator can query like any
other — request-level observability that C8's datapoint counters
don't give.

Datapoint/error counts ride the batch's own action via observe()
(control/metrics.observed), so auditing adds no second pass over the
data; only the one-row audit append is extra.

A StreamingQueryListener twin (AccessLogListener) records engine-side
progress (batch id, input rows, duration) for queries that don't go
through the audited forwarder.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from catalyst_spark.control.auth import txn_id

class AccessLog:
    """Parquet-backed audit table (append-only, one row per batch)."""

    def __init__(self, spark: SparkSession, path: str, source_id: str = "") -> None:
        self.spark = spark
        self.path = path
        self.source_id = source_id  # ≙ X-Forwarded-For in the txn hash

    def record(
        self,
        protocol: str,
        batch_id: int,
        datapoints: int,
        parse_errors: int,
        status: int,
        latency_ms: float,
    ) -> str:
        txn = txn_id(self.source_id, time.time_ns())
        row = [(txn, protocol, batch_id, datapoints, parse_errors,
                status, latency_ms)]
        (
            self.spark.createDataFrame(
                row,
                "txn string, protocol string, batch_id long, datapoints long, "
                "parse_errors long, status int, latency_ms double",
            )
            .selectExpr("*", "current_timestamp() as logged_at")
            .write.mode("append").parquet(self.path)
        )
        return txn

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)


class AccessLogListener:
    """StreamingQueryListener twin: records per-batch progress rows
    (query id, batch id, input rows, duration) in memory; attach with
    spark.streams.addListener(listener.as_listener()).

    Kept import-light: the pyspark listener base class is only touched
    inside as_listener(), so batch-only deployments never pay for it.
    """

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def as_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                outer.rows.append({
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "duration_ms": p.durationMs.get("triggerExecution"),
                })

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _L()
        return self._listener
