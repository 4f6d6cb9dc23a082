"""Streaming ingestion wiring: sources -> parsers -> sinks.

The reference's HTTP/TCP listeners map to Structured Streaming sources
(file source here; Kafka in production — same DataFrame code). Every
protocol, Graphite included, arrives through stream_lines; there is no
TCP listener. The parsers are stateless column transforms, so batch
and streaming share them verbatim (SURVEY §2.2); this module only
wires:

  readStream(text) -> parse_<protocol> -> permissive
     -> encode_sensision -> foreachBatch WarpHTTPSink   (egress, K1)
     -> partitioned parquet store                        (query surface)

Egress: WarpHTTPSink.foreach_batch collects each micro-batch's lines
to the driver as Arrow and POSTs one body per record batch (at most
spark.sql.execution.arrow.maxRecordsPerBatch lines), so the forwarder
starts no Python worker task of its own. A refused POST raises
WarpSendError in the forwarder's batch function, with the taxonomy
status that the access log records.

Listing: a micro-batch lists its files on the driver. The file source
hands each of the batch's files to Spark as its own path, and the
session that session.get_spark builds keeps the listing of any number of
paths off the executors, so a burst of many small request files starts
no listing task per file.

Delivery: the store writer is exactly-once (Spark's file sink commits
each epoch through its metadata log, keyed by the checkpoint). The Warp
forwarder is at-least-once: foreachBatch + checkpoint replays a failed
epoch whole, so record batches that had already posted post again.

Ingest "now": a datapoint without a timestamp is stamped from
schema.request_now_us(), per request as in the reference: stream_lines
attaches each request file's modification time to its lines as
`received_us`. Two requests in one micro-batch get their own "now"; a
file's modification time does not change, so a replayed epoch
re-sends byte-identical lines, and start_warp_forwarder and
start_store_writer, run as two queries over one source, stamp a point
alike. The plan holds no per-batch literal, so a warm micro-batch
reuses the code generated for the one before it. A frame without
`received_us` (a batch read) takes the query clock, so a bulk POST and
write_store over it may stamp one timestamp-less point one pass apart.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catalyst_spark.encode import encode_sensision
from catalyst_spark.parsers import (
    parse_graphite,
    parse_influx,
    parse_opentsdb,
    parse_prom_text,
    parse_remote_write,
    warp_passthrough,
)
from catalyst_spark.schema import RECEIVED_COL, permissive
from catalyst_spark.sinks.warp_sink import WarpHTTPSink, console_dry_run

PARSERS: dict[str, Callable[..., DataFrame]] = {
    "graphite": parse_graphite,
    "influxdb": parse_influx,
    "opentsdb": parse_opentsdb,
    "prometheus": parse_prom_text,
    "remote_write": parse_remote_write,
    "warp": warp_passthrough,
}


def stream_lines(spark: SparkSession, path: str) -> DataFrame:
    """File-source stand-in for the protocol listeners: each text file
    dropped into `path` is a 'request body' worth of lines. Each line
    carries its request's receive time as `received_us`, the file's
    modification time in µs, which the parsers take as "now"."""
    return spark.readStream.text(path).select(
        F.col("value").alias("line"),
        F.unix_micros(F.col("_metadata.file_modification_time")).alias(RECEIVED_COL),
    )


def ingest_stream(lines: DataFrame, protocol: str, **parser_kwargs: Any) -> DataFrame:
    """lines/bodies stream -> canonical GTS stream (+ parse_error)."""
    try:
        parser = PARSERS[protocol]
    except KeyError:
        raise ValueError(f"unknown protocol {protocol!r}") from None
    return parser(lines, **parser_kwargs)


def start_warp_forwarder(
    gts_stream: DataFrame,
    sink: WarpHTTPSink | None,
    checkpoint_dir: str,
    access_log=None,
    protocol: str = "",
):
    """GTS stream -> Sensision -> Warp POSTs (or console when sink is
    None, K3). Bad rows are skipped permissively, as the store writer
    skips them. Failfast is not applied: a micro-batch carries no request
    boundary to fail, so per-request failfast needs the request on the
    row.

    With an AccessLog (C7), each batch appends one audit row — txn,
    datapoints, parse errors, status, latency — mirroring the
    reference's per-request access line (middlewares/logger.go:79-92).
    Counts piggyback on the batch's own action via observe(); no second
    pass over the data."""
    import time as _time

    from catalyst_spark.control.metrics import observed
    from catalyst_spark.sinks.warp_sink import WarpSendError

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        obs = None
        if access_log is not None:
            batch_df, obs = observed(batch_df, f"access_{epoch_id}")
        clean = permissive(batch_df)
        encoded = clean if clean.columns == ["sensision"] else encode_sensision(clean)
        t0 = _time.perf_counter()
        status = 200
        try:
            if sink is None:
                console_dry_run(encoded, epoch_id)
            else:
                sink.foreach_batch(encoded, epoch_id)
        except WarpSendError as exc:
            status = exc.classified.http_status
            raise
        except Exception:
            status = 500
            raise
        finally:
            if access_log is not None:
                m = obs.get
                access_log.record(
                    protocol=protocol,
                    batch_id=epoch_id,
                    datapoints=m.get("rows", 0),
                    parse_errors=m.get("parse_errors", 0),
                    status=status,
                    latency_ms=(_time.perf_counter() - t0) * 1000.0,
                )

    return (
        gts_stream.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_store_writer(
    gts_stream: DataFrame, path: str, checkpoint_dir: str
):
    """GTS stream -> date-partitioned parquet store — the in-engine
    analytical surface over ingested datapoints (replaces the
    reference's delegation of reads to Warp 10, SURVEY §2.6).

    Partitioning: dt (day) for pruning on time-range queries; within a
    partition, files cluster by name via a repartition on (dt, name) so
    per-series scans touch few files at 100 TB.
    """
    enriched = permissive(gts_stream).withColumn(
        "dt", F.to_date(F.timestamp_micros(F.col("ts"))))
    return (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("dt")
        .start()
    )
