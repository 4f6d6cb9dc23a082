"""Structured Streaming ingestion (SURVEY §7 phase 3)."""

from catalyst_spark.streaming.ingest import (
    PARSERS,
    ingest_stream,
    start_store_writer,
    start_warp_forwarder,
    stream_lines,
)

__all__ = [
    "PARSERS",
    "ingest_stream",
    "stream_lines",
    "start_warp_forwarder",
    "start_store_writer",
]
