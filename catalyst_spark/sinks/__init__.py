"""Sinks: Warp HTTP forwarder (K1) and dry-run (K3)."""

from catalyst_spark.sinks.warp_sink import WarpHTTPSink, console_dry_run

__all__ = ["WarpHTTPSink", "console_dry_run"]
