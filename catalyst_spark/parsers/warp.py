"""Warp 10 GTS passthrough (P8) — lines forwarded verbatim.

Reference semantics (ref catalyser/warp.go:15-49): input lines are
re-joined with CRLF and flushed to the backend every 27 lines plus a
final partial batch. No parsing, no typing.

In the DataFrame model the passthrough is the identity transform and
the flush is a sink concern: WarpHTTPSink.foreach_batch posts one body
per Arrow record batch, as for the Sensision-encoded paths. The 27-line
flush is not reproduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def warp_passthrough(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Identity over the opaque lines; normalizes the column name so the
    sink can post any line-shaped DataFrame."""
    return df.select(F.col(line_col).cast("string").alias("sensision"))
