"""Control plane: ban registry, error taxonomy, txn ids, access log,
metering (SURVEY §2.5 C2-C8)."""

from catalyst_spark.control.errors import classify_error, classify_error_col
from catalyst_spark.control.access_log import AccessLog, AccessLogListener
from catalyst_spark.control.auth import BanRegistry, filter_banned, txn_id

__all__ = [
    "AccessLog",
    "AccessLogListener",
    "classify_error",
    "classify_error_col",
    "BanRegistry",
    "filter_banned",
    "txn_id",
]
