"""Warp 10 egress sink (K1) — foreachBatch HTTP forwarder.

Reference behavior reproduced (ref core/warp.go:116-277, cmd/root.go:46-52):
- POST <endpoint>/api/v0/update, headers X-Warp10-Token,
  Content-Type: text/plain, optional X-Warp10-Now passthrough (quirk
  A.10), Txn id
- body = Sensision lines, each ended by CRLF. The reference streams one
  POST per request from one process; WarpHTTPSink.foreach_batch posts
  from the driver too: it collects the micro-batch as Arrow and sends
  one POST per record batch (at most
  spark.sql.execution.arrow.maxRecordsPerBatch lines, 10,000 by
  default), so egress starts no Python worker task. The driver holds
  the batch's encoded lines while it posts (about 70 B per line)
- retry-once on connection failure with a full-body replay buffer
  (ref core/warp.go:180,202-217,260)
- response bodies classified through the C4 taxonomy; token-typed
  errors auto-ban (C3). Both happen on the driver, so WarpSendError
  reaches the foreachBatch caller and the ban lands in the caller's
  BanRegistry
- no connection pooling: every POST opens a new urllib connection (the
  reference pools 2000 idle conns driver-side)

WarpHTTPSink.foreach_batch is the engine's one egress path. Not
reproduced: the passthrough's 27-line flush (ref catalyser/warp.go:28),
since Warp passthrough lines post one body per record batch like every
other protocol, and the Graphite TCP listener's per-connection token
(catalyser/graphite.go:240-273), since Graphite arrives through the
file source and the write token is one constructor argument.

The transport is injectable so tests (and dry runs) observe exact
payloads without a network. The default transport uses urllib (no
external HTTP deps in the container).
"""

from __future__ import annotations

import urllib.error
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame

from catalyst_spark.control.auth import BanRegistry
from catalyst_spark.control.errors import classify_error

# transport: (url, headers, body_bytes) -> (status_code, response_body)
Transport = Callable[[str, dict[str, str], bytes], tuple[int, str]]


def _urllib_transport(url: str, headers: dict[str, str], body: bytes) -> tuple[int, str]:
    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=300) as resp:
            return resp.status, resp.read().decode(errors="replace")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode(errors="replace")


def _crlf(line: str) -> str:
    return line if line.endswith("\r\n") else line + "\r\n"


class WarpSendError(RuntimeError):
    def __init__(self, classified, body: str) -> None:
        super().__init__(f"{classified.error_type} ({classified.http_status}): {body[:200]}")
        self.classified = classified


class WarpHTTPSink:
    """foreachBatch writer: GTS/Sensision batches -> Warp 10 update POSTs."""

    def __init__(
        self,
        endpoint: str,
        token: str,
        txn: str = "",
        now_header: str = "",
        transport: Transport | None = None,
        ban_registry: BanRegistry | None = None,
    ) -> None:
        self.endpoint = endpoint.rstrip("/")
        self.token = token
        self.txn = txn
        self.now_header = now_header
        self.transport = transport or _urllib_transport
        self.ban_registry = ban_registry

    def _headers(self) -> dict[str, str]:
        h = {
            "Content-Type": "text/plain",
            "X-Warp10-Token": self.token,
        }
        if self.txn:
            h["Txn"] = self.txn
        if self.now_header:  # client-pinned "now" forwarded (quirk A.10)
            h["X-Warp10-Now"] = self.now_header
        return h

    def _post(self, payload: bytes) -> None:
        url = f"{self.endpoint}/api/v0/update"
        headers = self._headers()
        try:
            status, body = self.transport(url, headers, payload)
        except (ConnectionError, OSError):
            # retry-once on dial failure, replaying the full buffered body
            # (ref core/warp.go:202-217)
            status, body = self.transport(url, headers, payload)
        if status >= 400:
            classified = classify_error(body)
            if classified.bans_token and self.ban_registry is not None:
                self.ban_registry.bannish(self.token)  # auto-ban (C3)
            raise WarpSendError(classified, body)

    def foreach_batch(self, df: DataFrame, epoch_id: int) -> None:
        """writeStream.foreachBatch hook. The driver collects the batch's
        lines as Arrow and POSTs each non-empty record batch as one body.
        The driver holds the whole encoded batch while it posts (about
        70 B per line), and no line is posted before the collect ends,
        which delays the first ack of a large batch. A refused POST
        raises WarpSendError here, on the driver, after any auto-ban."""
        for batch in df.select("sensision").toArrow().to_batches():
            if batch.num_rows:
                self._post("".join(map(_crlf, batch.column(0).to_pylist())).encode())


def console_dry_run(df: DataFrame, epoch_id: int = 0) -> None:
    """K3 --dryrun: print decoded payload instead of forwarding
    (ref core/handler.go:161-167). Each line ends with one CRLF, the
    bytes a POST body would carry."""
    for r in df.select("sensision").collect():
        print(_crlf(r["sensision"]), end="")
