"""Stub Warp 10 ingress and the timing Transport handed to WarpHTTPSink.

StubWarp is a loopback HTTP/1.1 server on one asyncio thread. It answers
POST /api/v0/update with 200, serves at most `max_conns` connections at
a time, and keeps (receive time, body) of every update so the workload
can check each delivered line against the generator's expectation and
time each request's last line.

TimedTransport wraps the transport a default WarpHTTPSink carries (its
public `transport` attribute) and is passed back through the sink's
`transport=` parameter. It runs inside Spark's Python workers, so its
records go to one append-only file per worker process.
"""

from __future__ import annotations

import asyncio
import os
import threading
import time
from pathlib import Path

UPDATE_PATH = "/api/v0/update"


class StubWarp:
    def __init__(self, max_conns: int) -> None:
        self.posts: list[tuple[float, bytes]] = []
        self._max_conns = max_conns
        self._loop = asyncio.new_event_loop()
        self._ready = threading.Event()
        self._thread = threading.Thread(target=self._serve, name="stub-warp", daemon=True)
        self._thread.start()
        if not self._ready.wait(timeout=10):
            raise RuntimeError("stub Warp 10 did not start")

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    def _serve(self) -> None:
        asyncio.set_event_loop(self._loop)
        self._sem = asyncio.Semaphore(self._max_conns)
        self._server = self._loop.run_until_complete(
            asyncio.start_server(self._handle, "127.0.0.1", 0, backlog=128))
        self.port = self._server.sockets[0].getsockname()[1]
        self._ready.set()
        self._loop.run_forever()
        self._server.close()
        self._loop.run_until_complete(self._server.wait_closed())
        self._loop.close()

    async def _handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        async with self._sem:
            try:
                while await self._one_request(reader, writer):
                    pass
            except (asyncio.IncompleteReadError, ConnectionError, ValueError):
                pass
            finally:
                writer.close()

    async def _one_request(self, reader, writer) -> bool:
        request_line = await reader.readline()
        if not request_line:
            return False
        method, path, version = request_line.decode("latin-1").split()
        length, close = 0, version == "HTTP/1.0"
        while True:
            header = await reader.readline()
            if header in (b"\r\n", b"\n", b""):
                break
            key, _, value = header.decode("latin-1").partition(":")
            key = key.strip().lower()
            if key == "content-length":
                length = int(value)
            elif key == "connection":
                close = value.strip().lower() == "close"
        body = await reader.readexactly(length) if length else b""
        if method == "POST" and path == UPDATE_PATH:
            self.posts.append((time.time(), body))
            status = b"200 OK"
        else:
            status = b"404 Not Found"
        writer.write(b"HTTP/1.1 " + status + b"\r\nContent-Length: 0\r\n"
                     + (b"Connection: close\r\n" if close else b"") + b"\r\n")
        await writer.drain()
        return not close

    def close(self) -> None:
        self._loop.call_soon_threadsafe(self._loop.stop)
        self._thread.join(timeout=10)


def split_lines(body: bytes) -> list[bytes]:
    return [ln for ln in body.split(b"\r\n") if ln]


class TimedTransport:
    """Transport wrapper: delegates to `inner`, times each POST and counts
    the calls that raised the connection errors the sink retries on.
    With `log_dir` set (traced runs), each call appends
    `start end bytes status raised parent op` to <log_dir>/<pid>.log."""

    def __init__(self, inner, log_dir: str | None = None) -> None:
        self.inner = inner
        self.log_dir = log_dir
        self.parent = None  # span id of the foreach_batch call in flight
        self.op = None

    def __call__(self, url: str, headers: dict[str, str], body: bytes):
        start = time.time()
        status, raised = -1, 0
        try:
            status, text = self.inner(url, headers, body)
            return status, text
        except (ConnectionError, OSError):
            raised = 1
            raise
        finally:
            if self.log_dir is not None:
                with open(os.path.join(self.log_dir, f"{os.getpid()}.log"), "a") as f:
                    f.write(f"{start} {time.time()} {len(body)} {status} {raised}"
                            f" {self.parent} {self.op}\n")


def read_transport_logs(log_dir: Path) -> list[tuple]:
    """-> [(start, end, bytes, status, raised, parent, op)] from every worker."""
    out = []
    for p in sorted(Path(log_dir).glob("*.log")):
        for line in p.read_text().splitlines():
            s, e, n, st, r, parent, op = line.split()
            out.append((float(s), float(e), int(n), int(st), int(r),
                        None if parent == "None" else int(parent),
                        None if op == "None" else op))
    return out


def clear_transport_logs(log_dir: Path) -> None:
    for p in Path(log_dir).glob("*.log"):
        p.unlink()
