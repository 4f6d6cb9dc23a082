"""Warp sink (K1/K3/T12): chunking, headers, retry, auto-ban, and the
shape of driver-side egress."""

from __future__ import annotations

import pytest

from catalyst_spark.control.auth import BanRegistry
from catalyst_spark.sinks import WarpHTTPSink, chunk_payloads
from catalyst_spark.sinks.warp_sink import WarpSendError


def test_chunk_27():
    lines = [f"l{i}" for i in range(60)]
    chunks = list(chunk_payloads(lines))
    assert len(chunks) == 3  # 27 + 27 + 6
    assert chunks[0].count(b"\r\n") == 27
    assert chunks[2].count(b"\r\n") == 6
    assert chunks[0].startswith(b"l0\r\nl1\r\n")


def test_chunk_preserves_existing_crlf():
    chunks = list(chunk_payloads(["a\r\n", "b"]))
    assert chunks == [b"a\r\nb\r\n"]


class FakeTransport:
    def __init__(self, responses):
        self.responses = list(responses)
        self.calls = []

    def __call__(self, url, headers, body):
        self.calls.append((url, dict(headers), bytes(body)))
        resp = self.responses.pop(0)
        if isinstance(resp, Exception):
            raise resp
        return resp


def test_post_headers_and_payload():
    t = FakeTransport([(200, "")])
    sink = WarpHTTPSink("http://w10:8080", "TOK", txn="abc", now_header="123",
                        transport=t)
    n = sink.send_lines(["1// m{} 1", "2// m{} 2"])
    assert n == 2
    url, headers, body = t.calls[0]
    assert url == "http://w10:8080/api/v0/update"
    assert headers["X-Warp10-Token"] == "TOK"
    assert headers["Content-Type"] == "text/plain"
    assert headers["Txn"] == "abc"
    assert headers["X-Warp10-Now"] == "123"
    assert body == b"1// m{} 1\r\n2// m{} 2\r\n"


def test_retry_once_on_connection_error():
    t = FakeTransport([ConnectionError("dial fail"), (200, "")])
    sink = WarpHTTPSink("http://w10", "TOK", transport=t)
    sink.send_lines(["x"])
    assert len(t.calls) == 2
    assert t.calls[0][2] == t.calls[1][2]  # full-body replay


def test_error_classification_and_autoban():
    reg = BanRegistry()
    t = FakeTransport([(500, "io.warp10.script.WarpScriptException: Token Expired")])
    sink = WarpHTTPSink("http://w10", "TOK", transport=t, ban_registry=reg)
    with pytest.raises(WarpSendError) as ei:
        sink.send_lines(["x"])
    assert ei.value.classified.error_type == "expired_token"
    assert ei.value.classified.http_status == 401
    assert reg.is_banned("TOK")


def test_mads_not_banned():
    reg = BanRegistry()
    t = FakeTransport([(429, "would exceed the Monthly Active Data Streams limit (9). (Geo Time Series")])
    sink = WarpHTTPSink("http://w10", "TOK", transport=t, ban_registry=reg)
    with pytest.raises(WarpSendError) as ei:
        sink.send_lines(["x"])
    assert ei.value.classified.error_type == "mads_exceeded"
    assert not reg.is_banned("TOK")


def sensision_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "sensision string")


def test_foreach_batch_error_and_ban_reach_the_driver(spark):
    reg = BanRegistry()
    t = FakeTransport([(500, "io.warp10.script.WarpScriptException: Token Expired")])
    sink = WarpHTTPSink("http://w10", "TOK", transport=t, ban_registry=reg)
    with pytest.raises(WarpSendError) as ei:
        sink.foreach_batch(sensision_df(spark, ["1// m{} 1\r\n"]), 0)
    assert ei.value.classified.error_type == "expired_token"
    assert reg.is_banned("TOK")


def test_foreach_batch_empty_posts_nothing(spark):
    t = FakeTransport([])
    WarpHTTPSink("http://w10", "TOK", transport=t).foreach_batch(
        sensision_df(spark, []), 0)
    assert t.calls == []


def test_foreach_batch_body_matches_chunk_payloads(spark):
    lines = [f"{i}// m{{}} {i}" + ("\r\n" if i % 2 else "") for i in range(40)]
    t = FakeTransport([(200, "")] * 40)
    WarpHTTPSink("http://w10", "TOK", transport=t).foreach_batch(
        sensision_df(spark, lines), 0)
    assert b"".join(body for _, _, body in t.calls) == b"".join(chunk_payloads(lines))


def test_foreach_batch_one_post_per_arrow_batch(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "10")
    try:
        lines = [f"{i}// m{{}} {i}\r\n" for i in range(25)]
        t = FakeTransport([(200, "")] * 25)
        WarpHTTPSink("http://w10", "TOK", transport=t).foreach_batch(
            sensision_df(spark, lines).coalesce(1), 0)
    finally:
        spark.conf.set(key, old)
    posted = [body.split(b"\r\n")[:-1] for _, _, body in t.calls]
    assert len(posted) >= 3
    assert all(1 <= len(p) <= 10 for p in posted)
    assert sorted(ln for p in posted for ln in p) == sorted(
        ln.rstrip("\r\n").encode() for ln in lines)
