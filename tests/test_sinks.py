"""Warp sink (K1/K3): headers, CRLF framing, retry, auto-ban, and the
shape of driver-side egress."""

from __future__ import annotations

import pytest

from catalyst_spark.control.auth import BanRegistry
from catalyst_spark.sinks import WarpHTTPSink
from catalyst_spark.sinks.warp_sink import WarpSendError


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


def sensision_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "sensision string")


def test_post_headers_and_payload(spark):
    t = FakeTransport([(200, "")])
    sink = WarpHTTPSink("http://w10:8080", "TOK", txn="abc", now_header="123",
                        transport=t)
    sink.foreach_batch(sensision_df(spark, ["1// m{} 1", "2// m{} 2"]).coalesce(1), 0)
    [(url, headers, body)] = t.calls
    assert url == "http://w10:8080/api/v0/update"
    assert headers["X-Warp10-Token"] == "TOK"
    assert headers["Content-Type"] == "text/plain"
    assert headers["Txn"] == "abc"
    assert headers["X-Warp10-Now"] == "123"
    assert body == b"1// m{} 1\r\n2// m{} 2\r\n"


def test_retry_once_on_connection_error(spark):
    t = FakeTransport([ConnectionError("dial fail"), (200, "")])
    sink = WarpHTTPSink("http://w10", "TOK", transport=t)
    sink.foreach_batch(sensision_df(spark, ["x"]), 0)
    assert len(t.calls) == 2
    assert t.calls[0][2] == t.calls[1][2]  # full-body replay


def test_error_classification_and_autoban(spark):
    reg = BanRegistry()
    t = FakeTransport([(500, "io.warp10.script.WarpScriptException: Token Expired")])
    sink = WarpHTTPSink("http://w10", "TOK", transport=t, ban_registry=reg)
    with pytest.raises(WarpSendError) as ei:
        sink.foreach_batch(sensision_df(spark, ["x"]), 0)
    assert ei.value.classified.error_type == "expired_token"
    assert ei.value.classified.http_status == 401
    assert reg.is_banned("TOK")


def test_mads_not_banned(spark):
    reg = BanRegistry()
    t = FakeTransport([(429, "would exceed the Monthly Active Data Streams limit (9). (Geo Time Series")])
    sink = WarpHTTPSink("http://w10", "TOK", transport=t, ban_registry=reg)
    with pytest.raises(WarpSendError) as ei:
        sink.foreach_batch(sensision_df(spark, ["x"]), 0)
    assert ei.value.classified.error_type == "mads_exceeded"
    assert not reg.is_banned("TOK")


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


def posted_body(spark, lines):
    t = FakeTransport([(200, "")] * len(lines))
    WarpHTTPSink("http://w10", "TOK", transport=t).foreach_batch(
        sensision_df(spark, lines), 0)
    return b"".join(body for _, _, body in t.calls)


def test_chunk_preserves_existing_crlf(spark):
    assert posted_body(spark, ["a\r\n", "b"]) == b"a\r\nb\r\n"


def test_foreach_batch_body_matches_chunk_payloads(spark):
    """Every line ends with exactly one CRLF, whether or not it carried one."""
    lines = [f"{i}// m{{}} {i}" + ("\r\n" if i % 2 else "") for i in range(40)]
    assert posted_body(spark, lines) == b"".join(
        b"%d// m{} %d\r\n" % (i, i) for i in range(40))


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
