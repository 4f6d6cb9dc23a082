"""Control plane: error taxonomy (C4/C5), ban registry (C2/C3), txn ids
(C6)."""

from __future__ import annotations

import hashlib

from catalyst_spark.control import (
    BanRegistry,
    classify_error,
    filter_banned,
    txn_id,
)
from catalyst_spark.control.errors import classify_error_col, http_status_col
from pyspark.sql import functions as F


class TestClassify:
    def test_token_errors_ban(self):
        for body, etype in [
            ("io.warp10.script.WarpScriptException: Invalid token xyz", "invalid_token"),
            ("io.warp10.script.WarpScriptException: Write token missing", "invalid_token"),
            ("io.warp10.script.WarpScriptException: Token Expired", "expired_token"),
            ("io.warp10.script.WarpScriptException: Token revoked", "revoked_token"),
        ]:
            c = classify_error(body)
            assert c.error_type == etype and c.http_status == 401 and c.bans_token

    def test_mads(self):
        body = ("would exceed your Monthly Active Data Streams limit for application "
                "&apos;myapp&apos; (100). (Geo Time Series ...)")
        c = classify_error(body)
        assert c.error_type == "mads_exceeded" and c.http_status == 429
        assert c.app == "myapp" and c.limit == "100"

    def test_ddp(self):
        body = ("... Daily Data Points limit being already exceeded {.app=appx,rest} "
                "Current maximum rate is (500) datapoints/s")
        c = classify_error(body)
        assert c.error_type == "ddp_exceeded" and c.http_status == 429
        assert c.app == "appx" and c.limit == "500"

    def test_input_parse_gone(self):
        c = classify_error("<pre> Parse error at &apos;foo bar&apos;</pre>")
        assert c.error_type == "input_error" and c.http_status == 422
        assert c.detail == "foo bar"
        c = classify_error("unexpected EOF while reading")
        assert c.error_type == "input_error" and c.detail == "error"
        c = classify_error("Application suspended or closed")
        assert c.error_type == "gone" and c.http_status == 410
        c = classify_error('<pre> For input string: &quot;12x&quot;</pre>')
        assert c.error_type == "input_error" and c.detail == "12x"

    def test_timeout_connection_unknown(self):
        assert classify_error("Client.Timeout exceeded").http_status == 408
        assert classify_error("dial tcp: connection refused").http_status == 503
        assert classify_error("whatever else").http_status == 500

    def test_column_variant_matches_python(self, spark):
        bodies = [
            "io.warp10.script.WarpScriptException: Invalid token a",
            "io.warp10.script.WarpScriptException: Token Expired",
            "would exceed the Monthly Active Data Streams limit (5). (Geo Time Series",
            "Daily Data Points limit being already exceeded",
            "<pre> Parse error at &apos;x&apos;</pre>",
            "Application suspended or closed",
            "unexpected EOF",
            "Client.Timeout exceeded",
            "connection refused",
            "mystery",
        ]
        df = spark.createDataFrame([(b,) for b in bodies], "body string")
        rows = df.select(
            classify_error_col(F.col("body")).alias("t"),
        ).withColumn("s", http_status_col(F.col("t"))).collect()
        for body, row in zip(bodies, rows):
            c = classify_error(body)
            assert row["t"] == c.error_type, body
            assert row["s"] == c.http_status, body


class TestBan:
    def test_registry_and_filter(self, spark):
        reg = BanRegistry()
        assert not reg.is_banned("t1")
        reg.bannish("t1")
        assert reg.is_banned("t1")
        df = spark.createDataFrame([("t1", 1), ("t2", 2)], "token string, v int")
        out = filter_banned(df, reg).collect()
        assert [r["token"] for r in out] == ["t2"]

    def test_save_load(self, spark, tmp_path):
        reg = BanRegistry({"a", "b"})
        reg.save(spark, str(tmp_path / "bans"))
        reg2 = BanRegistry.load(spark, str(tmp_path / "bans"))
        assert reg2.tokens == frozenset({"a", "b"})


def test_txn_id():
    assert txn_id("1.2.3.4", 123) == hashlib.sha256(b"1.2.3.4123").hexdigest()

