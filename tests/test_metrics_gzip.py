"""C8 metering + S5 gzip ingestion."""

from __future__ import annotations

import gzip

from catalyst_spark.control.metrics import ingest_audit, observed
from catalyst_spark.parsers import parse_graphite


def test_ingest_audit_counters(spark):
    df = spark.createDataFrame(
        [("a 1 1546420308",), ("b 2 1546420308",), ("bad",)], "line string"
    )
    gts = parse_graphite(df)
    audit = ingest_audit(gts, "graphite").collect()[0]
    assert audit["protocol"] == "graphite"
    assert audit["rows"] == 3
    assert audit["parse_errors"] == 1


def test_observe_metrics(spark):
    df = spark.createDataFrame([("a 1 1546420308",), ("bad",)], "line string")
    gts, obs = observed(parse_graphite(df))
    gts.collect()  # action materializes the observation
    assert obs.get["rows"] == 2
    assert obs.get["parse_errors"] == 1


def test_gzip_body_ingest(spark, tmp_path):
    """S5: gzip bodies decompress natively in the text source (the
    reference wraps the HTTP body in a gzip reader, core/auth.go:65-76;
    Spark infers the codec from the extension)."""
    p = tmp_path / "req.txt.gz"
    p.write_bytes(gzip.compress(b"zipped.metric 7 1546420308\n"))
    lines = spark.read.text(str(p)).withColumnRenamed("value", "line")
    rows = parse_graphite(lines).collect()
    assert rows[0]["name"] == "zipped.metric"
    assert rows[0]["value_l"] == 7
