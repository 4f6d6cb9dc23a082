"""Stateful streaming: per-connection framing state must survive
across micro-batches (state carried in GroupState, not recomputed)."""

from __future__ import annotations


def test_connection_framing_state_across_batches(spark, tmp_path):
    """P7 streaming twin: the token length learned from a connection's
    first line (batch 1) must keep framing that connection's lines in
    batch 2, and a connection aborted in batch 1 must stay dead."""
    import json

    from catalyst_spark.streaming.stateful import stream_frame_connections

    d = tmp_path / "conn"
    d.mkdir()

    def write_batch(fname, rows):
        (d / fname).write_text("\n".join(json.dumps(r) for r in rows))

    write_batch("b1.json", [
        {"conn_id": "A", "line_seq": 0, "line": "TOKEN@.app.cpu 1.5 1546420308"},
        {"conn_id": "A", "line_seq": 1, "line": "X@."},
        {"conn_id": "B", "line_seq": 0, "line": "no-token-here 5 1546420312"},
    ])
    lines = (spark.readStream
             .schema("conn_id string, line_seq long, line string")
             .json(str(d)))
    q = (stream_frame_connections(lines)
         .writeStream.outputMode("append").format("memory")
         .queryName("framed").start())
    q.processAllAvailable()

    # batch 2: token NOT relearned — framed by batch-1 state (length 7),
    # including a line whose leading bytes are not TOKEN@.; conn B stays
    # aborted even though this line carries a well-formed token
    write_batch("b2.json", [
        {"conn_id": "A", "line_seq": 2, "line": "ABCDE@.app.gpu 4 1546420311"},
        {"conn_id": "B", "line_seq": 1, "line": "OTHER@.x 6 1546420313"},
    ])
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("select * from framed").collect()
    got = sorted((r["conn_id"], r["line_seq"], r["token"], r["line"]) for r in rows)
    assert got == [
        ("A", 0, "TOKEN", "app.cpu 1.5 1546420308"),
        ("A", 2, "TOKEN", "app.gpu 4 1546420311"),
    ]
