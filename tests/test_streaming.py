"""Streaming ingestion end-to-end: file source -> parser -> sinks.

Follows the guide pattern: a batch of files drives a streaming query
to completion synchronously via processAllAvailable(); the HTTP test
runs a real local server in place of Warp 10.
"""

from __future__ import annotations

import time

import pytest

from catalyst_spark.streaming import ingest_stream, start_store_writer, stream_lines
from catalyst_spark.streaming.ingest import start_warp_forwarder
from catalyst_spark.sinks import WarpHTTPSink


@pytest.fixture
def graphite_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "req1.txt").write_text(
        "servers.db01.cpu;dc=gra 42 1546420308\n"
        "https_metric 14.2 1546420308000\n"
        "badline\n"
    )
    return str(d)


def test_stream_to_store(spark, graphite_dir, tmp_path):
    gts = ingest_stream(stream_lines(spark, graphite_dir), "graphite")
    q = start_store_writer(gts, str(tmp_path / "store"), str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    stored = spark.read.parquet(str(tmp_path / "store"))
    rows = {r["name"]: r for r in stored.collect()}
    assert set(rows) == {"servers.db01.cpu", "https_metric"}  # bad line dropped
    assert rows["servers.db01.cpu"]["value_l"] == 42
    assert rows["servers.db01.cpu"]["dt"].isoformat() == "2019-01-02"
    # date-partitioned layout on disk (partition pruning at scale)
    assert any(p.name.startswith("dt=") for p in (tmp_path / "store").iterdir())


class CollectTransport:
    def __init__(self):
        self.payloads = []

    def __call__(self, url, headers, body):
        self.payloads.append(bytes(body))
        return 200, ""


def test_stream_to_warp_forwarder(spark, graphite_dir, tmp_path):
    transport = CollectTransport()
    sink = WarpHTTPSink("http://w10", "TOK", transport=transport)
    gts = ingest_stream(stream_lines(spark, graphite_dir), "graphite")
    q = start_warp_forwarder(gts, sink, str(tmp_path / "ckpt2"))
    q.processAllAvailable()
    q.stop()
    sent = b"".join(transport.payloads).decode()
    assert "servers.db01.cpu{0=servers,1=db01,2=cpu,dc=gra} 42\r\n" in sent
    assert "14.200000\r\n" in sent
    assert "badline" not in sent


def test_dry_run_console(spark, graphite_dir, tmp_path, capsys):
    gts = ingest_stream(stream_lines(spark, graphite_dir), "graphite")
    q = start_warp_forwarder(gts, None, str(tmp_path / "ckpt3"))
    q.processAllAvailable()
    q.stop()
    out = capsys.readouterr().out
    assert "https_metric" in out


def test_dry_run_ends_each_passthrough_line_with_crlf(spark, tmp_path, capsys):
    """The dry run prints the bytes a POST body would carry: Warp
    passthrough lines, which have no terminator of their own, each end
    with one CRLF instead of running together."""
    src = tmp_path / "in_dry_warp"; src.mkdir()
    (src / "req1.txt").write_text("1// a{} 1\n2// b{} 2\n")
    gts = ingest_stream(stream_lines(spark, str(src)), "warp")
    q = start_warp_forwarder(gts, None, str(tmp_path / "ckpt_dry_warp"))
    q.processAllAvailable()
    q.stop()
    assert "1// a{} 1\r\n2// b{} 2\r\n" in capsys.readouterr().out


def test_unknown_protocol(spark, graphite_dir):
    with pytest.raises(ValueError):
        ingest_stream(stream_lines(spark, graphite_dir), "nope")


# ---------------------------------------------------------------------------
# C7: access log — one audit row per streamed batch
# ---------------------------------------------------------------------------

def test_access_log_audit_rows(spark, graphite_dir, tmp_path):
    from catalyst_spark.control import AccessLog, AccessLogListener

    listener = AccessLogListener()
    spark.streams.addListener(listener.as_listener())
    log = AccessLog(spark, str(tmp_path / "audit"), source_id="10.0.0.1")
    gts = ingest_stream(stream_lines(spark, graphite_dir), "graphite")
    q = start_warp_forwarder(
        gts, None, str(tmp_path / "ckpt_audit"),
        access_log=log, protocol="graphite",
    )
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener._listener)

    rows = log.read().collect()
    assert len(rows) >= 1
    [r] = [r for r in rows if r["datapoints"] > 0]
    # graphite_dir fixture: 3 lines, 1 bad -> 3 parsed rows, 1 error
    assert r["protocol"] == "graphite"
    assert r["datapoints"] == 3
    assert r["parse_errors"] == 1
    assert r["status"] == 200
    assert r["latency_ms"] > 0
    assert len(r["txn"]) == 64  # sha256 hex, ref logger.go:56-62
    assert r["logged_at"] is not None
    # engine-side listener recorded progress for the same query
    # (events are delivered asynchronously — poll briefly)
    deadline = time.time() + 10
    while time.time() < deadline and not any(
        p["input_rows"] > 0 for p in listener.rows
    ):
        time.sleep(0.2)
    assert any(p["input_rows"] > 0 for p in listener.rows)


# ---------------------------------------------------------------------------
# checkpoint recovery: the store writer resumes without re-ingesting
# ---------------------------------------------------------------------------

def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill the store-writer stream and restart from its checkpoint:
    batch 1 must not be re-ingested (exactly-once into the store), and
    batch 2 must be picked up — the engine-level replacement for the
    reference's replay buffer (core/warp.go retry-once semantics)."""
    from catalyst_spark.streaming.ingest import start_store_writer

    src = tmp_path / "in_ckpt"; src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    (src / "b1.txt").write_text("m.one 1.0 1546420308\nm.two 2.0 1546420308\n")
    gts = ingest_stream(stream_lines(spark, str(src)), "graphite",
                        parse_hierarchy=False)
    q = start_store_writer(gts, store, ckpt)
    q.processAllAvailable(); q.stop()
    assert spark.read.parquet(store).count() == 2

    # new data arrives while the stream is down; restart from checkpoint
    (src / "b2.txt").write_text("m.three 3.0 1546420309\n")
    gts2 = ingest_stream(stream_lines(spark, str(src)), "graphite",
                         parse_hierarchy=False)
    q2 = start_store_writer(gts2, store, ckpt)
    q2.processAllAvailable(); q2.stop()
    rows = spark.read.parquet(store).select("name", "value_d").collect()
    assert sorted((r["name"], r["value_d"]) for r in rows) == [
        ("m.one", 1.0), ("m.three", 3.0), ("m.two", 2.0)]


# ---------------------------------------------------------------------------
# the ingest clock: "now" is the request's receive time, its file's mtime
# ---------------------------------------------------------------------------

def test_now_moves_between_micro_batches(spark, tmp_path):
    """Lines without a timestamp take their request's receive time, not
    the time the stream was built: two files written at least 100 ms
    apart and processed as two micro-batches get two different ts
    values, each inside the test's wall-clock window."""
    src = tmp_path / "in_now"; src.mkdir()
    store = str(tmp_path / "store_now")
    t0_us = int(time.time() * 1000) * 1000  # file times are ms
    gts = ingest_stream(stream_lines(spark, str(src)), "graphite",
                        parse_hierarchy=False)
    q = start_store_writer(gts, store, str(tmp_path / "ckpt_now"))
    try:
        (src / "b1.txt").write_text("now.first 1\n")
        q.processAllAvailable()
        time.sleep(0.1)
        (src / "b2.txt").write_text("now.second 2\n")
        q.processAllAvailable()
    finally:
        q.stop()
    t1_us = int(time.time() * 1_000_000)
    ts = {r["name"]: r["ts"] for r in spark.read.parquet(store).collect()}
    assert set(ts) == {"now.first", "now.second"}
    assert ts["now.second"] - ts["now.first"] >= 50_000
    assert all(t0_us <= t <= t1_us for t in ts.values()), (t0_us, ts, t1_us)


def test_replayed_epoch_sends_identical_body(spark, tmp_path):
    """A failed epoch is replayed whole from the checkpoint, and the
    replay keeps each request's "now", its file's modification time: the
    timestamp-less lines POST the same bytes again. The stream is
    rebuilt for the restart, as a new process would."""
    import os

    from pyspark.errors import StreamingQueryException

    class FailFirstTransport:
        """File-backed Warp 10 stand-in: records every POST
        body (one numbered file each) and answers the first POST with a
        500 and a Warp 10 error body, every later one with 200."""

        def __init__(self, path):
            self.path = str(path)

        def __call__(self, url, headers, body):
            n = len(os.listdir(self.path))
            with open(os.path.join(self.path, f"{n:04d}.body"), "xb") as f:
                f.write(body)
            if n == 0:
                return 500, ("<html><body><h2>HTTP ERROR 500</h2><pre>"
                             "io.warp10.continuum.store.StoreException"
                             "</pre></body></html>")
            return 200, ""

    src = tmp_path / "in_replay"; src.mkdir()
    (src / "b1.txt").write_text("replay.a 1\nreplay.b 2.5\n")
    posts = tmp_path / "posts"; posts.mkdir()
    transport = FailFirstTransport(posts)
    ckpt = str(tmp_path / "ckpt_replay")

    def start():
        gts = ingest_stream(stream_lines(spark, str(src)), "graphite")
        sink = WarpHTTPSink("http://w10", "TOK", transport=transport)
        return start_warp_forwarder(gts, sink, ckpt)

    q = start()
    with pytest.raises(StreamingQueryException, match="StoreException"):
        q.processAllAvailable()
    q.stop()
    time.sleep(0.1)  # a rebuilt stream would read a later wall clock
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    first, replay = [p.read_bytes() for p in sorted(posts.iterdir())]
    assert b"replay.a{0=replay,1=a} 1\r\n" in first
    assert replay == first


class ListTransport:
    """In-memory Warp 10 stand-in: keeps every POST body, answers 200."""

    def __init__(self):
        self.bodies = []

    def __call__(self, url, headers, body):
        self.bodies.append(body)
        return 200, ""


def test_warm_micro_batch_compiles_nothing(spark, tmp_path):
    """Four one-file micro-batches of timestamp-less Influx lines: after
    the first, a micro-batch generates the same code as the one before
    it, so Spark's codegen cache hits and nothing is compiled again."""
    src = tmp_path / "in_codegen"; src.mkdir()
    transport = ListTransport()
    sink = WarpHTTPSink("http://w10", "TOK", transport=transport)
    gts = ingest_stream(stream_lines(spark, str(src)), "influxdb")
    q = start_warp_forwarder(gts, sink, str(tmp_path / "ckpt_codegen"))
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    counts = []
    try:
        for i in range(4):
            (src / f"b{i}.txt").write_text(f"codegen.m{i} f={i}i\n")
            q.processAllAvailable()
            counts.append(compiles.getCount())
    finally:
        q.stop()
    assert len(transport.bodies) == 4
    assert counts[1:] == [counts[0]] * 3, counts


def test_requests_in_one_micro_batch_keep_their_own_now(spark, tmp_path):
    """Two timestamp-less requests taken by one micro-batch are each
    stamped with their own file's modification time (the reference's
    per-request "now"), on the Influx and the Graphite parser."""
    import os

    t = int(time.time()) - 100
    for protocol, line, field in (("influxdb", "{} v=1", ".v"), ("graphite", "{} 1", "")):
        src = tmp_path / f"in_two_{protocol}"; src.mkdir()
        for name, mtime in (("req.a", t), ("req.b", t + 7)):
            path = src / f"{name}.txt"
            path.write_text(line.format(name) + "\n")
            os.utime(path, (mtime, mtime))
        epochs, rows = [], []

        def collect(df, epoch):
            epochs.append(epoch)
            rows.extend(df.collect())

        gts = ingest_stream(stream_lines(spark, str(src)), protocol)
        q = (gts.writeStream.foreachBatch(collect)
             .option("checkpointLocation", str(tmp_path / f"ckpt_two_{protocol}"))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(epochs) == 1, protocol
        assert {r["name"]: r["ts"] for r in rows} == {
            f"req.a{field}": t * 1_000_000, f"req.b{field}": (t + 7) * 1_000_000}, protocol


@pytest.mark.parametrize("protocol", [
    "graphite", "influxdb", "opentsdb", "prometheus", "remote_write", "warp"])
def test_stream_lines_column_does_not_leak(spark, tmp_path, protocol):
    """A parser over stream_lines has the columns it has over a plain
    frame: the receive-time column never reaches the output (the
    forwarder hands warp's lone `sensision` column to the sink as is)."""
    from catalyst_spark.schema import RECEIVED_COL

    kwargs = {"body_col": "line"} if protocol in ("opentsdb", "remote_write") else {}
    plain = spark.createDataFrame([("x",)], "line string")
    lines = stream_lines(spark, str(tmp_path))
    assert lines.columns == ["line", RECEIVED_COL]
    streamed = ingest_stream(lines, protocol, **kwargs)
    assert streamed.columns == ingest_stream(plain, protocol, **kwargs).columns


# ---------------------------------------------------------------------------
# file listing: a micro-batch of many files is listed on the driver
# ---------------------------------------------------------------------------

def test_many_file_batch_starts_no_listing_job(spark, tmp_path):
    """A micro-batch of 40 files (above Spark's default threshold of 32
    paths) delivers every row without a listing stage of one task per
    file: the engine's session lists a batch's files on the driver."""
    src = tmp_path / "in_many"; src.mkdir()
    for i in range(40):
        (src / f"req-{i:02d}.txt").write_text(f"many.m{i} {i} 1546420308\n")
    counted = []
    q = (stream_lines(spark, str(src)).writeStream
         .foreachBatch(lambda df, _epoch: counted.append(df.count()))
         .option("checkpointLocation", str(tmp_path / "ckpt_many"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(counted) == 40
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(str(q.runId))
    assert job_ids  # the batch's own count ran in the query's job group
    stage_tasks = {}
    for job_id in job_ids:
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                stage_tasks[stage_id] = stage.numTasks
    assert stage_tasks and max(stage_tasks.values()) < 40, stage_tasks


def test_out_of_range_influx_numbers_keep_the_query_running(spark, tmp_path):
    """An Influx integer outside int64, a float that overflows or a
    timestamp outside Go's time range, on either parser path, becomes
    one error row: the micro-batch that holds it commits and delivers
    every other line."""
    src = tmp_path / "in_range"; src.mkdir()
    (src / "b1.txt").write_text(
        "ok.fast v=1i 1000\n"
        "bad.fast f=9223372036854775808i 1000\n"
        'bad.slow s="x",f=99999999999999999999i 1000\n'
        "bad.float f=1e500 1000\n"
        "bad.ts.fast f=1 99999999999999999999\n"
        'bad.ts.slow s="x" 9223372036854775807\n'
        'ok.slow s="y",f=9223372036854775807i 1000\n'
    )
    rows = []
    gts = ingest_stream(stream_lines(spark, str(src)), "influxdb")
    q = (gts.writeStream
         .foreachBatch(lambda df, _epoch: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_range"))
         .start())
    try:
        q.processAllAvailable()
        assert q.isActive and q.exception() is None
    finally:
        q.stop()
    good = {r["name"]: r for r in rows if r["parse_error"] is None}
    assert set(good) == {"ok.fast.v", "ok.slow.s", "ok.slow.f"}
    assert good["ok.fast.v"]["value_l"] == 1
    assert good["ok.slow.f"]["value_l"] == 2**63 - 1
    assert [r["parse_error"] for r in rows if r["parse_error"]] == [
        "Failed to parse datapoint"] * 5


def test_http_ingest_end_to_end(spark):
    """K1 driven over REAL HTTP: a live localhost http.server plays
    the Warp 10 backend; an InfluxDB write goes parse_influx ->
    encode_sensision -> WarpHTTPSink's driver-side POSTs (default urllib
    transport, one CRLF-ended body per Arrow record batch), and the
    backend must receive every line with the write token in
    X-Warp10-Token."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from catalyst_spark.encode import encode_sensision
    from catalyst_spark.parsers.influxdb import parse_influx
    from catalyst_spark.sinks.warp_sink import WarpHTTPSink

    store: list[str] = []
    tokens_seen: list[str] = []

    class _Warp(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode()
            if self.path == "/api/v0/update":
                tokens_seen.append(self.headers.get("X-Warp10-Token", ""))
                store.extend(
                    ln for ln in body.replace("\r\n", "\n").split("\n") if ln)
                self.send_response(200)
                self.send_header("X-Warp10-Elapsed", "1")
                self.end_headers()
            else:
                self.send_response(404)
                self.end_headers()

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Warp)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        body_lines = [
            "cpu,host=a usage=0.5 1700000000000000000",
            "cpu,host=b usage=1.5 1700000001000000000",
            "mem,host=a free=12i 1700000002000000000",
        ]
        lines = spark.createDataFrame([(l,) for l in body_lines], "line string")
        parsed = parse_influx(lines)
        assert parsed.where("parse_error is not null").count() == 0
        encoded = encode_sensision(parsed.drop("parse_error"))
        # T11 lines carry their CRLF terminator; the backend stores them
        # newline-split, so compare on the stripped payload
        want = sorted(r["sensision"].rstrip("\r\n")
                      for r in encoded.collect())
        assert len(want) == len(body_lines)

        # --- real POST through the sink's driver-side path ---
        sink = WarpHTTPSink(f"http://127.0.0.1:{port}", "tok-e2e")
        sink.foreach_batch(encoded, 0)
        assert sorted(store) == want          # backend got every line
        assert set(tokens_seen) == {"tok-e2e"}
    finally:
        srv.shutdown()
        srv.server_close()
