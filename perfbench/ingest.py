"""ingest_bulk and ingest_live: the write proxy end to end.

ingest_bulk (closed loop): a seeded mixed-protocol backlog, replayed
pass after pass through read -> parse_* -> permissive -> encode_sensision
-> WarpHTTPSink.foreach_batch -> stub Warp 10, then write_store into a
fresh store. One operation = one datapoint; its latency runs from the
start of its pass to the stub's receipt of its line.

ingest_live (open loop): one generator thread drops Telegraf-sized
Influx bodies into the file source on a fixed schedule; stream_lines ->
ingest_stream(influxdb, precision=u) -> start_warp_forwarder -> stub.
One operation = one request, timed from its scheduled send to the
stub's receipt of its last line. After the window, scheduled traffic
goes on for LIVE_BURSTS short segments, and at the end of each a burst of
requests lands at once; the median of Spark's processedRowsPerSecond over
the micro-batches that take the bursts is the capacity.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from collections import Counter
from functools import reduce
from pathlib import Path

from perfbench.harness import SETUP_REPEATS, JobCounter, Outcome, median, noop, percentile
from perfbench.stub import (
    StubWarp, TimedTransport, clear_transport_logs, read_transport_logs, split_lines,
)
from perfbench.traffic import LiveTraffic, write_backlog

BULK_DATAPOINTS = 40_000
MIN_PASSES = 3
# the warm-up pass replays a small backlog of the same mix: the first pass
# pays worker start-up and code generation whatever its size
WARMUP_DATAPOINTS = 4_000
GTS_PROTOCOLS = ("influxdb", "remote_write", "graphite", "prometheus", "opentsdb")
LIVE_RATE = 20          # requests/s
LIVE_LINES = 250        # lines (= datapoints) per request
LIVE_WARMUP_S = 6.0
LIVE_TAIL_S = 3.5       # scheduled traffic before each burst, busy while it lands
LIVE_BURST = 120        # requests landed at once at the end of a tail
LIVE_BURSTS = 5
LIVE_DRAIN_S = 20.0


def _sink(stub: StubWarp):
    """A WarpHTTPSink posting to the stub through a TimedTransport around
    the sink's own default transport (logging off until traced)."""
    from catalyst_spark.sinks import WarpHTTPSink

    default = WarpHTTPSink(stub.endpoint, "perfbench").transport
    transport = TimedTransport(default)
    return WarpHTTPSink(stub.endpoint, "perfbench", transport=transport), transport


def _read_inputs(spark, backlog) -> dict:
    from pyspark.sql import functions as F

    def lines(p):
        return spark.read.text(backlog.dir(p)).withColumnRenamed("value", "line")

    return {
        "influxdb": lines("influxdb"),
        "graphite": lines("graphite"),
        "prometheus": lines("prometheus"),
        "warp": lines("warp"),
        "opentsdb": spark.read.text(backlog.dir("opentsdb")).withColumnRenamed("value", "body"),
        "remote_write": spark.read.format("binaryFile").load(backlog.dir("remote_write"))
        .select(F.col("content").alias("body")),
    }


class BulkPipeline:
    """The pass, built from the engine's public functions, with a span
    around each call into a layer."""

    def __init__(self, run, backlog, sink, transport) -> None:
        self.run, self.backlog, self.sink, self.transport = run, backlog, sink, transport

    def parsed(self, inputs) -> dict:
        from catalyst_spark.schema import permissive
        from catalyst_spark.streaming import PARSERS

        out = {}
        for p in GTS_PROTOCOLS:
            with self.run.tracer.span(f"parsers.{p}"):
                out[p] = permissive(PARSERS[p](inputs[p]))
        with self.run.tracer.span("parsers.warp"):
            out["warp"] = PARSERS["warp"](inputs["warp"])
        return out

    def encoded(self, parsed):
        from catalyst_spark.encode import encode_sensision

        gts = reduce(lambda a, b: a.unionByName(b), (parsed[p] for p in GTS_PROTOCOLS))
        with self.run.tracer.span("encode.encode_sensision"):
            enc = encode_sensision(gts)
        return gts, enc.unionByName(parsed["warp"])

    def post(self, enc, epoch: int) -> None:
        with self.run.tracer.span("sinks.foreach_batch") as sid:
            self.transport.parent, self.transport.op = sid, f"pass-{epoch}"
            self.sink.foreach_batch(enc, epoch)

    def store(self, gts, path: Path) -> None:
        from catalyst_spark.store import write_store

        with self.run.tracer.span("store.write_store"):
            write_store(gts, str(path))

    def full_pass(self, epoch: int, store_path: Path) -> None:
        with self.run.tracer.span("pass", op=f"pass-{epoch}"):
            inputs = _read_inputs(self.run.spark, self.backlog)
            gts, enc = self.encoded(self.parsed(inputs))
            self.post(enc, epoch)
            self.store(gts, store_path)

    def staged(self, epoch: int, store_path: Path) -> dict:
        """Time each pipeline prefix on its own: read, +parse (per protocol
        and all together), +encode, +sink; the store write recomputes
        read+parse like the full pass."""
        t = {}
        spark = self.run.spark
        inputs = _read_inputs(spark, self.backlog)
        for p, df in inputs.items():
            t0 = time.perf_counter()
            noop(df)
            t[f"read.{p}"] = time.perf_counter() - t0
        parsed = self.parsed(inputs)
        for p, df in parsed.items():
            t0 = time.perf_counter()
            noop(df)
            t[f"parse.{p}"] = time.perf_counter() - t0
        gts, enc = self.encoded(parsed)
        t0 = time.perf_counter()
        noop(gts)
        t["parse"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        noop(enc)
        t["encode"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.post(enc, epoch)
        t["sink"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.store(gts, store_path)
        t["store"] = time.perf_counter() - t0
        return t


def _check_pass(out: Outcome, backlog, stub: StubWarp, first_post: int, store_path: Path,
                start: float) -> tuple[int, float]:
    """Oracle (a): the lines the stub got for this pass must equal the
    generator's expected multiset; the store must hold every GTS row.
    -> (lines acked, median seconds from `start` to a line's receipt)."""
    import pyarrow.dataset as ds

    got = Counter()
    received = []
    for t, body in stub.posts[first_post:]:
        lines = split_lines(body)
        got.update(lines)
        received.append((t - start, len(lines)))
    lost = backlog.expected - got
    extra = got - backlog.expected
    bad = max(sum(lost.values()), sum(extra.values()))
    if bad:
        out.fail(bad, f"stub lines differ: {sum(lost.values())} missing,"
                      f" {sum(extra.values())} unexpected, e.g. {list(extra)[:2]}")
    rows = ds.dataset(str(store_path), format="parquet", partitioning="hive").count_rows()
    if rows != backlog.store_rows:
        out.fail(abs(rows - backlog.store_rows),
                 f"store holds {rows} rows, expected {backlog.store_rows}")
    return sum(got.values()) - sum(extra.values()), _weighted_median(received)


def _weighted_median(pairs) -> float:
    """Median of values given as (value, count) pairs."""
    pairs = sorted(pairs)
    half, seen = sum(n for _, n in pairs) / 2, 0
    for value, n in pairs:
        seen += n
        if seen >= half:
            return value
    return 0.0


def ingest_bulk(run) -> Outcome:
    out = Outcome()
    tr = run.tracer
    # set-up: the backlog files, written SETUP_REPEATS times (median kept)
    gen_s = []
    for r in range(SETUP_REPEATS):
        root = run.work / f"backlog-{r}"
        t0 = time.perf_counter()
        backlog = write_backlog(root, run.seed, BULK_DATAPOINTS)
        gen_s.append(time.perf_counter() - t0)
        if r < SETUP_REPEATS - 1:
            shutil.rmtree(root)
    stub = StubWarp(max_conns=run.cpus)
    log_dir = run.path("transport")
    log_dir.mkdir(exist_ok=True)
    sink, transport = _sink(stub)
    pipe = BulkPipeline(run, backlog, sink, transport)
    try:
        t0 = time.perf_counter()
        warm = write_backlog(run.work / "backlog-warm", run.seed, WARMUP_DATAPOINTS)
        warm_pipe = BulkPipeline(run, warm, sink, transport)
        _measure_passes(run, warm_pipe, warm, stub, out, 0, -1, 1)
        out.e2e["setup_s"] = run.engine.start_s + median(gen_s) + time.perf_counter() - t0

        tr.on = False  # end-to-end figures are measured untraced
        walls, dps, acks, cpu = _measure_passes(run, pipe, backlog, stub, out, run.seconds, 1)
        out.e2e["work_rate"] = median(dps)
        out.e2e["cpu_us_per_dp"] = median(cpu)
        out.named["ingest_dps"] = (median(dps), "datapoints/s")
        out.named["ack_lat_p50_ms"] = (median(acks) * 1000, "ms")
        out.named["passes"] = (len(walls), "count")
        if run.trace:
            tr.on = True
            _bulk_layers(run, pipe, backlog, stub, out, log_dir, median(walls), median(dps))
    finally:
        stub.close()
    return out


def _measure_passes(run, pipe, backlog, stub, out, seconds, epoch0,
                    min_passes=MIN_PASSES, jobs=None):
    """Closed loop of checked passes for `seconds` (at least `min_passes`)
    -> (wall seconds, datapoints acked per second, median seconds from the
    pass's start to a datapoint's ack, program CPU µs per datapoint) of
    each clean pass."""
    walls, dps, acks, cpu = [], [], [], []
    t_end = time.perf_counter() + seconds
    epoch = epoch0
    while time.perf_counter() < t_end or epoch - epoch0 < min_passes:
        store_path = run.work / f"store-{epoch}"
        first = len(stub.posts)
        out.attempted += backlog.datapoints
        start = time.time()  # the stub's clock
        c0 = run.engine.cpu_s()
        t0 = time.perf_counter()
        try:
            if jobs is None:
                pipe.full_pass(epoch, store_path)
            else:
                with jobs.op(f"pass-{epoch}"):
                    pipe.full_pass(epoch, store_path)
        except Exception as exc:  # a failed pass loses every datapoint
            out.fail(backlog.datapoints, f"pass {epoch} raised {exc!r}")
            epoch += 1
            continue
        wall = time.perf_counter() - t0
        cpu_s = run.engine.cpu_s() - c0
        acked, ack_s = _check_pass(out, backlog, stub, first, store_path, start)
        shutil.rmtree(store_path)
        walls.append(wall)
        dps.append(acked / wall)
        acks.append(ack_s)
        cpu.append(cpu_s / max(acked, 1) * 1e6)
        epoch += 1
    return walls, dps, acks, cpu


def _bulk_layers(run, pipe, backlog, stub, out, log_dir, untraced_wall, untraced_dps) -> None:
    """Traced passes: one staged pass for self times, then full passes for
    job counts and sink and store counters, then the local[1] baseline."""
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    from catalyst_spark.parsers.influxdb import SIMPLE_LINE_RE
    from catalyst_spark.schema import PARSE_ERROR_COL
    from catalyst_spark.streaming import PARSERS

    spark = run.spark
    L = out.layers
    pipe.transport.log_dir = str(log_dir)
    epoch = 100
    stage = pipe.staged(epoch, run.work / f"store-{epoch}")
    shutil.rmtree(run.work / f"store-{epoch}")
    epoch += 1
    jobs = JobCounter(run.engine.sc)
    clear_transport_logs(log_dir)
    first = len(stub.posts)
    walls, _, _, _ = _measure_passes(run, pipe, backlog, stub, out, 0, epoch, 2, jobs)
    L.update(jobs.metrics())

    read = {p: stage[f"read.{p}"] for p in (*GTS_PROTOCOLS, "warp")}
    L["source.read_s"] = sum(read.values())
    for p in read:
        L[f"parsers.{p}.exec_s"] = stage[f"parse.{p}"] - read[p]
    L["parsers.exec_s"] = stage["parse"] - sum(read.values())
    L["encode.exec_s"] = stage["encode"] - stage["parse"]
    L["sinks.exec_s"] = stage["sink"] - stage["encode"]
    L["store.write_s"] = stage["store"] - stage["parse"]

    # exact counts from the inputs and outputs (untimed actions)
    inputs = _read_inputs(spark, backlog)
    counts = reduce(lambda a, b: a.unionByName(b),
                    (PARSERS[p](inputs[p]) for p in GTS_PROTOCOLS)).agg(
        F.count(F.lit(1)).alias("n"), F.count(PARSE_ERROR_COL).alias("err")).collect()[0]
    L["parsers.error_rows"] = counts["err"]
    if counts["err"] != backlog.malformed:
        out.fail(abs(counts["err"] - backlog.malformed),
                 f"{counts['err']} error rows for {backlog.malformed} planted malformed inputs")
    L["parsers.datapoints"] = counts["n"] - counts["err"] + backlog.lines["warp"]
    simple = F.coalesce(F.col("line").rlike(SIMPLE_LINE_RE), F.lit(False))
    slow = inputs["influxdb"].where(~simple).count()
    units = sum(backlog.lines.values())
    L["parsers.offpath_frac"] = (slow + backlog.lines["remote_write"]) / units
    L["parsers.input_units"] = units
    gts, enc = pipe.encoded(pipe.parsed(inputs))
    L["encode.bytes"] = enc.agg(F.sum(F.length("sensision"))).collect()[0][0]

    posts = stub.posts[first:]
    L["sinks.posts"] = len(posts) / len(walls)
    L["sinks.lines_per_post"] = sum(len(split_lines(b)) for _, b in posts) / max(len(posts), 1)
    L["sinks.bytes"] = sum(len(b) for _, b in posts) / len(walls)
    _transport_layers(run, out, log_dir)

    store_path = run.work / "store-files"
    pipe.store(gts, store_path)
    files = ds.dataset(str(store_path), format="parquet", partitioning="hive").files
    L["store.files_written"] = len(files)
    L["store.bytes_written"] = sum(os.path.getsize(f) for f in files)
    shutil.rmtree(store_path)

    L["trace.overhead_frac"] = median(walls) / untraced_wall - 1
    # single-threaded baseline of the same job (scaling context only); its
    # first pass warms the new context
    L["baseline.localn_ingest_dps"] = untraced_dps
    run.engine.restart(1)
    run.tracer.on = False
    try:
        _, dps1, _, _ = _measure_passes(run, pipe, backlog, stub, out, 0, 500, 2)
    finally:
        run.tracer.on = True
        run.engine.restart(run.cpus)
    L["baseline.local1_ingest_dps"] = dps1[-1] if dps1 else 0.0


def _transport_layers(run, out, log_dir) -> None:
    recs = read_transport_logs(log_dir)
    L = out.layers
    L["sinks.post_ms_p50"] = median([(e - s) * 1000 for s, e, *_ in recs]) if recs else 0.0
    L["sinks.retries"] = sum(r[4] for r in recs)
    L["sinks.errors"] = sum(1 for r in recs if r[3] >= 400)
    for s, e, n, status, raised, parent, op in recs:
        run.tracer.add("sinks.transport", s, e, parent, op)


# ---------------------------------------------------------------------------
# ingest_live
# ---------------------------------------------------------------------------

def ingest_live(run) -> Outcome:
    """Untraced: one measured window. Traced: an untraced window, then a
    traced one on the same stream; their p50 ratio is the overhead."""
    from catalyst_spark.streaming import ingest_stream, start_warp_forwarder, stream_lines

    out = Outcome()
    spark = run.spark
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        traffic = LiveTraffic(run.seed, LIVE_LINES)
        traffic.body(0, 0)
        gen_s.append(time.perf_counter() - t0)
    src, tmp = run.path("live", "src"), run.path("live", "tmp")
    src.mkdir(), tmp.mkdir()
    stub = StubWarp(max_conns=run.cpus)
    log_dir = run.path("transport")
    log_dir.mkdir(exist_ok=True)
    sink, transport = _sink(stub)
    n_warm = int(LIVE_WARMUP_S * LIVE_RATE)
    n_meas = int(run.seconds * LIVE_RATE)
    n_tail = int(LIVE_TAIL_S * LIVE_RATE)
    windows = 2 if run.trace else 1
    query = None
    try:
        t_setup = time.perf_counter()
        gts = ingest_stream(stream_lines(spark, str(src)), "influxdb", precision="u")
        query = start_warp_forwarder(gts, sink, str(run.path("live", "ckpt")))
        # warm-up: the first batches compile and start workers; wait until
        # that backlog is delivered so the measured window starts level
        warm = _Generator(traffic, src, tmp, time.time() + 0.2, 0, n_warm)
        warm.run()
        got = _Deliveries(stub)
        got.wait(warm.expected)
        setup_s = run.engine.start_s + median(gen_s) + (time.perf_counter() - t_setup)
        n_gen = windows * n_meas + LIVE_BURSTS * n_tail
        t0_us = int(time.time() * 1_000_000)  # before any scheduled request
        bursts = [_Burst(traffic, tmp, n_warm + n_gen + b * LIVE_BURST, LIVE_BURST,
                         t0_us + b * LIVE_BURST) for b in range(LIVE_BURSTS)]
        gen = _Generator(traffic, src, tmp, time.time() + 0.2, n_warm, n_gen)
        gen.start()
        job_marks = [_stream_job_ids(run.engine.sc, query)]
        # program CPU from the window's first scheduled request until every
        # request and burst is delivered
        time.sleep(max(0.0, gen.due[0] - time.time()))
        c0 = run.engine.cpu_s()
        if run.trace:
            time.sleep(max(0.0, gen.due[n_meas] - time.time()))
            transport.log_dir = str(log_dir)  # shipped with the next batch
            job_marks.append(_stream_job_ids(run.engine.sc, query))
        # each burst lands with the last request of its tail, while a batch
        # runs, so the next trigger takes all of it at once; it waits until
        # the batch that took the burst before is done, should that batch
        # outlast the tail
        landed = []
        for b, burst in enumerate(bursts):
            time.sleep(max(0.0, gen.due[windows * n_meas + (b + 1) * n_tail - 1] - time.time()))
            _burst_batches(query, landed)
            if b == 0:
                job_marks.append(_stream_job_ids(run.engine.sc, query))
                transport.log_dir = None  # the traced figures cover the window alone
            landed.append(burst.land(src))
        gen.join(timeout=windows * run.seconds + LIVE_BURSTS * LIVE_TAIL_S + 30)
        if gen.error is not None:
            raise gen.error
        expected = dict(gen.expected)
        for burst in bursts:
            expected.update(burst.expected)
        got.wait(expected)
        run_cpu_s = run.engine.cpu_s() - c0
        by_ts, last = got.by_ts, got.last
        big = _burst_batches(query, landed)
        progress = list(query.recentProgress)
    finally:
        if query is not None:
            query.stop()
        stub.close()

    results = []
    for w in range(windows):
        first = w * n_meas
        lat_ms = []
        for i in range(first, first + n_meas):
            ts = gen.ts(i)
            out.attempted += 1
            if sorted(by_ts.get(ts, ())) != sorted(gen.expected[ts]):
                out.fail(1, f"request {n_warm + i}: {len(by_ts.get(ts, ()))} lines delivered,"
                            f" {LIVE_LINES} expected, or their content differs")
                continue
            lat_ms.append((last[ts] - gen.due[i]) * 1000)
        if not lat_ms:
            raise RuntimeError("no ingest_live request was delivered")
        results.append(lat_ms)
    lat_ms = results[0]
    out.attempted += LIVE_BURSTS * LIVE_BURST
    for burst in bursts:
        for ts, lines in burst.expected.items():
            if sorted(by_ts.get(ts, ())) != sorted(lines):
                out.fail(1, f"burst request {ts!r}: {len(by_ts.get(ts, ()))} lines delivered,"
                            f" {LIVE_LINES} expected, or their content differs")
    capacity = median([p["processedRowsPerSecond"] for p in big])
    out.e2e["setup_s"] = setup_s
    out.e2e["work_rate"] = capacity
    out.e2e["cpu_us_per_dp"] = run_cpu_s / ((n_gen + LIVE_BURSTS * LIVE_BURST) * LIVE_LINES) * 1e6
    out.named["burst_rows_per_s"] = (capacity, "rows/s")
    out.named["burst_batch_ms"] = (median([p["durationMs"]["triggerExecution"] for p in big]), "ms")
    out.named["write_lat_p50_ms"] = (median(lat_ms), "ms")
    out.named["write_lat_p90_ms"] = (percentile(lat_ms, 90), "ms")
    out.named["requests"] = (len(lat_ms), "count")
    late = [(gen.sent[i] - gen.due[i]) * 1000 for i in range(n_meas)]
    out.named["generator.late_ms_p90"] = (percentile(late, 90), "ms")
    if run.trace:
        out.layers["trace.overhead_frac"] = median(results[1]) / median(lat_ms) - 1
        _live_layers(run, out, gen, (n_meas, 2 * n_meas), last, progress,
                     job_marks[2] - job_marks[1], stub.posts, log_dir)
        # no gated workload runs queries.pipeline: one traced cold curation
        # run on the same session measures that layer
        from perfbench.curate import Curation, trace_queries

        trace_queries(run, out, Curation(run, out), 0, 1)
    return out


def _burst_batches(query, landed: list[float]) -> list[dict]:
    """Progress of the micro-batch that took each burst: the first batch
    started after its landing with at least the burst's rows. Polled,
    because a batch's progress is recorded after its POSTs are acked."""
    deadline = time.time() + LIVE_DRAIN_S
    while True:
        found = []
        for t in landed:
            found.append(next((p for p in query.recentProgress
                               if _progress_time(p) >= t
                               and p.get("numInputRows", 0) >= LIVE_BURST * LIVE_LINES), None))
        if all(found):
            if len({p["batchId"] for p in found}) < len(found):
                raise RuntimeError("one micro-batch took two ingest_live bursts")
            return found
        if time.time() > deadline:
            raise RuntimeError("no micro-batch took an ingest_live burst whole")
        time.sleep(0.1)


class _Burst:
    """n request bodies written ahead into `tmp`, landed together later;
    request i carries the timestamp t0_us + i."""

    def __init__(self, traffic, tmp: Path, first: int, n: int, t0_us: int) -> None:
        self.tmp, self.names = tmp, []
        self.expected: dict[bytes, list[bytes]] = {}
        for i in range(n):
            text, lines = traffic.body(first + i, t0_us + i)  # distinct µs timestamps
            self.expected[str(t0_us + i).encode()] = lines
            name = f"req-{first + i:06d}.txt"
            (tmp / name).write_text(text)
            self.names.append(name)

    def land(self, src: Path) -> float:
        """Rename every body into the source -> the landing time."""
        landed = time.time()
        for name in self.names:
            os.replace(self.tmp / name, src / name)
        return landed


class _Generator(threading.Thread):
    """Open-loop load: request i is due at t0 + i / rate, whatever the
    system is doing; each body lands atomically (write, then rename)."""

    def __init__(self, traffic, src: Path, tmp: Path, t0: float, first: int, n: int) -> None:
        super().__init__(name="generator", daemon=True)
        self.traffic, self.src, self.tmp, self.first = traffic, src, tmp, first
        self.due = [t0 + i / LIVE_RATE for i in range(n)]
        self.sent = [0.0] * n
        self.expected: dict[bytes, list[bytes]] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, due in enumerate(self.due):
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                k = self.first + i
                text, expected = self.traffic.body(k, int(due * 1_000_000))
                self.expected[self.ts(i)] = expected
                tmp = self.tmp / f"req-{k:06d}.txt"
                tmp.write_text(text)
                os.replace(tmp, self.src / f"req-{k:06d}.txt")
                self.sent[i] = time.time()
        except BaseException as exc:  # re-raised by the workload thread
            self.error = exc

    def ts(self, i: int) -> bytes:
        """Request i's Sensision timestamp: its due time in µs."""
        return str(int(self.due[i] * 1_000_000)).encode()


class _Deliveries:
    """Delivered lines grouped by request (their ts prefix) and the
    receive time of each request's last line, folded in incrementally."""

    def __init__(self, stub: StubWarp) -> None:
        self.stub, self.seen = stub, 0
        self.by_ts: dict[bytes, list[bytes]] = {}
        self.last: dict[bytes, float] = {}

    def update(self) -> None:
        posts = self.stub.posts
        end = len(posts)
        for t, body in posts[self.seen:end]:
            for ln in split_lines(body):
                ts = ln[:ln.index(b"//")]
                self.by_ts.setdefault(ts, []).append(ln)
                self.last[ts] = t
        self.seen = end

    def wait(self, expected: dict, timeout_s: float = LIVE_DRAIN_S) -> None:
        """Poll until every line of `expected` arrived, or time out."""
        deadline = time.time() + timeout_s
        while True:
            self.update()
            if time.time() > deadline or all(
                    len(self.by_ts.get(ts, ())) >= len(lines) for ts, lines in expected.items()):
                return
            time.sleep(0.1)


def _stream_job_ids(sc, query) -> set:
    """Jobs of the stream: its own group (the run id) and the ungrouped
    jobs the foreachBatch sink launches."""
    st = sc.statusTracker()
    return set(st.getJobIdsForGroup(str(query.runId))) | set(st.getJobIdsForGroup(None))


def _progress_time(p) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _live_layers(run, out, gen, window, last, progress, job_ids, stub_posts, log_dir) -> None:
    """Traced figures of the second window; posts count up to the ack of
    its last request."""
    L = out.layers
    lo, hi = window
    n = hi - lo
    jobs = JobCounter(run.engine.sc)
    jobs.add(job_ids)
    jobs.ops = n
    L.update(jobs.metrics())
    L["generator.late_ms_p90"] = percentile(
        [(gen.sent[i] - gen.due[i]) * 1000 for i in range(lo, hi)], 90)
    t_lo, t_hi = gen.due[lo], gen.due[hi - 1]
    busy = [p for p in progress
            if t_lo <= _progress_time(p) <= t_hi and p.get("numInputRows", 0) > 0]
    L["streaming.batches"] = len(busy)

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in busy]) if busy else 0.0

    L["streaming.rows_per_batch_p50"] = median([p["numInputRows"] for p in busy]) if busy else 0.0
    L["streaming.trigger_ms_p50"] = dur("triggerExecution")
    L["streaming.add_batch_ms_p50"] = dur("addBatch")
    L["streaming.query_planning_ms_p50"] = dur("queryPlanning")
    L["streaming.get_batch_ms_p50"] = dur("getBatch")
    L["streaming.latest_offset_ms_p50"] = dur("latestOffset")
    L["streaming.wal_commit_ms_p50"] = dur("walCommit")
    # backlog: requests sent but not fully acked, at each send instant of
    # the window
    done = sorted(last[gen.ts(i)] for i in range(len(gen.due)) if gen.ts(i) in last)
    depth_max, k = 0, 0
    for i in range(hi):
        while k < len(done) and done[k] <= gen.sent[i]:
            k += 1
        depth_max = max(depth_max, i + 1 - k)
    L["streaming.backlog_max"] = depth_max
    t_end = max(last.get(gen.ts(i), t_lo) for i in range(lo, hi))
    posts = [b for t, b in stub_posts if t_lo <= t <= t_end]
    L["sinks.posts"] = len(posts) / n
    L["sinks.lines_per_post"] = sum(len(split_lines(b)) for b in posts) / max(len(posts), 1)
    L["sinks.bytes"] = sum(len(b) for b in posts) / n
    _transport_layers(run, out, log_dir)
    for i in range(lo, hi):
        if gen.ts(i) in last:
            run.tracer.add("request", gen.due[i], last[gen.ts(i)], None, f"req-{gen.first + i}")
