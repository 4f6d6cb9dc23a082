"""Seeded ingest traffic and its oracle.

Every generated datapoint carries the Sensision line the engine must
deliver for it, computed here from the Sensision rules (core/warp.go
423-478) and not by calling the engine's encoder:

    <ts µs>// <name>{<labels sorted by key, k=v joined by ','>} <value>

Names, label keys and label values use only [A-Za-z0-9_.-], characters
QueryEscape leaves unchanged. Doubles render with %f, longs with %d,
strings single-quoted with a space escaped to '+'. Every double is a
multiple of 1/8, exact in binary, so every parse path and both %f
implementations agree on it digit for digit.

Planted malformed lines produce one error row each and no delivered line.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from catalyst_spark.parsers.wire import encode_write_request, snappy_compress

# Shares of the bulk backlog, by datapoint.
SHARES = {
    "influxdb": 0.30,
    "remote_write": 0.25,
    "graphite": 0.20,
    "prometheus": 0.10,
    "opentsdb": 0.10,
    "warp": 0.05,
}
MALFORMED_SHARE = 0.01      # of the lines of the line protocols
INFLUX_STRING_SHARE = 0.10  # of Influx lines: a quoted string field
DCS = ("eu-west", "us-east", "ap-south", "eu-north")
WORDS = ("disk", "ok", "warn", "retry", "slow", "fast", "node", "cache", "full", "idle")


def sensision(ts_us: int, name: str, labels: dict[str, str], value: str) -> bytes:
    lab = ",".join(f"{k}={labels[k]}" for k in sorted(labels))
    return f"{ts_us}// {name}{{{lab}}} {value}".encode()


def dbl(eighths: int) -> tuple[str, str]:
    """(input literal, expected %f rendering) of eighths/8."""
    v = eighths / 8.0
    return f"{v:.3f}", f"{v:f}"


@dataclass
class Backlog:
    """One pass worth of request-body files and what they must produce."""
    root: Path
    expected: Counter = field(default_factory=Counter)  # delivered lines
    store_rows: int = 0        # GTS datapoints (all but warp passthrough)
    malformed: int = 0         # planted lines/bodies -> one error row each
    lines: Counter = field(default_factory=Counter)     # input units per protocol

    @property
    def datapoints(self) -> int:
        return sum(self.expected.values())

    def dir(self, proto: str) -> str:
        return str(self.root / proto)


class _Gen:
    def __init__(self, seed: int) -> None:
        self.r = random.Random(seed)
        self.t0 = 1_700_000_000 + (seed % 997) * 86_400

    def host(self) -> str:
        return f"h{self.r.randrange(200):03d}"

    def dc(self) -> str:
        return self.r.choice(DCS)

    def eighths(self) -> int:
        return self.r.randrange(-40_000, 80_000)

    def ts_s(self) -> int:
        return self.t0 + self.r.randrange(86_400)


def _chunks(items: list, size: int):
    for i in range(0, len(items), size):
        yield items[i:i + size]


def _write_text_files(d: Path, lines: list[str], per_file: int, shuffle: random.Random) -> None:
    d.mkdir(parents=True)
    shuffle.shuffle(lines)
    for i, chunk in enumerate(_chunks(lines, per_file)):
        (d / f"body-{i:05d}.txt").write_text("\n".join(chunk) + "\n")


def write_backlog(root: Path, seed: int, datapoints: int) -> Backlog:
    """Write a mixed-protocol backlog of about `datapoints` datapoints."""
    g = _Gen(seed)
    b = Backlog(root)
    want = {p: int(datapoints * s) for p, s in SHARES.items()}

    # InfluxDB line protocol: 2 fields per line, ns timestamps
    lines = []
    for _ in range(want["influxdb"] // 2):
        h, dc, ts_s = g.host(), g.dc(), g.ts_s()
        ts_ns = ts_s * 1_000_000_000 + g.r.randrange(1_000_000_000)
        ts_us = ts_ns // 1000
        labels = {"dc": dc, "host": h}
        if g.r.random() < INFLUX_STRING_SHARE:
            words = " ".join(g.r.choice(WORDS) for _ in range(3))
            code = g.r.randrange(600)
            lines.append(f'svc_event,dc={dc},host={h} msg="{words}",code={code}i {ts_ns}')
            b.expected[sensision(ts_us, "svc_event.msg", labels, "'" + words.replace(" ", "+") + "'")] += 1
            b.expected[sensision(ts_us, "svc_event.code", labels, str(code))] += 1
        else:
            lit, exp = dbl(g.eighths())
            n = g.r.randrange(1 << 20)
            lines.append(f"cpu_load,dc={dc},host={h} user={lit},procs={n}i {ts_ns}")
            b.expected[sensision(ts_us, "cpu_load.user", labels, exp)] += 1
            b.expected[sensision(ts_us, "cpu_load.procs", labels, str(n))] += 1
    b.store_rows += len(lines) * 2
    bad = max(1, int(len(lines) * MALFORMED_SHARE))
    lines += [f"cpu_load,host={g.host()}" for _ in range(bad)]
    b.malformed += bad
    b.lines["influxdb"] = len(lines)
    _write_text_files(root / "influxdb", lines, 1000, g.r)

    # Graphite with ;tags, second timestamps, hierarchy labels
    lines = []
    for _ in range(want["graphite"]):
        a, c = g.r.choice(("sys", "app", "net")), g.r.choice(("used", "free", "rate"))
        name = f"{a}.disk{g.r.randrange(4)}.{c}"
        h, dc, ts_s = g.host(), g.dc(), g.ts_s()
        parts = name.split(".")
        labels = {str(i): p for i, p in enumerate(parts)} | {"dc": dc, "host": h}
        if g.r.random() < 0.2:
            n = g.r.randrange(100_000)
            lit, exp = str(n), str(n)
        else:
            lit, exp = dbl(g.eighths())
        lines.append(f"{name};dc={dc};host={h} {lit} {ts_s}")
        b.expected[sensision(ts_s * 1_000_000, name, labels, exp)] += 1
    b.store_rows += len(lines)
    bad = max(1, int(len(lines) * MALFORMED_SHARE))
    lines += [f"sys.disk0.used;host={g.host()}" for _ in range(bad)]
    b.malformed += bad
    b.lines["graphite"] = len(lines)
    _write_text_files(root / "graphite", lines, 1000, g.r)

    # Prometheus text exposition: families with # HELP / # TYPE
    d = root / "prometheus"
    d.mkdir(parents=True)
    remaining, good, i = want["prometheus"], 0, 0
    bad = max(1, int(remaining * MALFORMED_SHARE))
    while remaining > 0:
        body = []
        for fam in ("http_requests_total", "http_inflight", "gc_pause_seconds"):
            body += [f"# HELP {fam} synthetic {fam}", f"# TYPE {fam} gauge"]
            for _ in range(min(200, remaining)):
                h, code = g.host(), g.r.choice(("200", "404", "500"))
                ts_ms = g.ts_s() * 1000 + g.r.randrange(1000)
                lit, exp = dbl(g.eighths())
                body.append(f'{fam}{{code="{code}",host="{h}"}} {lit} {ts_ms}')
                b.expected[sensision(ts_ms * 1000, fam, {"code": code, "host": h}, exp)] += 1
                remaining -= 1
                good += 1
        if bad:
            body.append(f'http_inflight{{host="{g.host()}"}} notanumber {g.ts_s() * 1000}')
            bad -= 1
            b.malformed += 1
        b.lines["prometheus"] += len(body)
        (d / f"body-{i:05d}.txt").write_text("\n".join(body) + "\n")
        i += 1
    b.store_rows += good

    # OpenTSDB JSON arrays, one request body per line
    bodies = []
    for _ in range(max(1, want["opentsdb"] // 10)):
        pts = []
        for _ in range(10):
            m, h, dc = g.r.choice(("os.net.bytes", "os.cpu.idle")), g.host(), g.dc()
            ts_s = g.ts_s()
            ms = g.r.random() < 0.5
            ts_in = ts_s * 1000 + g.r.randrange(1000) if ms else ts_s
            ts_us = ts_in * 1000 if ms else ts_s * 1_000_000
            if g.r.random() < 0.3:
                n = g.r.randrange(100_000)
                lit, exp = str(n), f"{float(n):f}"
            else:
                lit, exp = dbl(g.eighths())
            pts.append(f'{{"metric":"{m}","timestamp":{ts_in},"value":{lit},'
                       f'"tags":{{"host":"{h}","dc":"{dc}"}}}}')
            b.expected[sensision(ts_us, m, {"dc": dc, "host": h}, exp)] += 1
        bodies.append("[" + ",".join(pts) + "]")
    b.store_rows += len(bodies) * 10
    bad = max(1, int(len(bodies) * 10 * MALFORMED_SHARE))
    bodies += ['[{"metric":"os.cpu.idle","timestamp":1' for _ in range(bad)]
    b.malformed += bad
    b.lines["opentsdb"] = len(bodies)
    _write_text_files(root / "opentsdb", bodies, 100, g.r)

    # Prometheus remote_write: snappy + protobuf bodies, 100 series x 10
    d = root / "remote_write"
    d.mkdir(parents=True)
    n_bodies = max(1, want["remote_write"] // 1000)
    for i in range(n_bodies):
        series = []
        for _ in range(100):
            name, h, dc = g.r.choice(("node_load1", "node_mem_free")), g.host(), g.dc()
            samples = []
            for _ in range(10):
                e = g.eighths()
                ts_ms = g.ts_s() * 1000 + g.r.randrange(1000)
                samples.append((e / 8.0, ts_ms))
                b.expected[sensision(ts_ms * 1000, name, {"dc": dc, "host": h}, dbl(e)[1])] += 1
            series.append({"labels": {"__name__": name, "host": h, "dc": dc},
                           "samples": samples})
        (d / f"body-{i:05d}.bin").write_bytes(snappy_compress(encode_write_request(series)))
    b.store_rows += n_bodies * 1000
    b.lines["remote_write"] = n_bodies

    # Warp 10 passthrough: Sensision lines forwarded verbatim
    lines = []
    for _ in range(want["warp"]):
        h, dc, ts_s = g.host(), g.dc(), g.ts_s()
        line = sensision(ts_s * 1_000_000 + g.r.randrange(1_000_000), "warp.direct",
                         {"dc": dc, "host": h}, dbl(g.eighths())[1])
        lines.append(line.decode())
        b.expected[line] += 1
    b.lines["warp"] = len(lines)
    _write_text_files(root / "warp", lines, 1000, g.r)
    return b


# ---------------------------------------------------------------------------
# live traffic: Telegraf-style flushes of fast-path Influx lines
# ---------------------------------------------------------------------------

class LiveTraffic:
    """Request i carries `lines` lines, one per series, every datapoint
    stamped with the request's scheduled send time (µs precision)."""

    def __init__(self, seed: int, lines: int) -> None:
        r = random.Random(seed)
        self.series = [(f"h{j:03d}", DCS[j % len(DCS)]) for j in range(lines)]
        self.offsets = [r.randrange(-40_000, 80_000) for _ in range(lines)]

    def body(self, i: int, ts_us: int) -> tuple[str, list[bytes]]:
        text, expected = [], []
        for j, (h, dc) in enumerate(self.series):
            lit, exp = dbl((self.offsets[j] + i * 8) % 120_000 - 40_000)
            text.append(f"http_server,dc={dc},host={h} latency={lit} {ts_us}")
            expected.append(sensision(ts_us, "http_server.latency", {"dc": dc, "host": h}, exp))
        return "\n".join(text) + "\n", expected
