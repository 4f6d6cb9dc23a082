"""tsdb_read: a dashboard reading the GTS store, one client, closed loop.

Set-up fills the store through write_store with a seeded history:
5 classes x 100 label sets x 3 days at 1-minute resolution (2.16M
points). Every value is a closed-form function of (series, minute), so
each answer is checked against that function (oracle b), not against
another engine run. One operation = one read, timed from the first call
into the store API until its rows are collected on the driver.
"""

from __future__ import annotations

import random
import shutil
import time

import numpy as np

from perfbench.harness import SETUP_REPEATS, JobCounter, Outcome, median, percentile

CLASSES = (  # (name, value kind); a name's first two parts are its prefix
    ("sys.cpu.user", "double"),
    ("sys.mem.free", "long"),
    ("net.rx.bytes", "long"),
    ("net.tx.bytes", "double"),
    ("disk.io.ops", "double"),
)
HOSTS = 100
DAYS = 3
MINUTES = DAYS * 1440
DCS = ("eu-west", "us-east", "ap-south", "eu-north")
# the read mix, dealt in shuffled blocks of ten so that every run, however
# short, sees the same shares
MIX_BLOCK = ("fetch",) * 7 + ("downsample",) * 2 + ("latest",)
WARMUP_READS = 12

# store-read layer metrics -> unit. Only this workload produces them, so
# they join BENCHMARK.json's per_layer list together with tsdb_read itself.
READ_LAYER_METRICS = {
    "store.plan_ms_p50": "ms",
    "store.fetch_ms_p50": "ms",
    "store.downsample_ms_p50": "ms",
    "store.latest_ms_p50": "ms",
    "store.rows_returned": "count",
}


def _t0_us(seed: int) -> int:
    return (1_699_920_000 + (seed % 500) * 86_400) * 1_000_000  # a UTC midnight


def value_d(s, m):
    """Closed-form double value (multiple of 1/8, exact in binary)."""
    return ((s * 7919 + m * 104729) % 10007 - 3000) / 8.0


def value_l(s, m):
    return (s * 31 + m * 17) % 100003


def _fill(spark, path: str, t0_us: int) -> None:
    from pyspark.sql import functions as F

    from catalyst_spark.store import write_store

    names = F.array(*[F.lit(c) for c, _ in CLASSES])
    kinds = F.array(*[F.lit(k) for _, k in CLASSES])
    dcs = F.array(*[F.lit(d) for d in DCS])
    s = F.col("id") % (len(CLASSES) * HOSTS)
    m = (F.col("id") / (len(CLASSES) * HOSTS)).cast("long")
    kind = F.element_at(kinds, (s / HOSTS).cast("int") + 1)
    h = s % HOSTS
    df = spark.range(len(CLASSES) * HOSTS * MINUTES).select(
        (F.lit(t0_us) + m * 60_000_000).alias("ts"),
        F.element_at(names, (s / HOSTS).cast("int") + 1).alias("name"),
        F.create_map(F.lit("host"), F.format_string("h%03d", h),
                     F.lit("dc"), F.element_at(dcs, (h % len(DCS)).cast("int") + 1)).alias("labels"),
        F.when(kind == "double", ((s * 7919 + m * 104729) % 10007 - 3000) / 8.0).alias("value_d"),
        F.when(kind == "long", (s * 31 + m * 17) % 100003).cast("long").alias("value_l"),
        F.lit(None).cast("boolean").alias("value_b"),
        F.lit(None).cast("string").alias("value_s"),
        kind.alias("value_type"),
    )
    write_store(df, path)


class _Reads:
    """Seeded read mix and the closed-form answer of each read."""

    def __init__(self, seed: int, t0_us: int) -> None:
        self.r = random.Random(seed)
        self.t0 = t0_us
        self.block: list[str] = []

    def draw(self) -> dict:
        if not self.block:
            self.block = list(MIX_BLOCK)
            self.r.shuffle(self.block)
        kind = self.block.pop()
        c = self.r.randrange(len(CLASSES))
        if kind == "fetch":
            return {"kind": kind, "c": c, "h": self.r.randrange(HOSTS),
                    "m0": self.r.randrange(MINUTES - 60)}
        if kind == "downsample":
            return {"kind": kind, "c": c, "m0": self.r.randrange(MINUTES - 1440)}
        return {"kind": kind, "c": c}

    def expected(self, rd: dict):
        name, kind = CLASSES[rd["c"]]
        base = rd["c"] * HOSTS
        if rd["kind"] == "fetch":
            s = base + rd["h"]
            return sorted(
                (self.t0 + m * 60_000_000,
                 value_d(s, m) if kind == "double" else None,
                 value_l(s, m) if kind == "long" else None)
                for m in range(rd["m0"], rd["m0"] + 60))
        if rd["kind"] == "downsample":
            s = np.arange(base, base + HOSTS, dtype=np.int64)[:, None]
            m = np.arange(rd["m0"], rd["m0"] + 1440, dtype=np.int64)[None, :]
            bucket = ((self.t0 // 1_000_000 + m[0] * 60) // 300) * 300
            keys, idx = np.unique(bucket, return_inverse=True)
            n = np.bincount(idx) * HOSTS
            if kind == "double":
                sums = np.bincount(idx, weights=value_d(s, m).sum(axis=0))
                return sorted((name, int(k), int(c), float(v), None)
                              for k, c, v in zip(keys, n, sums))
            maxl = np.full(len(keys), -1, dtype=np.int64)
            np.maximum.at(maxl, idx, value_l(s, m).max(axis=0))
            return sorted((name, int(k), int(c), None, int(v))
                          for k, c, v in zip(keys, n, maxl))
        m = MINUTES - 1
        return sorted(
            (name, f"h{h:03d}", self.t0 + m * 60_000_000,
             value_d(base + h, m) if kind == "double" else None,
             value_l(base + h, m) if kind == "long" else None)
            for h in range(HOSTS))


def _build(spark, path: str, rd: dict, t0_us: int):
    """The read as a DataFrame, built from the store API (eager analysis
    happens here, before any action)."""
    from catalyst_spark.store import fetch, latest_per_series, read_store, series_downsample

    name = CLASSES[rd["c"]][0]
    df = read_store(spark, path)
    if rd["kind"] == "fetch":
        start = t0_us + rd["m0"] * 60_000_000
        return fetch(df, name=name, labels={"host": f"h{rd['h']:03d}"},
                     start_us=start, end_us=start + 59 * 60_000_000)
    prefix = ".".join(name.split(".")[:2])
    if rd["kind"] == "downsample":
        start = t0_us + rd["m0"] * 60_000_000
        return series_downsample(fetch(df, name_prefix=prefix, start_us=start,
                                       end_us=start + 1439 * 60_000_000))
    return latest_per_series(fetch(df, name_prefix=prefix))


def _answer(rd: dict, rows):
    if rd["kind"] == "fetch":
        return sorted((r["ts"], r["value_d"], r["value_l"]) for r in rows)
    if rd["kind"] == "downsample":
        return sorted((r["name"], r["bucket_s"], r["n"], r["sum_d"], r["max_l"]) for r in rows)
    return sorted((r["name"], r["labels"]["host"], r["ts"], r["value_d"], r["value_l"])
                  for r in rows)


def tsdb_read(run) -> Outcome:
    out = Outcome()
    spark = run.spark
    t0_us = _t0_us(run.seed)
    fill_s = []
    for r in range(SETUP_REPEATS):
        path = run.work / f"store-{r}"
        t = time.perf_counter()
        _fill(spark, str(path), t0_us)
        fill_s.append(time.perf_counter() - t)
        if r < SETUP_REPEATS - 1:
            shutil.rmtree(path)
    path = str(path)
    reads = _Reads(run.seed, t0_us)
    t = time.perf_counter()
    for _ in range(WARMUP_READS):
        _one(spark, path, reads, reads.draw(), t0_us, out, run)
    out.e2e["setup_s"] = run.engine.start_s + median(fill_s) + time.perf_counter() - t

    run.tracer.on = False
    lat = _loop(spark, path, reads, t0_us, out, run, run.seconds)
    out.e2e["work_rate"] = 1000.0 * len(lat) / sum(x for x, *_ in lat)
    out.named["read_lat_p50_ms"] = (median([x for x, *_ in lat]), "ms")
    out.named["read_lat_p90_ms"] = (percentile([x for x, *_ in lat], 90), "ms")
    out.named["reads"] = (len(lat), "count")
    if run.trace:
        run.tracer.on = True
        jobs = JobCounter(run.engine.sc)
        traced = _loop(spark, path, reads, t0_us, out, run, run.seconds, jobs)
        L = out.layers
        L.update(jobs.metrics())
        L["store.plan_ms_p50"] = median([p for _, p, _, _ in traced])
        for kind, key in (("fetch", "store.fetch_ms_p50"),
                          ("downsample", "store.downsample_ms_p50"),
                          ("latest", "store.latest_ms_p50")):
            xs = [x for x, _, k, _ in traced if k == kind]
            L[key] = median(xs) if xs else 0.0
        L["store.rows_returned"] = sum(n for *_, n in traced)
        L["trace.overhead_frac"] = (median([x for x, *_ in traced])
                                    / out.named["read_lat_p50_ms"][0] - 1)
    return out


def _loop(spark, path, reads, t0_us, out, run, seconds, jobs=None):
    """Closed loop for `seconds`: -> [(latency_ms, plan_ms, kind, rows)]."""
    res = []
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end:
        rd = reads.draw()
        if jobs is None:
            r = _one(spark, path, reads, rd, t0_us, out, run)
        else:
            with jobs.op(f"read-{i}"):
                r = _one(spark, path, reads, rd, t0_us, out, run)
        if r is not None:
            res.append(r)
        i += 1
    return res


def _one(spark, path, reads, rd, t0_us, out, run):
    tr = run.tracer
    out.attempted += 1
    try:
        with tr.span(f"store.{rd['kind']}", op=f"read-{out.attempted}"):
            t0 = time.perf_counter()
            with tr.span("store.build"):
                df = _build(spark, path, rd, t0_us)
            t1 = time.perf_counter()
            with tr.span("store.collect"):
                rows = df.collect()
            t2 = time.perf_counter()
    except Exception as exc:
        out.fail(1, f"{rd} raised {exc!r}")
        return None
    if _answer(rd, rows) != reads.expected(rd):
        out.fail(1, f"{rd} returned a wrong answer ({len(rows)} rows)")
        return None
    return (t2 - t0) * 1000, (t1 - t0) * 1000, rd["kind"], len(rows)
