"""Shared benchmark plumbing: the Spark session and its processes, peak
RSS sampling, spans, per-operation job counts and the result record.

Everything here is measurement code that sits OUTSIDE the engine: it
calls catalyst_spark's public functions and times them from the caller's
side. Nothing in catalyst_spark is patched.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = max(0, min(len(xs) - 1, int(round(q / 100.0 * len(xs) + 0.5)) - 1))
    return float(xs[k])


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_HZ = os.sysconf("SC_CLK_TCK")
# threads of the benchmark itself, not of the program under test
BENCH_THREADS = ("stub-warp", "rss", "generator")


def _cpu_ticks(stat_path: str, n: int) -> int:
    """The first `n` of utime, stime, cutime, cstime (stat fields 14-17)."""
    try:
        with open(stat_path, "rb") as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in stat[stat.rindex(b")") + 2:].split()[11:11 + n])


def program_cpu_s(root_pid: int) -> float:
    """CPU seconds the program has used so far: the JVM and every process
    it started (exited ones through their parents' cutime/cstime), plus
    this process's threads except the benchmark's own. The guest kernel
    leaves time stolen by the hypervisor out of these counters."""
    tree = sum(_cpu_ticks(f"/proc/{p}/stat", 4) for p in process_tree(root_pid))
    bench = sum(_cpu_ticks(f"/proc/self/task/{t.native_id}/stat", 2)
                for t in threading.enumerate() if t.name in BENCH_THREADS)
    return time.process_time() + (tree - bench) / _HZ


class RssSampler:
    """Peak of the summed resident set of the JVM and every process it
    started (the Python daemon and workers), sampled from /proc."""

    def __init__(self, root_pid: int, interval_s: float = 0.2) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)
        self._thread.start()

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in process_tree(self.root_pid))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def close(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


class Engine:
    """A SparkSession built by catalyst_spark.session.get_spark, plus the
    JVM process behind it. close() stops the session and waits until the
    JVM and every Python worker it started have exited."""

    def __init__(self, cpus: int) -> None:
        from catalyst_spark.session import get_spark
        from pyspark import SparkContext

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cpus)
        self.start_s = time.perf_counter() - t0
        self.proc = SparkContext._gateway.proc
        self.rss = RssSampler(self.proc.pid)

    @property
    def sc(self):
        return self.spark.sparkContext

    def cpu_s(self) -> float:
        return program_cpu_s(self.proc.pid)

    def restart(self, cpus: int) -> None:
        """New SparkContext with `cpus` local cores on the same JVM."""
        from catalyst_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark("perfbench", cpus=cpus)

    def close(self) -> float:
        """Stop everything; returns the peak RSS in MB."""
        from pyspark import SparkContext

        self.rss.sample()
        peak_mb = self.rss.close()
        tree = process_tree(self.proc.pid)
        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
            # the JVM exits when its stdin closes (PythonGatewayServer)
            if self.proc.stdin is not None:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except Exception:
                self.proc.kill()
                self.proc.wait(timeout=10)
            wait_gone(tree, timeout_s=20)
        return peak_mb


def wait_gone(pids, timeout_s: float) -> None:
    """Wait until none of `pids` exists; SIGKILL the survivors at the
    deadline and wait for them too."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if p != os.getpid()]
    killed = False
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        return stat[stat.rindex(b")") + 2:].split()[0] == b"Z"
    except OSError:
        return True


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans: [name, start, end, parent, op]. Off -> no-ops."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op=None):
        if not self.on:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent][4]
        rec = [name, time.time(), None, parent, op]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            rec[2] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent, op) -> None:
        self.spans.append([name, start, end, parent, op])

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for i, (name, start, end, parent, op) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": start,
                                    "end": end, "parent": parent, "op": op}) + "\n")


class JobCounter:
    """Exact Spark job/stage/task counts per operation via job groups."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.ops = 0
        self.jobs = self.stages = self.tasks = 0

    @contextmanager
    def op(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            self.add(self.sc.statusTracker().getJobIdsForGroup(group))
            self.ops += 1

    def add(self, job_ids) -> None:
        """Count the jobs, their submitted stages and those stages' tasks."""
        st = self.sc.statusTracker()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            self.jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numTasks > 0 and si.numCompletedTasks > 0:
                    self.stages += 1
                    self.tasks += si.numTasks

    def metrics(self) -> dict:
        n = max(self.ops, 1)
        return {
            "session.jobs_per_op": self.jobs / n,
            "session.stages_per_op": self.stages / n,
            "session.tasks_per_op": self.tasks / n,
        }


# set-up is repeated this many times per run and its median reported, so
# that work moved into set-up shows in setup_s without one outlier
SETUP_REPEATS = 3


def noop(df) -> None:
    """Force every column of `df` (a bare count would let the optimizer
    prune the expressions under test)."""
    df.write.format("noop").mode("overwrite").save()


class Run:
    """One benchmark invocation: arguments, the engine, the tracer and a
    private scratch directory inside the checkout."""

    def __init__(self, seed: int, seconds: float, trace: bool,
                 cpus: int, work: Path, engine: Engine) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.work = work
        self.engine = engine
        self.tracer = Tracer(trace)

    @property
    def spark(self):
        return self.engine.spark

    def path(self, *parts: str) -> Path:
        p = self.work.joinpath(*parts)
        p.parent.mkdir(parents=True, exist_ok=True)
        return p


# ---------------------------------------------------------------------------
# results
# ---------------------------------------------------------------------------

class Outcome:
    """What a workload returns: attempted/failed operations, the gated
    end-to-end values, the named per-workload figures and, when traced,
    the per-layer values."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(why)
