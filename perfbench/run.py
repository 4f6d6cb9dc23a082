"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it names the workload's own figures (ingest_dps,
write_lat_p50_ms, ...). Every file the run writes lives under
.perfbench_work/ in the checkout and is removed at exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ingest_bulk", "ingest_live", "tsdb_read", "curate_corpus")

# gated end-to-end metric -> unit; every workload reports each of them
E2E_METRICS = {
    "setup_s": "s",
    "work_rate": "items/s",
    "cpu_us_per_dp": "us",
}

# per-layer metric -> unit; a workload that does not run a layer reports
# that layer's work as 0
LAYER_METRICS = {
    "parsers.exec_s": "s",
    "parsers.influxdb.exec_s": "s",
    "parsers.remote_write.exec_s": "s",
    "parsers.graphite.exec_s": "s",
    "parsers.prometheus.exec_s": "s",
    "parsers.opentsdb.exec_s": "s",
    "parsers.warp.exec_s": "s",
    "parsers.datapoints": "count",
    "parsers.error_rows": "count",
    "parsers.offpath_frac": "ratio",
    "parsers.input_units": "count",
    "encode.exec_s": "s",
    "encode.bytes": "bytes",
    "sinks.exec_s": "s",
    "sinks.posts": "count",
    "sinks.lines_per_post": "count",
    "sinks.bytes": "bytes",
    "sinks.post_ms_p50": "ms",
    "sinks.retries": "count",
    "sinks.errors": "count",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.get_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.backlog_max": "count",
    "generator.late_ms_p90": "ms",
    "store.write_s": "s",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "queries.curation_funnel_s": "s",
    "queries.dedup_keep_one_s": "s",
    "queries.plan_ms": "ms",
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "source.read_s": "s",
    "trace.overhead_frac": "ratio",
    "baseline.local1_ingest_dps": "datapoints/s",
    "baseline.localn_ingest_dps": "datapoints/s",
    "peak_rss_mb": "MB",
}


def _isolate(work: Path, cpus: int) -> None:
    """Keep every file the JVM, Spark and Python write inside `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    import tempfile

    tempfile.tempdir = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}"
        " --conf spark.sql.streaming.numRecentProgressUpdates=1000"
        " --conf spark.ui.showConsoleProgress=false"
        " pyspark-shell")


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import catalyst_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import catalyst_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench import harness

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, cpus)
    engine = None
    ticks0 = _cpu_ticks()
    try:
        engine = harness.Engine(cpus)
        run = harness.Run(args.seed, args.seconds, bool(args.trace), cpus, work, engine)
        out = _workload(args.workload)(run)
        if run.trace:
            run.tracer.dump(work / "spans.jsonl")
            shutil.copy(work / "spans.jsonl", ROOT / ".perfbench_work" /
                        f"spans-{args.workload}-{args.seed}.jsonl")
    finally:
        peak_mb = engine.close() if engine is not None else 0.0
        shutil.rmtree(work, ignore_errors=True)

    out.layers["peak_rss_mb"] = peak_mb
    attempted = max(out.attempted, 1)
    named = {k: {"value": v, "unit": u} for k, (v, u) in out.named.items()}
    named["failed_frac"] = {"value": out.failed / attempted, "unit": "ratio"}
    named["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    named["setup_s"] = {"value": out.e2e["setup_s"], "unit": "s"}
    # CPU time the hypervisor gave to other guests during the run: context
    # for judging a slow run, never part of a metric
    d = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    named["host.steal_frac"] = {"value": d[7] / max(sum(d), 1), "unit": "ratio"}
    for why in out.problems:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "figures": named}))
    if args.trace:
        units = dict(LAYER_METRICS)
        if args.workload == "tsdb_read":
            from perfbench.tsdb import READ_LAYER_METRICS
            units.update(READ_LAYER_METRICS)
        metrics = {k: {"value": float(out.layers.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        # curate_corpus and tsdb_read ingest no datapoints
        metrics = {k: {"value": float(out.e2e[k]), "unit": u}
                   for k, u in E2E_METRICS.items() if k in out.e2e}
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


def _workload(name: str):
    if name in ("ingest_bulk", "ingest_live"):
        from perfbench import ingest
        return getattr(ingest, name)
    if name == "tsdb_read":
        from perfbench.tsdb import tsdb_read
        return tsdb_read
    from perfbench.curate import curate_corpus
    return curate_corpus


if __name__ == "__main__":
    sys.exit(main())
