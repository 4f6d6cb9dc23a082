"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per-job:
AQE on (runtime re-plan, skew-join handling), shuffle partitions sized to
cores (would be ~2-3x total cluster cores at scale), UTC session timezone
(required for DuckDB-oracle comparison — DuckDB timestamps are UTC-naive),
Arrow enabled for the few Pandas-UDF paths.

get_spark also keeps file listing on the driver: it sets
spark.sql.sources.parallelPartitionDiscovery.threshold to Spark's int
maximum. The file stream source hands every file of a micro-batch to
InMemoryFileIndex as its own path, and above the default threshold (32
paths) Spark lists them with a job of one task per path, each task
first deserializing the whole Hadoop Configuration. In the local[N]
session get_spark builds, that job runs on the driver's own cores, so it
can only lose to a driver-side listStatus: on 4 vCPU a micro-batch of
about 130 files spent 0.5-0.7 s in getBatch that way, against about
20 ms listed on the driver. configure_existing leaves the threshold
alone, because the session it adopts may be a cluster where
distributed listing pays off.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# map_concat with duplicate keys must keep the LAST value: the reference's
# Prometheus path merges URL-path labels OVER scraped labels
# (ref catalyser/prometheus.go:96-99 — extra labels override inner ones).
_MAP_DEDUP_POLICY = "LAST_WIN"


def get_spark(app_name: str = "catalyst_spark", cpus: int | None = None) -> SparkSession:
    """Build (or return) the engine's local[cpus] session.

    File listing always stays on the driver (parallelPartitionDiscovery
    threshold at Spark's int maximum): in local mode the per-path
    listing job runs on the same cores as the driver, so it only adds
    task and Configuration-deserialization cost. configure_existing
    does not set it, since its session may be a cluster.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", _MAP_DEDUP_POLICY)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Distribute catalyst_spark to executor Python workers.

    The mapInPandas parsers (influx, remote_write) reference this package
    from worker processes; on a real cluster the code must travel with
    the job. addPyFile of a package zip is the standard mechanism and
    also fixes local-mode sessions launched from another cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    marker = "_catalyst_spark_shipped"
    if spark.conf.get(f"spark.{marker}", None) == "true":
        return
    zpath = os.path.join(tempfile.gettempdir(), "catalyst_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set(f"spark.{marker}", "true")


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to a session we did not
    build (the driver hands us one in ``__spark_entry__.entry``).

    The driver-side listing threshold of get_spark is not applied here:
    an adopted session may run on a cluster, where listing many paths
    with a distributed job is what the threshold is for."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", _MAP_DEDUP_POLICY)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.parquet carries TIMESTAMP(NANOS) — readable only as LONG.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ship_package(spark)
    return spark
