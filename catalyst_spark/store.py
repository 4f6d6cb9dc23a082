"""Canonical GTS store — the in-engine replacement for Warp 10 reads.

The reference forwards every read to Warp 10 (`/warp/api/v0/*`,
ref cmd/root.go:139-145, middlewares/reverse.go:18-59). Here the
ingested datapoints land in a date-partitioned parquet table and the
reads run in-engine as DataFrame plans.

Layout (SURVEY §7 phase 2):
- partitioned by `dt` (day of ts): time-range reads prune partitions
  before any IO;
- within a partition, rows are clustered by `name` (repartition on
  write), so per-series fetches touch few row groups and min/max
  row-group stats on `name` prune further at 100 TB.

Reads mirror the Warp 10 fetch API surface: select by class (exact or
prefix), label equality, time range; then the §2.6/TSDB operators
compose on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from catalyst_spark.schema import permissive


def write_store(gts_df: DataFrame, path: str, mode: str = "append") -> None:
    """Batch write of parsed GTS rows into the canonical layout."""
    enriched = permissive(gts_df).withColumn("dt", F.to_date(F.timestamp_micros(F.col("ts"))))
    # cluster by series within each date partition
    (
        enriched.repartition("dt", "name")
        .sortWithinPartitions("name", "ts")
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    )


def read_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def fetch(
    df: DataFrame,
    name: str | None = None,
    name_prefix: str | None = None,
    labels: dict[str, str] | None = None,
    start_us: int | None = None,
    end_us: int | None = None,
) -> DataFrame:
    """Warp-fetch-shaped read: class + labels + time range.

    The ts bounds are ALSO applied to the dt partition column so the
    parquet source prunes whole date partitions (visible as
    PartitionFilters in the plan); the name predicate pushes to
    row-group stats.
    """
    out = df
    if name is not None:
        out = out.where(F.col("name") == name)
    if name_prefix is not None:
        out = out.where(F.col("name").startswith(name_prefix))
    for k, v in (labels or {}).items():
        out = out.where(F.element_at(F.col("labels"), k) == v)
    if start_us is not None:
        out = out.where(
            (F.col("ts") >= start_us)
            & (F.col("dt") >= F.to_date(F.timestamp_micros(F.lit(start_us))))
        )
    if end_us is not None:
        out = out.where(
            (F.col("ts") <= end_us)
            & (F.col("dt") <= F.to_date(F.timestamp_micros(F.lit(end_us))))
        )
    return out


def compact_store(spark: SparkSession, src: str, dest: str,
                  files_per_partition: int = 1) -> None:
    """Small-file compaction for the streaming-ingested store.

    Each micro-batch append leaves one file per task per dt partition;
    after a day of 30s triggers that's thousands of tiny files and the
    scan cost is dominated by footer reads. Compaction rewrites every
    partition clustered by (name, ts) into `files_per_partition` files.

    Writes to a DISTINCT dest (Spark cannot safely overwrite a path it
    is reading); the caller swaps directories after validation — the
    same write-then-swap every table-format compaction does under the
    hood.
    """
    if src.rstrip("/") == dest.rstrip("/"):
        raise ValueError("compact_store needs a distinct dest path")
    df = spark.read.parquet(src)
    # hash-partition on (dt, name-salt): each (dt, salt) pair lands in
    # exactly one task, so each dt partition gets <= files_per_partition
    # files and series stay clustered within each file
    salt = F.pmod(F.hash("name"), F.lit(files_per_partition))
    (
        df.repartition(F.col("dt"), salt)
        .sortWithinPartitions("name", "ts")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(dest)
    )


def latest_per_series(df: DataFrame) -> DataFrame:
    """The canonical TSDB read: newest datapoint per (name, labels)."""
    w = W.partitionBy("name", F.map_entries("labels")).orderBy(F.col("ts").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def series_downsample(df: DataFrame, bucket_s: int = 300) -> DataFrame:
    """Per-series fixed-window downsample over the store."""
    bucket = (F.floor(F.col("ts") / (bucket_s * 1_000_000)) * bucket_s).alias(
        "bucket_s"
    )
    return (
        df.groupBy("name", bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value_d"), 6).alias("sum_d"),
            F.max("value_l").alias("max_l"),
        )
        .orderBy("name", "bucket_s")
    )
