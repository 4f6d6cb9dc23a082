"""Canonical store: layout, partition pruning, fetch semantics."""

from __future__ import annotations

from catalyst_spark.parsers import parse_graphite
from catalyst_spark.store import fetch, latest_per_series, read_store, write_store


def _ingest(spark, tmp_path):
    lines = [
        "cpu.load;host=a 0.5 1546420308",      # 2019-01-02
        "cpu.load;host=a 0.7 1546506708",      # 2019-01-03
        "cpu.load;host=b 0.9 1546420308",
        "mem.free 2048 1546420308",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    path = str(tmp_path / "store")
    write_store(parse_graphite(df), path, mode="overwrite")
    return path


def test_layout_and_fetch(spark, tmp_path):
    path = _ingest(spark, tmp_path)
    assert any(p.name.startswith("dt=") for p in (tmp_path / "store").iterdir())
    store = read_store(spark, path)

    rows = fetch(store, name="cpu.load", labels={"host": "a"}).collect()
    assert {r["value_d"] for r in rows} == {0.5, 0.7}

    rows = fetch(store, name_prefix="cpu.").collect()
    assert len(rows) == 3


def test_write_store_drops_error_rows(spark, tmp_path):
    lines = ["cpu.load 0.5 1546420308", "badline", "mem.free 2048 1546420308"]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    parsed = parse_graphite(df)
    assert parsed.where("parse_error IS NOT NULL").count() == 1
    path = str(tmp_path / "store")
    write_store(parsed, path, mode="overwrite")
    store = read_store(spark, path)
    assert "parse_error" not in store.columns
    assert sorted(r["name"] for r in store.collect()) == ["cpu.load", "mem.free"]


def test_time_range_prunes_partitions(spark, tmp_path):
    path = _ingest(spark, tmp_path)
    store = read_store(spark, path)
    day2 = fetch(store, start_us=1546473600000000)  # >= 2019-01-03
    plan = day2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt#" in plan
    rows = day2.collect()
    assert len(rows) == 1 and rows[0]["value_d"] == 0.7


def test_latest_per_series(spark, tmp_path):
    path = _ingest(spark, tmp_path)
    latest = latest_per_series(read_store(spark, path)).collect()
    by_key = {(r["name"], tuple(sorted(r["labels"].items()))): r for r in latest}
    assert len(latest) == 3  # cpu.load{host=a}, cpu.load{host=b}, mem.free
    assert by_key[("cpu.load", (("0", "cpu"), ("1", "load"), ("host", "a")))]["value_d"] == 0.7


def test_compact_store_reduces_files(spark, tmp_path):
    from catalyst_spark.parsers import parse_graphite as _pg
    from catalyst_spark.store import compact_store

    src = str(tmp_path / "store_src")
    # simulate many small streaming appends (4 batches x N tasks)
    for chunk in range(4):
        lines = [
            (f"cpu.load;host=h{i} {chunk}.{i} 1546420308",) for i in range(6)
        ]
        df = spark.createDataFrame(lines, "line string")
        write_store(_pg(df), src)
    dest = str(tmp_path / "store_compact")
    compact_store(spark, src, dest)

    import glob
    src_files = glob.glob(f"{src}/dt=*/*.parquet")
    dest_files = glob.glob(f"{dest}/dt=*/*.parquet")
    assert len(dest_files) < len(src_files)
    # row-for-row identical content (maps/Nones aren't orderable;
    # compare canonical string keys)
    def canon(path):
        return sorted(
            (r["name"], r["ts"], r["value_d"],
             tuple(sorted((r["labels"] or {}).items())))
            for r in spark.read.parquet(path).collect()
        )

    assert canon(src) == canon(dest)
    with __import__("pytest").raises(ValueError):
        compact_store(spark, src, src)
