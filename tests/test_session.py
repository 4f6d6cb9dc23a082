"""Python-worker per-task cost: unchanged zip archives are not re-read on
``importlib.invalidate_caches()``, which PySpark calls at the start of
every Python task, and a reused worker's import heap is frozen out of
the ``gc.collect()`` PySpark runs after every task."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import catalyst_spark  # noqa: F401

eager_zipimporter = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="lazy zipimporter: zipcache.install() is a no-op",
)


def _write_zip(path, value):
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("zcpkg/__init__.py", "")
        zf.writestr("zcpkg/sub/__init__.py", "")
        zf.writestr("zcpkg/sub/mod.py", f"VALUE = {value!r}\n")
    tmp.replace(path)


@eager_zipimporter
def test_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "zcpkg.zip"
    _write_zip(archive, "old")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zcpkg", "zcpkg.sub", "zcpkg.sub.mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zcpkg.sub.mod as mod

    assert mod.VALUE == "old"
    importers = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == str(archive)
    ]
    assert len(importers) >= 2  # the archive root and zcpkg/sub/

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, "new value")
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.reload(mod).VALUE == "new value"

    archive.unlink()
    importlib.invalidate_caches()
    assert str(archive) not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in importers)
    for name in ("zcpkg", "zcpkg.sub", "zcpkg.sub.mod"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]


@eager_zipimporter
def test_python_task_start_rereads_no_zip(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import catalyst_spark  # noqa: F401

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    schema = "reads long, zips long"
    spark.range(16, numPartitions=16).mapInPandas(probe, schema).collect()
    rows = spark.range(4, numPartitions=4).mapInPandas(probe, schema).collect()
    assert len(rows) == 4
    assert all(r.zips > 0 for r in rows)
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_reused_python_worker_freezes_its_import_heap(spark):
    """A worker that imports the package has frozen the objects its
    imports left tracked, so the collection after each task scans only
    what the tasks themselves made."""
    def probe(batches):
        import gc

        import pandas as pd

        import catalyst_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                            "tracked": [len(gc.get_objects())]})

    schema = "frozen long, tracked long"
    rows = spark.range(4, numPartitions=4).mapInPandas(probe, schema).collect()
    assert len(rows) == 4
    assert all(r.frozen > r.tracked for r in rows), rows


def test_freeze_needs_spark_reuse_worker():
    """Only a process that PySpark marks as a reused worker freezes its
    heap on import; the application process, which has no such
    variable, does not."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "import gc, catalyst_spark; print(gc.get_freeze_count())"
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}

    def frozen(env):
        out = subprocess.run([sys.executable, "-c", code], cwd=repo, env=env,
                             capture_output=True, text=True, check=True)
        return int(out.stdout)

    assert frozen(env) == 0
    assert frozen({**env, "SPARK_REUSE_WORKER": "1"}) > 10_000
