"""Reuse an unchanged zip archive's directory across import-cache invalidations.

Every PySpark Python task starts with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:144``). On CPython 3.11 and 3.12 the zipimporter
is eager: invalidating one re-reads its archive's whole central directory,
and ``sys.path_importer_cache`` holds one zipimporter per package directory
imported from ``pyspark.zip``, so each task re-read that archive 16 times.

``install()`` makes an invalidation re-read an archive only when its
``os.stat`` (mtime, size, inode) differs from the one taken before the last
read of that path, so a changed archive is still re-read. An archive that
cannot be stat-ed goes through the original method, which drops a missing
archive's entries as before. Where the zipimporter is lazy (CPython 3.13+,
which has ``zipimporter._get_files``) ``install()`` is a no-op.
"""

from __future__ import annotations

import os
import zipimport

_stamps: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _stamping(read_directory):
    def _read_directory(archive):
        _stamps.pop(archive, None)
        try:
            key = _stat_key(archive)
        except OSError:
            return read_directory(archive)
        files = read_directory(archive)
        _stamps[archive] = key, files
        return files

    return _read_directory


def _reusing(invalidate_caches):
    def _invalidate_caches(self):
        stamp = _stamps.get(self.archive)
        try:
            fresh = stamp is not None and stamp[0] == _stat_key(self.archive)
        except OSError:
            fresh = False
        if not fresh:
            return invalidate_caches(self)
        self._files = zipimport._zip_directory_cache[self.archive] = stamp[1]

    _invalidate_caches.__wrapped__ = invalidate_caches
    return _invalidate_caches


def install() -> None:
    importer = zipimport.zipimporter
    if hasattr(importer, "_get_files") or hasattr(importer.invalidate_caches, "__wrapped__"):
        return
    zipimport._read_directory = _stamping(zipimport._read_directory)
    importer.invalidate_caches = _reusing(importer.invalidate_caches)
