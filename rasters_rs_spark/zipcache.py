"""Lazy zip-directory invalidation for PySpark Python workers.

Every PySpark task calls ``importlib.invalidate_caches()`` (in
``pyspark/worker_util.py:setup_spark_files``). On CPython 3.10-3.12 that
makes each ``zipimport.zipimporter`` the worker holds re-read its whole
archive directory. A worker holds about 16 of them over ``pyspark.zip``
(1328 entries), so a reused worker spent 220-270 ms of CPU per task
before the UDF's first line ran.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive's directory only when the archive's
``(st_mtime_ns, st_size)`` differs from the one seen at its last read.
A changed (or vanished) archive is re-read exactly as before. The first
call per archive in a process always re-reads, since nothing records
when its cached directory was read. The package ``__init__`` installs it
once per Python worker process, and never in the driver.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _lazy_invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive has changed."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _read_stamps.get(archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp
    else:
        _read_stamps.pop(archive, None)


def install() -> None:
    """Install the lazy ``invalidate_caches``; a second call does nothing."""
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
